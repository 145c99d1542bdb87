"""Tracing for the benchmark's traced runs, recorded from outside the package.

Spans are kept in memory and written out as JSON lines when the run ends.
Layer boundaries are crossed through the package's public interfaces only:
a :class:`TracedCatalog` and a :class:`TracedSink` wrap what ``Engine.migrate``
is given, Spark's counters come from its monitoring REST API, and process
memory comes from ``/proc``.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
import urllib.request
from pathlib import Path

from node_mongo2influx_spark.sinks.base import Sink
from node_mongo2influx_spark.sources.catalog import Catalog


class Tracer:
    """In-memory span store. A span is (id, parent, trace, name, start, end,
    attrs); spans opened in one migration share its trace id."""

    def __init__(self) -> None:
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, trace: str, parent: int | None = None, **attrs):
        sid = next(self._ids)
        rec = {"id": sid, "parent": parent, "trace": trace, "name": name,
               "start": time.monotonic(), "end": None, "attrs": attrs}
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            with self._lock:
                self.spans.append(rec)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")


class TracedCatalog(Catalog):
    """Records a ``catalog.read`` span per table under the current trace."""

    def __init__(self, inner: Catalog, tracer: Tracer) -> None:
        super().__init__(inner.spark)
        self.inner, self.tracer = inner, tracer
        self.trace, self.parent = "", None

    def table_names(self) -> list[str]:
        return self.inner.table_names()

    def read(self, name: str):
        with self.tracer.span("catalog.read", self.trace, self.parent, table=name):
            return self.inner.read(name)


class TracedSink(Sink):
    """Records a ``sink.write`` span per table under the current trace."""

    def __init__(self, inner: Sink, tracer: Tracer) -> None:
        self.inner, self.tracer = inner, tracer
        self.trace, self.parent = "", None
        self.supports_truncate = inner.supports_truncate

    def write(self, df, series: str) -> int:
        with self.tracer.span("sink.write", self.trace, self.parent, table=series):
            return self.inner.write(df, series)

    def truncate(self, series: str) -> None:
        self.inner.truncate(series)


def table_spans(tracer: Tracer, trace: str) -> list[tuple[float, float]]:
    """(start, end) of each table in one traced migration: from its
    ``catalog.read`` start to its ``sink.write`` end."""
    starts = {s["attrs"]["table"]: s["start"] for s in tracer.spans
              if s["trace"] == trace and s["name"] == "catalog.read"}
    ends = {s["attrs"]["table"]: s["end"] for s in tracer.spans
            if s["trace"] == trace and s["name"] == "sink.write"}
    return [(starts[t], ends[t]) for t in starts if t in ends]


class SparkCounters:
    """Deltas of stage and job totals from Spark's monitoring REST API,
    counting each (stage, attempt) once."""

    def __init__(self, spark) -> None:
        port = spark.sparkContext.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications"
        self.app = self._get(self.base)[0]["id"]
        self._seen_stages: set = set()
        self._seen_jobs: set = set()
        self.take()

    def _get(self, url: str):
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.load(resp)

    def take(self) -> dict:
        """Totals of the stages and jobs completed since the previous call.
        A short settle lets the listener bus deliver the last events."""
        time.sleep(0.3)
        stages = self._get(f"{self.base}/{self.app}/stages?status=complete")
        jobs = self._get(f"{self.base}/{self.app}/jobs")
        fresh = [s for s in stages
                 if (s["stageId"], s["attemptId"]) not in self._seen_stages]
        self._seen_stages.update((s["stageId"], s["attemptId"]) for s in fresh)
        new_jobs = [j["jobId"] for j in jobs
                    if j["status"] != "RUNNING" and j["jobId"] not in self._seen_jobs]
        self._seen_jobs.update(new_jobs)
        return {
            "run_s": sum(s["executorRunTime"] for s in fresh) / 1000.0,
            "tasks": sum(s["numCompleteTasks"] for s in fresh),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in fresh),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                               for s in fresh),
            "gc_s": sum(s.get("jvmGcTime", 0) for s in fresh) / 1000.0,
            "jobs": len(new_jobs),
        }


def _status(pid: int) -> dict[str, str]:
    out = {}
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            k, _, v = line.partition(":")
            out[k] = v.strip()
    return out


def descendants(root: int) -> list[int]:
    """Live descendant pids of ``root``, read from ``/proc``."""
    children: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            ppid = int(_status(int(p.name))["PPid"])
        except (OSError, KeyError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p.name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS (VmHWM) of the Spark JVM plus its live descendants, which
    are the Python worker daemon and its workers."""
    total_kb = 0
    for pid in [jvm_pid, *descendants(jvm_pid)]:
        try:
            total_kb += int(_status(pid).get("VmHWM", "0 kB").split()[0])
        except OSError:
            continue
    return total_kb / 1024.0
