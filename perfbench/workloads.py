"""The benchmark workloads.

Each workload is a class with ``run(ctx) -> Result``. All are closed loops:
one full-catalog ``Engine.migrate`` (or one pass over the query mix) at a
time, the next starting when the previous returns. A traced run adds
phases: ``spool_to_influx`` an open-loop stream phase, in which a generator
thread appends documents at a fixed rate whatever the pipeline does, and
``catalog_to_parquet`` a query-mix phase. Program defaults stay as a
user gets them.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

from node_mongo2influx_spark import Engine, EngineConfig, TransformSpec
from node_mongo2influx_spark.plans import load_registry
from node_mongo2influx_spark.sinks import ParquetSink
from node_mongo2influx_spark.sinks.influx import (
    HttpTransport,
    InfluxLineProtocolSink,
    render_lines,
)
from node_mongo2influx_spark.sources.catalog import DirectoryCatalog, SpoolCatalog
from node_mongo2influx_spark.sources.mongospool import MongoSpoolDataSource
from node_mongo2influx_spark.streaming.pipeline import migrate_stream

import gen
import tracing
from gen import QUERIES

SPOOL_SPEC = TransformSpec(rename={"date": "time"}, drop=["_id"])
CATALOG_SPEC = TransformSpec(
    rename={"ts": "time"},
    drop=["_id"],
    cast={"qty": "long"},
    set={"value": "reading * 2"},
    where="qty >= 100",
)
#: The end-to-end metrics one closed-loop operation yields.
OP_METRICS = ("rows_per_s", "event_latency_p50_ms", "event_latency_p99_ms")


@dataclass
class Context:
    seed: int
    seconds: float
    trace: bool
    cores: int
    work: Path
    out: Path
    #: ``time.monotonic()`` of the process start
    t_start: float
    server: object = None  # fake_influx.FakeInflux


@dataclass
class Result:
    errors: list[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    metrics: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    samples: dict[str, object] = field(default_factory=dict)


def percentile(values, q: float, weights=None) -> float:
    """Nearest-rank percentile, optionally weighted."""
    pairs = sorted(zip(values, weights or [1] * len(values)))
    target, acc = q * sum(w for _, w in pairs), 0
    for v, w in pairs:
        acc += w
        if acc >= target:
            return v
    return pairs[-1][0]


def spark_layers(c: dict, wall: float, cores: int) -> dict:
    return {
        "spark.core_util": c["run_s"] / (wall * cores),
        "spark.tasks": c["tasks"],
        "spark.shuffle_write_bytes": c["shuffle_write_bytes"],
        "spark.spill_bytes": c["spill_bytes"],
        "spark.gc_s": c["gc_s"],
    }


def influx_layers(c: dict) -> dict:
    return {
        "influx.posts": c["posts"],
        "influx.lines_per_post": c["lines"] / max(c["posts"], 1),
        "influx.connections": c["connections"],
        "influx.bytes": c["bytes"],
        "influx.rejected": c["rejected"],
        "influx.server_busy_s": c["busy_s"],
    }


def check_received(name: str, rec, res: Result) -> None:
    """Count the endpoint's POSTs as operations and its rejects as failures."""
    res.attempted += rec.posts
    res.failed += rec.rejected
    if rec.rejected:
        res.errors.append(f"{name}: {rec.rejected} POSTs rejected")


def _noop(df) -> float:
    t = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t


def prefix_probe(catalog, spec, tables, counters, write, render=False) -> dict:
    """Run each prefix of every table's pipeline into a ``noop`` write, one
    table at a time. Returns summed seconds of ``read`` (the catalog.read
    call), ``scan`` (read -> noop), ``apply`` (the transform.apply call),
    ``exec`` (read+apply -> noop), ``render`` (read+apply+render_lines ->
    noop, when ``render``) and ``write`` (the full ``Sink.write``), plus the
    Spark counters of the scan phase alone."""
    tot = dict.fromkeys(("read", "scan", "apply", "exec", "render", "write"), 0.0)
    counters.take()
    for name in tables:
        t = time.monotonic()
        df = catalog.read(name)
        tot["read"] += time.monotonic() - t
        tot["scan"] += _noop(df)
    tot["scan_counters"] = counters.take()
    for name in tables:
        df = catalog.read(name)
        t = time.monotonic()
        out, _ = spec.apply(df)
        tot["apply"] += time.monotonic() - t
        tot["exec"] += _noop(out)
        if render:
            tot["render"] += _noop(render_lines(spec.apply(catalog.read(name))[0], name))
        out, _ = spec.apply(catalog.read(name))
        t = time.monotonic()
        write(out, name)
        tot["write"] += time.monotonic() - t
    return tot


class Workload:
    """A closed loop of one operation. Subclasses supply the seeded inputs,
    the operation (:meth:`rep`), the checks and the per-layer summaries."""

    name = ""
    config: EngineConfig | None = None
    #: Operations run after the session is built and before measuring.
    #: A fixed count, so that ``setup_s`` times the same work in every run.
    warmup_reps = 2
    #: Seconds of checking done inside the warm-up, left out of ``setup_s``.
    check_s = 0.0

    def prepare(self, ctx: Context) -> None:
        """Write the seeded inputs and keep the expected outputs."""
        raise NotImplementedError

    def open(self, ctx: Context, eng: Engine) -> None:
        """Build what the operation needs from a fresh session."""
        raise NotImplementedError

    def rep(self, ctx: Context, eng: Engine, res: Result, tracer=None) -> dict:
        """Run one operation, check it, and return its ``wall`` seconds and
        its value of each of ``OP_METRICS``."""
        raise NotImplementedError

    def final_check(self, ctx: Context, eng: Engine, res: Result) -> None:
        pass

    def layers(self, ctx, eng, tracer, counters, traced: list[dict], res: Result) -> None:
        """Per-layer metrics from the traced reps and any probes."""
        raise NotImplementedError

    def phase(self, ctx, eng, tracer, counters, reps: int, res: Result) -> None:
        """Run this workload inside another one's traced run, on its
        session: inputs, warm-up, ``reps`` traced operations, the per-layer
        summaries and the checks."""
        self.prepare(ctx)
        eng = Engine(eng.spark, self.config)
        self.open(ctx, eng)
        for _ in range(self.warmup_reps):
            self.rep(ctx, eng, res)
        counters.take()
        traced = [self.rep(ctx, eng, res, tracer) for _ in range(reps)]
        self.jobs_per_rep = counters.take()["jobs"] / reps
        self.layers(ctx, eng, tracer, counters, traced, res)
        self.final_check(ctx, eng, res)

    def run(self, ctx: Context) -> Result:
        """Inputs, session, warm-up, then ``ctx.seconds`` of measured reps
        (or the traced variant) and the checks. ``setup_s`` runs from the
        process start to the end of the warm-up, less the time spent writing
        inputs and checking outputs, which a user of the program would not
        pay."""
        res = Result()
        t = time.monotonic()
        self.prepare(ctx)
        gen_s = time.monotonic() - t

        t = time.monotonic()
        eng = Engine.builder(
            app_name="perfbench", master=f"local[{ctx.cores}]", config=self.config
        )
        self.open(ctx, eng)
        res.layers["setup.session_s"] = time.monotonic() - t
        t = time.monotonic()
        walls = [self.rep(ctx, eng, res)["wall"] for _ in range(self.warmup_reps)]
        end = time.monotonic()
        res.layers["setup.warmup_s"] = end - t
        res.metrics["setup_s"] = end - ctx.t_start - gen_s - self.check_s
        res.samples["gen_s"] = round(gen_s, 2)
        res.samples["warmup_s"] = [round(x, 2) for x in walls]

        if ctx.trace:
            self._traced(ctx, eng, res)
        else:
            per_rep: dict[str, list[float]] = {}
            start = time.monotonic()
            while not per_rep or time.monotonic() - start < ctx.seconds:
                for k, v in self.rep(ctx, eng, res).items():
                    per_rep.setdefault(k, []).append(v)
            res.samples["rep_s"] = [round(x, 2) for x in per_rep["wall"]]
            res.metrics.update({k: statistics.median(per_rep[k]) for k in OP_METRICS})
        self.final_check(ctx, eng, res)
        return res

    def _traced(self, ctx, eng, res: Result) -> None:
        """Untraced and traced reps alternate in pairs for ``ctx.seconds``
        and at least two pairs, the order inside a pair alternating too;
        ``trace_overhead.<metric>`` is the median of the paired differences
        (traced - untraced). Spark counters cover the traced reps only.
        Then the workload's layer summaries and probes."""
        tracer = tracing.Tracer()
        counters = tracing.SparkCounters(eng.spark)
        totals: dict[str, float] = {}
        traced, diffs = [], {k: [] for k in OP_METRICS}
        start = time.monotonic()
        for i in itertools.count():
            if i >= 2 and time.monotonic() - start >= ctx.seconds:
                break
            pair = {}
            for with_trace in ((False, True) if i % 2 == 0 else (True, False)):
                if with_trace:
                    counters.take()
                    pair[True] = self.rep(ctx, eng, res, tracer)
                    for k, v in counters.take().items():
                        totals[k] = totals.get(k, 0) + v
                else:
                    pair[False] = self.rep(ctx, eng, res)
            traced.append(pair[True])
            for k in OP_METRICS:
                diffs[k].append(pair[True][k] - pair[False][k])
        wall = sum(r["wall"] for r in traced)
        res.samples["traced_rep_s"] = [round(r["wall"], 2) for r in traced]
        res.layers.update({f"trace_overhead.{k}": statistics.median(v) for k, v in diffs.items()})
        res.layers.update(spark_layers(totals, wall, ctx.cores))
        self.jobs_per_rep = totals["jobs"] / len(traced)
        t = time.monotonic()
        self.layers(ctx, eng, tracer, counters, traced, res)
        res.samples["probe_ms"] = int(1000 * (time.monotonic() - t))
        tracer.write(ctx.out / f"trace-{self.name}-{ctx.seed}.jsonl")


class Migration(Workload):
    """Closed-loop full-catalog ``Engine.migrate``; subclasses supply the
    inputs, catalog, sink and checks."""

    spec: TransformSpec

    def make(self, ctx: Context, eng: Engine):
        """(catalog, sink) for the session."""
        raise NotImplementedError

    def open(self, ctx, eng):
        self.catalog, self.sink = self.make(ctx, eng)
        self.tcat = self.tsink = None
        self.reps = itertools.count()

    def before_rep(self, ctx: Context) -> None:
        pass

    def check_rep(self, ctx: Context, report, res: Result) -> None:
        raise NotImplementedError

    def latencies(self, ctx: Context, t0_mono: float, t0_wall: float, report):
        """(seconds from migrate start until visible, weight) per unit."""
        raise NotImplementedError

    def rep(self, ctx, eng, res, tracer=None):
        catalog, sink = self.catalog, self.sink
        self.before_rep(ctx)
        if tracer is not None:
            if self.tcat is None:
                self.tcat = tracing.TracedCatalog(catalog, tracer)
                self.tsink = tracing.TracedSink(sink, tracer)
            catalog, sink = self.tcat, self.tsink
            tag = f"migrate-{next(self.reps)}"
            with tracer.span("engine.migrate", tag) as sp:
                catalog.trace = sink.trace = tag
                catalog.parent = sink.parent = sp["id"]
                t0_wall, t0 = time.time(), time.monotonic()
                report = eng.migrate(catalog, self.spec, sink)
                wall = time.monotonic() - t0
        else:
            t0_wall, t0 = time.time(), time.monotonic()
            report = eng.migrate(catalog, self.spec, sink)
            wall = time.monotonic() - t0
        res.attempted += len(report.tables)
        res.failed += len(report.failed)
        for t in report.failed:
            res.errors.append(f"{self.name}: table {t.table} failed: {t.error[:300]}")
        self.check_rep(ctx, report, res)
        self.last_report = report
        lats, weights = zip(*self.latencies(ctx, t0, t0_wall, report))
        return {
            "wall": wall,
            "rows_per_s": report.rows_written / wall,
            "event_latency_p50_ms": 1000 * percentile(lats, 0.50, list(weights)),
            "event_latency_p99_ms": 1000 * percentile(lats, 0.99, list(weights)),
        }

    def layers(self, ctx, eng, tracer, counters, traced, res):
        migrations = tracer.named("engine.migrate")
        in_flight, table_s = [], []
        for m in migrations:
            spans = tracing.table_spans(tracer, m["trace"])
            table_s += [e - s for s, e in spans]
            in_flight.append(sum(e - s for s, e in spans) / (m["end"] - m["start"]))
        report = self.last_report
        res.layers.update({
            "engine.migrate_s": statistics.median(m["end"] - m["start"] for m in migrations),
            "engine.table_s_p50": percentile(table_s, 0.5),
            "engine.table_s_max": max(table_s),
            "engine.tables_in_flight": statistics.median(in_flight),
            "engine.jobs": self.jobs_per_rep,
            "transform.kept_ratio": report.rows_written / sum(t.rows_in for t in report.tables),
        })
        self.layer_probe(ctx, eng, counters, res)

    def layer_probe(self, ctx, eng, counters, res) -> None:
        raise NotImplementedError


class SpoolToInflux(Migration):
    """mongoexport spool -> SpoolCatalog -> TransformSpec -> Influx sink over
    HTTP to the fake endpoint: the reference's own use case."""

    name = "spool_to_influx"
    spec = SPOOL_SPEC
    # the first migration of a session takes three to four warm ones, and
    # the next one is still about a third slower than the ones after it
    warmup_reps = 2

    def prepare(self, ctx):
        self.root = ctx.work / "spool"
        self.expected = gen.write_spool(ctx.seed, self.root)

    def make(self, ctx, eng):
        sink = InfluxLineProtocolSink(HttpTransport(ctx.server.url, "bench"))
        return SpoolCatalog(eng.spark, str(self.root)), sink

    def before_rep(self, ctx):
        ctx.server.received.reset()

    def latencies(self, ctx, t0_mono, t0_wall, report):
        return [(recv - t0_mono, 1) for _, _, recv in ctx.server.received.lines]

    def check_rep(self, ctx, report, res):
        rec = ctx.server.received
        check_received(self.name, rec, res)
        if report.failed:
            return  # counted and reported by rep
        got = gen.pair_digest((s, int(ts)) for s, ts, _ in rec.lines)
        want = (self.expected["lines"], self.expected["digest"])
        errors = len(res.errors)
        if got != want:
            res.errors.append(f"{self.name}: received (lines, digest) {got} != {want}")
        if report.rows_skipped != self.expected["skipped"]:
            res.errors.append(
                f"{self.name}: rows_skipped {report.rows_skipped} != {self.expected['skipped']}"
            )
        if len(res.errors) > errors:
            res.failed += 1  # the migration delivered wrong output

    def layer_probe(self, ctx, eng, counters, res):
        # the endpoint is reset before each migration: these are the last
        # migration's, which ran traced on even pairs and untraced on odd
        res.layers.update(influx_layers(ctx.server.received.counters()))
        ctx.server.received.reset()
        catalog = self.catalog
        p = prefix_probe(catalog, self.spec, catalog.table_names(), counters,
                         self.sink.write, render=True)
        check_received(self.name, ctx.server.received, res)
        scan = p["scan_counters"]
        docs = self.expected["lines"] + self.expected["skipped"]
        res.layers.update({
            "mongospool.schema_s": p["read"],
            "mongospool.scan_s": p["scan"],
            "mongospool.docs_per_s": docs / p["scan"],
            "mongospool.partitions": scan["tasks"],
            "mongospool.core_util": scan["run_s"] / (p["scan"] * ctx.cores),
            "catalog.read_s": p["read"],
            "transform.apply_s": p["apply"],
            "transform.exec_s": p["exec"] - p["scan"],
            "influx.render_s": p["render"] - p["exec"],
            "influx.deliver_s": p["write"] - p["render"],
        })
        stream_phase(ctx, eng, res, STREAM_SECONDS)


class CatalogToParquet(Migration):
    """pyarrow-written parquet directory -> DirectoryCatalog -> declarative
    TransformSpec -> ParquetSink with ``empty_series=True``. Its traced run
    ends with a query-mix phase (see :meth:`Workload.phase`)."""

    name = "catalog_to_parquet"
    spec = CATALOG_SPEC
    config = EngineConfig(empty_series=True)
    # on 4 cores the first migration takes three to four warm ones and the
    # next two are still a little slower (JIT)
    warmup_reps = 3

    def prepare(self, ctx):
        self.root = ctx.work / "catalog"
        self.dest = ctx.work / "catalog_out"
        self.expected = gen.write_catalog(ctx.seed, self.root)

    def make(self, ctx, eng):
        return DirectoryCatalog(eng.spark, str(self.root)), ParquetSink(str(self.dest))

    def latencies(self, ctx, t0_mono, t0_wall, report):
        # a table's rows become visible when its write commits (_SUCCESS)
        return [
            ((self.dest / t.table / "_SUCCESS").stat().st_mtime - t0_wall, t.rows_written)
            for t in report.tables
            if t.error is None
        ]

    def check_rep(self, ctx, report, res):
        for t in report.tables:
            want = self.expected[t.table]
            got = (t.rows_in, t.rows_written, t.rows_skipped)
            exp = (want["rows_in"], want["rows_written"], want["rows_skipped"])
            if t.error is None and got != exp:
                res.failed += 1
                res.errors.append(f"{self.name}: {t.table} (in, written, skipped) {got} != {exp}")

    def final_check(self, ctx, eng, res):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        for name, want in self.expected.items():
            tbl = pq.read_table(self.dest / name)
            qty = pc.sum(tbl["qty"]).as_py() or 0
            value = pc.sum(tbl["value"]).as_py() or 0.0
            if (
                tbl.num_rows != want["rows_written"]
                or qty != want["qty_sum"]
                or abs(value - want["value_sum"]) > 1e-9 * max(1.0, abs(want["value_sum"]))
            ):
                res.failed += 1
                res.errors.append(
                    f"{self.name}: {name} read back rows={tbl.num_rows} qty={qty} "
                    f"value={value} != {want}"
                )

    def layer_probe(self, ctx, eng, counters, res):
        probe_dest = ctx.work / "probe_out"
        catalog = self.catalog
        p = prefix_probe(catalog, self.spec, catalog.table_names(), counters,
                         ParquetSink(str(probe_dest)).write)
        files = [f for f in probe_dest.rglob("part-*") if f.is_file()]
        res.layers.update({
            "catalog.read_s": p["read"],
            "parquet_compat.scan_s": p["scan"],
            "transform.apply_s": p["apply"],
            "transform.exec_s": p["exec"] - p["scan"],
            "parquet_sink.write_s": p["write"] - p["exec"],
            "parquet_sink.files": len(files),
            "parquet_sink.bytes": sum(f.stat().st_size for f in files),
        })

    def layers(self, ctx, eng, tracer, counters, traced, res):
        super().layers(ctx, eng, tracer, counters, traced, res)
        QueryMix().phase(ctx, eng, tracer, counters, QUERY_PHASE_REPS, res)


class QueryMix(Workload):
    """Runs as a phase of the traced ``catalog_to_parquet`` run, for the
    ``plans`` metrics; it also runs on its own (``--workload query_mix``)
    but is not one of the benchmark's workloads.

    One pass runs every query of ``QUERIES`` over seeded TPC-H-style
    tables, each into a ``noop`` write; the seed rotates the order, and so
    does each pass. Bypasses ``Engine.migrate``, the sources and the sinks.

    A pass's ``rows_per_s`` is the rows the queries return divided by the
    pass's wall time; its latencies are the per-query times from the call
    into the plan to the end of its action.

    The first pass of the warm-up collects each result through Arrow
    instead, and checks it against the query's DuckDB oracle: columns, row
    count and value hash, as the repository's oracle gate compares them."""

    name = "query_mix"
    # passes keep falling for several passes while the JVM compiles
    warmup_reps = 3

    def prepare(self, ctx):
        import duckdb

        self.root = ctx.work / "tables"
        tables = gen.write_tables(ctx.seed, self.root)
        self.registry = load_registry()
        # the oracle side of the check, computed before the session exists
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.root / t}.parquet')")
        self.oracle = {}
        for q in QUERIES:
            rel = con.sql(self.registry[q].oracle)
            self.oracle[q] = (list(rel.columns), [tuple(r) for r in rel.fetchall()])
        con.close()
        self.rows = sum(len(rows) for _, rows in self.oracle.values())
        self.passes = itertools.count(ctx.seed)
        self.checked = False

    def open(self, ctx, eng):
        pass

    def rep(self, ctx, eng, res, tracer=None):
        from check_oracle import spark_rows

        k = next(self.passes) % len(QUERIES)
        order = QUERIES[k:] + QUERIES[:k]
        per, build, got = {}, 0.0, {}
        start = time.monotonic()
        for q in order:
            with tracer.span("plans.query", q) if tracer else contextlib.nullcontext():
                t0 = time.monotonic()
                df = self.registry[q].fn(eng.spark, str(self.root))
                t1 = time.monotonic()
                if self.checked:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    got[q] = (df.columns, spark_rows(df))
                per[q] = time.monotonic() - t0
            build += t1 - t0
        wall = time.monotonic() - start
        res.attempted += len(order)
        if not self.checked:
            t = time.monotonic()
            self.check(got, res)
            self.check_s += time.monotonic() - t
            self.checked = True
        lats = list(per.values())
        return {
            "wall": wall,
            "rows_per_s": self.rows / wall,
            "event_latency_p50_ms": 1000 * percentile(lats, 0.50),
            "event_latency_p99_ms": 1000 * percentile(lats, 0.99),
            "per": per,
            "build": build,
        }

    def check(self, got: dict, res: Result) -> None:
        from check_oracle import value_hash

        for q, (scols, srows) in got.items():
            dcols, drows = self.oracle[q]
            if sorted(scols) != sorted(dcols) or len(srows) != len(drows):
                problem = f"columns {sorted(scols)} rows {len(srows)} != {sorted(dcols)} rows {len(drows)}"
            elif value_hash(scols, srows) != value_hash(dcols, drows):
                problem = "value hash differs from the oracle"
            else:
                continue
            res.failed += 1
            res.errors.append(f"{self.name}: {q}: {problem}")

    def layers(self, ctx, eng, tracer, counters, traced, res):
        res.layers["query_mix_s"] = statistics.median(r["wall"] for r in traced)
        res.layers["plans.build_s"] = statistics.median(r["build"] for r in traced)
        for q in QUERIES:
            res.layers[f"plans.{q}.s"] = statistics.median(r["per"][q] for r in traced)


#: Traced passes in the query-mix phase of a traced catalog_to_parquet run.
QUERY_PHASE_REPS = 3


STREAM_SCHEMA = "_id string, date timestamp, seq long, sensor string, value double, created double"
#: Documents per second the generator appends: below saturation.
STREAM_RATE = 200
#: Documents per spool file before the generator starts the next file.
STREAM_FILE_DOCS = 1000
STREAM_WARMUP_S = 1.0
#: Length of the measured stream load in a traced spool_to_influx run.
STREAM_SECONDS = 5.0
#: How long delivery of the last documents may take after generation ends.
STREAM_DRAIN_S = 30.0


class LoadGen(threading.Thread):
    """Appends ``docs`` to spool files in ``directory`` at ``rate`` per
    second. Document ``i`` is due at ``t0 + i / rate``; it is stamped with
    its creation time (``created``) when written. Records how late each
    write ran and the backlog (written but not yet delivered) at each tick."""

    def __init__(self, directory: Path, docs: list[dict], rate: float, delivered) -> None:
        super().__init__(daemon=True)
        self.directory, self.docs, self.rate = directory, docs, rate
        self.delivered = delivered
        self.lags: list[float] = []
        self.backlog: list[int] = []
        self.t0 = 0.0

    def run(self) -> None:
        self.t0 = time.monotonic()
        n, i = len(self.docs), 0
        while i < n:
            due = min(n, int((time.monotonic() - self.t0) * self.rate) + 1)
            while i < due:
                # do not let one write cross a file boundary
                j = min(due, (i // STREAM_FILE_DOCS + 1) * STREAM_FILE_DOCS)
                created = time.time()
                lines = "".join(
                    json.dumps({**d, "created": created}, separators=(",", ":")) + "\n"
                    for d in self.docs[i:j]
                )
                seq0 = int(self.docs[i]["seq"]["$numberLong"])
                path = self.directory / f"part-{seq0 // STREAM_FILE_DOCS:06d}.jsonl"
                with open(path, "a") as fh:
                    fh.write(lines)
                wrote = time.monotonic()
                self.lags += [wrote - (self.t0 + k / self.rate) for k in range(i, j)]
                i = j
            self.backlog.append(i - self.delivered())
            time.sleep(max(0.0, self.t0 + i / self.rate - time.monotonic()))

    def due(self, k: int) -> float:
        return self.t0 + k / self.rate


def _wait_delivered(rec, seqs, deadline_s: float) -> bool:
    deadline = time.monotonic() + deadline_s
    while time.monotonic() < deadline:
        with rec.lock:
            if all(k in rec.seq_first for k in seqs):
                return True
        time.sleep(0.01)
    return False


def _stream_load(ctx, directory: Path, seq0: int, n: int, res: Result):
    """Generate ``n`` documents numbered from ``seq0`` at ``STREAM_RATE``
    and wait for their delivery. Returns (latency s per delivered document,
    generator). Resets the endpoint first, so every seq it sees is ours."""
    rec = ctx.server.received
    rec.reset()
    seqs = range(seq0, seq0 + n)
    lg = LoadGen(directory, gen.stream_docs(ctx.seed, n, seq0), STREAM_RATE,
                 lambda: len(rec.seq_first))
    lg.start()
    lg.join()
    _wait_delivered(rec, seqs, STREAM_DRAIN_S)
    with rec.lock:
        got = {k: rec.seq_first[k] for k in seqs if k in rec.seq_first}
    res.attempted += n
    res.failed += n - len(got)
    if len(got) != n:
        res.errors.append(f"stream: {n - len(got)} of {n} documents undelivered")
    check_received("stream", rec, res)
    return [got[k] - lg.due(k - seq0) for k in got], lg


def stream_phase(ctx, eng: Engine, res: Result, seconds: float) -> None:
    """Open loop through ``streaming.pipeline.migrate_stream``: a generator
    appends stamped documents to a spool directory at ``STREAM_RATE``; the
    mongospool stream reader tails it and the Influx sink delivers to the
    fake endpoint. Latency runs from a document's due time to its first
    receipt. Every document must arrive (at-least-once: distinct ``seq``)."""
    spark = eng.spark
    spark.dataSource.register(MongoSpoolDataSource)
    directory = ctx.work / "stream"
    directory.mkdir()
    src = (spark.readStream.format("mongospool").schema(STREAM_SCHEMA)
           .option("path", str(directory)).load())
    sink = InfluxLineProtocolSink(HttpTransport(ctx.server.url, "bench"))
    q = migrate_stream(src, SPOOL_SPEC, sink, "stream", str(ctx.work / "ckpt"))
    try:
        # warm-up: the first document through the fresh query, then a short
        # load; its documents are numbered apart from the measured ones
        _stream_load(ctx, directory, 10**9, 1, res)
        _stream_load(ctx, directory, 2 * 10**9, int(STREAM_WARMUP_S * STREAM_RATE), res)
        last = q.lastProgress["batchId"] if q.lastProgress else -1
        n = int(seconds * STREAM_RATE)
        lats, lg = _stream_load(ctx, directory, 0, n, res)
        progress = [p for p in q.recentProgress
                    if p["batchId"] > last and p["numInputRows"] > 0]
    finally:
        q.stop()
    dur = [p["durationMs"] for p in progress]
    res.samples["stream_docs"] = n
    res.layers.update({
        "stream.latency_p50_ms": 1000 * percentile(lats, 0.50),
        "stream.latency_p99_ms": 1000 * percentile(lats, 0.99),
        "stream.batches": len(progress),
        "stream.batch_ms_p50": percentile([d.get("triggerExecution", 0) for d in dur], 0.5),
        "stream.latest_offset_ms_p50": percentile([d.get("latestOffset", 0) for d in dur], 0.5),
        "stream.add_batch_ms_p50": percentile([d.get("addBatch", 0) for d in dur], 0.5),
        "stream.backlog_docs": max(lg.backlog),
        "loadgen.lag_p99_ms": 1000 * percentile(lg.lags, 0.99),
    })
