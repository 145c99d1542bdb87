"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the workload's inputs from the seed,
runs it at ``local[N]`` with N = min(SPARK_GRAFT_CPUS, available cores),
checks the outputs, and prints each metric by name and unit, then as the
last line one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (spans go to ``.perfbench_out/``). Exits non-zero
when a correctness check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
import traceback
from pathlib import Path

import gen


def _process_age() -> float:
    """Seconds since this process started, from ``/proc/self/stat``."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


#: ``time.monotonic()`` of the process start, the origin of ``setup_s``.
T_START = time.monotonic() - _process_age()

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
#: A run that has not finished by then is killed, JVM first.
DEADLINE_S = 170

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "event_latency_p50_ms": "ms",
    "event_latency_p99_ms": "ms",
    "peak_rss_mb": "MB",
}

#: Every per-layer metric. A workload that does not run a layer reports 0
#: for it (no work done there).
PER_LAYER = {
    "setup.session_s": "s",
    "setup.warmup_s": "s",
    "mongospool.schema_s": "s",
    "mongospool.scan_s": "s",
    "mongospool.docs_per_s": "docs/s",
    "mongospool.partitions": "count",
    "mongospool.core_util": "ratio",
    "catalog.read_s": "s",
    "parquet_compat.scan_s": "s",
    "transform.apply_s": "s",
    "transform.exec_s": "s",
    "transform.kept_ratio": "ratio",
    "influx.render_s": "s",
    "influx.deliver_s": "s",
    "influx.posts": "count",
    "influx.lines_per_post": "count",
    "influx.connections": "count",
    "influx.bytes": "B",
    "influx.rejected": "count",
    "influx.server_busy_s": "s",
    "parquet_sink.write_s": "s",
    "parquet_sink.files": "count",
    "parquet_sink.bytes": "B",
    "engine.migrate_s": "s",
    "engine.table_s_p50": "s",
    "engine.table_s_max": "s",
    "engine.tables_in_flight": "count",
    "engine.jobs": "count",
    "stream.latency_p50_ms": "ms",
    "stream.latency_p99_ms": "ms",
    "stream.batches": "count",
    "stream.batch_ms_p50": "ms",
    "stream.latest_offset_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.backlog_docs": "count",
    "loadgen.lag_p99_ms": "ms",
    "spark.core_util": "ratio",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "query_mix_s": "s",
    "plans.build_s": "s",
    **{f"plans.{q}.s": "s" for q in gen.QUERIES},
    "trace_overhead.rows_per_s": "rows/s",
    "trace_overhead.event_latency_p50_ms": "ms",
    "trace_overhead.event_latency_p99_ms": "ms",
}


def cores() -> int:
    avail = len(os.sched_getaffinity(0))
    return max(1, min(int(os.environ.get("SPARK_GRAFT_CPUS") or avail), avail))


def stop_spark() -> None:
    """Stop the active session, then the JVM and its Python workers, and
    wait for each process to end."""
    from pyspark import SparkContext

    import tracing

    gateway = SparkContext._gateway
    if gateway is None:
        return
    jvm = gateway.proc
    kids = tracing.descendants(jvm.pid)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    jvm.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        jvm.wait(timeout=30)
    except Exception:
        jvm.kill()
        jvm.wait(timeout=30)
    deadline = time.monotonic() + 15
    for pid in kids:
        while Path(f"/proc/{pid}").exists() and time.monotonic() < deadline:
            time.sleep(0.05)
        if Path(f"/proc/{pid}").exists():
            os.kill(pid, 9)


def _watchdog() -> None:
    from pyspark import SparkContext

    print(f"perfbench: run exceeded {DEADLINE_S}s, aborting", file=sys.stderr)
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.proc.kill()
    os._exit(3)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # The program under test is the checkout's package; its Python workers
    # need the same import path.
    sys.path.insert(0, str(ROOT))
    sys.path.append(str(ROOT / "tools"))  # check_oracle, the oracle comparator
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    import node_mongo2influx_spark  # noqa: F401  fails outside a checkout

    import tracing
    from fake_influx import FakeInflux
    from workloads import CatalogToParquet, Context, QueryMix, SpoolToInflux

    # query_mix is not in BENCHMARK.json: it runs as a phase of a traced
    # catalog_to_parquet run, and on its own when asked for
    workloads = {w.name: w for w in (SpoolToInflux, CatalogToParquet, QueryMix)}
    if args.workload not in workloads:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")

    watchdog = threading.Timer(DEADLINE_S, _watchdog)
    watchdog.daemon = True
    watchdog.start()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        n = cores()
        with FakeInflux(max_conns=n) as server:
            ctx = Context(seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
                          cores=n, work=work, out=ROOT / ".perfbench_out",
                          t_start=T_START, server=server)
            try:
                res = workloads[args.workload]().run(ctx)
                from pyspark import SparkContext

                res.metrics["peak_rss_mb"] = tracing.peak_rss_mb(SparkContext._gateway.proc.pid)
            finally:
                stop_spark()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        watchdog.cancel()

    names = PER_LAYER if args.trace else END_TO_END
    metrics = {k: {"value": float(res.layers.get(k, res.metrics.get(k, 0.0))), "unit": u}
               for k, u in names.items()}
    for e in res.errors:
        print(f"CHECK FAILED {e}")
    print(f"# {args.workload} seed={args.seed} local[{n}] samples={res.samples}")
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    correct = not res.errors
    print(json.dumps({"correct": correct, "attempted": max(res.attempted, 1),
                      "failed": res.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(2)
