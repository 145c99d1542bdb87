"""The fixed cost of a Spark Python task, measured two ways.

1. The median wall time of a 16-partition ``mapInArrow`` job through a
   package function (``sources.mongospool.arrow_decoder`` over 64 JSON
   lines per partition), after one warm-up job.
2. The in-worker cost of ``importlib.invalidate_caches()``, which Spark
   calls at the start of every Python task: the median over probe tasks
   that run in workers which have already imported the package.

Usage (from the checkout root; Python workers import the package from the
working directory before PYTHONPATH)::

    PYTHONPATH=. python tools/worker_task_cost.py

Prints ``name = value unit`` lines.
"""

from __future__ import annotations

import importlib
import os
import statistics
import sys
import time
from pathlib import Path

from pyspark.sql.types import LongType, StructField, StructType

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from node_mongo2influx_spark import Engine, EngineConfig  # noqa: E402
from node_mongo2influx_spark.sources.mongospool import arrow_decoder  # noqa: E402

PARTITIONS = 16
JOBS = 7


def _invalidate_probe(batches):
    import pyarrow as pa

    for _ in batches:
        pass
    # the worker imports the package, as it does for any package UDF
    import node_mongo2influx_spark  # noqa: F401

    t0 = time.perf_counter()
    importlib.invalidate_caches()
    ms = (time.perf_counter() - t0) * 1000
    yield pa.RecordBatch.from_pydict({"ms": [ms]})


def main() -> None:
    cores = min(int(os.environ.get("SPARK_GRAFT_CPUS", "4")), os.cpu_count() or 1)
    eng = Engine.builder(
        app_name="worker-task-cost",
        master=f"local[{cores}]",
        config=EngineConfig(spark_conf={"spark.ui.showConsoleProgress": "false"}),
    )
    spark = eng.spark
    try:
        text = spark.range(0, PARTITIONS * 64, numPartitions=PARTITIONS).selectExpr(
            "to_json(named_struct('ts', id, 'v', id * 2)) AS value"
        )
        schema = StructType(
            [StructField("ts", LongType()), StructField("v", LongType())]
        )
        decoded = text.mapInArrow(arrow_decoder(schema), schema)
        walls = []
        for i in range(JOBS + 1):
            t0 = time.perf_counter()
            decoded.write.format("noop").mode("overwrite").save()
            if i:  # the first job spawns the workers
                walls.append((time.perf_counter() - t0) * 1000)
        probe = spark.range(0, PARTITIONS, numPartitions=PARTITIONS).mapInArrow(
            _invalidate_probe, "ms double"
        )
        costs = [r.ms for _ in range(3) for r in probe.collect()]
    finally:
        spark.stop()
    print(
        f"map_in_arrow_{PARTITIONS}_partitions_ms = "
        f"{statistics.median(walls):.0f} ms (median of {len(walls)} jobs)"
    )
    print(
        f"worker_invalidate_caches_ms = {statistics.median(costs):.2f} ms "
        f"(median of {len(costs)} in-worker calls)"
    )


if __name__ == "__main__":
    main()
