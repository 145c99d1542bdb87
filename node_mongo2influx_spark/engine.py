"""Engine: session management + the multi-table migrate driver.

This is the Spark-first re-expression of the reference's pipeline
(/root/reference/index.js:340-370 `migrate` → :290-317 `migrateCollections`
→ :177-278 `migrateCollection`): enumerate all source tables, skip system
tables, run read → transform → time-filter per table, optionally truncate
its destination series, write it, with bounded cross-table parallelism,
and account rows/skips/throughput.

What collapses away under Spark (SURVEY.md §3-4): skip/limit pagination
(input splits), serial page/batch loops (partition-parallel tasks), manual
heap management, and the 500 ms throughput sampler (one-pass ``observe``
metrics + the Spark UI). What remains is ~100 lines of driver logic.
"""

from __future__ import annotations

import logging
import pathlib
import time
from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from node_mongo2influx_spark.config import EngineConfig
from node_mongo2influx_spark.operators.transform import TransformSpec
from node_mongo2influx_spark.sinks.base import Sink
from node_mongo2influx_spark.sources.catalog import Catalog

logger = logging.getLogger("node_mongo2influx_spark")


@dataclass
class TableReport:
    """Per-table outcome — the engine analogue of the reference's per-
    collection completion log (index.js:266-273).

    ``rows_in = rows_written + rows_skipped``. ``rows_skipped`` counts the
    rows the transform's time filter drops and, when the sink counts what
    it writes, also the rows the sink drops (the Influx sink cannot render
    a row whose non-time fields are all NULL)."""

    table: str
    rows_in: int = 0
    rows_written: int = 0
    rows_skipped: int = 0
    seconds: float = 0.0
    error: str | None = None

    @property
    def success_rate(self) -> float:
        """``100/itemCount*(itemCount-rowsSkipped)`` (index.js:271-272)."""
        if self.rows_in == 0:
            return 100.0
        return 100.0 / self.rows_in * (self.rows_in - self.rows_skipped)

    @property
    def rows_per_sec(self) -> float:
        """End-to-end analogue of the reference's `ips` (index.js:219)."""
        return self.rows_written / self.seconds if self.seconds > 0 else 0.0


@dataclass
class MigrationReport:
    tables: list[TableReport] = field(default_factory=list)
    seconds: float = 0.0

    @property
    def rows_written(self) -> int:
        return sum(t.rows_written for t in self.tables)

    @property
    def rows_skipped(self) -> int:
        return sum(t.rows_skipped for t in self.tables)

    @property
    def failed(self) -> list[TableReport]:
        return [t for t in self.tables if t.error is not None]


class Engine:
    """Owns a SparkSession + config; runs migrations and hosts the operator
    library. Instance-scoped by design (the reference is module-global,
    index.js:21-23 — two instances would share state)."""

    def __init__(self, spark: SparkSession, config: EngineConfig | None = None) -> None:
        self.spark = spark
        self.config = config or EngineConfig()

    # -- session ----------------------------------------------------------
    @staticmethod
    def builder(
        app_name: str = "node_mongo2influx_spark",
        master: str | None = None,
        config: EngineConfig | None = None,
    ) -> "Engine":
        """Create an Engine with scale-appropriate session defaults: AQE on
        (runtime partition coalescing + skew-join handling), Arrow for any
        pandas interchange, sane local shuffle parallelism."""
        cfg = config or EngineConfig()
        b = SparkSession.builder.appName(app_name)
        if master:
            b = b.master(master)
        defaults = {
            # local-mode JVM heap: Spark's 1g default is sized for a
            # driver that only coordinates, but in local[32] the SAME JVM
            # runs all 32 executor threads — big shuffles hit GC-locker
            # stalls and premature spill. Ignored when attaching to an
            # existing session; on a real cluster the resource manager
            # sets executor memory instead.
            "spark.driver.memory": "8g",
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.coalescePartitions.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.execution.arrow.pyspark.enabled": "true",
            "spark.sql.shuffle.partitions": "32",
            "spark.sql.session.timeZone": "UTC",
            # Spark's 10 MB broadcast ceiling predates modern executor
            # memory; 64 MB broadcasts mid-size dims (saving a shuffle of
            # the fact side) while truly large tables still exceed it.
            "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
            # Python workers import this package (spool decode, Influx
            # delivery) from any working directory; Spark merges the
            # variable with the worker's own PYTHONPATH.
            "spark.executorEnv.PYTHONPATH": str(
                pathlib.Path(__file__).resolve().parent.parent
            ),
            # NOTE on canChangeCachedPlanOutputPartitioning (deliberately
            # NOT set): it was briefly enabled so persisted iteration
            # intermediates would AQE-coalesce, but the iterative
            # operators now localCheckpoint instead of persist (coalescing
            # applies to checkpoints regardless), and the flag measurably
            # HURT the LSH queries — their cached mid-size tables
            # coalesced to one partition and downstream CPU-bound scoring
            # lost parallelism (dedup_minhash_lsh 0.84→1.06 s at sf0.1).
        }
        defaults.update(cfg.spark_conf)
        for k, v in defaults.items():
            b = b.config(k, v)
        return Engine(b.getOrCreate(), cfg)

    # -- the pipeline -------------------------------------------------------
    def migrate(
        self,
        catalog: Catalog,
        transform: TransformSpec,
        sink: Sink,
        tables: list[str] | None = None,
    ) -> MigrationReport:
        """Migrate every (non-system) table from ``catalog`` through
        ``transform`` into ``sink``; the reference's `migrate`
        (index.js:340-370) end to end.

        Cross-table parallelism: a driver thread pool of
        ``config.table_concurrency`` (reference `limit`, `async.eachLimit`
        index.js:294) submits concurrent Spark jobs; Spark's scheduler
        interleaves their tasks across the cluster. Within a table,
        partition parallelism replaces the reference's serial page/batch
        loops (index.js:194, :227).
        """
        if self.config.table_concurrency < 1:
            raise ValueError(
                "table_concurrency must be >= 1, got "
                f"{self.config.table_concurrency}"
            )
        if tables is not None:
            names = tables
        else:
            # Enumerate names only: constructing every DataFrame up front
            # would cost a schema-inference scan per table for csv/json.
            from node_mongo2influx_spark.sources.catalog import is_system_table

            names = [n for n in catalog.table_names() if not is_system_table(n)]
        repeated = sorted({n for n in names if names.count(n) > 1})
        if repeated:
            # Two tables under one name would both land in one series (an
            # append sink gets every row twice), e.g. events.csv and
            # events.parquet in one directory.
            raise ValueError(f"table names repeat: {repeated}")
        report = MigrationReport()
        t0 = time.monotonic()
        done = 0
        with ThreadPoolExecutor(max_workers=self.config.table_concurrency) as pool:
            futures = {
                pool.submit(self._migrate_table, catalog, name, transform, sink): name
                for name in names
            }
            for fut in as_completed(futures):
                name = futures[fut]
                try:
                    report.tables.append(fut.result())
                except Exception as exc:
                    # Default: isolate failures per table and report them
                    # (deviation from the reference, which aborts the whole
                    # run on first error — async.eachLimit semantics,
                    # index.js:294-316). fail_fast=True restores reference
                    # behavior: cancel what hasn't started, re-raise.
                    report.tables.append(TableReport(table=name, error=str(exc)))
                    logger.exception("table %s failed", name)
                    if self.config.fail_fast:
                        for f in futures:
                            f.cancel()
                        report.seconds = time.monotonic() - t0
                        raise
                done += 1
                # Overall progress (reference M2, index.js:126) — but
                # counting FINISHED tables, not started (SURVEY §4.3.4).
                logger.info(
                    "progress: %d/%d tables (%.0f%%)",
                    done, len(names), 100.0 * done / max(len(names), 1),
                )
        report.seconds = time.monotonic() - t0
        return report

    def _migrate_table(
        self, catalog: Catalog, name: str, transform: TransformSpec, sink: Sink
    ) -> TableReport:
        t0 = time.monotonic()
        logger.info("table %s: starting", name)
        df = catalog.read(name)
        return migrate_frame(df, name, transform, sink, self.config.empty_series, t0)


def migrate_frame(
    df: DataFrame, series: str, transform: TransformSpec, sink: Sink,
    truncate: bool, t0: float, batch_id: int | None = None,
) -> TableReport:
    """One table of ``Engine.migrate`` or one micro-batch of
    ``migrate_stream``: transform with skip accounting, truncate if asked,
    write, report. ``t0`` is the caller's ``time.monotonic()`` start."""
    out, obs = transform.apply(df)
    # Truncate only once the frame has been planned: a table that fails
    # before its write must leave its series as it was.
    if truncate:
        sink.truncate(series)
    written = sink.write(out, series)
    seconds, stats = time.monotonic() - t0, obs.get
    if written < 0:  # a sink that cannot count writes every row it keeps
        written = stats["rows_in"] - stats["rows_skipped"]
    # rows a counting sink drops itself are skipped too
    rep = TableReport(
        series, stats["rows_in"], written, stats["rows_in"] - written, seconds
    )
    logger.info(
        "table %s%s: %d rows in, %d written, %d skipped "
        "(success %.1f%%, %.0f rows/s)",
        series, "" if batch_id is None else f" batch {batch_id}",
        rep.rows_in, rep.rows_written, rep.rows_skipped,
        rep.success_rate, rep.rows_per_sec,
    )
    return rep
