"""Structured Streaming variant of the migrate pipeline (SURVEY.md §7 step 7).

The reference is strictly batch ("time series" describes its data domain,
not stream processing — SURVEY.md §2.7), so this is an extension: the same
``TransformSpec`` semantics applied to an unbounded source.

Shape: ``readStream`` (file source — at scale: Kafka/Kinesis) →
:func:`migrate_stream`, which runs the engine's per-table step
(``engine.migrate_frame``) on each micro-batch via ``foreachBatch``, into
any batch :class:`~node_mongo2influx_spark.sinks.base.Sink`.

Micro-batch atomicity note: ``foreachBatch`` provides at-least-once into
non-idempotent sinks; pair with the sink's (series, time, content-hash)
dedup key for effectively-once, as in batch (sinks/base.py).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from node_mongo2influx_spark.engine import migrate_frame
from node_mongo2influx_spark.operators.transform import TransformSpec
from node_mongo2influx_spark.sinks.base import Sink


def migrate_stream(
    source: DataFrame,
    transform: TransformSpec,
    sink: Sink,
    series: str,
    checkpoint_dir: str,
    trigger_once: bool = False,
) -> StreamingQuery:
    """Continuous migrate: each micro-batch is migrated like a table of
    ``Engine.migrate`` (never truncated), checkpointed in
    ``checkpoint_dir``; ``trigger_once`` drains what the source holds and
    stops. Each batch logs a table's report line plus its batch id; one
    that fails fails the query, with its cause.
    """
    def write_batch(df: DataFrame, batch_id: int) -> None:
        migrate_frame(df, series, transform, sink, False, time.monotonic(), batch_id)

    writer = (
        source.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def drift_forecast(
    log: DataFrame,
    window: int = 7,
    threshold_ratio: float = 2.0,
    batch_col: str = "ingest_batch",
    ratio_col: str = "ratio",
) -> DataFrame:
    """Turn a per-batch drift series (one ``ratio`` per ``ingest_batch``,
    e.g. a quantizer's reconstruction error on the batch over its error
    at training time) into a FORECAST (round 8, VERDICT r7 #6): per
    batch, the trailing-window least-squares slope of the drift ratio and
    the extrapolated batches-to-threshold at the current slope — so a
    retrain can be scheduled BEFORE the 2x flag fires instead of
    reacting to it.

    Exact-integer discipline (the cusum_drift_chunked rule): the ratio
    quantizes to basis points (BIGINT), the regression reduces to exact
    integer sums (slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)), and the ETA
    is an exact ceil-division of integers — every number is engine- and
    partition-order-proof; the two doubles in the output are each a
    single IEEE division of identical integers. Columns:

    * ``slope_bp_per_batch`` — trailing-window drift slope (basis
      points/batch; NULL until 2 points exist),
    * ``eta_batches`` — ceil((threshold - current) / slope) when the
      slope is positive and the threshold not yet crossed; NULL when
      drift is flat/improving or already crossed,
    * ``alarm`` — the threshold crossing itself (the 2x flag).

    The window orders the WHOLE log in one partition — the log is
    model-sized by construction (ONE row per ingest batch), never
    corpus-sized.
    """
    from pyspark.sql import Window

    thr_bp = int(round(threshold_ratio * 10_000))
    w = Window.orderBy("batch").rowsBetween(-(window - 1), 0)
    y = F.round(F.col(ratio_col) * 10_000).cast("long")
    base = log.select(
        F.col(batch_col).cast("long").alias("batch"),
        F.col(ratio_col).alias("ratio"),
        y.alias("__y"),
    )
    x = F.col("batch")
    stats = base.select(
        "batch",
        "ratio",
        "__y",
        F.count(F.lit(1)).over(w).alias("__n"),
        F.sum(x).over(w).alias("__sx"),
        F.sum("__y").over(w).alias("__sy"),
        F.sum(x * F.col("__y")).over(w).alias("__sxy"),
        F.sum(x * x).over(w).alias("__sxx"),
    )
    num = F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    den = F.nullif(
        F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx"),
        F.lit(0),
    )
    slope = (num.cast("double") / den.cast("double")).alias(
        "slope_bp_per_batch"
    )
    gap = F.lit(thr_bp) - F.col("__y")
    eta = (
        F.when(
            (num > 0) & den.isNotNull() & (gap > 0),
            F.expr(
                f"(({thr_bp}L - __y) * (__n * __sxx - __sx * __sx) "
                "+ (__n * __sxy - __sx * __sy) - 1L) "
                "DIV (__n * __sxy - __sx * __sy)"
            ),
        )
        .cast("long")
        .alias("eta_batches")
    )
    return stats.select(
        "batch",
        "ratio",
        slope,
        eta,
        (F.col("__y") >= thr_bp).alias("alarm"),
    )
