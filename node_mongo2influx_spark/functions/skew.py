"""Skew-handling helpers: salting for hot-key AGGREGATIONS.

AQE's skew-join splitting (on by default in Engine.builder) handles skewed
JOINS at runtime; explicit salting remains the tool when a single group key
dominates an aggregation (AQE cannot split a hash-aggregate group) — e.g.
per-user counts when one user is 30% of a 100 TB events table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def row_salt(buckets: int) -> Column:
    """Deterministic per-row salt in [0, buckets) — spreads one hot key over
    ``buckets`` reducers without randomness (task retries must land rows in
    the same salt bucket). Suitable for AGGREGATION salting only: for join
    salting both sides must agree on the salt, which requires replicating
    the small side across all bucket values instead (not a per-row salt)."""
    return F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(buckets))


def salted_stats(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    buckets: int = 32,
) -> DataFrame:
    """Two-phase skew-safe (count, sum) in ONE pass: partial per (key,
    salt), then final per key. Two small shuffles instead of one skewed
    one; the partial output is |keys|×buckets rows, so the second shuffle
    is tiny. Output columns: ``n``, ``total``."""
    partial = (
        df.withColumn("__salt", row_salt(buckets))
        .groupBy(*keys, "__salt")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(value_col).alias("__s"),
        )
    )
    return partial.groupBy(*keys).agg(
        F.sum("__n").alias("n"), F.sum("__s").alias("total")
    )


def ensure_min_partitions(df, target: int, min_bytes: int = 0):
    """Round-robin repartition ``df`` to ``target`` partitions — but ONLY
    if it is a narrow (few-split) scan-shaped frame.

    ``min_bytes`` additionally gates the spread on the optimizer's
    size estimate (plan stats — file sizes, no job): a narrow scan
    SMALLER than this is returned untouched, because shuffling it costs
    more than the single-core kernel it would parallelize. Use for
    kernels whose per-row work is LIGHT (e.g. PQ encode's m tiny
    matmuls — the round-7 A/B measured the unconditional spread as a
    1.22x net loss at sf0.1); heavy-per-row kernels (minhash, IVF
    assign) keep the default 0 = always spread narrow scans.

    For an Arrow kernel (``mapInPandas``) the input partitioning IS the
    parallelism: a small table arriving as one parquet split runs the
    whole kernel in a single Python worker, while at real scale the scan
    already has hundreds of splits and an unconditional repartition would
    insert a pointless full-corpus shuffle in front of a map-only stage.

    Job-freedom caveat: ``df.rdd.getNumPartitions()`` is only free on
    shuffle-free plans — under AQE, converting a frame WITH an Exchange
    in its lineage to an RDD materializes the upstream query stages
    (real jobs, the caller's pipeline executed twice). So frames whose
    physical plan already contains an Exchange are returned untouched
    WITHOUT probing: their width is already the configured shuffle
    width, which is exactly ``target``. Only exchange-free (scan/project)
    plans are probed, where ``getNumPartitions`` runs no job.
    Composition staying job-free is gated in tests/test_similarity.py.
    """
    jvm = df.sparkSession._jvm
    plan = jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    if "Exchange" in plan:
        return df
    if min_bytes > 0:
        est = int(
            str(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        )
        if est < min_bytes:
            return df
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def bounded_for_broadcast(df, max_bytes: int) -> bool:
    """True when the optimizer's size estimate (plan stats — file sizes,
    NO job) says ``df`` is broadcast-class (≤ ``max_bytes``).

    This is the gate every CALLER-SIZED broadcast hint must pass: an
    explicit broadcast() OVERRIDES spark.sql.autoBroadcastJoinThreshold,
    so hinting a side whose size the caller doesn't control (a query
    batch, a query-vocabulary aggregate) would force an arbitrarily
    large table through the driver. Unknown or huge estimates return
    False — only the static hint is withheld, and AQE still converts
    the join to a broadcast at runtime if the REAL size turns out small;
    a conservative verdict costs nothing, while a false 'bounded' is a
    driver OOM at 100 TB.
    """
    try:
        est = int(
            str(
                df._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )
    except Exception:  # exotic plan without stats: withhold the hint
        return False
    return 0 <= est <= max_bytes
