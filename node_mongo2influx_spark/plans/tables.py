"""Fixture table loading shared by all plan modules."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from node_mongo2influx_spark.sources.parquet_compat import read_parquet

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def stable_round(col, digits: int = 4):
    """Engine-stable rounding: floor(x·10^d + 0.5)/10^d.

    Spark's round() (BigDecimal HALF_UP on the exact decimal expansion) and
    DuckDB's round() disagree on exact .5-at-last-digit boundaries — which
    averages of 2-decimal currency values hit SYSTEMATICALLY (sum/8 ends in
    .00005). This formulation is plain IEEE double arithmetic, identical in
    both engines; spell the oracle side as ``floor(x * 10^d + 0.5) / 10^d``.
    """
    from pyspark.sql import functions as F

    scale = float(10**digits)
    return F.floor(col * scale + F.lit(0.5)) / scale


#: DuckDB-side twin of :func:`load_events_measured` — drop this in place
#: of ``events`` in an oracle's FROM clause (aliased back to ``events``
#: so references keep resolving).
EVENTS_MEASURED_DUCKDB = (
    "(SELECT * REPLACE (CASE WHEN isfinite(value) THEN value END "
    "AS value) FROM events) events"
)


def load_events_measured(
    spark: SparkSession, sf_dir: str, timed: bool = False
) -> DataFrame:
    """The events table under the finite-measure rule: a NaN/±Inf value
    is an INVALID READING and becomes NULL (the row survives — the event
    happened, its reading didn't). Non-finite doubles are legal in the
    Mongo source model but non-portable inside the engines (NaN
    grouping/ordering, ANSI CAST overflow, DuckDB STDDEV range error —
    censused by tools/nonfinite_fixtures.py, round 8) and unwritable at
    the reference's destination (InfluxDB line protocol rejects them).
    Queries that quantize value to integers, rank/percentile it, or
    feed it to variance load through this; pair with
    EVENTS_MEASURED_DUCKDB in the oracle."""
    from pyspark.sql import functions as F

    from node_mongo2influx_spark.functions.measures import finite_measure

    e = (
        load_events_timed(spark, sf_dir)
        if timed
        else load(spark, sf_dir, "events")
    )
    return e.withColumn("value", finite_measure(F.col("value")))


def load_events_timed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table under the reference's time-validity rule
    (index.js:235 / SURVEY F1): rows WITHOUT a valid timestamp are not
    time-series input. Every time-bucketing / time-ordering query loads
    through this so its Spark plan and its DuckDB oracle agree on the
    row set explicitly — Spark's window()/session_window() silently
    DROP NULL timestamps while a SQL GROUP BY time_bucket(...) keeps a
    NULL bucket, and NULL ordering defaults differ per engine (caught
    by tools/nullify_fixtures.py's ts class, round 8)."""
    from pyspark.sql import functions as F

    return load(spark, sf_dir, "events").where(F.col("ts").isNotNull())
