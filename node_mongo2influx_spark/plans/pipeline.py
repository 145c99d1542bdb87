"""Pipeline-parity queries — the reference's ETL surface as oracle-checked
queries (SURVEY.md §2.1-§2.6).

The reference pipeline per collection is: full scan (S3) → per-row transform
(T1-T3) → time-validity filter (F1) → batched series write (W1), with count
(S5) and skip/success accounting (M3). Everything except the physical write
is a pure DataFrame → DataFrame mapping, so each stage is expressed here as
a query the DuckDB oracle can check hash-for-hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from node_mongo2influx_spark.operators.transform import TransformSpec
from node_mongo2influx_spark.plans import query
from node_mongo2influx_spark.plans.tables import TABLE_NAMES, load


@query(
    "migrate_events",
    oracle="""
        SELECT event_id, CAST(ts AS TIMESTAMP) AS time, user_id, event_type,
               value, props
        FROM events
        WHERE ts IS NOT NULL
    """,
    description="Flagship: the canonical reference flow (examples/migrate.js:27-38) "
    "— rename ts→time, keep all fields, drop rows lacking time (S3+T1+T3+F1).",
)
def migrate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # compile(), not apply(): with no observe() node (Engine.migrate counts)
    # the time filter is left free to push into the scan.
    out = TransformSpec(rename={"ts": "time"}).compile(load(spark, sf_dir, "events"))
    out = out.where(F.col("time").isNotNull())
    return out.select("event_id", "time", "user_id", "event_type", "value", "props")


@query(
    "transform_drop_rename_cast",
    oracle="""
        SELECT o_orderkey,
               o_custkey,
               CAST(o_orderdate AS TIMESTAMP) AS time,
               CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents
        FROM orders
        WHERE o_orderdate IS NOT NULL
    """,
    description="T1-T3: drop columns, rename o_orderdate→time, computed cast "
    "(price→integer cents) — the declarative prepareFunction.",
)
def transform_drop_rename_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = TransformSpec(
        rename={"o_orderdate": "time"},
        drop=["o_orderstatus", "o_orderpriority"],
        set={"total_cents": "CAST(round(o_totalprice * 100) AS BIGINT)"},
    )
    out, _ = spec.apply(load(spark, sf_dir, "orders"))
    return out.select("o_orderkey", "o_custkey", "time", "total_cents")


@query(
    "skip_accounting",
    oracle="""
        SELECT count(*) AS rows_in,
               count(CASE WHEN event_type = 'error' THEN NULL ELSE ts END)
                   AS rows_written,
               count(*) - count(CASE WHEN event_type = 'error' THEN NULL ELSE ts END)
                   AS rows_skipped,
               round(100.0 * count(CASE WHEN event_type = 'error' THEN NULL ELSE ts END)
                     / count(*), 4) AS success_rate
        FROM events
    """,
    description="F1+M3: time-validity filter with one-pass skip/success-rate "
    "accounting (the reference's rowsSkipped counter + success-rate log, "
    "index.js:271-272). Nulls injected for 'error' events to exercise the path.",
)
def skip_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load(spark, sf_dir, "events").withColumn(
        "time", F.when(F.col("event_type") == "error", None).otherwise(F.col("ts"))
    )
    return df.agg(
        F.count(F.lit(1)).alias("rows_in"),
        F.count("time").alias("rows_written"),
        (F.count(F.lit(1)) - F.count("time")).alias("rows_skipped"),
        # nullif divisor: on an EMPTY input 0/0 must be NULL like the
        # oracle (DuckDB float division by zero is NULL; Spark under
        # ANSI raises DIVIDE_BY_ZERO instead — tools/empty_sweep.py).
        F.round(
            100.0 * F.count("time") / F.nullif(F.count(F.lit(1)), F.lit(0)), 4
        ).alias("success_rate"),
    )


def _counts_oracle() -> str:
    return "\nUNION ALL\n".join(
        f"SELECT '{n}' AS table_name, count(*) AS n_rows FROM {n}" for n in TABLE_NAMES
    )


@query(
    "catalog_counts",
    oracle=_counts_oracle(),
    description="S1+S5: catalog enumeration + per-table count(*) — the "
    "reference's collection discovery (index.js:356) and its only aggregate "
    "(index.js:281-287).",
)
def catalog_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    dfs = [
        load(spark, sf_dir, n)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.lit(n).alias("table_name"), "n_rows")
        for n in TABLE_NAMES
    ]
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionAll(df)
    return out


@query(
    "influx_line_protocol",
    oracle=r"""
        SELECT 'events '
               || concat_ws(',',
                    CASE WHEN value IS NOT NULL
                         THEN 'value=' || CAST(value AS VARCHAR) END,
                    CASE WHEN event_type IS NOT NULL
                         THEN 'event_type="' || event_type || '"' END)
               || ' ' || CAST(epoch_ns(CAST(ts AS TIMESTAMP)) AS VARCHAR)
               AS line
        FROM (SELECT * REPLACE (CASE WHEN isfinite(value) THEN value END
              AS value) FROM events) events
        WHERE ts IS NOT NULL
          AND (value IS NOT NULL OR event_type IS NOT NULL)
    """,
    description="W1: JVM-side InfluxDB line-protocol rendering as a query — "
    "measurement + typed fields + nanosecond timestamp (index.js:242 "
    "writePoints). NULL fields are OMITTED per protocol (concat_ws over "
    "conditional fields on both engines) and a row whose every field is "
    "NULL is dropped — a field-less line has no information and 400s the "
    "write batch (sinks/influx.py render_lines). Non-finite readings "
    "render as ABSENT fields for the same reason: line protocol cannot "
    "represent NaN/±Inf and one bad field poisons the POST batch (the "
    "sink's float renderer applies the finite-measure rule; the oracle "
    "mirrors it with isfinite).",
)
def influx_line_protocol(spark: SparkSession, sf_dir: str) -> DataFrame:
    from node_mongo2influx_spark.sinks.influx import render_lines

    df = (
        load(spark, sf_dir, "events")
        .withColumnRenamed("ts", "time")
        .where(F.col("time").isNotNull())
        .select("time", "value", "event_type")
    )
    # NOT spread (r11, measured 1.16x WORSE with a pre-render
    # repartition: line rendering is a LIGHT per-row chain — the r7
    # knn_cosine_pq lesson — and the exchange cost more than it bought)
    return render_lines(df, "events", time_column="time")
