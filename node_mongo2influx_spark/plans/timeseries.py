"""Time-series queries — the reference's data domain (Mongo time series →
Influx), expressed as first-class analytics the original tool's users would
run downstream: continuous-aggregate rollups, sessionization, gap filling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from node_mongo2influx_spark.functions.jsonpath import INT_SHAPE_RE
from node_mongo2influx_spark.plans import query
from node_mongo2influx_spark.plans.tables import (
    load,
    load_events_measured,
    load_events_timed,
    stable_round,
)


@query(
    "hypertable_rollup_5min",
    oracle="""
        SELECT event_type,
               CAST(time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
                    AS TIMESTAMP) AS bucket,
               count(*) AS n,
               floor(avg(value) * 10000.0 + 0.5) / 10000.0 AS avg_value,
               round(min(value), 2) AS min_value,
               round(max(value), 2) AS max_value,
               round(arg_max(value,
                             strftime(CAST(ts AS TIMESTAMP),
                                      '%Y%m%d%H%M%S%f')
                             || lpad(CAST(event_id AS VARCHAR), 20, '0')),
                     2) AS last_value
        FROM (SELECT * REPLACE (CASE WHEN isfinite(value) THEN value END
              AS value) FROM events) events
        WHERE ts IS NOT NULL
        GROUP BY 1, 2
    """,
    description="Hypertable-style continuous aggregate: 5-minute time "
    "buckets per series with count/avg/min/max/last (arg_max). 'Last' is "
    "a TOTAL order — (ts, event_id), spelled as a fixed-width digit "
    "string because DuckDB's arg_max takes no STRUCT ordering key (both "
    "engines format micros + zero-padded id identically, so "
    "lexicographic == chronological): under tied timestamps a bare "
    "arg_max(value, ts) lets each engine pick a different row (caught "
    "by tools/degenerate_fixtures.py's hour-truncated copy, round 8). "
    "One shuffle, map-side partial aggregation — the downsampling "
    "pattern for metrics storage at scale.",
)
def hypertable_rollup_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events_measured(spark, sf_dir, timed=True)
    return (
        e.groupBy(
            "event_type",
            F.window("ts", "5 minutes").start.alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            stable_round(F.avg("value"), 4).alias("avg_value"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
            # ord is NULLed for NULL values: DuckDB's arg_max SKIPS rows
            # whose value argument is NULL, Spark's max_by would return
            # the NULL riding on the max-ts row — masking the ord makes
            # both engines pick the latest NON-NULL reading (and NULL
            # only when the whole bucket is NULL). event_id completes
            # the total order: tied timestamps are REAL in the Mongo
            # data model (second-granularity clocks), and an untied
            # max_by lets each engine keep a different row.
            F.round(
                F.max_by(
                    "value",
                    F.when(
                        F.col("value").isNotNull(),
                        F.concat(
                            F.date_format("ts", "yyyyMMddHHmmssSSSSSS"),
                            F.lpad(F.col("event_id").cast("string"), 20, "0"),
                        ),
                    ),
                ),
                2,
            ).alias("last_value"),
        )
    )


@query(
    "seasonal_baseline_residual",
    oracle="""
        WITH keyed AS (
            SELECT event_id, event_type,
                   CAST(round(value * 100) AS BIGINT) AS cents,
                   CAST(extract(dow FROM CAST(ts AS TIMESTAMP)) AS INTEGER)
                       AS dow,
                   CAST(extract(hour FROM CAST(ts AS TIMESTAMP)) AS INTEGER)
                       AS hod
            FROM (SELECT * REPLACE (CASE WHEN isfinite(value) THEN value END
              AS value) FROM events) events
        ),
        base AS (
            SELECT event_type, dow, hod,
                   CAST(sum(cents) AS BIGINT) AS c_sum,
                   CAST(count(*) AS BIGINT) AS n
            FROM keyed GROUP BY event_type, dow, hod
        )
        SELECT k.event_id, k.event_type,
               floor(CAST(b.c_sum AS DOUBLE) / b.n / 100.0 * 1e4 + 0.5) / 1e4
                   AS baseline,
               floor((k.cents / 100.0
                      - floor(CAST(b.c_sum AS DOUBLE) / b.n / 100.0 * 1e4
                              + 0.5) / 1e4) * 1e4 + 0.5) / 1e4 AS residual
        FROM keyed k
        JOIN base b ON b.event_type = k.event_type
                   AND b.dow = k.dow AND b.hod = k.hod
    """,
    description="Seasonal baseline + residual: each event's value against "
    "the mean of its (series, day-of-week, hour-of-day) seasonal cell — "
    "the de-seasonalization step before CUSUM/MAD anomaly scoring (a "
    "Monday-9am spike is only anomalous relative to Monday 9am). The "
    "baseline is a bounded aggregate (series × 7 × 24 cells) joined "
    "back; cell means derive from EXACT cent sums so both engines "
    "divide the same integers — a double avg() would drift under "
    "grouping-order reassociation.",
)
def seasonal_baseline_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events_measured(spark, sf_dir)
    keyed = e.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        # DuckDB extract(dow): Sunday=0; Spark dayofweek: Sunday=1
        (F.dayofweek("ts") - 1).alias("dow"),
        F.hour("ts").alias("hod"),
    )
    base = keyed.groupBy("event_type", "dow", "hod").agg(
        F.sum("cents").alias("c_sum"), F.count(F.lit(1)).alias("n")
    )
    r4 = lambda c: F.floor(c * 1e4 + F.lit(0.5)) / 1e4  # noqa: E731
    baseline = r4(F.col("c_sum").cast("double") / F.col("n") / 100.0)
    return (
        keyed.join(base, ["event_type", "dow", "hod"])
        .select(
            "event_id",
            "event_type",
            baseline.alias("baseline"),
            r4(F.col("cents") / 100.0 - baseline).alias("residual"),
        )
    )


@query(
    "sliding_distinct_users",
    oracle="""
        WITH exploded AS (
            SELECT user_id,
                   time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP))
                       - k * (INTERVAL '10 minutes') AS window_start
            FROM events, unnest([0, 1, 2]) AS t(k)
            WHERE ts IS NOT NULL
        )
        SELECT CAST(window_start AS TIMESTAMP) AS window_start,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM exploded
        GROUP BY window_start
    """,
    description="Sliding-window distinct: unique users per 30-minute "
    "window hopping every 10 minutes. Spark's window(slide) replicates "
    "each event into its 3 covering windows before the distinct "
    "aggregate — O(rows × overlap) exploded rows, two-phase distinct, "
    "no per-window rescan; the oracle reproduces the replication with "
    "an explicit unnest. Deliberately ONLY the distinct count: mixing a "
    "distinct and a plain aggregate in one groupBy plans an Expand "
    "(CLAUDE.md round-3 trap).",
)
def sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy(
            F.window("ts", "30 minutes", "10 minutes").start.alias(
                "window_start"
            )
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


def _sliding_hll_oracle() -> str:
    from node_mongo2influx_spark.functions.hll import hll_oracle_sql

    rows = """
        SELECT CAST(time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP))
                    - k * (INTERVAL '10 minutes') AS TIMESTAMP) AS window_start,
               CAST(user_id AS VARCHAR) AS __v
        FROM events, unnest([0, 1, 2]) AS t(k)
        WHERE user_id IS NOT NULL
    """
    return f"""
        WITH hll AS ({hll_oracle_sql(rows, "window_start")}),
        ex AS (
            SELECT window_start,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM (
                SELECT user_id,
                       CAST(time_bucket(INTERVAL '10 minutes',
                                        CAST(ts AS TIMESTAMP))
                            - k * (INTERVAL '10 minutes') AS TIMESTAMP)
                           AS window_start
                FROM events, unnest([0, 1, 2]) AS t(k)
            )
            GROUP BY window_start
        )
        SELECT hll.window_start, ex.n_users, hll.hll_estimate,
               hll.used_buckets, hll.zero_buckets, hll.sum_inv_scaled
        FROM hll JOIN ex USING (window_start)
    """


@query(
    "sliding_distinct_hll",
    oracle=_sliding_hll_oracle(),
    description="The scale path sliding_distinct_users' note promises: "
    "unique users per hopping window by PORTABLE HyperLogLog "
    "(functions/hll.py) instead of an exact two-phase distinct. Per-window "
    "state is O(m=256) max-merged registers — a window's distinct state no "
    "longer grows with its user count, and register partials are mergeable "
    "across ingest batches (the streaming rollup-maintenance shape). Exact "
    "count joined alongside as the in-row accuracy witness; the whole row "
    "(exact-integer harmonic core + linear-counting branch) hash-matches "
    "DuckDB.",
)
def sliding_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from node_mongo2influx_spark.functions.hll import hll_count_distinct

    base = load(spark, sf_dir, "events").select(
        F.window("ts", "30 minutes", "10 minutes").start.alias("window_start"),
        "user_id",
    )
    hll = hll_count_distinct(base, ["window_start"], "user_id")
    exact = base.groupBy("window_start").agg(
        F.count_distinct("user_id").alias("n_users")
    )
    return hll.join(exact, "window_start").select(
        "window_start",
        "n_users",
        "hll_estimate",
        "used_buckets",
        "zero_buckets",
        "sum_inv_scaled",
    )


_IVM_CUTOFF = "2024-01-24 00:00:00"


@query(
    "rollup_incremental_refresh",
    oracle="""
        SELECT event_type,
               CAST(time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
                    AS TIMESTAMP) AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
                   AS sum_value,
               floor(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                     / count(*) / 100.0 * 1e4 + 0.5) / 1e4 AS avg_value,
               CAST(min(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
                   AS min_value,
               CAST(max(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
                   AS max_value
        FROM (SELECT * REPLACE (CASE WHEN isfinite(value) THEN value END
              AS value) FROM events) events
        WHERE ts IS NOT NULL
        GROUP BY 1, 2
    """,
    description="Incremental view maintenance for the 5-minute rollup: the "
    "pre-cutoff 'stored' rollup and the post-cutoff delta rollup are "
    "aggregated separately as MERGEABLE partials (count, exact-integer "
    "cent sum, cent min/max) and combined with one full-outer merge join — "
    "never rescanning the base. The oracle is the FULL recompute over all "
    "events: because the partials are exact integers (cents), the merged "
    "sums are bit-identical to single-pass aggregation under any grouping "
    "of the data — the algebra a continuous aggregate needs to refresh "
    "only delta-touched partitions at 100 TB. (Double sums would NOT "
    "hash-match here: reassociation drifts their low bits.)",
)
def rollup_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events_measured(spark, sf_dir, timed=True)
    cents = F.round(F.col("value") * 100).cast("long")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "event_type", F.window("ts", "5 minutes").start.alias("bucket")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("c_sum"),
            F.min(cents).alias("c_min"),
            F.max(cents).alias("c_max"),
        )
    base = partial(e.where(F.col("ts") < F.lit(_IVM_CUTOFF)))
    delta = partial(e.where(F.col("ts") >= F.lit(_IVM_CUTOFF)))
    b = base.select(
        "event_type", "bucket",
        F.col("n").alias("bn"), F.col("c_sum").alias("bs"),
        F.col("c_min").alias("bmin"), F.col("c_max").alias("bmax"),
    )
    d = delta.select(
        "event_type", "bucket",
        F.col("n").alias("dn"), F.col("c_sum").alias("ds"),
        F.col("c_min").alias("dmin"), F.col("c_max").alias("dmax"),
    )
    # eqNullSafe merge keys: a NULL event_type series must merge into ONE
    # group (plain full-outer keys never match NULL=NULL, which would
    # emit separate base/delta rows for the NULL series while the
    # oracle's GROUP BY emits one)
    d = d.withColumnRenamed("event_type", "__dt").withColumnRenamed(
        "bucket", "__db"
    )
    merged = b.join(
        d,
        F.col("event_type").eqNullSafe(F.col("__dt"))
        & F.col("bucket").eqNullSafe(F.col("__db")),
        "full_outer",
    ).select(
        F.coalesce("event_type", "__dt").alias("event_type"),
        F.coalesce("bucket", "__db").alias("bucket"),
        "bn", "bs", "bmin", "bmax", "dn", "ds", "dmin", "dmax",
    )
    n = F.coalesce(F.col("bn"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0))
    # SQL sum semantics: an all-NULL group sums to NULL, not 0 — only
    # coalesce a side that is ABSENT when the other side is present
    s = F.when(
        F.col("bs").isNull() & F.col("ds").isNull(), F.lit(None)
    ).otherwise(
        F.coalesce(F.col("bs"), F.lit(0)) + F.coalesce(F.col("ds"), F.lit(0))
    )
    cmin = F.least(
        F.coalesce(F.col("bmin"), F.col("dmin")),
        F.coalesce(F.col("dmin"), F.col("bmin")),
    )
    cmax = F.greatest(
        F.coalesce(F.col("bmax"), F.col("dmax")),
        F.coalesce(F.col("dmax"), F.col("bmax")),
    )
    return merged.select(
        "event_type",
        "bucket",
        n.alias("n"),
        (s.cast("double") / 100.0).alias("sum_value"),
        (
            F.floor(s.cast("double") / n / 100.0 * 1e4 + F.lit(0.5)) / 1e4
        ).alias("avg_value"),
        (cmin.cast("double") / 100.0).alias("min_value"),
        (cmax.cast("double") / 100.0).alias("max_value"),
    )


@query(
    "sessionize_events",
    oracle="""
        WITH gaps AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN ts - lag(ts) OVER w > INTERVAL '30 minutes'
                        OR lag(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WHERE ts IS NOT NULL
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id,
                   sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_no
            FROM gaps
        )
        SELECT user_id,
               CAST(count(DISTINCT session_no) AS BIGINT) AS n_sessions,
               CAST(count(*) AS BIGINT) AS n_events
        FROM sessions
        GROUP BY user_id
    """,
    description="Sessionization: 30-minute inactivity gap → session ids via "
    "lag + running sum (two windows, one shuffle on user), then per-user "
    "session counts. The batch analogue of a session window.",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events_timed(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # The running sum orders by (ts, event_id) too: with ts alone, rows
    # sharing a timestamp get an engine-dependent prefix-sum order and
    # n_sessions could differ run-to-run vs the oracle.
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    prev = F.lag("ts").over(w)
    # Microsecond-exact gap compare (cast-to-seconds would truncate and
    # disagree with an INTERVAL comparison on sub-second boundaries).
    new_session = F.when(
        prev.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev) > 1_800_000_000),
        1,
    ).otherwise(0)
    return (
        e.withColumn("new_session", new_session)
        .withColumn("session_no", F.sum("new_session").over(run))
        .groupBy("user_id")
        .agg(
            # session_no is a contiguous running counter from 1, so
            # max == count(distinct) — but max is a plain aggregate while
            # mixing count_distinct with count(*) would plan an Expand
            # (2x every event row through the aggregation).
            F.max("session_no").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "gapfill_minutely",
    oracle="""
        WITH bounds AS (
            SELECT CAST(date_trunc('hour', min(ts)) AS TIMESTAMP) AS t0,
                   CAST(date_trunc('hour', max(ts)) AS TIMESTAMP) AS t1
            FROM events WHERE event_type = 'purchase'
        ),
        grid AS (
            SELECT unnest(generate_series(t0, t1, INTERVAL '1 hour')) AS bucket
            FROM bounds
        ),
        actual AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
                   count(*) AS n, round(sum(value), 2) AS total
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1
        )
        SELECT g.bucket,
               coalesce(a.n, 0) AS n,
               coalesce(a.total, 0.0) AS total
        FROM grid g LEFT JOIN actual a USING (bucket)
    """,
    description="Gap filling: dense hourly grid (sequence + explode over the "
    "observed bounds) left-joined to actual buckets, zeros for silent hours — "
    "the time_bucket_gapfill pattern. The grid generates distributed, not on "
    "the driver.",
)
def gapfill_minutely(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").where("event_type = 'purchase'")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    grid = bounds.select(
        F.explode(
            F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket")
    )
    actual = (
        e.groupBy(F.date_trunc("hour", "ts").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )
    return (
        grid.join(actual, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("total", F.lit(0.0)).alias("total"),
        )
    )


@query(
    "batch_session_windows",
    oracle="""
        WITH gaps AS (
            SELECT user_id, ts, value, event_id,
                   CASE WHEN ts - lag(ts) OVER w > INTERVAL '30 minutes'
                        OR lag(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WHERE ts IS NOT NULL
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        numbered AS (
            SELECT user_id, ts, value,
                   CAST(sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS session_no
            FROM gaps
        )
        SELECT user_id,
               CAST(min(ts) AS TIMESTAMP) AS session_start,
               CAST(max(ts) + INTERVAL '30 minutes' AS TIMESTAMP) AS session_end,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 2) AS total
        FROM numbered
        GROUP BY user_id, session_no
    """,
    description="Batch session windows via Spark's NATIVE session_window "
    "aggregation (dynamic-length windows closing after 30 min of "
    "inactivity) — one shuffle on user_id, no explicit lag/running-sum "
    "pipeline. The oracle rebuilds the identical sessions with the "
    "gap-and-running-sum formulation and reproduces session_window's "
    "end-at-last-event-plus-gap convention. Complements sessionize_events "
    "(the manual formulation).",
)
def batch_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events_timed(spark, sf_dir)
    return (
        e.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("win")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n",
            "total",
        )
    )


@query(
    "range_join_clicks_near_purchase",
    oracle="""
        SELECT p.event_id AS purchase_id,
               CAST(count(c.event_id) AS BIGINT) AS n_clicks_1h
        FROM events p
        LEFT JOIN events c
          ON c.user_id = p.user_id
         AND c.event_type = 'click'
         AND c.ts >= p.ts - INTERVAL '1 hour'
         AND c.ts <= p.ts + INTERVAL '1 hour'
        WHERE p.event_type = 'purchase'
        GROUP BY p.event_id
    """,
    description="Batch range join via TIME BUCKETING: clicks within ±1 h of "
    "each purchase by the same user. A naive |Δt|<=1h join condition gives "
    "Spark a BroadcastNestedLoopJoin (quadratic per user — dead at 100 TB); "
    "instead each purchase explodes into its hour bucket ±1 (3 small rows), "
    "the join is an EQUI-join on (user_id, bucket), and the interval check "
    "is a residual filter. Any candidate pair within 1 h shares one of the "
    "3 buckets, so the rewrite is exact (oracle: the naive inequality "
    "join). Cost: 3× purchase-side rows through one hash shuffle vs "
    "|user_events|² comparisons.",
)
def range_join_clicks_near_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    hour = 3_600_000_000  # micros
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.unix_micros("ts").alias("p_us"),
    )
    c = e.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.unix_micros("ts").alias("c_us"),
        (F.unix_micros("ts") / F.lit(hour)).cast("long").alias("bucket"),
    )
    p_bucketed = p.select(
        "purchase_id",
        "p_user",
        "p_us",
        F.explode(
            F.array(
                (F.col("p_us") / hour).cast("long") - 1,
                (F.col("p_us") / hour).cast("long"),
                (F.col("p_us") / hour).cast("long") + 1,
            )
        ).alias("bucket"),
    )
    matched = (
        p_bucketed.join(
            c,
            (F.col("p_user") == F.col("c_user"))
            & (p_bucketed.bucket == c.bucket)
            & (F.col("c_us") >= F.col("p_us") - hour)
            & (F.col("c_us") <= F.col("p_us") + hour),
        )
        # a click exactly on a bucket boundary could match via two exploded
        # buckets — count distinct click ids per purchase
        .groupBy("purchase_id")
        .agg(F.count_distinct("click_id").alias("n_clicks_1h"))
    )
    return (
        p.select("purchase_id")
        .dropDuplicates(["purchase_id"])
        .join(matched, "purchase_id", "left")
        .select(
            "purchase_id",
            F.coalesce("n_clicks_1h", F.lit(0)).alias("n_clicks_1h"),
        )
    )


@query(
    "ohlc_vwap_hourly",
    oracle="""
        SELECT event_type, date_trunc('hour', ts) AS hour,
               (min(struct_pack(ts := ts, eid := event_id, v := value))).v
                   AS open,
               max(value) AS high,
               min(value) AS low,
               (max(struct_pack(ts := ts, eid := event_id, v := value))).v
                   AS close,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(k) AS BIGINT) AS volume,
               -- order-canonical weighted sum, r12 spelling (VERDICT r11
               -- #4): a plain sum(value * k) is a DOUBLE reduction whose
               -- combine order varies with parallel scan scheduling over
               -- multi-split inputs — a group whose mean sits exactly
               -- on the 1e-4 boundary (77.29125, caught flapping by
               -- tools/oracle_flap_check.py on the combo_label sweep)
               -- then rounds differently run to run, in EITHER engine.
               -- r11 fixed it by folding the SORTED terms (list(...)),
               -- which is O(rows per bar) aggregation state — a hot bar
               -- at 100 TB is a memory hazard. This spelling is the
               -- repo's exact-integer idiom instead (CLAUDE.md round 2,
               -- q7): each term quantized to the 1e-6 lattice (identical
               -- IEEE ops both engines), summed as exact integers —
               -- deterministic in ANY combine order with O(1) state.
               -- Groups whose term magnitude exceeds the int64-safe
               -- lattice (>1e12, where floor()'s LONG return would
               -- saturate in Spark — r10 trap) fall back to the plain
               -- double sum, documented as outside the deterministic
               -- contract; count(...)=0 keeps all-NULL -> NULL.
               -- Error bound: each term is within 5e-7 of value * k, so
               -- vwap is within count * 5e-7 / |sum(k)| of the exact
               -- quotient — at most half the 1e-4 rounding only while
               -- count <= 100 * |sum(k)| (see ohlc_vwap_hourly).
               floor((CASE
                      WHEN count(value * k) = 0 THEN NULL
                      WHEN max(abs(value * k)) <= 1e12
                      THEN CAST(sum(CAST(floor(value * k * 1e6 + 5e-1)
                                         AS HUGEINT)) AS DOUBLE) / 1e6
                      ELSE sum(value * k) END)
                     / nullif(sum(k), 0) * 1e4 + 5e-1) / 1e4
                   AS vwap
        FROM (SELECT * REPLACE (
                  CASE WHEN isfinite(value) THEN value END AS value),
                  -- volume weight under the INT_SHAPE contract
                  -- (functions/jsonpath.py): integer-shaped values only,
                  -- or DuckDB's JSON->BIGINT cast ROUNDS a 3.7 where
                  -- Spark's try_cast is NULL (json sweep, round 9)
                  TRY_CAST(CASE WHEN json_valid(props)
                                THEN (CASE WHEN regexp_matches(
                                          json_extract_string(props, '$.k'),
                                          '{INT_SHAPE}')
                                      THEN json_extract_string(props, '$.k')
                                      END) END AS BIGINT) AS k
              FROM events) events WHERE ts IS NOT NULL GROUP BY 1, 2
    """.replace("{INT_SHAPE}", INT_SHAPE_RE),
    description="OHLC + VWAP bars per (series, hour) — the financial/"
    "metrics downsampling shape the reference's InfluxDB users run "
    "downstream. Open/close are DETERMINISTIC first/last: min/max over a "
    "(ts, event_id, value) struct compared lexicographically in both "
    "engines — a bare first()/arg_min(ts) is nondeterministic under "
    "duplicate timestamps, which real event feeds always have. Volume "
    "weight comes from the props JSON. The VWAP numerator is the "
    "exact-integer idiom: terms quantized to the 1e-6 lattice and summed "
    "as exact integers, so the DOUBLE total is reproducible under ANY "
    "partial-combine order with O(1) aggregation state (r12; r11's "
    "sorted-terms collect_list fold was order-canonical but buffered "
    "O(rows per bar)). One map-side-combined shuffle on (series, hour); "
    "every aggregate is constant-state.",
)
def ohlc_vwap_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # volume weight under the INT_SHAPE contract (functions/jsonpath.py)
    ev = load_events_measured(spark, sf_dir, timed=True).withColumn(
        "k",
        F.expr(
            "try_cast(CASE WHEN get_json_object(props, '$.k') "
            f"RLIKE '{INT_SHAPE_RE}' "
            "THEN get_json_object(props, '$.k') END AS BIGINT)"
        ),
    )
    key = F.struct(F.col("ts"), F.col("event_id").alias("eid"), F.col("value").alias("v"))
    return ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.min(key).getField("v").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(key).getField("v").alias("close"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("volume"),
        # try_divide: an hour whose entire volume is 0 has no VWAP (NULL)
        # — matches the oracle's nullif and survives ANSI mode.
        # stable_round, not round(): weighted sums land on .xxxx5
        # boundaries where the engines' round() disagree (caught by the
        # ts-nullified sweep's value mix).
        # Order-canonical weighted sum, r12 spelling (VERDICT r11 #4):
        # sum(value * k) is a DOUBLE reduction whose partial-combine
        # order varies with scan task scheduling over multi-split inputs
        # — a group whose mean sits bit-exactly on the 1e-4 boundary then
        # flips the rounded value run to run (caught by
        # tools/oracle_flap_check.py on the combo_label sweep: 77.29125
        # -> 77.2912/77.2913). r11's sorted-terms fold (collect_list +
        # array_sort) was run-deterministic but buffered O(rows per bar)
        # per group — a hot bar at 100 TB is an executor-memory hazard.
        # This is the repo's exact-integer idiom instead (CLAUDE.md
        # round 2, q7): each term quantized to the 1e-6 lattice with
        # floor(term * 1e6 + 5e-1) — identical IEEE ops in both engines —
        # and summed as exact integers (DECIMAL(38,0) here, HUGEINT in
        # the oracle: same integers, same double cast), deterministic in
        # ANY combine order with O(1) aggregation state. The lattice is
        # int64-safe only for |term| <= 1e12 (Spark floor() returns LONG
        # and saturates — r10 trap); larger-magnitude groups fall back
        # to the plain double sum, outside the deterministic contract
        # (no fixture reaches it; oracle_flap_check gates the registry).
        # count(...) = 0 keeps the all-NULL group -> NULL.
        # Error bound: floor(term * 1e6 + 5e-1) / 1e6 is within 5e-7 of
        # its term, so the VWAP is within count * 5e-7 / |sum(k)| of the
        # exact quotient (count = the non-NULL terms). That is at most
        # half the 1e-4 output rounding only while
        # count <= 100 * |sum(k)|, and near a rounding boundary even a
        # smaller error can flip the last digit against the exact VWAP
        # (not against the oracle, which sums the same lattice).
        stable_round(
            F.try_divide(
                F.expr(
                    "CASE"
                    " WHEN count(value * k) = 0 THEN CAST(NULL AS DOUBLE)"
                    " WHEN max(abs(value * k)) <= 1e12"
                    " THEN CAST(sum(CAST(floor(value * k * 1e6 + 5e-1)"
                    " AS DECIMAL(38,0))) AS DOUBLE) / 1e6"
                    " ELSE sum(value * k) END"
                ),
                F.sum("k"),
            ),
            4,
        ).alias("vwap"),
    )


_CHAIN_SQL = """
WITH RECURSIVE chain(user_id, root, event_id, len) AS (
    SELECT user_id, event_id, event_id, 1
    FROM (
        SELECT user_id, event_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_ts
        FROM {table} WHERE ts IS NOT NULL
    ) WHERE prev_ts IS NULL OR ts - prev_ts > INTERVAL 30 MINUTES
    UNION ALL
    SELECT s.user_id, c.root, s.event_id, c.len + 1
    FROM chain c
    JOIN (
        SELECT user_id, event_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_ts,
               lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_id
        FROM {table} WHERE ts IS NOT NULL
    ) s ON s.user_id = c.user_id AND s.prev_id = c.event_id
         AND s.ts - s.prev_ts <= INTERVAL 30 MINUTES
)
SELECT user_id,
       CAST(count(DISTINCT root) AS BIGINT) AS n_chains,
       CAST(max(len) AS BIGINT) AS max_chain_len,
       CAST(count(*) AS BIGINT) AS n_chain_rows
FROM chain GROUP BY user_id
"""


@query(
    "recursive_event_chains",
    oracle=_CHAIN_SQL.format(table="events"),
    description="Recursive CTE (Spark 4's WITH RECURSIVE) walking "
    "per-user event chains: an event links to its user's immediately "
    "previous event when the gap is ≤30 min; chains are counted and "
    "measured from their roots. The link relation is the lag() "
    "predecessor, so the graph is a union of simple paths — acyclic, "
    "in-degree ≤1 — which is exactly the shape UNION ALL recursion "
    "terminates on (Spark rejects deduplicating UNION recursion; cyclic "
    "graphs go through the iterative contraction operator in "
    "operators/dedup.py instead). One window pass builds the edges; "
    "each recursion level is a hash join on (user, predecessor). The "
    "IDENTICAL SQL text runs on DuckDB as the oracle.",
)
def recursive_event_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView(
        "__chain_events"
    )
    return spark.sql(_CHAIN_SQL.format(table="__chain_events"))


@query(
    "locf_forward_fill",
    oracle="""
        WITH bounds AS (
            SELECT CAST(date_trunc('hour', min(ts)) AS TIMESTAMP) AS t0,
                   CAST(date_trunc('hour', max(ts)) AS TIMESTAMP) AS t1
            FROM events
        ),
        grid AS (
            SELECT t.event_type,
                   unnest(generate_series(b.t0, b.t1, INTERVAL '1 hour'))
                       AS hour
            FROM bounds b,
                 (SELECT DISTINCT event_type FROM events) t
        ),
        actual AS (
            SELECT event_type,
                   CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
                   count(*) AS n, round(sum(value), 2) AS total
            FROM events GROUP BY 1, 2
        ),
        sparse AS (
            SELECT g.event_type, g.hour,
                   coalesce(a.n, 0) AS n, a.total
            FROM grid g LEFT JOIN actual a USING (event_type, hour)
        )
        SELECT event_type, hour, n,
               last_value(total IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS total_locf,
               CAST(total IS NULL AS BOOLEAN) AS carried
        FROM sparse
    """,
    description="Forward fill / LOCF (last observation carried forward): "
    "dense hourly grid per series, silent hours inherit the most recent "
    "observed value via last_value(... IGNORE NULLS) over an unbounded-"
    "preceding frame — the standard sensor-gap treatment where zero-fill "
    "(gapfill_minutely) would be wrong (a thermometer that went quiet "
    "didn't read zero). Hours before the first observation stay NULL in "
    "both engines. One window shuffle on the series key; the grid "
    "generates distributed.",
)
def locf_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    types = e.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(
            F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    actual = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
    )
    sparse = grid.join(actual, ["event_type", "hour"], "left").select(
        "event_type",
        "hour",
        F.coalesce("n", F.lit(0).cast("long")).alias("n"),
        "total",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return sparse.select(
        "event_type",
        "hour",
        "n",
        F.last("total", ignorenulls=True).over(w).alias("total_locf"),
        F.col("total").isNull().alias("carried"),
    )


@query(
    "mad_robust_outliers",
    oracle="""
        WITH med AS (
            SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM (SELECT * REPLACE (CASE WHEN isfinite(value) THEN value END
              AS value) FROM events) events GROUP BY event_type
        ),
        dev AS (
            SELECT e.event_id, e.event_type, e.value, m.med,
                   abs(e.value - m.med) AS d
            FROM (SELECT * REPLACE (CASE WHEN isfinite(value) THEN value END
                  AS value) FROM events) e JOIN med m USING (event_type)
        ),
        mad AS (
            SELECT event_type, quantile_cont(d, 0.5) AS mad
            FROM dev GROUP BY event_type
        )
        SELECT d.event_id, d.event_type,
               floor(d.value * 10000.0 + 0.5) / 10000.0 AS value,
               floor(d.med * 10000.0 + 0.5) / 10000.0 AS med,
               floor(a.mad * 10000.0 + 0.5) / 10000.0 AS mad,
               floor(0.6745 * (d.value - d.med) / a.mad * 10000.0 + 0.5)
                   / 10000.0 AS robust_z
        FROM dev d JOIN mad a USING (event_type)
        WHERE abs(0.6745 * (d.value - d.med) / a.mad) > 3.5
    """,
    description="Robust anomaly detection: modified z-score 0.6745·(x−"
    "median)/MAD per series, |z| > 3.5 (Iglewicz–Hoaglin). Median/MAD "
    "resist the very outliers a mean/stddev z-score lets poison the "
    "baseline. Two exact-percentile aggregates (swap for approx_"
    "percentile at 100 TB — the t-digest is mergeable map-side) joined "
    "back on the fixed-cardinality series key, unhinted (AQE broadcasts "
    "the 5-row stats tables).",
)
def mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events_measured(spark, sf_dir)
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = e.join(med, "event_type").select(
        "event_id", "event_type", "value", "med",
        F.abs(F.col("value") - F.col("med")).alias("d"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(d, 0.5)").alias("mad")
    )
    # nullif divisor: MAD = 0 (constant series, or a singleton — routine
    # at scale) must yield NULL z like the oracle's /0, not an ANSI
    # DIVIDE_BY_ZERO crash; the > 3.5 filter then drops the rows on
    # both engines (tools/empty_sweep.py, SPARK_GRAFT_SWEEP_ROWS=1).
    z = 0.6745 * (F.col("value") - F.col("med")) / F.nullif(
        F.col("mad"), F.lit(0.0)
    )
    return (
        dev.join(mad, "event_type")
        .where(F.abs(z) > 3.5)
        .select(
            "event_id",
            "event_type",
            stable_round(F.col("value")).alias("value"),
            stable_round(F.col("med")).alias("med"),
            stable_round(F.col("mad")).alias("mad"),
            stable_round(z).alias("robust_z"),
        )
    )


@query(
    "cusum_drift_alarms",
    oracle="""
        WITH c AS (
            SELECT event_id, event_type, ts,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM (SELECT * REPLACE (CASE WHEN isfinite(value) THEN value END
              AS value) FROM events) events WHERE ts IS NOT NULL
        ),
        stats AS (
            SELECT event_type,
                   count(*) AS n,
                   CAST(sum(cents) AS BIGINT) AS s,
                   CAST(sum(cents * cents) AS BIGINT) AS sq
            FROM c GROUP BY event_type
        ),
        r AS (
            SELECT c.event_id, c.event_type, c.ts,
                   CAST(c.cents AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n AS resid,
                   sqrt((CAST(s.sq AS DOUBLE)
                         - CAST(s.s AS DOUBLE) * CAST(s.s AS DOUBLE) / s.n)
                        / (s.n - 1)) AS sd
            FROM c JOIN stats s USING (event_type)
        ),
        w AS (
            SELECT event_id, event_type, ts, sd,
                   sum(resid) OVER (PARTITION BY event_type
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS cum
            FROM r
        ),
        s2 AS (
            SELECT event_id, event_type, sd,
                   cum - min(cum) OVER (PARTITION BY event_type
                                        ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS cusum
            FROM w
        )
        SELECT event_type,
               CAST(count(CASE WHEN cusum > 5 * sd THEN 1 END) AS BIGINT)
                   AS n_alarms,
               floor(max(cusum) / 100.0 * 10000.0 + 0.5) / 10000.0
                   AS max_cusum,
               min(CASE WHEN cusum > 5 * sd THEN event_id END)
                   AS min_alarm_event
        FROM s2
        GROUP BY event_type
    """,
    description="CUSUM drift detection per series: one-sided cumulative "
    "sum S_i expressed WINDOW-ALGEBRAICALLY as running_sum − running_min "
    "(the recursive S_i = max(0, S_{i-1}+x_i) has no window form; the "
    "prefix identity does), alarm when S > 5σ. All statistics on exact "
    "integer basis points (CLAUDE.md currency rule) so both engines' "
    "running sums follow the identical IEEE sequence — a mean computed "
    "on raw doubles would differ in the last ulp by aggregation order "
    "and drift the alarm boundary. Two windows + one aggregate.",
)
def cusum_drift_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events_measured(spark, sf_dir, timed=True)
    c = e.select(
        "event_id", "event_type", "ts",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    stats = c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("sq"),
    )
    r = c.join(stats, "event_type").select(
        "event_id", "event_type", "ts",
        (
            F.col("cents").cast("double")
            - F.col("s").cast("double") / F.col("n")
        ).alias("resid"),
        F.sqrt(
            (
                F.col("sq").cast("double")
                - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
            )
            # nullif: n = 1 (singleton series) must make sd NULL like
            # the oracle's /0, not an ANSI crash (1-row sweep class)
            / F.nullif(F.col("n") - 1, F.lit(0))
        ).alias("sd"),
    )
    wrun = Window.partitionBy("event_type").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w = r.select(
        "event_id", "event_type", "ts", "sd",
        F.sum("resid").over(wrun).alias("cum"),
    )
    s2 = w.select(
        "event_id", "event_type", "sd",
        (F.col("cum") - F.min("cum").over(wrun)).alias("cusum"),
    )
    alarm = F.col("cusum") > 5 * F.col("sd")
    return s2.groupBy("event_type").agg(
        F.count(F.when(alarm, 1)).cast("bigint").alias("n_alarms"),
        (
            F.floor(F.max("cusum") / 100.0 * 10000.0 + F.lit(0.5)) / 10000.0
        ).alias("max_cusum"),
        F.min(F.when(alarm, F.col("event_id"))).alias("min_alarm_event"),
    )


@query(
    "rolling_median_value",
    oracle="""
        SELECT event_id, event_type,
               floor(quantile_cont(value, 0.5) OVER (
                   PARTITION BY event_type
                   ORDER BY ts, event_id
                   ROWS BETWEEN 10 PRECEDING AND 10 FOLLOWING
               ) * 10000.0 + 0.5) / 10000.0 AS rolling_median
        FROM (SELECT * REPLACE (CASE WHEN isfinite(value) THEN value END
              AS value) FROM events) events WHERE ts IS NOT NULL
    """,
    description="Centered 21-point rolling median per series — the "
    "robust smoother (a rolling MEAN chases every spike the MAD query "
    "flags). Exact windowed percentile; both engines interpolate "
    "identically over the identical deterministic frame (ts, event_id "
    "order). One window shuffle partitioned by series — parallelism = "
    "series count, same caveat (and remedy) as cusum_drift_alarms for "
    "few-series corpora.",
)
def rolling_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events_measured(spark, sf_dir, timed=True)
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, 10)
    )
    return e.select(
        "event_id",
        "event_type",
        stable_round(F.expr("percentile(value, 0.5)").over(w)).alias(
            "rolling_median"
        ),
    )


@query(
    "cusum_drift_chunked",
    oracle="""
        WITH c AS (
            SELECT event_id, event_type, ts,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM (SELECT * REPLACE (CASE WHEN isfinite(value) THEN value END
              AS value) FROM events) events WHERE ts IS NOT NULL
        ),
        stats AS (
            SELECT event_type,
                   count(*) AS n,
                   CAST(sum(cents) AS BIGINT) AS s,
                   CAST(sum(cents * cents) AS BIGINT) AS sq
            FROM c GROUP BY event_type
        ),
        r AS (
            SELECT c.event_id, c.event_type, c.ts,
                   c.cents * s.n - s.s AS resid_s,
                   s.n,
                   sqrt((CAST(s.sq AS DOUBLE)
                         - CAST(s.s AS DOUBLE) * CAST(s.s AS DOUBLE) / s.n)
                        / (s.n - 1)) AS sd
            FROM c JOIN stats s USING (event_type)
        ),
        w AS (
            SELECT event_type, n, sd, ts, event_id,
                   CAST(sum(resid_s) OVER (PARTITION BY event_type
                                           ORDER BY ts, event_id
                                           ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS cum
            FROM r
        ),
        s2 AS (
            SELECT event_type, n, sd,
                   cum - CAST(min(cum) OVER (PARTITION BY event_type
                                             ORDER BY ts, event_id
                                             ROWS UNBOUNDED PRECEDING)
                              AS BIGINT) AS cusum_s
            FROM w
        )
        SELECT event_type,
               CAST(count(CASE WHEN CAST(cusum_s AS DOUBLE)
                               > 5.0 * sd * n * 100.0 THEN 1 END)
                    AS BIGINT) AS n_alarms,
               floor(CAST(max(cusum_s) AS DOUBLE) / n / 100.0
                     * 10000.0 + 0.5) / 10000.0 AS max_cusum
        FROM s2
        GROUP BY event_type, n, sd
    """,
    description="The epoch-chunked CUSUM — cusum_drift_alarms' few-"
    "series remedy IMPLEMENTED, not just documented: data-sized windows "
    "partition by (series, day) so parallelism is series x epochs; "
    "cross-epoch state (prefix offsets, prefix-min of offset+local-min) "
    "rides a TINY per-epoch table. The exactness trick: residuals are "
    "SCALED TO INTEGERS (cents*n - s), making running sums association-"
    "free — the chunked reassociation is bit-identical to this oracle's "
    "sequential global-window formulation, which is exactly what the "
    "hash comparison proves. (Scaled double residuals would drift in "
    "the low bits and flip boundary alarms.) Overflow bound "
    "|cents|*n^2 < 2^63 holds to ~1e8 rows/series; widen epochs past "
    "that.",
)
def cusum_drift_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events_measured(spark, sf_dir, timed=True)
    c = e.select(
        "event_id", "event_type", "ts",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    stats = c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("sq"),
    )
    r = c.join(stats, "event_type").select(
        "event_id", "event_type", "ts",
        F.date_trunc("day", "ts").alias("epoch"),
        (F.col("cents") * F.col("n") - F.col("s")).alias("resid_s"),
        "n",
        F.sqrt(
            (
                F.col("sq").cast("double")
                - F.col("s").cast("double") * F.col("s").cast("double")
                / F.col("n")
            )
            # nullif: n = 1 (singleton series) must make sd NULL like
            # the oracle's /0, not an ANSI crash (1-row sweep class)
            / F.nullif(F.col("n") - 1, F.lit(0))
        ).alias("sd"),
    )
    # data-sized windows run WITHIN (series, epoch) only
    wloc = (
        Window.partitionBy("event_type", "epoch")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lcum = F.sum("resid_s").over(wloc)
    local = r.select(
        "event_type", "epoch", "n", "sd", "resid_s",
        lcum.alias("lcum"),
        F.min(lcum).over(wloc).alias("lrmin"),
    )
    # tiny per-epoch state: epoch totals, epoch-local minima, prefix algebra
    et = local.groupBy("event_type", "epoch").agg(
        F.sum("resid_s").alias("t_epoch"),
        F.min("lrmin").alias("lmin"),
    )
    wprev = (
        Window.partitionBy("event_type")
        .orderBy("epoch")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    et2 = et.select(
        "event_type", "epoch", "t_epoch", "lmin",
        F.coalesce(F.sum("t_epoch").over(wprev), F.lit(0)).alias("off"),
    )
    et3 = et2.select(
        "event_type", "epoch", "off",
        F.min(F.col("off") + F.col("lmin")).over(wprev).alias("m_prev"),
    )
    j = local.join(et3, ["event_type", "epoch"])
    cum = F.col("off") + F.col("lcum")
    local_min = F.col("off") + F.col("lrmin")
    runmin = F.least(F.coalesce(F.col("m_prev"), local_min), local_min)
    s2 = j.select("event_type", "n", "sd", (cum - runmin).alias("cusum_s"))
    alarm = (
        F.col("cusum_s").cast("double")
        > 5.0 * F.col("sd") * F.col("n") * 100.0
    )
    return (
        s2.groupBy("event_type", "n", "sd")
        .agg(
            F.count(F.when(alarm, 1)).cast("bigint").alias("n_alarms"),
            (
                F.floor(
                    F.max("cusum_s").cast("double") / F.col("n") / 100.0
                    * 10000.0
                    + F.lit(0.5)
                )
                / 10000.0
            ).alias("max_cusum"),
        )
        .select("event_type", "n_alarms", "max_cusum")
    )
