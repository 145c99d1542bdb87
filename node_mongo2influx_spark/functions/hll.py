"""Portable HyperLogLog: identical registers AND estimate in Spark + DuckDB.

Spark's ``approx_count_distinct`` (HLL++) is deterministic but its sketch
internals have no DuckDB twin, so the `approx_distinct_users` query can only
be rows-only. This module is the ORACLE-CHECKABLE sketch tier: a from-scratch
HyperLogLog (Flajolet et al. 2007) over the portable FNV-1a hash
(functions/phash.py), engineered so every number both engines produce is
bit-identical:

* **hash**: FNV-1a 32-bit of the value's decimal string, finalized with
  murmur3's fmix32 — exact 64-bit integer folds on both engines (the
  phash contract). The finalizer is load-bearing: raw FNV leaves
  sequential keys near-bijective in the low byte and weakly mixed up
  top, which skews the bucket/rho SPLIT this sketch does (measured: a
  150-distinct estimate came out 15% high; with fmix32 the linear
  regime is near-exact). Same lesson as the JL sign matrix
  (CLAUDE.md round 4).
* **registers**: bucket = low ``p`` hash bits, rho = leading-zero count of
  the remaining ``32-p`` bits + 1, computed with INTEGER arithmetic
  (``length(bin(w))`` — both engines print minimal binary), register =
  ``max(rho)`` per bucket. Max-merge makes the registers order- and
  partition-independent — the mergeable-partial property that makes HLL
  the 100 TB distinct-count answer (map-side partials, O(m) state, and
  sketches can be STORED per partition/day and merged later, which a
  COUNT(DISTINCT) can never do).
* **estimate core**: the harmonic sum is kept as the EXACT INTEGER
  ``sum_inv_scaled = Σ 2^(maxrho − M_j)`` (absent buckets contribute
  ``2^maxrho``) — reassociation-proof per the CLAUDE.md exact-integer
  rule. The estimate is then ONE literal-constant division
  (``alpha·m²·2^maxrho / sum_inv_scaled``) plus the standard
  linear-counting branch for the small range (``m·ln(m/V)`` — ``ln`` is
  already relied on cross-engine by the tf-idf/PMI/BM25 oracles),
  stable-rounded to 1e-4 on both sides.

Production paths should still prefer ``approx_count_distinct`` (C-speed JVM
sketch, rsd knob); this tier exists so the sketch ALGORITHM itself has a
hash-green driver witness (`hll_portable_distinct`,
`sliding_distinct_hll`) — the same pattern as the ANN recall probes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from node_mongo2influx_spark.functions.phash import (
    fmix32_duckdb_steps,
    fmix32_spark_inline,
    fnv1a32_duckdb_sql,
    fnv1a32_spark_sql,
)

#: Aliases for the 5-step fmix32 chain in the DUCKDB oracle CTE chain
#: (the Spark side inlines the whole finalizer over the aliased __f0 —
#: a column reference is a cheap input per the fmix32_spark_inline
#: contract, and the optimizer collapses either spelling to the same
#: projection; measured r11: the 5-Dataset chain cost ~60 ms of
#: construction per query for identical registers).
_FMIX_NAMES = ["__f0", "__f1", "__f2", "__f3", "__f4"]

#: Register-count exponent / count. m = 256 gives rsd ≈ 1.04/√256 = 6.5% in
#: the raw regime and near-exact linear counting below ~2.5·m distinct.
HLL_P = 8
HLL_M = 1 << HLL_P

#: rho of an all-zero suffix: (32 - p) zero bits + 1.
HLL_MAXRHO = 32 - HLL_P + 1

#: alpha_m · m² · 2^maxrho — the whole raw-estimate numerator as ONE python
#: double, embedded as the SAME literal in both engines' expressions.
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
HLL_K = HLL_ALPHA * HLL_M * HLL_M * float(1 << HLL_MAXRHO)

#: Linear-counting threshold: raw estimates at or below 2.5·m with empty
#: buckets remaining use m·ln(m/V) instead (the standard HLL correction).
HLL_LC_CUTOFF = 2.5 * HLL_M


def _stable_round4(c: Column) -> Column:
    """floor(x·1e4 + 0.5)/1e4 — the repo's cross-engine rounding idiom."""
    return F.floor(c * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)


def hll_registers(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """(group_cols..., __bucket, __m) — one max-rho register per non-empty
    bucket per group. NULL values are ignored (COUNT(DISTINCT) semantics).

    This is the mergeable partial: registers from disjoint slices of the
    data max-merge into the registers of their union (property-tested in
    tests/test_hll.py) — at 100 TB these 256 small ints per group are
    what map-side partial aggregation ships, and what an incremental
    pipeline would persist per ingest batch.
    """
    h = F.expr(fnv1a32_spark_sql(f"cast({value_col} as string)"))
    cur = df.where(F.col(value_col).isNotNull()).select(
        *group_cols, h.alias("__f0")
    )
    # The FNV fold stays aliased in its OWN projection (expensive, used
    # ~72× by the textual fmix nesting); the finalizer itself inlines
    # over that cheap column reference in ONE more projection.
    rows = (
        cur.select(
            *group_cols,
            F.expr(fmix32_spark_inline("__f0")).alias("__h"),
        )
        .select(
            *group_cols,
            F.pmod(F.col("__h"), F.lit(HLL_M)).alias("__bucket"),
            F.expr(f"__h div {HLL_M}").alias("__w"),
        )
        .select(
            *group_cols,
            "__bucket",
            F.when(F.col("__w") == 0, F.lit(HLL_MAXRHO))
            .otherwise(F.lit(HLL_MAXRHO) - F.length(F.bin(F.col("__w"))))
            .cast("int")
            .alias("__rho"),
        )
    )
    return rows.groupBy(*group_cols, "__bucket").agg(
        F.max("__rho").alias("__m")
    )


def hll_estimate(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Registers → (group_cols..., used_buckets, zero_buckets,
    sum_inv_scaled, hll_estimate). ``sum_inv_scaled`` is the exact-integer
    harmonic core; ``hll_estimate`` applies the linear-counting branch and
    stable-rounds to 1e-4."""
    agg = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("used_buckets"),
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {HLL_MAXRHO} - __m)")).alias(
            "__part"
        ),
    )
    zero = F.lit(HLL_M) - F.col("used_buckets")
    sum_inv = (
        F.col("__part") + zero.cast("long") * F.lit(1 << HLL_MAXRHO)
    ).alias("sum_inv_scaled")
    return agg.select(
        *group_cols,
        "used_buckets",
        zero.cast("long").alias("zero_buckets"),
        sum_inv,
    ).select(
        *group_cols,
        "used_buckets",
        "zero_buckets",
        "sum_inv_scaled",
        hll_estimate_col(
            F.col("sum_inv_scaled"), F.col("zero_buckets")
        ).alias("hll_estimate"),
    )


def hll_estimate_col(sum_inv: Column, zero: Column) -> Column:
    """The estimate (raw harmonic / linear-counting branch, stable-rounded
    to 1e-4) over an exact-integer scaled harmonic sum and a zero-bucket
    count — the Spark twin of :func:`hll_estimate_duckdb_expr`, reused by
    the set-algebra operators (union/intersection estimates)."""
    raw = F.lit(HLL_K) / sum_inv
    lc = F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zero)
    return _stable_round4(
        F.when((raw <= F.lit(HLL_LC_CUTOFF)) & (zero > 0), lc).otherwise(raw)
    )


def hll_count_distinct(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Per-group portable-HLL distinct estimate (the composed pipeline)."""
    return hll_estimate(hll_registers(df, group_cols, value_col), group_cols)


def hll_estimate_duckdb_expr(sum_inv: str, zero: str) -> str:
    """The estimate (raw harmonic / linear-counting branch, stable-rounded
    to 1e-4) as one DuckDB expression over an exact-integer scaled
    harmonic sum and a zero-bucket count — reused by every sketch-algebra
    oracle (plain estimates, set-union estimates)."""
    k_lit = f"{HLL_K!r}e0"  # e-suffix: bare decimals parse as DECIMAL
    m_lit = f"{float(HLL_M)!r}e0"
    cutoff_lit = f"{HLL_LC_CUTOFF!r}e0"
    return (
        f"floor(CASE WHEN {k_lit} / ({sum_inv}) <= {cutoff_lit}"
        f" AND ({zero}) > 0"
        f" THEN {m_lit} * ln({m_lit} / ({zero}))"
        f" ELSE {k_lit} / ({sum_inv})"
        f" END * 1e4 + 5e-1) / 1e4"
    )


def hll_registers_duckdb_ctes(rows_sql: str, group_col: str) -> str:
    """CTE chain (no leading WITH, trailing comma) ending in
    ``__hll_regs`` ({group_col}, __bucket, __m) — the DuckDB twin of
    :func:`hll_registers`. ``rows_sql`` must yield ({group_col},
    ``__v`` VARCHAR NOT NULL)."""
    fnv = fnv1a32_duckdb_sql("__v")
    fmix_ctes = "".join(
        f"""
        __hll_f{i + 1} AS (
            SELECT {group_col}, {step} AS __f{i + 1} FROM __hll_f{i}
        ),"""
        for i, step in enumerate(fmix32_duckdb_steps(_FMIX_NAMES))
    )
    return f"""__hll_rows AS ({rows_sql}),
        __hll_f0 AS (
            SELECT {group_col}, {fnv} AS __f0 FROM __hll_rows
        ),{fmix_ctes}
        __hll_h AS (
            SELECT {group_col}, __f5 AS __h FROM __hll_f5
        ),
        __hll_rho AS (
            SELECT {group_col},
                   __h % {HLL_M} AS __bucket,
                   CASE WHEN __h // {HLL_M} = 0 THEN {HLL_MAXRHO}
                        ELSE {HLL_MAXRHO} - length(bin(__h // {HLL_M}))
                   END AS __rho
            FROM __hll_h
        ),
        __hll_regs AS (
            SELECT {group_col}, __bucket, max(__rho) AS __m
            FROM __hll_rho GROUP BY 1, 2
        ),"""


def hll_oracle_sql(rows_sql: str, group_col: str) -> str:
    """DuckDB twin of :func:`hll_count_distinct`.

    ``rows_sql`` must yield (``{group_col}``, ``__v`` VARCHAR NOT NULL) —
    one row per observation, value already stringified. Returns a SELECT
    producing ({group_col}, used_buckets, zero_buckets, sum_inv_scaled,
    hll_estimate) with arithmetic mirroring the Spark side step for step.
    """
    est = hll_estimate_duckdb_expr("sum_inv_scaled", "zero_buckets")
    return f"""
        WITH {hll_registers_duckdb_ctes(rows_sql, group_col)}
        __hll_agg AS (
            SELECT {group_col},
                   count(*) AS used_buckets,
                   CAST(sum(CAST(1 AS BIGINT) << ({HLL_MAXRHO} - __m))
                        AS BIGINT)
                   + ({HLL_M} - count(*)) * (CAST(1 AS BIGINT) << {HLL_MAXRHO})
                       AS sum_inv_scaled,
                   {HLL_M} - count(*) AS zero_buckets
            FROM __hll_regs GROUP BY 1
        )
        SELECT {group_col},
               CAST(used_buckets AS BIGINT) AS used_buckets,
               CAST(zero_buckets AS BIGINT) AS zero_buckets,
               sum_inv_scaled,
               {est} AS hll_estimate
        FROM __hll_agg
    """


def hll_overlap_from_registers(regs: DataFrame, key_col: str) -> DataFrame:
    """Pairwise set-algebra over per-key register sets: for every key pair
    (a < b), estimate |A|, |B|, |A∪B| and |A∩B| = |A| + |B| − |A∪B| from
    the registers ALONE — no access to the underlying values.

    ``regs`` is (key_col, __bucket, __m) — :func:`hll_registers` output,
    or a max-merged register store (a groupBy-max over per-batch
    register partials). The union's harmonic sum comes from
    inclusion-exclusion on the EXACT INTEGER per-key sums: shared buckets
    contribute the max-register term via a bucket equi-join of
    sketch-sized tables, one-sided buckets keep their own terms — so the
    whole matrix is deterministic and engine-replayable. A pair sharing
    ZERO buckets is absent from the output (astronomically unlikely for
    real sets at m=256; such a pair has intersection ≈ 0 by construction).

    Output: (key_a, key_b, union_sum_inv, hll_a, hll_b, hll_union,
    hll_intersection).
    """
    # SQL-text batched spelling (optimization round r11 s4): the original
    # built ~10 Dataset creations (tot/ra/rb/sh/ta/tb/parts/est/final)
    # with lambda-built shl Columns and three hll_estimate_col trees —
    # ~0.45 s of py4j + analyzer chatter per construction even with a
    # pre-checkpointed input. Fusing parts+est+final into one selectExpr
    # and spelling renames/aggregates as expression text measured 0.47×
    # interleaved with bit-identical output (190 pairs row-for-row).
    # Every expression below is the SAME Catalyst tree as the Column
    # spelling it replaces (scientific-notation literals are DOUBLE —
    # only bare decimals hit the expr() DECIMAL trap).
    regs = regs.localCheckpoint(eager=False)  # consumed 2× (totals + join)

    def shl_sum(m: str) -> str:
        return f"sum(shiftleft(cast(1 as bigint), {HLL_MAXRHO} - {m}))"

    def est_sql(sum_inv: str, zero: str) -> str:
        # hll_estimate_col as text: raw harmonic / linear-counting branch,
        # stable-rounded to 1e-4. CAST('<repr>' AS DOUBLE) round-trips the
        # float constants bit-exactly.
        raw = f"(CAST('{HLL_K!r}' AS DOUBLE) / {sum_inv})"
        lc = (
            f"(CAST('{float(HLL_M)!r}' AS DOUBLE) * "
            f"ln(CAST('{float(HLL_M)!r}' AS DOUBLE) / {zero}))"
        )
        body = (
            f"(CASE WHEN ({raw} <= CAST('{HLL_LC_CUTOFF!r}' AS DOUBLE)) "
            f"AND ({zero} > 0) THEN {lc} ELSE {raw} END)"
        )
        return f"(floor({body} * 1e4 + 0.5D) / 1e4)"

    tot = regs.groupBy(key_col).agg(
        F.expr("count(1) AS used"), F.expr(f"{shl_sum('__m')} AS s")
    )
    ra = regs.selectExpr(f"`{key_col}` AS key_a", "__bucket", "__m AS ma")
    rb = regs.selectExpr(f"`{key_col}` AS key_b", "__bucket", "__m AS mb")
    sh = (
        ra.join(rb, "__bucket")
        .where(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(
            F.expr("count(1) AS cnt_sh"),
            F.expr(f"{shl_sum('greatest(ma, mb)')} AS s_max"),
            F.expr(f"{shl_sum('ma')} AS s_a_sh"),
            F.expr(f"{shl_sum('mb')} AS s_b_sh"),
        )
    )
    ta = tot.selectExpr(f"`{key_col}` AS key_a", "used AS used_a", "s AS s_a")
    tb = tot.selectExpr(f"`{key_col}` AS key_b", "used AS used_b", "s AS s_b")
    top = 1 << HLL_MAXRHO
    sum_a = f"(s_a + ({HLL_M} - used_a) * {top})"
    sum_b = f"(s_b + ({HLL_M} - used_b) * {top})"
    sum_u = (
        f"(s_max + (s_a - s_a_sh) + (s_b - s_b_sh) + "
        f"({HLL_M} - (used_a + used_b - cnt_sh)) * {top})"
    )
    zero_a = f"({HLL_M} - used_a)"
    zero_b = f"({HLL_M} - used_b)"
    zero_u = f"({HLL_M} - (used_a + used_b - cnt_sh))"
    return (
        sh.join(ta, "key_a")
        .join(tb, "key_b")
        .selectExpr(
            "key_a",
            "key_b",
            f"{sum_u} AS union_sum_inv",
            f"{est_sql(sum_a, zero_a)} AS hll_a",
            f"{est_sql(sum_b, zero_b)} AS hll_b",
            f"{est_sql(sum_u, zero_u)} AS hll_union",
        )
        .selectExpr(
            "key_a",
            "key_b",
            "union_sum_inv",
            "hll_a",
            "hll_b",
            "hll_union",
            "(floor((hll_a + hll_b - hll_union) * 1e4 + 0.5D) / 1e4)"
            " AS hll_intersection",
        )
    )
