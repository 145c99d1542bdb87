"""The vector-validity contract — the finite-measure rule extended to
embedding columns (round 10; hardened + single-fold in round 11).

The reference's data model is arbitrary numeric fields on schemaless
documents (index.js:198): nothing guarantees a vector column is
well-behaved, and the adversarial embedding sweep
(tools/embedding_fixtures.py) shows what hostile vectors do to naive
operators — ANSI DIVIDE_BY_ZERO on zero norms, NULL-element folds that
Spark propagates but DuckDB's list_sum skips, float(None) crashes in
Arrow kernels, and int64-saturating floor() on 1e38-component sums.

Two tiers, each ONE predicate spelled identically for Spark SQL text
and DuckDB oracle SQL:

**usable** — the input contract of every cosine-family operator
(knn/*, cosine_pairs*, semantic_dedup, centroids, trainers):

* non-NULL vector,
* no NULL and no non-finite (NaN/±Inf) elements — an invalid reading
  is not a valid vector, exactly as an invalid scalar measure is not a
  valid reading (functions/measures),
* largest component magnitude within ``[USABLE_ABS_MIN,
  USABLE_ABS_MAX]`` = [1e-160, 1e150]. The r10 contract said only
  "some non-zero element", which left two DOUBLE-typed magnitude
  classes in-contract that the cosine arithmetic cannot survive
  (found r11, reproduced live):

  - maxabs < ~1.5e-162 → every square underflows, norm² = 0, and the
    cosine's ``dot / (norm_a · norm_b)`` RAISES DIVIDE_BY_ZERO under
    ANSI — the exact task-killing failure the contract exists to
    prevent at 100 TB;
  - maxabs > ~1e154 → norm² overflows to +Inf and Inf/Inf mints NaN
    cosines, violating the finite-measure rule at the OUTPUT edge.

  The bounds are one decade inside the hazard lines and hold for any
  real dimensionality: maxabs ≥ 1e-160 keeps norm² ≥ 1e-320 (a
  positive denormal, and the norm·norm divisor ≥ 1e-320 > 0), while
  maxabs ≤ 1e150 keeps norm² ≤ d·1e300 finite through d = 10⁷.
  float32-sourced data (every fixture; |x| ∈ [1.4e-45, 3.4e38] when
  non-zero) cannot reach either zone, so the r10 class boundary is
  unchanged for every existing fixture and oracle. A vector below the
  floor has no double-precision direction (it IS the zero class); a
  vector above the ceiling is an invalid reading.

Unusable vectors are EXCLUDED from vector-operator results, the way a
NULL measure is absent from an aggregate. Oracles carry the same WHERE.

**bounded** (usable AND every |x| <= ``STAT_ABS_MAX``) — the input
domain of the exact-quantization statistics operators (Gram matrix,
PCA milli-unit quantization, JL micro-unit outputs). These operators
freeze values onto integer lattices for reassociation-proof
cross-engine sums; a 3e38 component has no place on a milli-unit int64
lattice (the cast overflows, and Spark's floor() saturates LONG where
DuckDB's floor stays DOUBLE — measured divergence, r10 embed sweep).
Embeddings are unit-ish by construction; STAT_ABS_MAX=100 is ~100×
looser than any real embedding and keeps every quantized product
exactly summable: q <= 1e5 milli-units, q² <= 1e10 per element, safe
past 1e8 rows per BIGINT partial. Out-of-domain vectors are excluded
from the statistic — and REPORTED by ``embedding_norm_qa``'s
``n_outlier`` (a QA query surfaces what operators exclude).

**Spelling (r11).** All Spark predicates are ONE max-abs ``aggregate``
fold (see :func:`_maxabs_merge`): Spark and DuckDB both order NaN above
every numeric, so the whole contract reduces to two range comparisons
on a single accumulator. The r10 multi-``exists`` spelling was
semantically identical on float32 data but traversed the array 2–3×
and carried 2–3 lambda expressions per guard — a same-session A/B
measured it as knn_cosine_lsh's 1.23× / knn_cosine_bruteforce's 1.14×
bench regression (VERDICT r10 #1), most of it DRIVER-side plan cost.
Hot paths therefore use the *_sql spellings through one ``F.expr``
(single py4j call, no lambda Columns); max-abs (not sum-of-squares)
because abs is exact at every magnitude.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Component-magnitude bound of the exact-quantization statistics domain.
STAT_ABS_MAX = 100.0

#: Magnitude floor of the usable domain: below this the norm² underflows
#: (maxabs² < 2⁻¹⁰⁷⁴ at ~1.5e-162) and the cosine divisor becomes 0.0 —
#: ANSI DIVIDE_BY_ZERO. One decade of margin: 1e-160² = 1e-320 > 0.
USABLE_ABS_MIN = 1e-160

#: Magnitude ceiling of the usable domain: above ~1.3e154 the norm²
#: overflows to Inf and cosines become NaN. 1e150 keeps d·maxabs²
#: finite through d = 10⁷.
USABLE_ABS_MAX = 1e150

_NAN = float("nan")


def _maxabs_merge(acc: Column, x: Column) -> Column:
    """Merge step of the ONE-traversal contract fold: running max of
    ``abs(element)``, with a NULL element mapped to NaN. Spark orders NaN
    above every numeric (greatest(NaN, x) = NaN — verified live, r11), so
    NaN is sticky and the single accumulator encodes the whole contract:

    * NaN              → some element was NULL or NaN         (invalid)
    * +Inf / > 1e150   → ±Inf element or norm-overflow class  (invalid)
    * [0, 1e-160)      → no double-precision direction        (zero)
    * [1e-160, 100]    → usable AND bounded                   (ok)
    * (100, 1e150]     → usable, outside the statistics domain (outlier)

    Both engines compare NaN greater than any number, so ``m >= lo AND
    m <= hi`` is the entire usable predicate — NaN and Inf fail the
    upper bound, zero/denormal fail the lower."""
    return F.greatest(acc, F.when(x.isNull(), F.lit(_NAN)).otherwise(F.abs(x)))


def _maxabs_fold(col: Column, finish) -> Column:
    """One-pass contract fold with a ``finish`` lambda over the max-abs
    accumulator — the fold appears ONCE in the expression tree, so the
    array is traversed once however many range checks ``finish`` makes
    (no reliance on codegen subexpression elimination)."""
    return F.aggregate(col, F.lit(0.0), _maxabs_merge, finish)


#: Spark-SQL text of the same fold; {finish} is a predicate over ``m``.
#: Doubles are spelled 0.0D / 1e-160 / 1e150 (never bare decimals —
#: a bare decimal literal in SQL text parses as DECIMAL, the r4 trap).
_MAXABS_SQL = (
    "aggregate({e}, 0.0D,"
    " (acc, x) -> greatest(acc,"
    " CASE WHEN x IS NULL THEN double('NaN') ELSE abs(x) END),"
    " m -> {finish})"
)

#: DuckDB text of the same fold (list_reduce is a guaranteed left fold;
#: list_prepend seeds the accumulator — the r8 spelling). greatest()
#: in DuckDB also ranks NaN above every numeric.
_MAXABS_DUCKDB = (
    "list_reduce(list_prepend(0.0, list_transform({e},"
    " x -> CASE WHEN x IS NULL THEN 'NaN'::DOUBLE ELSE abs(x) END)),"
    " (acc, x) -> greatest(acc, x))"
)


def usable_vector_sql(expr: str) -> str:
    """Spark-SQL text: the **usable** predicate (see module docstring)
    — the hot-path spelling (one ``F.expr``, no lambda Columns)."""
    fold = _MAXABS_SQL.format(e=expr, finish="m >= 1e-160 AND m <= 1e150")
    return f"({expr} IS NOT NULL AND {fold})"


def usable_vector_duckdb_sql(expr: str) -> str:
    """DuckDB oracle twin of :func:`usable_vector_sql` — the same max-abs
    fold, the same two range comparisons (NaN ranks greatest in DuckDB
    comparisons too, so NaN/Inf fail the upper bound identically)."""
    fold = _MAXABS_DUCKDB.format(e=expr)
    return f"({expr} IS NOT NULL AND {fold} BETWEEN 1e-160 AND 1e150)"


def bounded_vector_sql(expr: str, bound: float = STAT_ABS_MAX) -> str:
    """Spark-SQL text: the **bounded** predicate (statistics domain) —
    the same single fold with the statistics ceiling as the upper range
    bound (NaN/Inf fail it; m <= bound implies m <= USABLE_ABS_MAX)."""
    fold = _MAXABS_SQL.format(
        e=expr, finish=f"m >= 1e-160 AND m <= {bound!r}D"
    )
    return f"({expr} IS NOT NULL AND {fold})"


def bounded_vector_duckdb_sql(expr: str, bound: float = STAT_ABS_MAX) -> str:
    """DuckDB oracle twin of :func:`bounded_vector_sql`."""
    fold = _MAXABS_DUCKDB.format(e=expr)
    return f"({expr} IS NOT NULL AND {fold} BETWEEN 1e-160 AND {bound!r})"


def _class_cases(m: Column) -> Column:
    """Shared finish: maxabs accumulator → contract class name."""
    return (
        F.when(F.isnan(m) | (m > F.lit(USABLE_ABS_MAX)), "invalid")
        .when(m < F.lit(USABLE_ABS_MIN), "zero")
        .when(m > F.lit(STAT_ABS_MAX), "outlier")
        .otherwise("ok")
    )


def vector_class(col: Column) -> Column:
    """Spark Column: QA classification of a vector into the contract's
    mutually-exclusive classes — ``missing`` (NULL vector), ``invalid``
    (NULL/NaN/±Inf element, or finite maxabs above the usable ceiling:
    the norm-overflow class is as unusable as an Inf element), ``zero``
    (maxabs below the usable floor — no double-precision direction),
    ``outlier`` (usable but outside the statistics domain), ``ok``. The
    QA face of the predicates above: operators EXCLUDE, QA REPORTS."""
    cls = _maxabs_fold(col, _class_cases)
    return F.when(col.isNull(), "missing").otherwise(cls)


def vector_class_duckdb_sql(expr: str) -> str:
    """DuckDB oracle twin of :func:`vector_class` (NaN sorts greatest,
    so ``isnan(m) OR m > hi`` and the range cases translate 1:1)."""
    fold = _MAXABS_DUCKDB.format(e=expr)
    return (
        f"CASE WHEN {expr} IS NULL THEN 'missing'"
        f" WHEN isnan({fold}) OR {fold} > 1e150 THEN 'invalid'"
        f" WHEN {fold} < 1e-160 THEN 'zero'"
        f" WHEN {fold} > {STAT_ABS_MAX!r} THEN 'outlier'"
        f" ELSE 'ok' END"
    )


def usable_mask_np(mat):
    """Vectorized numpy twin of :func:`usable_vector_sql` for Arrow kernels:
    ``mat`` is an (n, d) float64 matrix (pandas ``None`` elements arrive
    as NaN under dtype=float64), returns a boolean row mask. Load-bearing
    in the SRP bucket kernel (r11): the bucket-table branches drop their
    JVM-side guard — a candidate pair only survives the downstream
    features join if BOTH ids pass the features branch's guard, so the
    bucket branch needs only kernel-crash protection, not row exclusion
    semantics — and this mask provides it at numpy speed instead of a
    second interpreted fold over the full corpus."""
    import numpy as np

    if mat.size == 0:
        return np.zeros(len(mat), dtype=bool)
    maxabs = np.max(np.abs(mat), axis=1)
    # NaN fails both comparisons; Inf fails the upper — same two range
    # checks as every other spelling (np.errstate: abs(±Inf) is fine,
    # and NaN comparisons warn nowhere on modern numpy)
    return (maxabs >= USABLE_ABS_MIN) & (maxabs <= USABLE_ABS_MAX)


def usable_vector_py(v) -> bool:
    """Python/Arrow-kernel twin of :func:`usable_vector_sql` (row values as
    collected: None, or a list of float/None)."""
    import math

    if v is None:
        return False
    m = 0.0
    for x in v:
        if x is None or math.isnan(x):
            return False
        a = abs(x)
        if a > m:
            m = a
    return USABLE_ABS_MIN <= m <= USABLE_ABS_MAX
