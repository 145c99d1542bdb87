"""Portable 32-bit hashing: identical arithmetic in Spark SQL and DuckDB.

Spark's xxhash64 has no DuckDB twin, so any operator whose output must be
oracle-checkable bit-for-bit (SimHash's portable tier, deterministic
train/val/test splits, hash-based sampling) hashes with FNV-1a over code
points instead: a fold of xor / multiply-by-prime / mask-to-32-bits that
both engines evaluate with exact 64-bit integer arithmetic (every
intermediate < 2^56 — also ANSI-overflow-safe).

Production paths that don't need a cross-engine oracle should keep
xxhash64 (JVM intrinsic, faster, 64-bit); these helpers are the portable
tier, not a replacement.
"""

from __future__ import annotations

#: FNV-1a 32-bit offset basis / prime (public-domain constants).
FNV_BASIS = 2166136261
FNV_PRIME = 16777619

#: 2^32 — FNV output range; divide (or integer-compare against a
#: ``cutoff32`` threshold) to treat the hash as uniform in [0, 1).
HASH_SPACE = 1 << 32

#: Per-input bound on the character fold (the longdoc sweep, round 9).
#: ``substring(expr, i, 1)`` is O(i) on a JVM UTF8String, so an UNCAPPED
#: fold is O(len²) in one task — a single 2 M-char token (a 10 MB
#: document with no whitespace) turns into ~4·10^12 char scans and a
#: wedged executor core. The contract: hash the first FNV_MAX_CHARS
#: code points; inputs LONGER than that get the total length folded in
#: as one extra step (so giant inputs of different sizes still
#: discriminate). 4096 is ~7× the longest string any fixture tier
#: feeds a hash (dense max: 577-char documents, 8-char words), so every
#: value ever witnessed is bit-identical — the cap only engages on
#: adversarial lengths. Worst bounded cost: O(4096²) ≈ 16 M scans per
#: long token, milliseconds.
FNV_MAX_CHARS = 4096


def fnv1a32_spark_sql(expr: str) -> str:
    """Spark-SQL string: FNV-1a (32-bit) over the code points of ``expr``
    (first ``FNV_MAX_CHARS`` chars; longer inputs fold in their length —
    see the constant's note). The length-fold rides aggregate()'s finish
    lambda, so the accumulator is not re-spelled."""
    # positions = slice(sequence(1, max(n', 1)), 1, n') with
    # n' = min(length, cap): Spark sequence(1, 0) is DESCENDING [1, 0]
    # (the r4 trap), which made the EMPTY string fold two zeros where
    # DuckDB's generate_series(1, 0) folds none (caught by the longdoc
    # sweep's trailing-space split token); the slice yields [] for the
    # empty string and is a no-op otherwise.
    n = f"least(length({expr}), {FNV_MAX_CHARS})"
    return (
        f"aggregate(transform(slice(sequence(1, greatest({n}, 1)), "
        f"1, {n}), "
        f"i -> cast(ascii(substring({expr}, i, 1)) as bigint)), "
        f"cast({FNV_BASIS} as bigint), "
        f"(acc, x) -> ((acc ^ x) * {FNV_PRIME}) & 4294967295, "
        f"acc -> IF(length({expr}) > {FNV_MAX_CHARS}, "
        f"((acc ^ length({expr})) * {FNV_PRIME}) & 4294967295, acc))"
    )


def fnv1a32_duckdb_sql(expr: str) -> str:
    """DuckDB-SQL twin of :func:`fnv1a32_spark_sql` — same fold, DuckDB
    spelling (list_reduce has no init argument, so list_prepend supplies
    the offset basis; xor() instead of ^, ord() instead of ascii();
    no finish lambda, so the length-fold wraps in a CASE)."""
    h = (
        f"list_reduce(list_prepend(CAST({FNV_BASIS} AS BIGINT), "
        f"list_transform(generate_series(1, least(length({expr}), "
        f"{FNV_MAX_CHARS})), "
        f"i -> CAST(ord(substr({expr}, i, 1)) AS BIGINT))), "
        f"(acc, x) -> (xor(acc, x) * {FNV_PRIME}) & 4294967295)"
    )
    return (
        f"(CASE WHEN length({expr}) > {FNV_MAX_CHARS} "
        f"THEN (xor({h}, length({expr})) * {FNV_PRIME}) & 4294967295 "
        f"ELSE {h} END)"
    )


def cutoff32(fraction: float) -> int:
    """Integer threshold for 'hash falls in the first ``fraction`` of the
    space'. Comparing the hash against an integer cutoff avoids any
    float-division/representation question across engines entirely."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return int(fraction * HASH_SPACE)


# ---------------------------------------------------------------------------
# Portable word-combine minhash (oracle tier of the MinHash pipeline).
# Signature hash of a k-word shingle = FNV-1a of each word, folded with
# multiply-by-prime — every intermediate < 2^56, exact in both engines'
# 64-bit integer arithmetic. The production tier (operators/dedup.py)
# keeps the Arrow xxhash kernel; this tier exists so band agreement is
# bit-for-bit DuckDB-checkable.
# ---------------------------------------------------------------------------

def word_hashes_duckdb_sql(words_expr: str) -> str:
    """DuckDB: FNV-1a of each word of a list of strings — computed ONCE
    per document; every seed's minhash then derives from this list (the
    chars are the expensive part, the seed only perturbs the fold).
    Per-word folds are length-capped like :func:`fnv1a32_spark_sql` (a
    megabyte 'word' is otherwise O(len²) inside one lambda)."""
    h = (
        f"list_reduce(list_prepend(CAST({FNV_BASIS} AS BIGINT), "
        f"list_transform(generate_series(1, least(length(wd), "
        f"{FNV_MAX_CHARS})), "
        f"p -> CAST(ord(substr(wd, p, 1)) AS BIGINT))), "
        f"(a, x) -> (xor(a, x) * {FNV_PRIME}) & 4294967295)"
    )
    return (
        f"list_transform({words_expr}, wd -> "
        f"CASE WHEN length(wd) > {FNV_MAX_CHARS} "
        f"THEN (xor({h}, length(wd)) * {FNV_PRIME}) & 4294967295 "
        f"ELSE {h} END)"
    )


def _shingle_fold(items: list, seed: int) -> str:
    """Seeded multiply-prime fold over k word hashes; every intermediate
    < 2^56, masked back to 32 bits each step — exact in both engines."""
    acc = f"CAST({(FNV_BASIS + seed) & 0xFFFFFFFF} AS BIGINT)"
    for it in items:
        acc = f"((({acc}) * {FNV_PRIME} + {it}) & 4294967295)"
    return acc


def minhash_words_spark_sql(wh_expr: str, seed: int, k: int = 3) -> str:
    """Spark-SQL: min over k-word shingles of the seeded shingle hash,
    given ``wh_expr`` — a per-word FNV-1a hash array (0-based bracket
    indexing)."""
    fold = _shingle_fold([f"{wh_expr}[i + {j}]" for j in range(k)], seed)
    return (
        f"array_min(transform(sequence(0, size({wh_expr}) - {k}), "
        f"i -> {fold}))"
    )


def minhash_words_duckdb_sql(wh_expr: str, seed: int, k: int = 3) -> str:
    """DuckDB twin of :func:`minhash_words_spark_sql` (1-based lists, so
    the shingle window shifts by one)."""
    fold = _shingle_fold([f"{wh_expr}[i + {j}]" for j in range(k)], seed)
    return (
        f"list_min(list_transform(generate_series(1, len({wh_expr}) - {k - 1}), "
        f"i -> {fold}))"
    )


# ---------------------------------------------------------------------------
# fmix32 — murmur3's finalizer, the portable avalanche step. FNV-1a alone
# leaves structure (sequential keys ~bijective in the low byte, weakly
# mixed high bits — the same lattice the JL sign matrix hit, CLAUDE.md
# round 4), which biases anything that SPLITS the hash into fields
# (HLL bucket/rho). fmix32 after the fold fixes it. All arithmetic is
# exact signed-64-bit: the 32×32→32 multiplies are split at 16 bits
# (lo*C < 2^48, (hi*C % 2^16)·2^16 < 2^32), so no intermediate reaches
# 2^63 — ANSI-overflow-safe, and DuckDB-replayable.
# ---------------------------------------------------------------------------

FMIX32_C1 = 0x85EBCA6B
FMIX32_C2 = 0xC2B2AE35


def _mul32(expr: str, c: int, div: str) -> str:
    """(expr * c) mod 2^32 without 64-bit overflow: split expr at 16 bits."""
    return (
        f"((({expr}) % 65536) * {c} + "
        f"(((({expr}) {div} 65536) * {c}) % 65536) * 65536) % 4294967296"
    )


def fmix32_duckdb_steps(names: list[str]) -> list[str]:
    """DuckDB: fmix32 as five expressions; ``names[0]`` is the input
    column, each later expression references the previous step's alias
    ``names[i]`` (chain them through separate projections/aliases — each
    step uses its input 2-3×). Same arithmetic as
    :func:`fmix32_spark_inline`."""
    i0, i1, i2, i3, i4 = names[:5]
    return [
        f"xor({i0}, {i0} // 65536)",
        _mul32(i1, FMIX32_C1, "//"),
        f"xor({i2}, {i2} // 8192)",
        _mul32(i3, FMIX32_C2, "//"),
        f"xor({i4}, {i4} // 65536)",
    ]


def fmix32_py(h: int) -> int:
    """Python reference of the same finalizer (tests)."""
    h &= 0xFFFFFFFF
    h ^= h >> 16
    h = (h * FMIX32_C1) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * FMIX32_C2) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def fmix32_spark_inline(expr: str) -> str:
    """fmix32 as ONE nested Spark-SQL expression. Textual nesting copies
    ``expr`` ~72×, so use ONLY for cheap inputs (column arithmetic); an
    expensive input (e.g. the FNV fold) must be aliased in its own
    projection first and referenced here by name."""
    cur = f"({expr})"
    cur = f"({cur} ^ ({cur} div 65536))"
    cur = f"({_mul32(cur, FMIX32_C1, 'div')})"
    cur = f"({cur} ^ ({cur} div 8192))"
    cur = f"({_mul32(cur, FMIX32_C2, 'div')})"
    return f"({cur} ^ ({cur} div 65536))"


def fmix32_duckdb_inline(expr: str) -> str:
    """DuckDB twin of :func:`fmix32_spark_inline`."""
    cur = f"({expr})"
    cur = f"xor({cur}, {cur} // 65536)"
    cur = f"({_mul32(cur, FMIX32_C1, '//')})"
    cur = f"xor({cur}, {cur} // 8192)"
    cur = f"({_mul32(cur, FMIX32_C2, '//')})"
    return f"xor({cur}, {cur} // 65536)"
