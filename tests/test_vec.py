"""The vector-validity contract (functions/vec, round 10; extended r11).

Pins the spellings — Spark SQL text, DuckDB oracle SQL, the Python
kernel twin and the ``vector_class`` Column — to IDENTICAL verdicts on every
hostile vector class the embedding sweep injects, and the operator-level
behavior the contract promises (unusable rows excluded, never crashed
on; zero vectors answer nothing and match nothing).

r11 extension: the usable domain is maxabs ∈ [1e-160, 1e150]. DOUBLE
vectors below the floor have norm² = 0 (every square underflows) and
RAISED ANSI DIVIDE_BY_ZERO through the r10 guard (reproduced live);
vectors above the ceiling overflow norm² to Inf and minted NaN cosines.
Both are excluded now, and knn over them must return cleanly.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from node_mongo2influx_spark.functions import vec as vecf
from node_mongo2influx_spark.operators import similarity

NAN = float("nan")
INF = float("inf")

#: (vec_id, vector, expected class) — one row per contract class, plus
#: edge rows: denormal (usable: float32's smallest magnitude 1.4e-45 is
#: far above the 1e-160 usable floor), exactly-at-bound (|x| = 100 is IN
#: the statistics domain; the predicate is strictly >), and
#: negative-zero-only (abs(-0.0) = 0.0, so a vector of -0.0s is still
#: direction-free).
CASES = [
    (0, [0.5, -0.25, 0.125, 1.0], "ok"),
    (1, [0.0, 0.0, 0.0, 0.0], "zero"),
    (2, None, "missing"),
    (3, [0.5, None, 0.125, 1.0], "invalid"),
    (4, [0.5, NAN, 0.125, 1.0], "invalid"),
    (5, [0.5, INF, 0.125, 1.0], "invalid"),
    (6, [0.5, -INF, 0.125, 1.0], "invalid"),
    (7, [3e38, -0.25, 0.125, 1.0], "outlier"),
    (8, [1.5e-41, 0.0, 0.0, 0.0], "ok"),       # denormal float32, usable
    (9, [100.0, -100.0, 0.0, 0.0], "ok"),      # exactly at the bound
    (10, [-0.0, -0.0, -0.0, -0.0], "zero"),
]

#: DOUBLE-typed magnitude classes a float32 column cannot carry — the
#: r11 hazard zones plus their just-inside edges.
CASES_DOUBLE = [
    (20, [1e-200, 0.0, 0.0, 0.0], "zero"),      # norm² underflow → 0 divisor
    (21, [1e-160, 0.0, 0.0, 0.0], "ok"),        # exactly at the floor
    (22, [9e-161, 0.0, 0.0, 0.0], "zero"),      # just below the floor
    (23, [1e200, 1.0, 0.0, 0.0], "invalid"),    # norm² overflow → NaN cosine
    (24, [1e150, 0.0, 0.0, 0.0], "outlier"),    # exactly at the ceiling
    (25, [2e150, 0.0, 0.0, 0.0], "invalid"),    # just above the ceiling
    (26, [0.5, 0.5, 0.0, 0.0], "ok"),
]

USABLE = {i for i, _, c in CASES if c in ("ok", "outlier")}
BOUNDED = {i for i, _, c in CASES if c == "ok"}
USABLE_D = {i for i, _, c in CASES_DOUBLE if c in ("ok", "outlier")}


@pytest.fixture(scope="module")
def hostile(spark):
    df = spark.createDataFrame(
        [(i, v) for i, v, _ in CASES], "vec_id long, embedding array<float>"
    )
    return df.localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def hostile_double(spark):
    df = spark.createDataFrame(
        [(i, v) for i, v, _ in CASES_DOUBLE],
        "vec_id long, embedding array<double>",
    )
    return df.localCheckpoint(eager=True)


def test_usable_and_bounded_column_spellings(spark, hostile):
    got_sql = {
        r["vec_id"]
        for r in hostile.where(
            F.expr(vecf.usable_vector_sql("embedding"))
        ).collect()
    }
    assert got_sql == USABLE
    got_b_sql = {
        r["vec_id"]
        for r in hostile.where(
            F.expr(vecf.bounded_vector_sql("embedding"))
        ).collect()
    }
    assert got_b_sql == BOUNDED


def test_double_magnitude_classes_all_spellings(spark, hostile_double):
    got_sql = {
        r["vec_id"]
        for r in hostile_double.where(
            F.expr(vecf.usable_vector_sql("embedding"))
        ).collect()
    }
    assert got_sql == USABLE_D
    cls = {
        r["vec_id"]: r["cls"]
        for r in hostile_double.select(
            "vec_id", vecf.vector_class(F.col("embedding")).alias("cls")
        ).collect()
    }
    assert cls == {i: c for i, _, c in CASES_DOUBLE}


def test_vector_class_column(spark, hostile):
    got = {
        r["vec_id"]: r["cls"]
        for r in hostile.select(
            "vec_id", vecf.vector_class(F.col("embedding")).alias("cls")
        ).collect()
    }
    assert got == {i: c for i, _, c in CASES}


def _duckdb_verdicts(df):
    import duckdb

    con = duckdb.connect()
    tbl = df.toArrow()  # noqa: F841 — registered by name below
    con.register("embeddings", tbl)
    return con.sql(
        f"SELECT vec_id, {vecf.usable_vector_duckdb_sql('embedding')} AS u,"
        f" {vecf.bounded_vector_duckdb_sql('embedding')} AS b,"
        f" {vecf.vector_class_duckdb_sql('embedding')} AS cls"
        " FROM embeddings"
    ).fetchall()


def test_duckdb_twins_agree(hostile):
    rows = _duckdb_verdicts(hostile)
    got_u = {vid for vid, u, _, _ in rows if u}
    got_b = {vid for vid, _, b, _ in rows if b}
    got_cls = {vid: cls for vid, _, _, cls in rows}
    assert got_u == USABLE
    assert got_b == BOUNDED
    assert got_cls == {i: c for i, _, c in CASES}


def test_duckdb_twins_agree_double(hostile_double):
    rows = _duckdb_verdicts(hostile_double)
    got_u = {vid for vid, u, _, _ in rows if u}
    got_cls = {vid: cls for vid, _, _, cls in rows}
    assert got_u == USABLE_D
    assert got_cls == {i: c for i, _, c in CASES_DOUBLE}


def test_python_twin_agrees():
    for i, v, c in CASES:
        assert vecf.usable_vector_py(v) == (i in USABLE), (i, v, c)
    for i, v, c in CASES_DOUBLE:
        assert vecf.usable_vector_py(v) == (i in USABLE_D), (i, v, c)


def test_knn_excludes_unusable_rows(spark, hostile):
    # zero/NULL/invalid rows are absent from BOTH sides of the join: no
    # neighbors for an unusable query, never a neighbor when unusable —
    # and no DIVIDE_BY_ZERO from the zero norm (ANSI mode, embed sweep).
    out = similarity.knn_cosine(hostile, hostile, k=10).collect()
    qids = {r["query_id"] for r in out}
    nids = {r["neighbor_id"] for r in out}
    assert qids == USABLE
    assert nids <= USABLE
    for r in out:
        assert r["cosine"] is not None and not math.isnan(r["cosine"])


def test_knn_survives_double_magnitude_hazards(spark, hostile_double):
    # the r11 repro: through the r10 guard, row 20 (norm² underflow)
    # RAISED ANSI DIVIDE_BY_ZERO and row 23 (norm² overflow) minted NaN
    # cosines. Both are out-of-contract now; knn returns finite scores
    # over the surviving rows only.
    out = similarity.knn_cosine(hostile_double, hostile_double, k=10).collect()
    qids = {r["query_id"] for r in out}
    assert qids == USABLE_D
    for r in out:
        assert r["cosine"] is not None and not math.isnan(r["cosine"])


def test_lsh_excludes_unusable_rows(spark, hostile, hostile_double):
    # the r11 split guard: bucket branches rely on the kernel's
    # usable_mask_np (NULL elements arrive as NaN under dtype=float64),
    # features branches on the JVM guard — hostile rows must neither
    # crash the Arrow kernel nor appear on either side of the output.
    for frame, usable in ((hostile, USABLE), (hostile_double, USABLE_D)):
        out = similarity.knn_cosine_lsh(
            frame, frame, k=10, n_planes=2, n_tables=4, dim=4
        ).collect()
        assert {r["query_id"] for r in out} <= usable
        assert {r["neighbor_id"] for r in out} <= usable
        for r in out:
            assert r["cosine"] is not None and not math.isnan(r["cosine"])
    pairs = similarity.cosine_pairs_lsh(
        hostile, threshold=0.0, n_planes=2, n_tables=4, dim=4
    ).collect()
    ids = {r["vec_a"] for r in pairs} | {r["vec_b"] for r in pairs}
    assert ids <= USABLE


def test_denormal_direction_survives(spark, hostile):
    # cosine(eps·x, x) == 1: the tiny-magnitude class keeps its
    # direction because every product/norm is computed in double
    big = spark.createDataFrame(
        [(100, [1.5e-2, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    out = similarity.knn_cosine(hostile.union(big), big, k=3).collect()
    by_n = {r["neighbor_id"]: r["cosine"] for r in out}
    assert by_n[8] == pytest.approx(1.0)  # the denormal row, same direction
