"""Portable-hash primitives (functions/phash.py): the fmix32 finalizer's
three spellings — Python reference, DuckDB SQL (steps and inline), Spark
SQL (inline) — must agree bit-for-bit, including at the 32-bit
extremes where a naive multiply would overflow signed 64-bit. Every
sketch (HLL, Count-Min, Bloom) and the JL/SRP planes route through these;
a drift here silently rots every oracle built on them."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from node_mongo2influx_spark.functions.phash import (
    fmix32_duckdb_inline,
    fmix32_duckdb_steps,
    fmix32_py,
    fmix32_spark_inline,
)

#: extremes + structured values (the lattice cases raw FNV fails on)
CASES = [0, 1, 2, 255, 256, 65535, 65536, 12345, 2**31 - 1, 2**31,
         2**32 - 1, 2166136261, 0x9E3779B1]


def test_duckdb_inline_matches_python():
    con = duckdb.connect()
    for v in CASES:
        got = con.sql(
            f"SELECT {fmix32_duckdb_inline(f'CAST({v} AS BIGINT)')}"
        ).fetchone()[0]
        assert got == fmix32_py(v), v


def test_duckdb_steps_match_python():
    con = duckdb.connect()
    names = ["f0", "f1", "f2", "f3", "f4"]
    for v in CASES:
        sql = f"SELECT CAST({v} AS BIGINT) AS f0"
        for i, ex in enumerate(fmix32_duckdb_steps(names)):
            sql = f"SELECT *, {ex} AS f{i + 1} FROM ({sql})"
        got = con.sql(f"SELECT f5 FROM ({sql})").fetchone()[0]
        assert got == fmix32_py(v), v


def test_spark_inline_and_steps_match_python(spark):
    rows = spark.createDataFrame([(v,) for v in CASES], "v long")
    inline = rows.select(
        "v", F.expr(fmix32_spark_inline("v")).alias("h")
    ).collect()
    assert {r["v"]: r["h"] for r in inline} == {
        v: fmix32_py(v) for v in CASES
    }


def test_avalanche_no_low_byte_lattice(spark):
    # the property the finalizer exists for: sequential inputs must not
    # be near-bijective in the low byte (raw FNV is — the HLL bias bug)
    n = 512
    rows = spark.range(n).select(
        F.expr(fmix32_spark_inline("id")).alias("h")
    )
    low = rows.select(F.pmod(F.col("h"), F.lit(256)).alias("b"))
    distinct_b = low.distinct().count()
    # uniform expectation: 256·(1−e^{−2}) ≈ 221; a bijective lattice
    # would land near min(n, 256) = 256 — require the collision regime
    assert 180 <= distinct_b <= 245, distinct_b
