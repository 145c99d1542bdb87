"""Portable finite-measure validity — NaN/±Inf readings become NULL.

A Mongo double field can hold NaN and ±Infinity (and the reference's
own sink rejects them: InfluxDB line protocol has no non-finite field
representation, so a migrated non-finite reading is a write error at
the destination). Inside the engine they are worse than invalid —
they are NON-PORTABLE: Spark groups/orders NaN as a largest value equal
to itself while DuckDB's aggregates and comparisons follow different
rules, Spark's ANSI CAST of ±Inf to BIGINT raises where DuckDB's error
differs, and DuckDB's STDDEV raises outright on Inf (all measured by
tools/nonfinite_fixtures.py, round 8).

The contract: a non-finite measure is an INVALID READING — it becomes
NULL at the query's input, on both engine sides, and the existing
NULL-measure discipline (proved by the nullify sweep) takes over. The
row itself survives: the event happened, its reading didn't. Queries
whose cross-engine arithmetic already agrees under IEEE propagation and
never quantizes to integers don't need the guard; every query that
quantizes (exact-integer cents paths), ranks/percentiles, or feeds
variance does.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def finite_measure(col: Column | str) -> Column:
    """Spark Column: ``col`` when finite, NULL otherwise (NULL stays NULL)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(~F.isnan(c) & (F.abs(c) != F.lit(float("inf"))), c)
