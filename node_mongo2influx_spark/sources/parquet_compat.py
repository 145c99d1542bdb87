"""Timestamp-robust parquet reader (nanos and NTZ drift absorbed here).

Fixture parquet files have drifted between rounds:

* ``TIMESTAMP(NANOS)`` — Spark's vectorized reader rejects it
  ([PARQUET_TYPE_ILLEGAL]). The supported escape is
  ``spark.sql.legacy.parquet.nanosAsLong`` — nanos come in as LongType —
  after which Spark has lost which longs were timestamps. We recover that
  from the parquet footer (pyarrow, driver-side metadata read — one footer
  per table, no data scan) and rebuild ``TimestampType`` columns with
  ``timestamp_micros(v div 1000)``.
* ``TIMESTAMP(MICROS, isAdjustedToUTC=false)`` — Spark reads this as
  ``TIMESTAMP_NTZ``, which ``unix_micros()`` / RANGE window frames reject.
  The engine pins the session timezone to UTC (engine.py), so
  ``cast("timestamp")`` is a pure type relabel — the stored micros value is
  unchanged — and matches what the DuckDB oracles already see.

Both conversions are Column expressions (JVM-side, codegen-friendly), and
this module is the single choke point every fixture read goes through, so
the next nanos ↔ micros ↔ NTZ drift is absorbed in one place.
"""

from __future__ import annotations

import pathlib
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: The nanosAsLong conf is session-global; concurrent reads (Engine.migrate
#: runs table_concurrency threads) must not interleave their set/restore
#: windows or one thread's restore breaks another's analysis.
_CONF_LOCK = threading.Lock()


def _timestamp_columns(path: str) -> tuple[list[str], list[str]]:
    """(nanos columns, NTZ non-nanos columns) from the parquet footer."""
    import pyarrow.parquet as pq
    import pyarrow.types as pt

    first = path
    p = pathlib.Path(path)
    if p.is_dir():
        parts = sorted(p.glob("*.parquet"))
        if not parts:
            return [], []
        first = str(parts[0])
    # Spark writes timestamps as INT96, which pyarrow would report as nanos;
    # coercing INT96 to micros reports what Spark reads back.
    schema = pq.ParquetFile(first, coerce_int96_timestamp_unit="us").schema_arrow
    nanos, ntz = [], []
    for f in schema:
        if not pt.is_timestamp(f.type):
            continue
        if f.type.unit == "ns":
            nanos.append(f.name)
        elif f.type.tz is None:
            ntz.append(f.name)
    return nanos, ntz


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` that tolerates NANOS and NTZ timestamp columns."""
    ns_cols, ntz_cols = _timestamp_columns(path)
    if not ns_cols and not ntz_cols:
        return spark.read.parquet(path)
    if ns_cols:
        with _CONF_LOCK:
            prev = spark.conf.get(
                "spark.sql.legacy.parquet.nanosAsLong", "false"
            )
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            try:
                df = spark.read.parquet(path)
                # Force plan analysis while the conf is set.
                df.schema
            finally:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    else:
        df = spark.read.parquet(path)
    fixes = {c: F.timestamp_micros(F.expr(f"`{c}` div 1000")) for c in ns_cols}
    # NTZ→LTZ is value-identical under the engine's pinned UTC session tz.
    fixes.update({c: F.col(c).cast("timestamp") for c in ntz_cols})
    return df.withColumns(fixes)
