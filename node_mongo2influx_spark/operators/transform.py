"""Declarative per-row transform — the Spark-first `prepareFunction`.

The reference's entire extensibility surface is one arbitrary JS callback
applied to every document one at a time (/root/reference/index.js:234,
contract README.md:6-7; canonical implementation examples/migrate.js:27-38:
drop ``_id``, copy ``date`` → ``time``, drop ``date``).

At 100 TB a row-at-a-time Python callback is the slow path, so the engine's
primary transform surface is a **declarative spec compiled to Column
expressions** — drop / rename / cast / computed columns / filter all stay
inside Catalyst + whole-stage codegen. For genuinely opaque transforms there
is an Arrow-batched ``mapInPandas`` escape hatch (``batch_fn``), never a
row-at-a-time Python UDF.

Semantics deltas vs the reference (SURVEY.md §4.3):

* time validity is ``IS NOT NULL``, not JS truthiness — epoch-0 timestamps
  survive (deliberate deviation, index.js:235 drops them).
* skipped-row accounting is one-pass via ``DataFrame.observe`` instead of a
  driver-side counter (index.js:191, 236).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Mapping, Sequence
from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Optional

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

if TYPE_CHECKING:
    import pandas as pd

#: Signature of the Arrow-batched escape hatch: an iterator of pandas
#: DataFrames in, an iterator of pandas DataFrames out (mapInPandas contract).
BatchFn = Callable[["Iterator[pd.DataFrame]"], "Iterator[pd.DataFrame]"]


@dataclass
class TransformSpec:
    """Declarative row transform applied before the time-validity filter.

    Stages run in a fixed order: ``batch_fn`` (if any) → ``rename`` → ``drop``
    → ``cast`` → ``set`` → ``where``. The reference's canonical example
    (examples/migrate.js:27-38) is::

        TransformSpec(rename={"date": "time"}, drop=["_id"])

    Attributes:
        rename:   old → new column names (reference T3).
        drop:     columns to remove (reference T2).
        cast:     column → Spark SQL type string, e.g. ``{"value": "double"}``.
        set:      new/replaced columns as SQL expression strings, e.g.
                  ``{"day": "date_trunc('day', time)"}``. Expressions are
                  Catalyst-compiled — the 100 TB-safe way to compute.
        where:    optional SQL predicate applied after the above.
        time_column: the column that must be non-null for a row to survive
                  (reference F1, index.js:235). ``None`` disables the filter.
        batch_fn: optional Arrow-batched transform (mapInPandas). Requires
                  ``batch_schema`` describing the output.
        batch_schema: DDL schema string for ``batch_fn`` output.
    """

    rename: Mapping[str, str] = field(default_factory=dict)
    drop: Sequence[str] = ()
    cast: Mapping[str, str] = field(default_factory=dict)
    set: Mapping[str, str] = field(default_factory=dict)
    where: Optional[str] = None
    time_column: Optional[str] = "time"
    batch_fn: Optional[BatchFn] = None
    batch_schema: Optional[str] = None

    def compile(self, df: DataFrame) -> DataFrame:
        """Apply the transform stages (no time filter, no accounting)."""
        if self.batch_fn is not None:
            if not self.batch_schema:
                raise ValueError("batch_fn requires batch_schema")
            df = df.mapInPandas(self.batch_fn, schema=self.batch_schema)
        # Renames first so drop/cast/set refer to final names, matching how
        # the reference example mutates the row in place.
        for old, new in self.rename.items():
            df = df.withColumnRenamed(old, new)
        if self.drop:
            df = df.drop(*self.drop)
        casts: dict[str, Column] = {
            c: F.col(c).cast(t) for c, t in self.cast.items()
        }
        if casts:
            df = df.withColumns(casts)
        sets: dict[str, Column] = {c: F.expr(e) for c, e in self.set.items()}
        if sets:
            df = df.withColumns(sets)
        if self.where:
            df = df.where(self.where)
        return df

    def apply(self, df: DataFrame) -> tuple[DataFrame, Observation]:
        """Transform, filter invalid-time rows, attach skip accounting.

        Returns ``(valid_rows_df, observation)``. After the returned frame is
        consumed by an action, ``observation.get`` yields ``rows_in`` /
        ``rows_skipped`` — the one-pass equivalent of the reference's
        ``rowsSkipped`` counter and success-rate log (index.js:271-272),
        with no second scan. The observe() node must see pre-filter rows,
        which pins the filter above the scan.
        """
        out = self.compile(df)
        obs = Observation()
        if self.time_column is None:
            # No validity filter, but still count rows one-pass so sinks
            # that can't count (files) report accurate totals.
            return out.observe(
                obs,
                F.count(F.lit(1)).alias("rows_in"),
                F.lit(0).cast("long").alias("rows_skipped"),
            ), obs
        t = F.col(self.time_column)
        out = out.observe(
            obs,
            F.count(F.lit(1)).alias("rows_in"),
            F.count(F.when(t.isNull(), 1)).alias("rows_skipped"),
        )
        return out.where(t.isNotNull()), obs
