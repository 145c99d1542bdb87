"""Data-integrity audit operators: the id / referential census algebra.

The reference migrates collections independently (index.js:99-108 loops
``async.eachLimit`` over collection names) and never inspects keys, so a
migrated corpus can silently carry duplicate or NULL primary ids and
cross-collection orphans. These operators are the post-migration audit —
and the shared spelling behind the batch queries
(``plans/llm_ops.id_integrity_qa`` / ``referential_integrity_qa``).

The algebra is deliberately MERGEABLE: the census consumes per-id COUNT
partials, and integer counts sum associatively, so the same
:func:`id_census` runs over a one-pass batch aggregate or over a
merge-on-read of per-batch partial logs with bit-identical output.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: census output schema minus the grouping columns — pinned here so the
#: empty-store reader can mint a schema-identical empty frame.
CENSUS_FIELDS = (
    "n_rows long, n_null_id long, n_distinct_id long, n_dup_excess long, "
    "max_id_multiplicity long, min_id long, max_id long"
)


def per_id_counts(
    df: DataFrame, id_col: str, extra: Sequence[Column] = ()
) -> DataFrame:
    """(id, c) count partials for one table — the mergeable unit.

    The id is canonicalized to LONG at the source (the r6 rule: any
    hash- or merge-routed key must have ONE type; int 5 and long 5 are
    different keys). ``extra`` prepends constant tag columns (e.g. a
    ``table_name`` literal) so multi-table censuses union before the
    single grouped aggregate instead of running one job per table.
    """
    return df.groupBy(
        *extra, F.col(id_col).cast("long").alias("id")
    ).agg(F.count(F.lit(1)).alias("c"))


def id_census(per_id: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """Primary-id integrity census over (``*group_cols``, id, c) partials.

    Counts per group: total rows, NULL-id rows, distinct non-NULL ids,
    duplicate-excess rows (rows beyond the first per id), worst per-id
    multiplicity, and the id range. All exact integer arithmetic. NULL
    ids form an ordinary group in the partials and are reported
    separately — never silently dropped (the r8 nulls-sweep rule) and
    never counted as distinct/duplicate.

    With ``group_cols`` the empty-input shape matches an oracle's GROUP
    BY: a table contributing no rows has no groups, so its census row is
    ABSENT (a global aggregate would mint an all-NULL row — empty sweep).
    """
    return per_id.groupBy(*group_cols).agg(
        F.sum("c").alias("n_rows"),
        F.sum(F.when(F.col("id").isNull(), F.col("c")).otherwise(F.lit(0)))
        .alias("n_null_id"),
        F.sum(F.when(F.col("id").isNotNull(), 1).otherwise(0))
        .alias("n_distinct_id"),
        F.sum(
            F.when(
                F.col("id").isNotNull() & (F.col("c") > 1), F.col("c") - 1
            ).otherwise(F.lit(0))
        ).alias("n_dup_excess"),
        F.max(F.when(F.col("id").isNotNull(), F.col("c")))
        .alias("max_id_multiplicity"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )
