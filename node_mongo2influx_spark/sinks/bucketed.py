"""Bucketed-table sink: destination layout as a query accelerator.

Writing a migrated series bucketed+sorted on its entity key means every
downstream join/aggregation on that key runs with zero Exchange
(tests/test_bucketing.py proves the plan shape). This is the sink to use
when the destination is itself the analytics store rather than a handoff.

Bucketing requires the session catalog (``saveAsTable``), so series land as
tables ``<prefix><series>`` in the warehouse, not bare paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from node_mongo2influx_spark.sinks.base import Sink


class BucketedTableSink(Sink):
    def __init__(
        self,
        bucket_by: str,
        n_buckets: int = 64,
        table_prefix: str = "m2s_",
        sort: bool = True,
    ) -> None:
        self.bucket_by = bucket_by
        self.n_buckets = n_buckets
        self.table_prefix = table_prefix
        self.sort = sort
        self._truncated: set[str] = set()

    def _table(self, series: str) -> str:
        # saveAsTable identifiers: keep to a safe charset.
        safe = "".join(c if c.isalnum() or c == "_" else "_" for c in series)
        return f"{self.table_prefix}{safe}"

    def write(self, df: DataFrame, series: str) -> int:
        if self.bucket_by not in df.columns:
            raise ValueError(
                f"bucket column {self.bucket_by!r} not in {series!r} "
                f"columns {df.columns}"
            )
        mode = "overwrite" if series in self._truncated else "append"
        writer = df.write.mode(mode).bucketBy(self.n_buckets, self.bucket_by)
        if self.sort:
            writer = writer.sortBy(self.bucket_by)
        writer.saveAsTable(self._table(series))
        self._truncated.discard(series)
        return -1

    def truncate(self, series: str) -> None:
        # Realized as overwrite on next write (atomic), like ParquetSink.
        self._truncated.add(series)
