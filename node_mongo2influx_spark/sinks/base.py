"""Sink contract.

The reference's sink surface is two operations (/root/reference/index.js):
batched append (`writePoints`, :242) and truncate-then-load (`DELETE FROM
<series> WHERE time < now()`, :328, gated on `emptySeries` :307-315). A sink
here is the same: ``write(df, series)`` and optional ``truncate(series)``.
Only ``ParquetSink`` truncates atomically (the next write swaps a new series
in); the Influx sink keeps the reference's DELETE-then-write.

Idempotency note (SURVEY.md §7 hard-part 1): Spark retries failed tasks, so a
non-transactional sink (HTTP endpoints like InfluxDB) can receive duplicate
partitions. File sinks are exactly-once via Spark's commit protocol;
record-pushing sinks should either dedup on (series, time, row-hash) server
side or accept at-least-once — we document, not hide, this.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class Sink:
    """Destination for one-table-per-series writes."""

    #: Every sink implements ``truncate`` (by deletion or as a swap).
    supports_truncate: bool = True

    def write(self, df: DataFrame, series: str) -> int:
        """Append ``df`` as series ``series``. Returns rows written when the
        write path can count them cheaply, else -1 (caller falls back to the
        observation counters)."""
        raise NotImplementedError

    def truncate(self, series: str) -> None:
        """Delete existing contents of ``series`` (reference `emptySeries`,
        index.js:321-336). ``ParquetSink`` defers it to the next write,
        which replaces the series atomically; see subclasses."""
        raise NotImplementedError
