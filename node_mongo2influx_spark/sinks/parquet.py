"""Parquet directory sink: one sub-directory per series.

The scale-correct default destination: columnar, splittable, exactly-once via
Spark's file commit protocol. Truncate-then-load (reference `emptySeries`,
index.js:321-336) is atomic per series, unlike the reference's separate
DELETE round-trip: the new series is built beside the live one and promoted
by :func:`swap_dir`, so a write that fails leaves the old rows in place.
"""

from __future__ import annotations

import pathlib
import shutil

from pyspark.sql import DataFrame

from node_mongo2influx_spark.sinks.base import Sink


def range_sorted_write(
    df: DataFrame, path: str, cols: tuple[str, ...], n_files: int
) -> None:
    """Range-clustered layout: ``repartitionByRange`` + ``sortWithin
    Partitions`` on ``cols`` before writing, so each output file covers a
    DISJOINT key range and its parquet footer min/max actually prunes.
    At 100 TB this is the difference between a point lookup opening every
    file and opening one — rowgroup statistics are useless when every file
    spans the whole key domain (the default hash layout). The write itself
    is one extra range-exchange; do it once at load time, save it on every
    downstream scan."""
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def _swap_paths(
    target: pathlib.Path, suffix: str
) -> tuple[pathlib.Path, pathlib.Path]:
    """The (tmp, old) siblings a ``suffix`` swap of ``target`` uses, e.g.
    ``events__compact_tmp`` / ``events__compact_old``."""
    return (
        target.with_name(f"{target.name}__{suffix}_tmp"),
        target.with_name(f"{target.name}__{suffix}_old"),
    )


def recover_swap(target: pathlib.Path, suffix: str) -> None:
    """Roll back an interrupted :func:`swap_dir`. The swap is two renames
    (live → old, tmp → live), so a crash leaves either leftovers beside a
    live ``target`` (removed) or no live directory, in which case the old
    one is restored. Pure pathlib, no Spark job."""
    tmp, old = _swap_paths(target, suffix)
    if not target.exists() and old.exists():
        old.rename(target)
    for d in (tmp, old):
        if d.exists():
            shutil.rmtree(d)


def swap_dir(target: pathlib.Path, build, suffix: str) -> None:
    """Crash-safe in-place replacement of the directory ``target``:
    ``build(tmp)`` writes the new contents beside it, the live directory
    is renamed aside, the tmp promoted and the old removed. Readers see
    the old or the new directory, and ``target`` is missing only between
    two renames, never between a delete and a rename. Run
    :func:`recover_swap` with the same ``suffix`` first (before reading
    ``target``); it also repairs whatever a crash here leaves. On object
    stores use a manifest instead. A missing ``target`` is created, with
    the same guarantee: it appears complete or not at all."""
    tmp, old = _swap_paths(target, suffix)
    build(tmp)
    if target.exists():
        target.rename(old)
    tmp.rename(target)
    if old.exists():
        shutil.rmtree(old)


class ParquetSink(Sink):
    def __init__(self, path: str) -> None:
        self.path = pathlib.Path(path)
        self._truncated: set[str] = set()

    def write(self, df: DataFrame, series: str) -> int:
        # A pending truncate is used up by this write even if it fails, so
        # a later append run cannot inherit it and replace the series. An
        # append, too, first repairs a load swap that crashed mid-rename.
        target = self.path / series
        recover_swap(target, "load")
        if series in self._truncated:
            self._truncated.discard(series)
            swap_dir(target, lambda tmp: df.write.parquet(str(tmp)), "load")
        else:
            df.write.mode("append").parquet(str(target))
        return -1

    def truncate(self, series: str) -> None:
        # Deferred to the next write, which swaps the new series in
        # (``__load_tmp`` / ``__load_old``): no window where the series is
        # empty, unlike the reference's DELETE-then-insert (index.js:328).
        self._truncated.add(series)

    def compact(self, df_reader, series: str, target_file_bytes: int = 128 << 20) -> int:
        """Small-file compaction: rewrite a series into files of
        ~``target_file_bytes`` (read current size from disk, coalesce to
        ceil(size/target) output tasks). Repeated appends and streaming
        micro-batches accumulate small files; at 100 TB the scan-open
        cost of millions of tiny files dominates, so compaction is a
        first-class maintenance op. Returns the new file count.

        ``df_reader`` is a callable path→DataFrame (pass
        ``lambda p: spark.read.parquet(p)`` or the nanos-safe
        ``parquet_compat.read_parquet`` partial) so the sink stays
        session-free.

        Crash-safe through :func:`swap_dir` (``__compact_tmp`` /
        ``__compact_old``); a crash between its renames rolls back to the
        uncompacted series, which holds the same rows.
        """
        if target_file_bytes < 1:
            raise ValueError(
                f"target_file_bytes must be >= 1, got {target_file_bytes}"
            )
        target = self.path / series
        recover_swap(target, "compact")
        files = [p for p in target.rglob("*.parquet") if p.is_file()]
        total = sum(p.stat().st_size for p in files)
        n_out = max(1, -(-total // target_file_bytes))
        df = df_reader(str(target))
        writer = df.coalesce(int(n_out)).write.mode("overwrite")
        swap_dir(target, lambda tmp: writer.parquet(str(tmp)), "compact")
        return len([p for p in target.rglob("*.parquet") if p.is_file()])
