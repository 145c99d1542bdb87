"""Parquet sink layout and maintenance: small-file compaction, its
crash-safe directory swap, and range-clustered writes whose file footers
prune point lookups.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from node_mongo2influx_spark.sinks import ParquetSink
from node_mongo2influx_spark.sinks.parquet import recover_swap, swap_dir


def test_compact_reduces_file_count_preserves_rows(engine, sf_dir, tmp_path):
    spark = engine.spark
    from node_mongo2influx_spark.plans.tables import load

    e = load(spark, sf_dir, "events").select("event_id", "value")
    sink = ParquetSink(str(tmp_path / "cmp"))
    # simulate accumulated small appends
    for i in range(4):
        sink.write(e.repartition(8), "events")
    target = tmp_path / "cmp" / "events"
    before = len(list(target.rglob("*.parquet")))
    assert before >= 32

    after = sink.compact(
        lambda p: spark.read.parquet(p), "events", target_file_bytes=128 << 20
    )
    assert after < before
    back = spark.read.parquet(str(target))
    assert back.count() == 4 * 1000
    assert back.agg(F.sum("value")).first()[0] is not None


def test_range_sorted_write_files_cover_disjoint_key_ranges(engine, sf_dir, tmp_path):
    spark = engine.spark
    from node_mongo2influx_spark.plans.tables import load
    from node_mongo2influx_spark.sinks.parquet import range_sorted_write

    e = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    out = str(tmp_path / "ranged")
    range_sorted_write(e, out, cols=("event_id",), n_files=8)

    import pathlib

    import pyarrow.parquet as pq

    ranges = []
    for f in sorted(pathlib.Path(out).glob("*.parquet")):
        md = pq.read_metadata(str(f))
        lo = min(
            md.row_group(i).column(0).statistics.min
            for i in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(i).column(0).statistics.max
            for i in range(md.num_row_groups)
        )
        ranges.append((lo, hi))
    assert len(ranges) >= 4
    ranges.sort()
    # disjoint: every file's max is below the next file's min
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, ranges
    # and the default hash layout would NOT have this property; prove the
    # read side benefits: a point filter scans far fewer rows than exist
    back = spark.read.parquet(out).where(F.col("event_id") == 500)
    assert back.count() == 1


def test_compact_recovers_from_crashed_prior_run(engine, sf_dir, tmp_path):
    # A crash can leave __compact_tmp (rewrite unfinished) or __compact_old
    # (swap done, cleanup not) — and in the worst interleaving the series
    # dir missing with only __compact_old present. compact() must recover
    # all three without losing rows.
    spark = engine.spark
    from node_mongo2influx_spark.plans.tables import load

    e = load(spark, sf_dir, "events").select("event_id", "value")
    sink = ParquetSink(str(tmp_path / "crash"))
    sink.write(e, "events")
    target = tmp_path / "crash" / "events"
    n = spark.read.parquet(str(target)).count()

    # stale tmp from an unfinished rewrite
    tmp = target.with_name("events__compact_tmp")
    tmp.mkdir()
    (tmp / "junk.parquet").write_bytes(b"not parquet")
    sink.compact(lambda p: spark.read.parquet(p), "events")
    assert not tmp.exists()
    assert spark.read.parquet(str(target)).count() == n

    # crash between the two swap renames: only __compact_old exists
    old = target.with_name("events__compact_old")
    target.rename(old)
    sink.compact(lambda p: spark.read.parquet(p), "events")
    assert not old.exists()
    assert spark.read.parquet(str(target)).count() == n


@pytest.mark.parametrize("target_file_bytes", [0, -5])
def test_compact_rejects_target_below_one(tmp_path, target_file_bytes):
    # checked before the series is read: no ZeroDivisionError, and no
    # silent coalesce to one file
    def reader(path):
        raise AssertionError("compact read the series")

    with pytest.raises(ValueError, match="target_file_bytes must be >= 1"):
        ParquetSink(str(tmp_path)).compact(
            reader, "events", target_file_bytes=target_file_bytes
        )


def _write_store(d, text):
    d.mkdir()
    (d / "part-0.parquet").write_text(text)


def _store_text(d):
    return {p.name: p.read_text() for p in d.iterdir()}


_CRASH_STATES = [
    # crash while the tmp is being written: the live store stays
    ("tmp_partly_written", "live"),
    # crash between the renames: the swap rolls back, even over a
    # complete tmp
    ("live_renamed_aside", "live"),
    ("live_renamed_aside_tmp_partial", "live"),
    # crash before the old store was removed
    ("tmp_promoted_old_kept", "new"),
    ("leftovers_beside_live", "live"),
]


@pytest.mark.parametrize(
    "state, expect, suffix",
    # compaction's swap, then the truncate-then-load swap of ParquetSink.write
    [pytest.param(s, e, "compact", id=f"{s}-{e}") for s, e in _CRASH_STATES]
    + [pytest.param(s, e, "load", id=f"load-{s}-{e}") for s, e in _CRASH_STATES],
)
def test_swap_recovers_every_crash_window(tmp_path, state, expect, suffix):
    # Spark-free: the tmp holds different content from the live store,
    # so rolling forward and rolling back are told apart
    target = tmp_path / "store"
    tmp = tmp_path / f"store__{suffix}_tmp"
    old = tmp_path / f"store__{suffix}_old"
    if state == "tmp_partly_written":
        _write_store(target, "live")
        (tmp / "_temporary").mkdir(parents=True)
    elif state == "live_renamed_aside":
        _write_store(old, "live")
        _write_store(tmp, "new")
    elif state == "live_renamed_aside_tmp_partial":
        _write_store(old, "live")
        (tmp / "_temporary").mkdir(parents=True)
    elif state == "tmp_promoted_old_kept":
        _write_store(target, "new")
        _write_store(old, "live")
    else:
        _write_store(target, "live")
        _write_store(tmp, "new")
        _write_store(old, "stale")

    recover_swap(target, suffix)
    assert _store_text(target) == {"part-0.parquet": expect}
    assert not tmp.exists() and not old.exists()
    # the recovered store swaps cleanly again
    swap_dir(target, lambda d: _write_store(d, "next"), suffix)
    assert _store_text(target) == {"part-0.parquet": "next"}
    assert sorted(p.name for p in tmp_path.iterdir()) == ["store"]


def test_failed_truncate_then_load_keeps_the_series(spark, tmp_path):
    # Truncate-then-load builds the new series beside the live one: a
    # write that fails leaves the old rows readable, and the next one
    # replaces them. The first load creates the series the same way.
    sink = ParquetSink(str(tmp_path / "out"))
    target = tmp_path / "out" / "events"

    def ids():
        return sorted(r.id for r in spark.read.parquet(str(target)).collect())

    sink.truncate("events")
    sink.write(spark.range(3), "events")
    assert ids() == [0, 1, 2]
    sink.truncate("events")
    bad = spark.range(3).select(
        F.expr("CASE WHEN id = 2 THEN raise_error('boom') ELSE id END").alias("id")
    )
    with pytest.raises(Exception, match="boom"):
        sink.write(bad, "events")
    assert ids() == [0, 1, 2]
    sink.truncate("events")
    sink.write(spark.range(5, 7), "events")
    assert ids() == [5, 6]
    # an append first repairs a load swap that crashed between its renames
    target.rename(target.with_name("events__load_old"))
    sink.write(spark.range(7, 8), "events")
    assert ids() == [5, 6, 7]
    assert [p.name for p in target.parent.iterdir()] == ["events"]


def test_rollup_refresh_from_stored_partials_matches_full_recompute(
    spark, sf_dir, tmp_path
):
    # The IVM claim end-to-end: persist the pre-cutoff rollup PARTIALS
    # (count + exact-cent sum/min/max) to parquet, then refresh by merging
    # the stored table with only the delta's partials — never rescanning
    # base events — and get bit-identical results to a full single-pass
    # recompute. Works only because the partials are exact integers:
    # double sums drift under the base/delta reassociation.
    from node_mongo2influx_spark.plans.tables import load

    e = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")

    def partial(df):
        return df.groupBy(
            "event_type", F.window("ts", "5 minutes").start.alias("bucket")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("c_sum"),
            F.min(cents).alias("c_min"),
            F.max(cents).alias("c_max"),
        )

    cutoff = "2024-01-20 00:00:00"
    store = str(tmp_path / "rollup_store")
    partial(e.where(F.col("ts") < cutoff)).write.parquet(store)

    stored = spark.read.parquet(store).select(
        "event_type", "bucket",
        F.col("n").alias("bn"), F.col("c_sum").alias("bs"),
        F.col("c_min").alias("bmin"), F.col("c_max").alias("bmax"),
    )
    delta = partial(e.where(F.col("ts") >= cutoff)).select(
        "event_type", "bucket",
        F.col("n").alias("dn"), F.col("c_sum").alias("ds"),
        F.col("c_min").alias("dmin"), F.col("c_max").alias("dmax"),
    )
    merged = stored.join(delta, ["event_type", "bucket"], "full_outer").select(
        "event_type", "bucket",
        (F.coalesce("bn", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n"),
        (F.coalesce("bs", F.lit(0)) + F.coalesce("ds", F.lit(0))).alias("c_sum"),
        F.least(
            F.coalesce("bmin", "dmin"), F.coalesce("dmin", "bmin")
        ).alias("c_min"),
        F.greatest(
            F.coalesce("bmax", "dmax"), F.coalesce("dmax", "bmax")
        ).alias("c_max"),
    )
    full = partial(e)
    got = {
        (r["event_type"], r["bucket"]): (r["n"], r["c_sum"], r["c_min"], r["c_max"])
        for r in merged.collect()
    }
    want = {
        (r["event_type"], r["bucket"]): (r["n"], r["c_sum"], r["c_min"], r["c_max"])
        for r in full.collect()
    }
    assert got == want
