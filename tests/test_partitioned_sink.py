"""Partitioned parquet sink → partition pruning on read-back.

At 100 TB the destination layout IS the query accelerator: partitioning the
sink by day means downstream time-range queries scan only matching
directories (PartitionFilters), not the whole series.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from node_mongo2influx_spark import TransformSpec
from node_mongo2influx_spark.sinks import ParquetSink
from node_mongo2influx_spark.sinks.parquet import (
    _has_data_files,
    recover_swap,
    swap_dir,
)
from node_mongo2influx_spark.sources.catalog import DirectoryCatalog


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_partitioned_sink_prunes_on_read(engine, sf_dir, tmp_path):
    catalog = DirectoryCatalog(engine.spark, sf_dir)
    sink = ParquetSink(str(tmp_path / "out"), partition_by=("day",))
    spec = TransformSpec(
        rename={"ts": "time"},
        set={"day": "CAST(date_trunc('day', time) AS DATE)"},
    )
    report = engine.migrate(catalog, spec, sink, tables=["events"])
    assert not report.failed and report.rows_written == 1000

    back = engine.spark.read.parquet(str(tmp_path / "out" / "events"))
    one_day = back.where(F.col("day") == "2024-01-02")
    plan = _plan(one_day)
    # the day predicate must be a partition filter (directory pruning),
    # not a data filter
    assert "PartitionFilters" in plan and "isnotnull(day" in plan
    n = one_day.count()
    assert 0 < n < 1000
    # and day directories exist on disk
    assert (tmp_path / "out" / "events" / "day=2024-01-02").exists()


def test_dynamic_overwrite_replaces_only_touched_partitions(engine, sf_dir, tmp_path):
    spark = engine.spark
    from node_mongo2influx_spark.plans.tables import load

    e = load(spark, sf_dir, "events").select(
        "event_id", "value", F.to_date("ts").alias("day")
    )
    sink = ParquetSink(
        str(tmp_path / "inc"), partition_by=("day",), dynamic_overwrite=True
    )
    sink.write(e, "events")
    days = [r["day"] for r in e.select("day").distinct().collect()]
    assert len(days) > 2
    reload_day = sorted(days)[1]

    # incremental reload of ONE day with modified values: that partition is
    # replaced (not appended), all others byte-identical
    redo = e.where(F.col("day") == F.lit(reload_day)).withColumn(
        "value", F.col("value") * 2
    )
    n_redo = redo.count()
    sink.write(redo, "events")

    back = spark.read.parquet(str(tmp_path / "inc" / "events"))
    assert back.count() == e.count()  # no duplicate rows appended
    assert back.where(F.col("day") == F.lit(reload_day)).count() == n_redo
    # untouched partition still matches the original data
    other_day = sorted(days)[0]
    orig_sum = e.where(F.col("day") == F.lit(other_day)).agg(
        F.sum("value")
    ).first()[0]
    back_sum = back.where(F.col("day") == F.lit(other_day)).agg(
        F.sum("value")
    ).first()[0]
    assert back_sum == orig_sum
    # reloaded partition carries the doubled values
    redo_sum = back.where(F.col("day") == F.lit(reload_day)).agg(
        F.sum("value")
    ).first()[0]
    orig_reload_sum = e.where(F.col("day") == F.lit(reload_day)).agg(
        F.sum("value")
    ).first()[0]
    assert abs(redo_sum - 2 * orig_reload_sum) < 1e-6


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


def test_retention_sweep_drops_only_expired_partitions(engine, sf_dir, tmp_path):
    spark = engine.spark
    from node_mongo2influx_spark.plans.tables import load

    e = load(spark, sf_dir, "events").select(
        "event_id", "value", F.to_date("ts").cast("string").alias("day")
    )
    sink = ParquetSink(str(tmp_path / "ret"), partition_by=("day",))
    sink.write(e, "events")
    days = sorted(r["day"] for r in e.select("day").distinct().collect())
    assert len(days) > 3
    cutoff = days[2]

    dropped = sink.retention_sweep("events", keep_from=cutoff)
    assert dropped == days[:2]
    back = spark.read.parquet(str(tmp_path / "ret" / "events"))
    # partition values are type-inferred as dates on read-back
    back_days = sorted(
        r["day"] for r in back.select(F.col("day").cast("string")).distinct().collect()
    )
    assert back_days == days[2:]
    expect = e.where(F.col("day") >= cutoff).count()
    assert back.count() == expect


def test_compact_recovers_from_crashed_prior_run(engine, sf_dir, tmp_path):
    # A crash can leave __compact_tmp (rewrite unfinished) or __compact_old
    # (swap done, cleanup not) — and in the worst interleaving the series
    # dir missing with only __compact_old present. compact() must recover
    # all three without losing rows.
    import shutil

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


def _write_store(d, text):
    d.mkdir()
    (d / "part-0.parquet").write_text(text)


def _store_text(d):
    return {p.name: p.read_text() for p in d.iterdir()}


@pytest.mark.parametrize(
    "state, complete, expect",
    [
        # crash while the tmp is being written: the live store stays
        ("tmp_partly_written", True, "live"),
        # crash between the renames: a complete tmp rolls forward when
        # the caller's check accepts it, back otherwise
        ("live_renamed_aside", True, "new"),
        ("live_renamed_aside", False, "live"),
        ("live_renamed_aside_tmp_partial", True, "live"),
        # crash before the old store was removed
        ("tmp_promoted_old_kept", True, "new"),
        ("leftovers_beside_live", True, "live"),
    ],
)
def test_swap_recovers_every_crash_window(tmp_path, state, complete, expect):
    # Spark-free: the tmp holds different content from the live store,
    # so rolling forward and rolling back are told apart
    target = tmp_path / "store"
    tmp = tmp_path / "store__compact_tmp"
    old = tmp_path / "store__compact_old"
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

    recover_swap(target, "compact", _has_data_files if complete else None)
    assert _store_text(target) == {"part-0.parquet": expect}
    assert not tmp.exists() and not old.exists()
    # the recovered store swaps cleanly again
    swap_dir(target, lambda d: _write_store(d, "next"), "compact")
    assert _store_text(target) == {"part-0.parquet": "next"}
    assert sorted(p.name for p in tmp_path.iterdir()) == ["store"]


def test_z_order_write_prunes_both_dimensions(spark, sf_dir, tmp_path):
    # Morton-clustered files must be narrow in BOTH dimensions; a
    # single-key range sort is narrow only in its leading column while
    # every file spans ~the full range of the other.
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from node_mongo2influx_spark.plans.tables import load
    from node_mongo2influx_spark.sinks.parquet import (
        range_sorted_write,
        z_order_write,
    )

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        ((F.unix_seconds("ts") - 1704067200) / 3600).cast("long").alias(
            "hour_idx"
        ),
    )

    def spans(path):
        out = []
        for f in sorted(glob.glob(path + "/*.parquet")):
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            lo = {n: None for n in names}
            hi = {n: None for n in names}
            for g in range(md.num_row_groups):
                for i, n in enumerate(names):
                    st = md.row_group(g).column(i).statistics
                    lo[n] = st.min if lo[n] is None else min(lo[n], st.min)
                    hi[n] = st.max if hi[n] is None else max(hi[n], st.max)
            out.append((lo, hi))
        return out

    def avg_norm_span(path, col, total):
        ss = [(hi[col] - lo[col]) / total for lo, hi in spans(path)]
        return sum(ss) / len(ss)

    tot_user = ev.agg(F.max("user_id") - F.min("user_id")).first()[0]
    tot_hour = ev.agg(F.max("hour_idx") - F.min("hour_idx")).first()[0]

    z_dir = str(tmp_path / "zorder")
    u_dir = str(tmp_path / "usersort")
    z_order_write(ev, z_dir, "user_id", "hour_idx", n_files=8)
    range_sorted_write(ev, u_dir, cols=("user_id",), n_files=8)

    # single-key layout: every file spans ~the whole hour domain — a
    # time-range lookup opens all 8 files
    assert avg_norm_span(u_dir, "hour_idx", tot_hour) > 0.9
    # z-order: BOTH dimensions materially narrower ON AVERAGE (individual
    # files can straddle a curve bit-flip since repartitionByRange cuts at
    # data quantiles, not bit boundaries — measured ~0.38 hour / ~0.58
    # user vs 0.98 / 0.06 for the single-key layout)
    assert avg_norm_span(z_dir, "hour_idx", tot_hour) <= 0.55
    assert avg_norm_span(z_dir, "user_id", tot_user) <= 0.75
    # and nothing was lost in the rewrite
    assert spark.read.parquet(z_dir).count() == ev.count()


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


def test_upsert_replaces_keys_and_touches_only_delta_partitions(
    spark, sf_dir, tmp_path
):
    # MERGE-style upsert on a day-partitioned sink: delta rows replace
    # same-key rows, new keys append, and partitions outside the delta
    # are byte-identical (their files are not rewritten).
    import os

    from node_mongo2influx_spark.plans.tables import load

    e = (
        load(spark, sf_dir, "events")
        .select("event_id", "ts", "value")
        .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    )
    sink = ParquetSink(
        str(tmp_path), partition_by=("day",), dynamic_overwrite=True
    )
    sink.write(e, "events")
    target = str(tmp_path / "events")
    days = sorted(d for d in os.listdir(target) if d.startswith("day="))
    untouched_day = days[0]
    touched_day = days[1].split("=", 1)[1]
    before_mtimes = {
        f: os.path.getmtime(os.path.join(target, untouched_day, f))
        for f in os.listdir(os.path.join(target, untouched_day))
        if f.endswith(".parquet")
    }

    stored = spark.read.parquet(target)
    # delta: bump value for 5 existing keys of day 2 + add 2 new keys
    upd = (
        stored.where(F.col("day") == touched_day)
        .orderBy("event_id")
        .limit(5)
        .withColumn("value", F.col("value") + 1000.0)
    )
    new = spark.createDataFrame(
        [(10_000_001, upd.first()["ts"], 1.0, touched_day),
         (10_000_002, upd.first()["ts"], 2.0, touched_day)],
        "event_id long, ts timestamp, value double, day string",
    )
    delta = upd.unionByName(new)
    expect_bumped = {r["event_id"]: r["value"] for r in upd.collect()}
    n_touched = sink.upsert(
        lambda p: spark.read.parquet(p), delta, "events", keys=("event_id",)
    )
    assert n_touched == 1

    after = spark.read.parquet(target)
    assert after.count() == e.count() + 2  # replaced in place, 2 appended
    bumped = {
        r["event_id"]: r["value"]
        for r in after.where(F.col("value") >= 1000.0).collect()
    }
    for k, v in expect_bumped.items():
        assert bumped[k] == v
    # untouched partition's files were not rewritten
    after_mtimes = {
        f: os.path.getmtime(os.path.join(target, untouched_day, f))
        for f in os.listdir(os.path.join(target, untouched_day))
        if f.endswith(".parquet")
    }
    assert after_mtimes == before_mtimes


def _mk_day_store(spark, tmp_path, rows):
    sink = ParquetSink(
        str(tmp_path / "sweep"), partition_by=("day",), dynamic_overwrite=True
    )
    df = spark.createDataFrame(rows, "event_id long, value double, day string")
    sink.write(df, "t")
    return sink, str(tmp_path / "sweep" / "t")


def test_sweep_moved_keys_scan_path_removes_stale_copy(spark, tmp_path):
    # A key that MOVES partitions: upsert writes the new-day row but the
    # old-day copy survives; sweep_moved_keys (no before-image → key
    # location scan) must delete it, leaving exactly one row per key.
    sink, target = _mk_day_store(
        spark,
        tmp_path,
        [(1, 1.0, "2024-01-01"), (2, 2.0, "2024-01-01"), (3, 3.0, "2024-01-02")],
    )
    delta = spark.createDataFrame(
        [(1, 10.0, "2024-01-02")], "event_id long, value double, day string"
    )
    rd = lambda p: spark.read.parquet(p)  # noqa: E731
    sink.upsert(rd, delta, "t", keys=("event_id",))
    # stale copy present before the sweep (documents the hazard)
    assert rd(target).where("event_id = 1").count() == 2
    n = sink.sweep_moved_keys(rd, delta, "t", keys=("event_id",))
    assert n == 1
    got = {
        (r["event_id"], r["value"], str(r["day"]))
        for r in rd(target).collect()
    }
    assert got == {
        (1, 10.0, "2024-01-02"),
        (2, 2.0, "2024-01-01"),
        (3, 3.0, "2024-01-02"),
    }
    # idempotent: replaying upsert + sweep changes nothing
    sink.upsert(rd, delta, "t", keys=("event_id",))
    assert sink.sweep_moved_keys(rd, delta, "t", keys=("event_id",)) == 0
    got2 = {
        (r["event_id"], r["value"], str(r["day"]))
        for r in rd(target).collect()
    }
    assert got2 == got


def test_sweep_moved_keys_prev_cols_path_and_empty_partition(spark, tmp_path):
    # Before-image path (O(delta)): the feed carries __prev_day. Key 1 is
    # the ONLY row of its old day — the sweep must drop the now-empty
    # partition directory, not leave stale files dynamic overwrite can't
    # replace.
    import os

    sink, target = _mk_day_store(
        spark, tmp_path, [(1, 1.0, "2024-01-01"), (2, 2.0, "2024-01-02")]
    )
    delta = spark.createDataFrame(
        [(1, 10.0, "2024-01-03", "2024-01-01"),
         (9, 9.0, "2024-01-03", None)],  # brand-new key: no before-image
        "event_id long, value double, day string, __prev_day string",
    )
    rd = lambda p: spark.read.parquet(p)  # noqa: E731
    sink.upsert(rd, delta.drop("__prev_day"), "t", keys=("event_id",))
    n = sink.sweep_moved_keys(
        rd, delta, "t", keys=("event_id",), prev_cols=("__prev_day",)
    )
    assert n == 1
    assert not os.path.exists(os.path.join(target, "day=2024-01-01"))
    got = {
        (r["event_id"], r["value"], str(r["day"]))
        for r in rd(target).collect()
    }
    assert got == {
        (1, 10.0, "2024-01-03"),
        (2, 2.0, "2024-01-02"),
        (9, 9.0, "2024-01-03"),
    }
    # replay: nothing left to sweep, store unchanged
    assert (
        sink.sweep_moved_keys(
            rd, delta, "t", keys=("event_id",), prev_cols=("__prev_day",)
        )
        == 0
    )


def test_delete_keys_feed_named_and_scan_paths(spark, tmp_path):
    # CDC DELETE: feed-named partitions (O(delta)) and the key-location
    # scan fallback must both remove the key everywhere it lives; empty
    # partitions drop as directories; replay is a no-op.
    import os

    sink, target = _mk_day_store(
        spark,
        tmp_path,
        [(1, 1.0, "2024-01-01"), (2, 2.0, "2024-01-01"), (3, 3.0, "2024-01-02")],
    )
    rd = lambda p: spark.read.parquet(p)  # noqa: E731
    # feed-named: delete key 3 (its partition rides the delete row)
    d1 = spark.createDataFrame(
        [(3, "2024-01-02")], "event_id long, day string"
    )
    assert sink.delete_keys(rd, d1, "t", keys=("event_id",)) == 1
    assert not os.path.exists(os.path.join(target, "day=2024-01-02"))
    # scan path: key-only delete row (no partition columns) finds key 1
    d2 = spark.createDataFrame([(1,)], "event_id long")
    assert sink.delete_keys(rd, d2, "t", keys=("event_id",)) == 1
    got = {
        (r["event_id"], r["value"], str(r["day"]))
        for r in rd(target).collect()
    }
    assert got == {(2, 2.0, "2024-01-01")}
    # replays: nothing to do, store unchanged
    assert sink.delete_keys(rd, d1, "t", keys=("event_id",)) == 0
    assert sink.delete_keys(rd, d2, "t", keys=("event_id",)) == 0
    assert {
        (r["event_id"], r["value"], str(r["day"]))
        for r in rd(target).collect()
    } == got


def test_upsert_evolve_schema_widens_touched_partitions(spark, tmp_path):
    # The continuous face of a schemaless source that grew a field: the
    # delta ADDS a column; history null-fills it, columns only history
    # has null-fill on the delta side, untouched partitions keep their
    # narrow files, and a mergeSchema read sees the union. Without the
    # flag the mismatch fails LOUDLY (never silently drops a column).
    import pytest

    sink = ParquetSink(
        str(tmp_path), partition_by=("day",), dynamic_overwrite=True
    )
    base = spark.createDataFrame(
        [(1, 10.0, "d1"), (2, 20.0, "d2")], "id long, v double, day string"
    )
    sink.write(base, "t")
    rd = lambda p: spark.read.option("mergeSchema", "true").parquet(p)  # noqa: E731

    wide = spark.createDataFrame(
        [(1, 11.0, "d1", "x"), (3, 30.0, "d1", "y")],
        "id long, v double, day string, tag string",
    )
    with pytest.raises(Exception, match="UNION|union|column"):
        sink.upsert(rd, wide, "t", keys=("id",))
    assert sink.upsert(rd, wide, "t", keys=("id",), evolve_schema=True) == 1

    got = {r["id"]: (r["v"], r["tag"]) for r in rd(str(tmp_path / "t")).collect()}
    assert got == {1: (11.0, "x"), 2: (20.0, None), 3: (30.0, "y")}, got

    # ...and a later delta MISSING a historical column null-fills it on
    # its new key, replacement on an existing key keeps the delta's view
    narrow2 = spark.createDataFrame(
        [(3, "d1", "z"), (4, "d2", "w")], "id long, day string, tag string"
    )
    sink.upsert(rd, narrow2, "t", keys=("id",), evolve_schema=True)
    got2 = {
        r["id"]: (r["v"], r["tag"]) for r in rd(str(tmp_path / "t")).collect()
    }
    assert got2 == {
        1: (11.0, "x"),
        2: (20.0, None),
        3: (None, "z"),
        4: (None, "w"),
    }, got2


def test_upsert_random_sequences_match_dict_model(spark, tmp_path):
    # Model-based check: a sequence of random upserts must leave the
    # store equal to a plain dict keyed by (event_id) — replacement on
    # key collision, append on new keys, partitions untouched by a delta
    # never consulted.
    import random

    rng = random.Random(7)
    days = ["2024-01-01", "2024-01-02", "2024-01-03"]
    sink = ParquetSink(str(tmp_path), partition_by=("day",), dynamic_overwrite=True)
    model: dict[int, tuple] = {}

    def batch(n, id_pool):
        rows = []
        for _ in range(n):
            k = rng.choice(id_pool)
            day = days[k % 3]  # keys never migrate partitions
            v = round(rng.uniform(0, 100), 2)
            rows.append((k, v, day))
        # last-write-wins within a batch: dedupe keys keeping the last
        dedup = {r[0]: r for r in rows}
        return list(dedup.values())

    first = batch(40, list(range(30)))
    sink.write(
        spark.createDataFrame(first, "event_id long, value double, day string"),
        "t",
    )
    model.update({r[0]: r for r in first})

    for step in range(4):
        delta = batch(15, list(range(step * 10, step * 10 + 40)))
        sink.upsert(
            lambda p: spark.read.parquet(p),
            spark.createDataFrame(delta, "event_id long, value double, day string"),
            "t",
            keys=("event_id",),
        )
        model.update({r[0]: r for r in delta})
        got = {
            # partition-column type inference reads day back as DATE;
            # compare on its ISO string
            r["event_id"]: (r["event_id"], r["value"], str(r["day"]))
            for r in spark.read.parquet(str(tmp_path / "t")).collect()
        }
        assert got == model, f"divergence after step {step}"


def test_upsert_empty_delta_is_a_noop(spark, tmp_path):
    # An empty CDC micro-batch must not touch the store (and must not
    # crash: reduce() over zero touched partitions has no identity).
    sink = ParquetSink(str(tmp_path), partition_by=("day",), dynamic_overwrite=True)
    base = spark.createDataFrame(
        [(1, 1.0, "2024-01-01"), (2, 2.0, "2024-01-02")],
        "event_id long, value double, day string",
    )
    sink.write(base, "t")
    before = sorted(
        (r["event_id"], r["value"], str(r["day"]))
        for r in spark.read.parquet(str(tmp_path / "t")).collect()
    )
    empty = spark.createDataFrame([], "event_id long, value double, day string")
    n = sink.upsert(lambda p: spark.read.parquet(p), empty, "t", keys=("event_id",))
    assert n == 0
    after = sorted(
        (r["event_id"], r["value"], str(r["day"]))
        for r in spark.read.parquet(str(tmp_path / "t")).collect()
    )
    assert after == before


def test_upsert_read_failure_propagates_instead_of_dropping_keys(spark, tmp_path):
    # A transient read error over an EXISTING store must raise, never be
    # treated as "store absent" (which would dynamic-overwrite the
    # touched partitions with delta rows only — data loss).
    import pytest as _pytest

    sink = ParquetSink(str(tmp_path), partition_by=("day",), dynamic_overwrite=True)
    base = spark.createDataFrame(
        [(1, 1.0, "2024-01-01"), (2, 2.0, "2024-01-01")],
        "event_id long, value double, day string",
    )
    sink.write(base, "t")

    def flaky_reader(path):
        raise RuntimeError("transient storage error")

    delta = spark.createDataFrame(
        [(1, 9.0, "2024-01-01")], "event_id long, value double, day string"
    )
    with _pytest.raises(RuntimeError, match="transient"):
        sink.upsert(flaky_reader, delta, "t", keys=("event_id",))
    # store untouched: key 2 still present, key 1 not replaced
    got = {
        r["event_id"]: r["value"]
        for r in spark.read.parquet(str(tmp_path / "t")).collect()
    }
    assert got == {1: 1.0, 2: 2.0}


def test_upsert_self_heals_fileless_store_dir(spark, tmp_path):
    # A store directory containing no data files (empty prior write, or
    # a crashed one) must be treated as ABSENT — not "existing but
    # unreadable", which would wedge every subsequent upsert with
    # UNABLE_TO_INFER_SCHEMA forever.
    sink = ParquetSink(str(tmp_path), partition_by=("day",), dynamic_overwrite=True)
    store = tmp_path / "t"
    store.mkdir()
    (store / "_SUCCESS").touch()  # metadata only, no part files
    delta = spark.createDataFrame(
        [(1, 9.0, "2024-01-01")], "event_id long, value double, day string"
    )
    n = sink.upsert(lambda p: spark.read.parquet(p), delta, "t", keys=("event_id",))
    assert n == 1
    got = {
        (r["event_id"], r["value"], str(r["day"]))
        for r in spark.read.parquet(str(store)).collect()
    }
    assert got == {(1, 9.0, "2024-01-01")}
    # and a second upsert over the now-real store merges normally
    delta2 = spark.createDataFrame(
        [(2, 5.0, "2024-01-01")], "event_id long, value double, day string"
    )
    assert sink.upsert(
        lambda p: spark.read.parquet(p), delta2, "t", keys=("event_id",)
    ) == 1
    got = {r["event_id"] for r in spark.read.parquet(str(store)).collect()}
    assert got == {1, 2}


def test_delete_keys_null_partition_tombstones_use_scan(spark, tmp_path):
    # Debezium value-less tombstone: the delete row CARRIES the partition
    # column in its schema but the value is null. The scan fallback must
    # fire per-KEY (no location evidence), not per-COLUMN-presence —
    # otherwise the key silently survives forever.
    sink, target = _mk_day_store(
        spark,
        tmp_path,
        [(1, 1.0, "2024-01-01"), (2, 2.0, "2024-01-01"), (3, 3.0, "2024-01-02")],
    )
    rd = lambda p: spark.read.parquet(p)  # noqa: E731
    tomb = spark.createDataFrame(
        [(3, None), (1, "2024-01-01")], "event_id long, day string"
    )
    # key 1 located by its named row; key 3's null row forces the scan
    assert sink.delete_keys(rd, tomb, "t", keys=("event_id",)) == 2
    got = {
        (r["event_id"], str(r["day"])) for r in rd(target).collect()
    }
    assert got == {(2, "2024-01-01")}
    # replay: store unchanged (the still-existing feed-named partition
    # gets a no-op rewrite — the documented idempotence contract)
    sink.delete_keys(rd, tomb, "t", keys=("event_id",))
    assert {
        (r["event_id"], str(r["day"])) for r in rd(target).collect()
    } == got


def test_delete_keys_loc_source_covers_same_batch_migration(spark, tmp_path):
    # A key that migrated partitions earlier in the SAME batch and was
    # then deleted: the reduced delete row only names the new partition;
    # loc_source (the un-reduced batch) carries the before-image of the
    # old one. Both copies must go.
    sink, target = _mk_day_store(
        spark,
        tmp_path,
        [(1, 1.0, "2024-01-01"), (2, 2.0, "2024-01-02")],
    )
    rd = lambda p: spark.read.parquet(p)  # noqa: E731
    # simulate upsert having landed the migrated row in day=2024-01-03
    delta = spark.createDataFrame(
        [(1, 10.0, "2024-01-03")], "event_id long, value double, day string"
    )
    sink.upsert(rd, delta, "t", keys=("event_id",))
    batch = spark.createDataFrame(
        [
            (1, 10.0, "2024-01-03", "2024-01-01", "u", 1),
            (1, 10.0, "2024-01-03", "2024-01-03", "d", 2),
        ],
        "event_id long, value double, day string, __prev_day string, "
        "op string, __seq int",
    )
    dels = batch.where("__seq = 2")
    n = sink.delete_keys(
        rd, dels, "t", keys=("event_id",),
        prev_cols=("__prev_day",), loc_source=batch,
    )
    assert n == 2  # 2024-01-01 (stale copy) and 2024-01-03 (current)
    got = {
        (r["event_id"], str(r["day"])) for r in rd(target).collect()
    }
    assert got == {(2, "2024-01-02")}


def _mk_guarded_store(spark, tmp_path, name="gm"):
    sink = ParquetSink(
        str(tmp_path / name), partition_by=("day",), dynamic_overwrite=True
    )
    base = spark.createDataFrame(
        [
            (1, 10.0, "2024-01-01", 1),
            (2, 20.0, "2024-01-01", 1),
            (3, 30.0, "2024-01-02", 1),
        ],
        "event_id long, value double, day string, __seq long",
    )
    sink.write(base, "t")
    return sink


def _rows(spark, sink):
    return sorted(
        (r["event_id"], r["value"], str(r["day"]), r["__seq"])
        for r in spark.read.parquet(str(sink.path / "t")).collect()
    )


def test_upsert_guarded_moving_migrates_and_guards(spark, tmp_path):
    # Round 8 (VERDICT r7 #4): the global per-key rank-window guard.
    # In-order migration: key 1 moves day 1 -> day 3; exactly one copy
    # survives, in the new partition, and the vacated day-1 copy is gone.
    import os

    rd = lambda p: spark.read.parquet(p)  # noqa: E731
    sink = _mk_guarded_store(spark, tmp_path)
    mv = spark.createDataFrame(
        [(1, 11.0, "2024-01-03", 2)],
        "event_id long, value double, day string, __seq long",
    )
    sink.upsert_guarded_moving(rd, mv, "t", keys=("event_id",), order_col="__seq")
    got = _rows(spark, sink)
    assert (1, 11.0, "2024-01-03", 2) in got
    assert len([r for r in got if r[0] == 1]) == 1  # single copy per key
    assert len(got) == 3
    # day-1 partition still holds key 2 (rewritten, not dropped)
    assert (2, 20.0, "2024-01-01", 1) in got

    # OUT-OF-ORDER: a stale pre-migration update (seq 1 < stored 2)
    # claiming the OLD partition must lose everywhere — no duplicate in
    # day 1, the day-3 winner untouched.
    stale = spark.createDataFrame(
        [(1, 99.0, "2024-01-01", 1)],
        "event_id long, value double, day string, __seq long",
    )
    sink.upsert_guarded_moving(rd, stale, "t", keys=("event_id",), order_col="__seq")
    assert _rows(spark, sink) == got

    # STALE MIGRATION the partition-scoped guard cannot express: a stale
    # row claiming a BRAND-NEW partition (day 4) — the scan finds the
    # live copy in day 3, the rank window drops the stale row, and the
    # claimed-but-empty day-4 directory does not appear.
    stale2 = spark.createDataFrame(
        [(1, 98.0, "2024-01-04", 1)],
        "event_id long, value double, day string, __seq long",
    )
    sink.upsert_guarded_moving(rd, stale2, "t", keys=("event_id",), order_col="__seq")
    assert _rows(spark, sink) == got
    assert not os.path.exists(str(sink.path / "t" / "day=2024-01-04"))


def test_upsert_guarded_moving_replay_idempotent(spark, tmp_path):
    rd = lambda p: spark.read.parquet(p)  # noqa: E731
    sink = _mk_guarded_store(spark, tmp_path)
    # one batch carrying a migration, a fresh key, AND an intra-batch
    # duplicate (two versions of key 2 — the window picks the larger)
    batch = spark.createDataFrame(
        [
            (1, 11.0, "2024-01-03", 2),
            (2, 21.0, "2024-01-01", 2),
            (2, 22.0, "2024-01-02", 3),
            (9, 90.0, "2024-01-02", 1),
        ],
        "event_id long, value double, day string, __seq long",
    )
    sink.upsert_guarded_moving(rd, batch, "t", keys=("event_id",), order_col="__seq")
    got = _rows(spark, sink)
    assert (2, 22.0, "2024-01-02", 3) in got  # intra-batch winner
    assert len([r for r in got if r[0] == 2]) == 1
    # replay the identical batch: store unchanged (set-equal rows)
    sink.upsert_guarded_moving(rd, batch, "t", keys=("event_id",), order_col="__seq")
    assert _rows(spark, sink) == got
    # and a third time after a partial vacate — still stable
    sink.upsert_guarded_moving(rd, batch, "t", keys=("event_id",), order_col="__seq")
    assert _rows(spark, sink) == got


def test_upsert_guarded_moving_contrast_partition_scoped_guard(spark, tmp_path):
    # WHY the composition exists: the partition-scoped guard (plain
    # upsert with order_col) inserts a stale duplicate when a stale row
    # claims a partition the live copy is not in.
    rd = lambda p: spark.read.parquet(p)  # noqa: E731
    sink = _mk_guarded_store(spark, tmp_path, name="contrast")
    mv = spark.createDataFrame(
        [(1, 11.0, "2024-01-03", 2)],
        "event_id long, value double, day string, __seq long",
    )
    sink.upsert_guarded_moving(rd, mv, "t", keys=("event_id",), order_col="__seq")
    stale = spark.createDataFrame(
        [(1, 99.0, "2024-01-05", 1)],
        "event_id long, value double, day string, __seq long",
    )
    sink.upsert(rd, stale, "t", keys=("event_id",), order_col="__seq")
    dup = [r for r in _rows(spark, sink) if r[0] == 1]
    assert len(dup) == 2  # the partition-scoped guard CAN'T see day 3
    # the global guard heals the store on the next (replayed) batch
    sink.upsert_guarded_moving(rd, stale, "t", keys=("event_id",), order_col="__seq")
    healed = [r for r in _rows(spark, sink) if r[0] == 1]
    assert healed == [(1, 11.0, "2024-01-03", 2)]
