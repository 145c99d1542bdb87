"""Structured Streaming pipeline tests (file source, availableNow trigger)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from node_mongo2influx_spark import TransformSpec
from node_mongo2influx_spark.sinks import MemorySink
from node_mongo2influx_spark.streaming import pipeline as sp
from node_mongo2influx_spark.plans.tables import load


@pytest.fixture(scope="module", autouse=True)
def few_state_partitions(spark):
    # Each streaming state-store partition costs checkpoint files per
    # micro-batch; 32 partitions of ~1000 rows is pure overhead in tests.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    # Re-write fixture events as micros-timestamp parquet (streaming file
    # source can't use the nanos compat shim) split into several files.
    d = str(tmp_path_factory.mktemp("stream_src"))
    load(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(d)
    return d


def test_migrate_stream_end_to_end(spark, events_stream_dir, tmp_path):
    schema = spark.read.parquet(events_stream_dir).schema
    source = sp.read_stream(spark, events_stream_dir, schema, max_files_per_trigger=2)
    sink = MemorySink()
    q = sp.migrate_stream(
        source,
        TransformSpec(rename={"ts": "time"}),
        sink,
        series="events",
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_once=True,
    )
    q.awaitTermination(120)
    rows = sink.series["events"]
    assert len(rows) == 1000
    assert "time" in rows[0].asDict()


def test_stateful_user_totals(spark, events_stream_dir, tmp_path):
    import time

    schema = spark.read.parquet(events_stream_dir).schema
    source = sp.read_stream(spark, events_stream_dir, schema, max_files_per_trigger=2)
    out = sp.stateful_user_totals(source)
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    # A ProcessingTimeTimeout stateful query never self-terminates even
    # under availableNow — Spark keeps scheduling empty batches to fire
    # state timeouts. Drain explicitly: stop once every input row has been
    # processed and an empty batch has run (all updates emitted).
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        prog = q.recentProgress
        if (
            prog
            and prog[-1]["numInputRows"] == 0
            and sum(p["numInputRows"] for p in prog) >= 1000
        ):
            break
        time.sleep(0.3)
    q.stop()
    q.awaitTermination(30)
    got = spark.sql(
        "SELECT key, max(n_events) AS n, max(total) AS total FROM stateful_test GROUP BY key"
    ).collect()
    batch = {
        r["user_id"]: (r["n"], round(r["s"], 2))
        for r in spark.read.parquet(events_stream_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    # state accumulated across micro-batches: final totals match batch truth
    final = {r["key"]: (r["n"], round(r["total"], 2)) for r in got}
    assert final == batch


def test_session_window_stream_matches_batch_sessionization(
    spark, events_stream_dir, tmp_path
):
    schema = spark.read.parquet(events_stream_dir).schema
    source = sp.read_stream(spark, events_stream_dir, schema).withColumnRenamed(
        "ts", "time"
    )
    sessions = sp.session_window_stream(source, gap="30 minutes", watermark="1 hour")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql(
        "SELECT user_id, count(*) AS n_sessions FROM sessions_test GROUP BY user_id"
    ).collect()
    # batch ground truth: same 30-min-gap sessionization computed in batch
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    e = spark.read.parquet(events_stream_dir)
    prev = F.lag("ts").over(w)
    ns = F.when(
        prev.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev) > 1_800_000_000),
        1,
    ).otherwise(0)
    batch = {
        r["user_id"]: r["n"]
        for r in e.withColumn("ns", ns)
        .withColumn("sn", F.sum("ns").over(run))
        .groupBy("user_id")
        .agg(F.count_distinct("sn").alias("n"))
        .collect()
    }
    streamed = {r["user_id"]: r["n_sessions"] for r in got}
    # the final (still-open) session per user may be withheld by the
    # watermark, so allow a deficit of exactly it
    assert set(streamed) <= set(batch)
    assert all(0 <= batch[u] - streamed.get(u, 0) <= 1 for u in batch), (
        streamed,
        batch,
    )


def test_dedup_stream_drops_replayed_rows(spark, sf_dir, tmp_path):
    # source with every row duplicated (a replayed at-least-once feed)
    base = load(spark, sf_dir, "events").withColumnRenamed("ts", "time")
    dup_dir = str(tmp_path / "dup_src")
    base.union(base).repartition(4).write.parquet(dup_dir)
    schema = spark.read.parquet(dup_dir).schema
    source = sp.read_stream(spark, dup_dir, schema)
    out = sp.dedup_stream(source, keys=["event_id"], watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_stream_test"
    ).first()
    assert got["n"] == got["d"] == 1000  # 2000 in, each event exactly once


def test_interval_join_stream_matches_batch(spark, events_stream_dir, tmp_path):
    # clicks attributed to purchases of the same user within 30 minutes
    # before the purchase — streamed result must equal the batch join.
    schema = spark.read.parquet(events_stream_dir).schema
    clicks = (
        sp.read_stream(spark, events_stream_dir, schema)
        .where("event_type = 'click'")
        .select(F.col("user_id"), F.col("ts").alias("l_time"))
    )
    purchases = (
        sp.read_stream(spark, events_stream_dir, schema)
        .where("event_type = 'purchase'")
        .select(F.col("user_id").alias("r_user"), F.col("ts").alias("r_time"))
    )
    joined = sp.interval_join_stream(
        clicks.withColumnRenamed("user_id", "user_id"),
        purchases.withColumnRenamed("r_user", "user_id"),
        key_col="user_id",
        max_delay="30 minutes",
        watermark="1 hour",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ivj_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ivj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS n FROM ivj_test").first()["n"]
    e = spark.read.parquet(events_stream_dir)
    c = e.where("event_type = 'click'").select("user_id", F.col("ts").alias("lt"))
    p = e.where("event_type = 'purchase'").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("rt")
    )
    batch = c.join(
        p,
        (c.user_id == p.pu)
        & (c.lt <= p.rt)
        & (c.lt >= p.rt - F.expr("INTERVAL 30 MINUTES")),
    ).count()
    # the streamed join may withhold matches whose window the final
    # watermark hasn't closed; with availableNow over bounded input the
    # inner join emits matches as both sides arrive, so counts are equal
    assert got == batch, (got, batch)


def test_windowed_rollup_stream(spark, events_stream_dir, tmp_path):
    schema = spark.read.parquet(events_stream_dir).schema
    source = sp.read_stream(spark, events_stream_dir, schema).withColumnRenamed(
        "ts", "time"
    )
    agg = sp.windowed_rollup_stream(source, window_duration="1 day", watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("rollup_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM rollup_test").collect()
    # watermark close: with availableNow all windows older than
    # max(event_time)-watermark emit; 30 days of events -> >= 29 emitted days
    assert len(got) >= 29 * 5 * 0.5
    # cross-check one day's count against batch
    batch = (
        spark.read.parquet(events_stream_dir)
        .where("event_type = 'click' AND CAST(ts AS DATE) = DATE'2024-01-02'")
        .count()
    )
    day = [
        r
        for r in got
        if r["event_type"] == "click" and str(r["window_start"]).startswith("2024-01-02")
    ]
    if day:  # the last (open) window may be withheld by the watermark
        assert day[0]["n"] == batch


def test_stream_foreachbatch_dynamic_overwrite_idempotent(
    spark, events_stream_dir, tmp_path
):
    # Streaming incremental load: each micro-batch lands day-partitioned
    # with dynamic overwrite. Correct usage REQUIRES partition-complete
    # micro-batches (a partition split across batches would be replaced,
    # not accumulated) — modeled here as one source file per day, so every
    # batch carries whole days. Replaying the same batches (fresh
    # checkpoint) must then leave the sink equivalent: at-least-once
    # delivery becomes idempotent without a content-hash dedup key.
    from node_mongo2influx_spark.sinks import ParquetSink

    day_src = str(tmp_path / "day_src")
    (
        spark.read.parquet(events_stream_dir)
        .withColumn("day", F.to_date("ts"))
        .coalesce(1)
        .write.partitionBy("day")
        .parquet(day_src)
    )
    schema = spark.read.parquet(day_src).schema
    sink = ParquetSink(
        str(tmp_path / "dyn"), partition_by=("day",), dynamic_overwrite=True
    )

    def run(ckpt):
        source = sp.read_stream(
            spark, day_src, schema, max_files_per_trigger=2
        )
        q = (
            source.writeStream.foreachBatch(
                lambda df, _id: sink.write(df, "events")
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run("ck1")
    first = (
        spark.read.parquet(str(tmp_path / "dyn" / "events"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    )
    run("ck2")  # full replay
    second = (
        spark.read.parquet(str(tmp_path / "dyn" / "events"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    )
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))
    assert sum(r["n"] for r in first) == 1000


def test_enrich_stream_matches_batch_join(spark, events_stream_dir, tmp_path):
    # stream-static join: per-user historical stats enrich the live stream;
    # the streamed result must equal the batch join row-for-row.
    batch = spark.read.parquet(events_stream_dir)
    dim = batch.groupBy("user_id").agg(
        F.round(F.avg("value"), 4).alias("user_avg")
    )
    schema = batch.schema
    source = sp.read_stream(spark, events_stream_dir, schema)
    out = sp.enrich_stream(
        source.select("event_id", "user_id", "value"), dim, keys=["user_id"]
    ).withColumn("above_avg", F.col("value") > F.col("user_avg"))
    q = (
        out.writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT count(*) AS n, sum(CAST(above_avg AS INT)) AS above "
        "FROM enrich_test"
    ).first()
    want = (
        batch.select("event_id", "user_id", "value")
        .join(dim, "user_id")
        .withColumn("above_avg", F.col("value") > F.col("user_avg"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("above_avg").cast("int")).alias("above"),
        )
        .first()
    )
    assert (got["n"], got["above"]) == (want["n"], want["above"])
    assert got["n"] == 1000


def test_incremental_dedup_stream_cross_batch(spark, sf_dir, tmp_path):
    # Three "crawl drops" with overlap: file2 repeats half of file1's
    # texts under new ids, file3 repeats a quarter more. Streamed one
    # file per micro-batch, the durable fingerprint store must drop
    # every cross-batch duplicate; a second run over the same source
    # (fresh checkpoint, same stores) must add nothing.
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "drops")
    d1 = docs.where("doc_id < 100")
    d2 = docs.where("doc_id >= 100 AND doc_id < 150").union(
        d1.where("doc_id < 50").select(
            (F.col("doc_id") + 10000).alias("doc_id"), "text"
        )
    )
    d1.coalesce(1).write.parquet(src + "/f1")
    d2.coalesce(1).write.parquet(src + "/f2")
    # flatten into one dir of files
    import glob
    import shutil

    flat = str(tmp_path / "src")
    import os

    os.makedirs(flat)
    for i, f in enumerate(
        sorted(glob.glob(src + "/f1/*.parquet"))
        + sorted(glob.glob(src + "/f2/*.parquet"))
    ):
        shutil.copy(f, f"{flat}/{i:03d}.parquet")

    schema = spark.read.parquet(flat).schema
    out_dir = str(tmp_path / "corpus")
    fp_dir = str(tmp_path / "fps")
    q = sp.incremental_dedup_stream(
        sp.read_stream(spark, flat, schema, max_files_per_trigger=1),
        out_dir,
        fp_dir,
        str(tmp_path / "ckpt1"),
    )
    q.awaitTermination(120)
    out = spark.read.parquet(out_dir)
    # 100 + 50 unique texts; the 50 replayed under new ids are dropped
    assert out.count() == 150
    assert out.select("text").distinct().count() == 150
    assert spark.read.parquet(fp_dir).distinct().count() == 150

    # re-run over the same source with a fresh checkpoint: the durable
    # fingerprint store already has every fp -> nothing new lands
    q2 = sp.incremental_dedup_stream(
        sp.read_stream(spark, flat, schema, max_files_per_trigger=1),
        out_dir,
        fp_dir,
        str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(120)
    out2 = spark.read.parquet(out_dir)
    assert out2.select("text").distinct().count() == 150


def test_incremental_dedup_stream_fails_on_unreadable_fingerprint_store(
    spark, tmp_path
):
    # A fingerprint store that exists but is not one (no `fp` column)
    # must fail the query and name the column; reading it as "no
    # fingerprints yet" would silently stop deduplicating.
    from pyspark.errors import StreamingQueryException

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "one"), (2, "two")], "doc_id long, text string"
    ).coalesce(1).write.parquet(src)
    fp_dir = str(tmp_path / "fps")
    spark.createDataFrame([(1,)], "x long").write.parquet(fp_dir)
    out_dir = tmp_path / "corpus"
    q = sp.incremental_dedup_stream(
        sp.read_stream(spark, src, spark.read.parquet(src).schema),
        str(out_dir),
        fp_dir,
        str(tmp_path / "ckpt"),
    )
    with pytest.raises(StreamingQueryException, match="`fp`"):
        q.awaitTermination(120)
    assert not out_dir.exists()


def test_ohlc_stream_matches_batch(spark, events_stream_dir, tmp_path):
    # The streamed OHLC bars must equal the batch aggregate row-for-row:
    # open/close come from lexicographic struct min/max, which is arrival-
    # order-independent (first()/last() would not be).
    schema = spark.read.parquet(events_stream_dir).schema
    src = sp.read_stream(
        spark, events_stream_dir, schema, max_files_per_trigger=1
    ).withColumnRenamed("ts", "time")
    q = (
        sp.ohlc_stream(src)
        .writeStream.format("memory")
        .queryName("ohlc_stream_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_ohlc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["hour"], r["event_type"]): (
            r["open"], r["high"], r["low"], r["close"], r["n_events"]
        )
        for r in spark.sql("SELECT * FROM ohlc_stream_test").collect()
    }
    batch = spark.read.parquet(events_stream_dir).withColumnRenamed(
        "ts", "time"
    )
    kb = F.struct(
        F.col("time"), F.col("event_id").alias("eid"),
        F.col("value").alias("v"),
    )
    exp = {
        (r["hour"], r["event_type"]): (
            r["open"], r["high"], r["low"], r["close"], r["n_events"]
        )
        for r in batch.groupBy(
            F.date_trunc("hour", "time").alias("hour"), "event_type"
        )
        .agg(
            F.min(kb).getField("v").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(kb).getField("v").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .collect()
    }
    assert got == exp and len(got) > 100


def test_transform_with_state_type_profile(spark, events_stream_dir, tmp_path):
    # Spark 4 transformWithStateInPandas: MapState histogram per user.
    # timeMode="None" → the query genuinely drains under availableNow.
    if not sp.transform_with_state_supported():
        pytest.skip(
            "transformWithStateInPandas needs google.protobuf (its state "
            "protocol); not installed in this container"
        )
    schema = spark.read.parquet(events_stream_dir).schema
    source = sp.read_stream(spark, events_stream_dir, schema, max_files_per_trigger=2)
    out = sp.stateful_type_profile(source)
    q = (
        out.writeStream.format("memory")
        .queryName("tws_profile")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql(
        "SELECT key, max(n_types) AS t, max(n_events) AS n "
        "FROM tws_profile GROUP BY key"
    ).collect()
    batch = {
        r["user_id"]: (r["t"], r["n"])
        for r in spark.read.parquet(events_stream_dir)
        .groupBy("user_id")
        .agg(
            F.countDistinct("event_type").alias("t"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    final = {r["key"]: (r["t"], r["n"]) for r in got}
    # MapState accumulated across micro-batches == batch ground truth
    assert final == batch


def test_transform_with_state_plan_composes_without_protobuf(
    spark, events_stream_dir
):
    # Plan composition and output schema never need the protobuf runtime —
    # only stream START does. This keeps the operator's plumbing covered
    # even where the state protocol dependency is absent.
    schema = spark.read.parquet(events_stream_dir).schema
    source = sp.read_stream(spark, events_stream_dir, schema)
    out = sp.stateful_type_profile(source)
    assert out.isStreaming
    assert [f.name for f in out.schema.fields] == ["key", "n_types", "n_events"]


def test_quality_filter_stream_equals_batch(spark, sf_dir, tmp_path):
    from node_mongo2influx_spark.operators import text as text_ops

    src_dir = str(tmp_path / "docs_src")
    docs = load(spark, sf_dir, "documents")
    docs.repartition(3).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = sp.read_stream(spark, src_dir, schema, max_files_per_trigger=1)
    out = sp.quality_filter_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("qf_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_qf"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r["doc_id"]
        for r in spark.sql("SELECT doc_id FROM qf_stream").collect()
    }
    batch = {
        r["doc_id"]
        for r in text_ops.quality_filter(
            spark.read.parquet(src_dir)
        ).select("doc_id").collect()
    }
    assert streamed == batch and batch  # same gate, same survivors


def test_rollup_maintenance_stream_merge_equals_batch(
    spark, events_stream_dir, tmp_path
):
    # The streaming IVM design: each micro-batch appends mergeable
    # exact-integer partials under its own ingest_batch partition;
    # merge-on-read must equal the single-pass batch aggregate
    # BIT-FOR-BIT (integer partials make the merge associative), and a
    # replayed batch (dynamic overwrite of its own partition) must
    # change nothing.
    schema = spark.read.parquet(events_stream_dir).schema
    store = str(tmp_path / "rollup_store")
    q = sp.rollup_maintenance_stream(
        sp.read_stream(spark, events_stream_dir, schema, max_files_per_trigger=1),
        store,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    n_batches = (
        spark.read.parquet(store).select("ingest_batch").distinct().count()
    )
    assert n_batches >= 2, "need multiple micro-batches to prove the merge"

    merged = {
        (r["event_type"], r["bucket"]): (r["n"], r["c_sum"], r["c_min"], r["c_max"])
        for r in sp.read_rollup_store(spark, store).collect()
    }
    cents = F.round(F.col("value") * 100).cast("long")
    full = {
        (r["event_type"], r["bucket"]): (r["n"], r["c_sum"], r["c_min"], r["c_max"])
        for r in spark.read.parquet(events_stream_dir)
        .groupBy("event_type", F.window("ts", "5 minutes").start.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("c_sum"),
            F.min(cents).alias("c_min"),
            F.max(cents).alias("c_max"),
        )
        .collect()
    }
    assert merged == full

    # replay: re-run the stream with a FRESH checkpoint over the same
    # source — every batch id re-fires and dynamic overwrite rewrites the
    # same partitions (batch slicing is deterministic for the file source
    # with the same maxFilesPerTrigger), so the store must not change
    q2 = sp.rollup_maintenance_stream(
        sp.read_stream(spark, events_stream_dir, schema, max_files_per_trigger=1),
        store,
        str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(120)
    merged2 = {
        (r["event_type"], r["bucket"]): (r["n"], r["c_sum"], r["c_min"], r["c_max"])
        for r in sp.read_rollup_store(spark, store).collect()
    }
    assert merged2 == full


def test_rollup_store_compaction_preserves_merge(spark, events_stream_dir, tmp_path):
    # Closing the IVM loop: after N batches the partial log is compacted
    # (partials merged down to one ingest_batch partition) so
    # merge-on-read stays O(1) per key — and the compacted store must
    # read back identical to the uncompacted log.
    schema = spark.read.parquet(events_stream_dir).schema
    store = str(tmp_path / "store")
    q = sp.rollup_maintenance_stream(
        sp.read_stream(spark, events_stream_dir, schema, max_files_per_trigger=1),
        store,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    before = {
        (r["event_type"], r["bucket"]): (r["n"], r["c_sum"], r["c_min"], r["c_max"])
        for r in sp.read_rollup_store(spark, store).collect()
    }
    # compact: merge every partial into a single log entry and swap in
    compacted = sp.read_rollup_store(spark, store).withColumn(
        "ingest_batch", F.lit(-1)
    )
    compacted.write.mode("overwrite").parquet(store + "__tmp")
    import shutil

    shutil.rmtree(store)
    shutil.move(store + "__tmp", store)
    after = {
        (r["event_type"], r["bucket"]): (r["n"], r["c_sum"], r["c_min"], r["c_max"])
        for r in sp.read_rollup_store(spark, store).collect()
    }
    assert after == before
    assert (
        spark.read.parquet(store).select("ingest_batch").distinct().count() == 1
    )


def test_cdc_apply_stream_converges_to_last_write_wins(spark, sf_dir, tmp_path):
    # A change feed (inserts + updates across micro-batches, __seq gives
    # within-batch order) applied through ParquetSink.upsert must leave
    # the store equal to last-write-wins per key, and a fresh-checkpoint
    # replay of the same feed must change nothing (upsert is idempotent
    # for an identical delta).
    import os

    from node_mongo2influx_spark.sinks import ParquetSink

    src = str(tmp_path / "feed")
    os.makedirs(src)
    # batch files: later files update earlier keys
    rows1 = [(k, float(k), "2024-01-0%d" % (k % 3 + 1), 1) for k in range(20)]
    rows2 = [(k, 100.0 + k, "2024-01-0%d" % (k % 3 + 1), 2) for k in range(10, 30)]
    # an in-batch duplicate: key 12 appears twice in file 2; __seq breaks it
    rows2.append((12, 999.0, "2024-01-01", 3))
    schema = "event_id long, value double, day string, __seq int"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src + "/.tmp1")
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(src + "/.tmp2")
    import glob
    import shutil

    for i, f in enumerate(
        sorted(glob.glob(src + "/.tmp1/*.parquet"))
        + sorted(glob.glob(src + "/.tmp2/*.parquet"))
    ):
        dst = f"{src}/{i:03d}.parquet"
        shutil.copy(f, dst)
        # FileStreamSource orders batches by modification time — two
        # files copied within the same ms can fire in either order, and
        # last-write-wins depends on it. Pin strictly increasing mtimes.
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    store = str(tmp_path / "store")
    sink = ParquetSink(store, partition_by=("day",), dynamic_overwrite=True)
    q = sp.cdc_apply_stream(
        sp.read_stream(spark, src, spark.read.parquet(src).schema,
                       max_files_per_trigger=1),
        sink, "t", keys=("event_id",), checkpoint_dir=str(tmp_path / "ck1"),
    )
    q.awaitTermination(120)

    expect = {k: float(k) for k in range(20)}
    expect.update({k: 100.0 + k for k in range(10, 30)})
    expect[12] = 999.0  # __seq 3 wins within batch 2
    got = {
        r["event_id"]: r["value"]
        for r in spark.read.parquet(store + "/t").collect()
    }
    assert got == expect

    # replay with a fresh checkpoint: store must be unchanged
    q2 = sp.cdc_apply_stream(
        sp.read_stream(spark, src, spark.read.parquet(src).schema,
                       max_files_per_trigger=1),
        sink, "t", keys=("event_id",), checkpoint_dir=str(tmp_path / "ck2"),
    )
    q2.awaitTermination(120)
    got2 = {
        r["event_id"]: r["value"]
        for r in spark.read.parquet(store + "/t").collect()
    }
    assert got2 == expect


def test_cdc_apply_stream_guard_seq_tolerates_out_of_order_batches(
    spark, tmp_path
):
    # Plain mode's cross-batch correctness is an ordered-delivery
    # assumption: a stale event in a LATER batch regresses the store.
    # guard_seq persists __seq and version-guards the merge, so the
    # stale row loses — and the unguarded contrast run proves the guard
    # is load-bearing, not vacuous.
    import glob
    import os
    import shutil

    from node_mongo2influx_spark.sinks import ParquetSink

    src = str(tmp_path / "feed")
    os.makedirs(src)
    schema = "event_id long, value double, day string, __seq int"
    # batch 1: key 1 at seq 5; batch 2 arrives LATER but carries an
    # OLDER event for key 1 (seq 3) plus a genuinely new key 2
    rows1 = [(1, 50.0, "2024-01-01", 5)]
    rows2 = [(1, 30.0, "2024-01-01", 3), (2, 10.0, "2024-01-02", 1)]
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src + "/.t1")
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(src + "/.t2")
    for i, f in enumerate(
        sorted(glob.glob(src + "/.t1/*.parquet"))
        + sorted(glob.glob(src + "/.t2/*.parquet"))
    ):
        dst = f"{src}/{i:03d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    feed_schema = spark.read.parquet(src).schema

    def run(store, ck, guard):
        sink = ParquetSink(store, partition_by=("day",),
                           dynamic_overwrite=True)
        q = sp.cdc_apply_stream(
            sp.read_stream(spark, src, feed_schema, max_files_per_trigger=1),
            sink, "t", keys=("event_id",),
            checkpoint_dir=str(tmp_path / ck), guard_seq=guard,
        )
        q.awaitTermination(120)

    guarded = str(tmp_path / "guarded")
    run(guarded, "ckg1", True)
    got = {
        r["event_id"]: (r["value"], r["__seq"])
        for r in spark.read.parquet(guarded + "/t").collect()
    }
    # stale seq-3 event lost; the version is persisted with the row
    assert got == {1: (50.0, 5), 2: (10.0, 1)}, got
    # fresh-checkpoint replay: byte-equal (delta wins version TIES, and
    # the tied rows are identical)
    before = sorted(
        map(tuple, spark.read.parquet(guarded + "/t").collect())
    )
    run(guarded, "ckg2", True)
    assert sorted(
        map(tuple, spark.read.parquet(guarded + "/t").collect())
    ) == before
    # the unguarded contrast: the same feed DOES regress key 1
    plain = str(tmp_path / "plain")
    run(plain, "ckp1", False)
    got_plain = {
        r["event_id"]: r["value"]
        for r in spark.read.parquet(plain + "/t").collect()
    }
    assert got_plain[1] == 30.0, got_plain

    # (guard_seq + sweep_moved_keys now composes via
    # upsert_guarded_moving — covered by
    # test_cdc_apply_stream_guarded_moving_keys below)
    # a feed without __seq is refused at CONSTRUCTION, not
    # mid-batch inside foreachBatch
    import pytest

    from pyspark.sql import functions as F

    with pytest.raises(ValueError, match="__seq"):
        sp.cdc_apply_stream(
            sp.read_stream(spark, src, feed_schema).drop("__seq"),
            ParquetSink(str(tmp_path / "y"), partition_by=("day",),
                        dynamic_overwrite=True),
            "t", keys=("event_id",),
            checkpoint_dir=str(tmp_path / "cky"), guard_seq=True,
        )


def test_cdc_apply_stream_evolves_schema(spark, tmp_path):
    # A store built by an earlier (narrower) pipeline generation keeps
    # serving while the feed gains a column: evolve_schema widens only
    # the touched partitions, history null-fills the new column, and
    # the merged read sees the union schema.
    import glob
    import os
    import shutil

    from node_mongo2influx_spark.sinks import ParquetSink

    store = str(tmp_path / "store")
    sink = ParquetSink(store, partition_by=("day",), dynamic_overwrite=True)
    sink.write(
        spark.createDataFrame(
            [(1, 10.0, "d1"), (2, 20.0, "d2")],
            "event_id long, value double, day string",
        ),
        "t",
    )

    src = str(tmp_path / "feed")
    os.makedirs(src)
    wide = "event_id long, value double, day string, tag string"
    spark.createDataFrame([(1, 11.0, "d1", "x")], wide).coalesce(
        1
    ).write.parquet(src + "/.t1")
    for i, f in enumerate(sorted(glob.glob(src + "/.t1/*.parquet"))):
        shutil.copy(f, f"{src}/{i:03d}.parquet")

    q = sp.cdc_apply_stream(
        sp.read_stream(spark, src, spark.read.parquet(src).schema),
        sink, "t", keys=("event_id",),
        checkpoint_dir=str(tmp_path / "ck"), evolve_schema=True,
    )
    q.awaitTermination(120)
    got = {
        r["event_id"]: (r["value"], r["tag"])
        for r in spark.read.option("mergeSchema", "true")
        .parquet(store + "/t")
        .collect()
    }
    assert got == {1: (11.0, "x"), 2: (20.0, None)}, got


def test_cdc_apply_stream_without_seq_reduces_deterministically(spark, tmp_path):
    # No __seq column: in-batch duplicate keys must reduce via the
    # documented lexicographic max over the struct of non-key columns —
    # the same row wins however the batch was partitioned/scheduled
    # (dropDuplicates would keep a scheduling-dependent row and break
    # replay idempotence).
    import os

    from node_mongo2influx_spark.sinks import ParquetSink

    src = str(tmp_path / "feed")
    os.makedirs(src)
    rows = [
        (12, 5.0, "2024-01-01"),
        (12, 999.0, "2024-01-01"),  # struct (value, day) max -> wins
        (12, 40.0, "2024-01-01"),
        (13, 7.0, "2024-01-02"),
    ]
    schema = "event_id long, value double, day string"
    spark.createDataFrame(rows, schema).repartition(3).write.parquet(src + "/.tmp")
    import glob
    import shutil

    for i, f in enumerate(sorted(glob.glob(src + "/.tmp/*.parquet"))):
        shutil.copy(f, f"{src}/{i:03d}.parquet")

    store = str(tmp_path / "store")
    sink = ParquetSink(store, partition_by=("day",), dynamic_overwrite=True)
    q = sp.cdc_apply_stream(
        sp.read_stream(spark, src, spark.read.parquet(src).schema),
        sink, "t", keys=("event_id",), checkpoint_dir=str(tmp_path / "ck"),
    )
    q.awaitTermination(120)
    got = {
        r["event_id"]: r["value"]
        for r in spark.read.parquet(store + "/t").collect()
    }
    assert got == {12: 999.0, 13: 7.0}


def test_cdc_apply_stream_sweeps_partition_migrating_keys(spark, tmp_path):
    # VERDICT r5 #4: a key whose partition value CHANGES across batches
    # (record moved from day 1 to day 3) must not leave its stale copy in
    # the old partition when sweep_moved_keys is on — and a
    # fresh-checkpoint replay of the same feed must be a no-op.
    import glob
    import os
    import shutil

    from node_mongo2influx_spark.sinks import ParquetSink

    src = str(tmp_path / "feed")
    os.makedirs(src)
    rows1 = [(1, 1.0, "2024-01-01", 1), (2, 2.0, "2024-01-01", 1),
             (3, 3.0, "2024-01-02", 1)]
    # batch 2 MOVES key 1 to day 3 (and updates key 3 in place)
    rows2 = [(1, 10.0, "2024-01-03", 2), (3, 30.0, "2024-01-02", 2)]
    schema = "event_id long, value double, day string, __seq int"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src + "/.t1")
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(src + "/.t2")
    for i, f in enumerate(
        sorted(glob.glob(src + "/.t1/*.parquet"))
        + sorted(glob.glob(src + "/.t2/*.parquet"))
    ):
        dst = f"{src}/{i:03d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    store = str(tmp_path / "store")
    sink = ParquetSink(store, partition_by=("day",), dynamic_overwrite=True)

    def run(ck):
        q = sp.cdc_apply_stream(
            sp.read_stream(spark, src, spark.read.parquet(src).schema,
                           max_files_per_trigger=1),
            sink, "t", keys=("event_id",),
            checkpoint_dir=str(tmp_path / ck), sweep_moved_keys=True,
        )
        q.awaitTermination(120)

    run("ck1")
    expect = {
        (1, 10.0, "2024-01-03"),
        (2, 2.0, "2024-01-01"),
        (3, 30.0, "2024-01-02"),
    }
    got = {
        (r["event_id"], r["value"], str(r["day"]))
        for r in spark.read.parquet(store + "/t").collect()
    }
    assert got == expect  # exactly one row per key — stale copy swept

    run("ck2")  # fresh-checkpoint replay: byte-stable
    got2 = {
        (r["event_id"], r["value"], str(r["day"]))
        for r in spark.read.parquet(store + "/t").collect()
    }
    assert got2 == expect


def test_cdc_apply_stream_sweep_multi_hop_migration_in_one_batch(
    spark, tmp_path
):
    # A key migrating TWICE within one micro-batch (A→B then B→C, __seq
    # ordered) reduces to a single last-write row whose before-image is
    # B — the sweep must still clear the ORIGINAL partition A, which
    # only the un-reduced batch knows about (prev_source wiring).
    import glob
    import os
    import shutil

    from node_mongo2influx_spark.sinks import ParquetSink

    store = str(tmp_path / "store")
    sink = ParquetSink(store, partition_by=("day",), dynamic_overwrite=True)
    # seed the store: key 1 lives in day A alongside key 2
    seed = spark.createDataFrame(
        [(1, 1.0, "2024-01-01"), (2, 2.0, "2024-01-01")],
        "event_id long, value double, day string",
    )
    sink.write(seed, "t")

    src = str(tmp_path / "feed")
    os.makedirs(src)
    rows = [
        (1, 5.0, "2024-01-02", "2024-01-01", 1),   # A → B
        (1, 10.0, "2024-01-03", "2024-01-02", 2),  # B → C (wins)
    ]
    schema = (
        "event_id long, value double, day string, __prev_day string, "
        "__seq int"
    )
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src + "/.t")
    for i, f in enumerate(sorted(glob.glob(src + "/.t/*.parquet"))):
        shutil.copy(f, f"{src}/{i:03d}.parquet")

    q = sp.cdc_apply_stream(
        sp.read_stream(spark, src, spark.read.parquet(src).schema),
        sink, "t", keys=("event_id",),
        checkpoint_dir=str(tmp_path / "ck"),
        sweep_moved_keys=True, prev_cols=("__prev_day",),
    )
    q.awaitTermination(120)
    got = {
        (r["event_id"], r["value"], str(r["day"]))
        for r in spark.read.parquet(store + "/t").collect()
    }
    # key 1 exists ONLY in its final partition; day A keeps key 2
    assert got == {(1, 10.0, "2024-01-03"), (2, 2.0, "2024-01-01")}
    # before-image columns never reach the store
    assert "__prev_day" not in spark.read.parquet(store + "/t").columns


def test_cdc_apply_stream_applies_delete_ops(spark, tmp_path):
    # A change feed with a Debezium-style op column: the key's FINAL
    # event in a batch decides — update-then-delete retracts,
    # delete-then-reinsert survives. Replay with a fresh checkpoint is
    # a no-op.
    import glob
    import os
    import shutil

    from node_mongo2influx_spark.sinks import ParquetSink

    src = str(tmp_path / "feed")
    os.makedirs(src)
    rows1 = [
        (1, 1.0, "2024-01-01", "u", 1),
        (2, 2.0, "2024-01-01", "u", 1),
        (3, 3.0, "2024-01-02", "u", 1),
    ]
    rows2 = [
        (2, 99.0, "2024-01-01", "u", 2),  # update...
        (2, 99.0, "2024-01-01", "d", 3),  # ...then delete -> retracted
        (3, 0.0, "2024-01-02", "d", 2),   # delete...
        (3, 33.0, "2024-01-02", "u", 3),  # ...then reinsert -> survives
    ]
    schema = "event_id long, value double, day string, op string, __seq int"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src + "/.t1")
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(src + "/.t2")
    for i, f in enumerate(
        sorted(glob.glob(src + "/.t1/*.parquet"))
        + sorted(glob.glob(src + "/.t2/*.parquet"))
    ):
        dst = f"{src}/{i:03d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    store = str(tmp_path / "store")
    sink = ParquetSink(store, partition_by=("day",), dynamic_overwrite=True)

    def run(ck):
        q = sp.cdc_apply_stream(
            sp.read_stream(spark, src, spark.read.parquet(src).schema,
                           max_files_per_trigger=1),
            sink, "t", keys=("event_id",),
            checkpoint_dir=str(tmp_path / ck), op_col="op",
        )
        q.awaitTermination(120)

    run("ck1")
    expect = {
        (1, 1.0, "2024-01-01"),
        (3, 33.0, "2024-01-02"),
    }
    out = spark.read.parquet(store + "/t")
    got = {
        (r["event_id"], r["value"], str(r["day"])) for r in out.collect()
    }
    assert got == expect
    assert "op" not in out.columns  # the op never reaches the store

    run("ck2")  # fresh-checkpoint replay: byte-stable
    got2 = {
        (r["event_id"], r["value"], str(r["day"]))
        for r in spark.read.parquet(store + "/t").collect()
    }
    assert got2 == expect


def test_cdc_apply_stream_without_seq_rejects_map_columns(spark, tmp_path):
    # The deterministic struct-max fallback cannot order MAP columns; the
    # stream must fail its first batch with an actionable message (add a
    # __seq column), not an opaque AnalysisException mid-foreachBatch.
    import os

    from node_mongo2influx_spark.sinks import ParquetSink

    src = str(tmp_path / "feed")
    spark.createDataFrame(
        [(1, {"a": "b"}, "2024-01-01")],
        "event_id long, props map<string,string>, day string",
    ).coalesce(1).write.parquet(src)

    store = str(tmp_path / "store")
    sink = ParquetSink(store, partition_by=("day",), dynamic_overwrite=True)
    q = sp.cdc_apply_stream(
        sp.read_stream(spark, src, spark.read.parquet(src).schema),
        sink, "t", keys=("event_id",), checkpoint_dir=str(tmp_path / "ck"),
    )
    import pytest as _pytest
    from pyspark.errors import StreamingQueryException

    with _pytest.raises(StreamingQueryException, match="__seq"):
        q.awaitTermination(120)


def test_cdc_apply_stream_op_col_requires_seq(spark, tmp_path):
    # op_col without __seq must refuse at once: the struct-max fallback
    # orders by VALUE, so an update with a high value would beat a later
    # delete — retraction is an order decision, not a value one.
    import os

    from node_mongo2influx_spark.sinks import ParquetSink

    src = str(tmp_path / "feed")
    spark.createDataFrame(
        [(1, 99.0, "2024-01-01", "u"), (1, 0.0, "2024-01-01", "d")],
        "event_id long, value double, day string, op string",
    ).coalesce(1).write.parquet(src)

    store = str(tmp_path / "store")
    sink = ParquetSink(store, partition_by=("day",), dynamic_overwrite=True)
    q = sp.cdc_apply_stream(
        sp.read_stream(spark, src, spark.read.parquet(src).schema),
        sink, "t", keys=("event_id",),
        checkpoint_dir=str(tmp_path / "ck"), op_col="op",
    )
    import pytest as _pytest
    from pyspark.errors import StreamingQueryException

    with _pytest.raises(StreamingQueryException, match="op_col needs"):
        q.awaitTermination(120)


def test_cdc_apply_stream_migrate_then_delete_same_batch(spark, tmp_path):
    # Finding-1 regression: a key that migrates partitions AND is deleted
    # in the same micro-batch must vanish from BOTH its old and new
    # partitions (the reduced delete row only names the new one; the
    # un-reduced batch's before-images name the old).
    import glob
    import os
    import shutil

    from node_mongo2influx_spark.sinks import ParquetSink

    src = str(tmp_path / "feed")
    os.makedirs(src)
    rows1 = [
        (1, 1.0, "2024-01-01", "2024-01-01", "u", 1),
        (2, 2.0, "2024-01-01", "2024-01-01", "u", 1),
    ]
    rows2 = [
        # key 1: move day 1 -> day 3, then delete
        (1, 10.0, "2024-01-03", "2024-01-01", "u", 2),
        (1, 10.0, "2024-01-03", "2024-01-03", "d", 3),
    ]
    schema = (
        "event_id long, value double, day string, __prev_day string, "
        "op string, __seq int"
    )
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src + "/.t1")
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(src + "/.t2")
    for i, f in enumerate(
        sorted(glob.glob(src + "/.t1/*.parquet"))
        + sorted(glob.glob(src + "/.t2/*.parquet"))
    ):
        dst = f"{src}/{i:03d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    store = str(tmp_path / "store")
    sink = ParquetSink(store, partition_by=("day",), dynamic_overwrite=True)

    def run(ck):
        q = sp.cdc_apply_stream(
            sp.read_stream(spark, src, spark.read.parquet(src).schema,
                           max_files_per_trigger=1),
            sink, "t", keys=("event_id",),
            checkpoint_dir=str(tmp_path / ck), op_col="op",
            sweep_moved_keys=True, prev_cols=("__prev_day",),
        )
        q.awaitTermination(120)

    run("ck1")
    expect = {(2, 2.0, "2024-01-01")}
    got = {
        (r["event_id"], r["value"], str(r["day"]))
        for r in spark.read.parquet(store + "/t").collect()
    }
    assert got == expect
    assert not os.path.exists(os.path.join(store, "t", "day=2024-01-03"))

    run("ck2")  # fresh-checkpoint replay: byte-stable
    got2 = {
        (r["event_id"], r["value"], str(r["day"]))
        for r in spark.read.parquet(store + "/t").collect()
    }
    assert got2 == expect


def test_ann_index_maintenance_stream(spark, tmp_path):
    # Continuous IVFPQ maintenance off a vector change feed: an UPDATE
    # re-encodes under the frozen quantizer (old cell's code and the
    # same-vid vectors row cleared first), a DELETE retracts the id,
    # and a fresh-checkpoint replay converges to the identical index.
    import glob
    import os
    import shutil

    from node_mongo2influx_spark.operators import similarity

    def vec(i, flip=False):
        v = [0.0] * 8
        v[i % 4] = -1.0 if flip else 1.0
        v[4 + (i % 4)] = 0.01 * (i % 7)
        return v

    corpus = spark.createDataFrame(
        [(i, vec(i)) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "ann_index")
    similarity.build_ivfpq_index(
        corpus, path, n_cells=4, m=4, n_codes=4, dim=8
    )

    # moves id 1 from the e1 region to the e3 region — a DIFFERENT cell
    # but still inside the trained distribution (a flipped/outlier vector
    # would be unrepresentable by the frozen codebooks: the documented
    # quantization-drift caveat, which is a rebuild trigger, not a bug)
    new_v1 = vec(51)  # 51 % 4 == 3
    src = str(tmp_path / "feed")
    os.makedirs(src)
    rows1 = [(1, new_v1, "u", 1), (9001, vec(3), "u", 1)]
    rows2 = [(2, vec(2), "d", 2)]
    schema = "vec_id long, embedding array<double>, op string, __seq int"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src + "/.t1")
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(src + "/.t2")
    for i, f in enumerate(
        sorted(glob.glob(src + "/.t1/*.parquet"))
        + sorted(glob.glob(src + "/.t2/*.parquet"))
    ):
        dst = f"{src}/{i:03d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    def run(ck):
        q = sp.ann_index_maintenance_stream(
            sp.read_stream(spark, src, spark.read.parquet(src).schema,
                           max_files_per_trigger=1),
            path, checkpoint_dir=str(tmp_path / ck), op_col="op",
        )
        q.awaitTermination(120)

    def snapshot():
        codes = sorted(
            (r["vid"], r["cell"], bytes(r["codes"]))
            for r in spark.read.parquet(path + "/codes").collect()
        )
        vecs = sorted(
            (r["vid"], tuple(r["vec"]))
            for r in spark.read.parquet(path + "/vectors").collect()
        )
        return codes, vecs

    run("ck1")
    codes, vecs = snapshot()
    vids_codes = [v for v, _, _ in codes]
    vids_vecs = [v for v, _ in vecs]
    # deleted id gone everywhere; new id present; updated id present ONCE
    assert 2 not in vids_codes and 2 not in vids_vecs
    assert 9001 in vids_codes and 9001 in vids_vecs
    assert vids_codes.count(1) == 1 and vids_vecs.count(1) == 1
    # the surviving vectors row for id 1 is the NEW vector
    v1 = dict(vecs)[1]
    assert list(v1) == [float(x) for x in new_v1], v1
    # queryable: the new region's query surfaces the updated id
    q = spark.createDataFrame(
        [(7777, new_v1)], "vec_id long, embedding array<double>"
    )
    got = similarity.knn_cosine_ivfpq_query(
        spark, path, q, k=5, n_probe=4, shortlist=20
    ).collect()
    assert 1 in {r["neighbor_id"] for r in got}
    # fresh-checkpoint replay: byte-identical index state
    run("ck2")
    assert snapshot() == (codes, vecs)


def test_ann_maintenance_stream_drift_log(spark, tmp_path):
    # drift_log_dir makes the frozen-quantizer trade observable: an
    # in-distribution batch logs rebuild=false, an out-of-distribution
    # batch flags rebuild=true, and because the baseline is FROZEN into
    # the model at build time the log replays byte-identically.
    import glob
    import os
    import shutil

    from node_mongo2influx_spark.operators import similarity

    def vec(i):
        v = [0.0] * 8
        v[i % 4] = 1.0
        v[4 + (i % 4)] = 0.01 * (i % 7)
        return v

    corpus = spark.createDataFrame(
        [(i, vec(i)) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "ann_drift_idx")
    similarity.build_ivfpq_index(corpus, path, n_cells=4, m=4, n_codes=4, dim=8)

    src = str(tmp_path / "feed")
    os.makedirs(src)
    schema = "vec_id long, embedding array<double>, op string, __seq int"
    rows1 = [(100 + i, vec(100 + i), "u", 1) for i in range(5)]
    rows2 = [(200 + i, [10.0 + x for x in vec(i)], "u", 2) for i in range(5)]
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src + "/.t1")
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(src + "/.t2")
    for i, f in enumerate(
        sorted(glob.glob(src + "/.t1/*.parquet"))
        + sorted(glob.glob(src + "/.t2/*.parquet"))
    ):
        dst = f"{src}/{i:03d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    log = str(tmp_path / "drift_log")

    def run(ck):
        q = sp.ann_index_maintenance_stream(
            sp.read_stream(spark, src, spark.read.parquet(src).schema,
                           max_files_per_trigger=1),
            path, checkpoint_dir=str(tmp_path / ck), op_col="op",
            drift_log_dir=log,
        )
        q.awaitTermination(120)

    run("ck1")
    rows = {
        int(r["ingest_batch"]): r
        for r in sp.read_drift_log(spark, log).collect()
    }
    assert len(rows) == 2, rows
    in_d, ood = rows[min(rows)], rows[max(rows)]
    assert not in_d["rebuild"] and in_d["n_delta"] == 5, in_d
    assert ood["rebuild"] and ood["ratio"] > in_d["ratio"], (in_d, ood)
    # frozen baseline == a pure function of (model, delta): replay with a
    # fresh checkpoint rewrites each batch's partition byte-identically
    before = sorted(map(tuple, sp.read_drift_log(spark, log).collect()))
    run("ck2")
    after = sorted(map(tuple, sp.read_drift_log(spark, log).collect()))
    assert after == before
    # a log dir that was never written reads as EMPTY, not a wedge
    assert sp.read_drift_log(spark, str(tmp_path / "nolog")).count() == 0


def test_distinct_maintenance_stream_merge_equals_batch(
    spark, events_stream_dir, tmp_path
):
    # The sketch IVM: each micro-batch appends its HLL register partials
    # under its own ingest_batch partition; max-merge-on-read must equal
    # the single-pass batch sketch BIT-FOR-BIT (max is associative,
    # commutative and IDEMPOTENT), and a replay must change nothing.
    from node_mongo2influx_spark.functions.hll import hll_count_distinct

    schema = spark.read.parquet(events_stream_dir).schema
    store = str(tmp_path / "hll_store")
    q = sp.distinct_maintenance_stream(
        sp.read_stream(spark, events_stream_dir, schema, max_files_per_trigger=1),
        store,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    n_batches = (
        spark.read.parquet(store).select("ingest_batch").distinct().count()
    )
    assert n_batches >= 2, "need multiple micro-batches to prove the merge"

    def as_map(df):
        return {
            r["event_type"]: (r["sum_inv_scaled"], r["hll_estimate"])
            for r in df.collect()
        }

    merged = as_map(sp.read_distinct_store(spark, store))
    full = as_map(
        hll_count_distinct(
            spark.read.parquet(events_stream_dir), ["event_type"], "user_id"
        )
    )
    assert merged == full and full

    # replay with a fresh checkpoint: every batch re-fires, dynamic
    # overwrite rewrites the same partitions — idempotent by max-merge
    q2 = sp.distinct_maintenance_stream(
        sp.read_stream(spark, events_stream_dir, schema, max_files_per_trigger=1),
        store,
        str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(120)
    assert as_map(sp.read_distinct_store(spark, store)) == full


def test_distinct_store_compaction_preserves_estimate(
    spark, events_stream_dir, tmp_path
):
    # Same compaction pattern as the rollup store, with max instead of
    # sum: merge the register log down to one ingest_batch partition and
    # swap — merge-on-read must be unchanged (max-merge is idempotent,
    # so compacting is literally a no-op on the merged registers).
    schema = spark.read.parquet(events_stream_dir).schema
    store = str(tmp_path / "hll_store")
    q = sp.distinct_maintenance_stream(
        sp.read_stream(spark, events_stream_dir, schema, max_files_per_trigger=1),
        store,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    before = {
        r["event_type"]: (r["sum_inv_scaled"], r["hll_estimate"])
        for r in sp.read_distinct_store(spark, store).collect()
    }
    compacted = (
        spark.read.parquet(store)
        .groupBy("event_type", "bucket")
        .agg(F.max("register").alias("register"))
        .withColumn("ingest_batch", F.lit(-1))
    )
    compacted.write.mode("overwrite").parquet(store + "__tmp")
    import shutil

    shutil.rmtree(store)
    shutil.move(store + "__tmp", store)
    after = {
        r["event_type"]: (r["sum_inv_scaled"], r["hll_estimate"])
        for r in sp.read_distinct_store(spark, store).collect()
    }
    assert after == before
    assert (
        spark.read.parquet(store).select("ingest_batch").distinct().count() == 1
    )


def test_read_distinct_store_no_data_files_reads_empty(spark, tmp_path):
    # a register-less store (first batch all-NULL values, or compaction
    # debris) leaves a _SUCCESS-only dir — the CLAUDE.md store-reader
    # rule: must read as EMPTY, not UNABLE_TO_INFER_SCHEMA
    store = tmp_path / "hll_store"
    store.mkdir()
    (store / "_SUCCESS").touch()
    out = sp.read_distinct_store(spark, str(store))
    assert out.count() == 0
    assert "hll_estimate" in out.columns
    # a fully absent dir reads the same way
    assert sp.read_distinct_store(spark, str(tmp_path / "nope")).count() == 0


def test_overlap_matrix_from_streamed_register_store(spark, sf_dir, tmp_path):
    # End-to-end sketch composition: a stream continuously maintains
    # per-SOURCE content-hash registers; the cross-source overlap matrix
    # then comes from the register STORE alone — no corpus access at
    # compare time — and must match the batch sketch algebra
    # (source_overlap_hll's estimates) exactly, because max-merged
    # streamed registers equal the batch registers bit-for-bit.
    from node_mongo2influx_spark.functions.hll import (
        hll_overlap_from_registers,
    )
    from node_mongo2influx_spark.plans.llm_ops import (
        _head_fp_spark,
        source_overlap_hll,
    )
    from node_mongo2influx_spark.plans.tables import load

    src_dir = str(tmp_path / "docs_src")
    (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("source", _head_fp_spark().alias("h"))
        .repartition(4)
        .write.mode("overwrite")
        .parquet(src_dir)
    )
    schema = spark.read.parquet(src_dir).schema
    store = str(tmp_path / "src_regs")
    q = sp.distinct_maintenance_stream(
        sp.read_stream(spark, src_dir, schema, max_files_per_trigger=1),
        store,
        str(tmp_path / "ckpt"),
        key_col="source",
        value_col="h",
    )
    q.awaitTermination(120)

    merged_regs = (
        spark.read.parquet(store)
        .groupBy("source", "bucket")
        .agg(F.max("register").alias("__m"))
        .withColumnRenamed("bucket", "__bucket")
    )
    from_store = {
        (r["key_a"], r["key_b"]): (
            r["union_sum_inv"], r["hll_a"], r["hll_b"],
            r["hll_union"], r["hll_intersection"],
        )
        for r in hll_overlap_from_registers(merged_regs, "source").collect()
    }
    from_batch = {
        (r["source_a"], r["source_b"]): (
            r["union_sum_inv"], r["hll_a"], r["hll_b"],
            r["hll_union"], r["hll_intersection"],
        )
        for r in source_overlap_hll(spark, sf_dir).collect()
    }
    assert from_store == from_batch and from_batch


def test_bloom_positions_stream_union_merge(spark, sf_dir, tmp_path):
    # The Bloom filter's streaming maintenance shape: each micro-batch
    # appends its DISTINCT bit positions under its own ingest_batch
    # partition; union-merge-on-read (distinct over the log) must give a
    # filter that classifies the delta EXACTLY like the batch query's —
    # set union is associative/commutative/idempotent, the same algebra
    # that makes the HLL register log replay-safe.
    from node_mongo2influx_spark.functions.phash import (
        fmix32_spark_inline,
        fnv1a32_spark_sql,
    )
    from node_mongo2influx_spark.operators import dedup as dd
    from node_mongo2influx_spark.plans.llm_ops import (
        _BLOOM_BITS_PER_KEY,
        _BLOOM_FLOOR,
        _BLOOM_K,
        _BLOOM_SEED,
        dedup_incremental_bloom,
    )
    from node_mongo2influx_spark.plans.tables import load

    fp = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 10), " ")
        ).alias("fp"),
        (F.pmod(F.col("doc_id"), F.lit(4)) == 3).alias("is_delta"),
    )
    # same DATA-SIZED geometry rule as the batch query (r7): m from the
    # base distinct-fp count, so streamed and batch filters agree.
    _m = dd.bloom_geometry(
        fp.where(~F.col("is_delta")).select("fp").distinct().count(),
        bits_per_key=_BLOOM_BITS_PER_KEY,
        k=_BLOOM_K,
        floor=_BLOOM_FLOOR,
    )["m"]
    pos = F.expr(
        fmix32_spark_inline(f"(__h + i * {_BLOOM_SEED}) % 4294967296")
        + f" % {_m}"
    )
    ks = F.array([F.lit(i) for i in range(_BLOOM_K)])
    base_src = str(tmp_path / "base_src")
    fp.where(~F.col("is_delta")).select("fp").repartition(3).write.parquet(
        base_src
    )
    store = str(tmp_path / "bloom_store")

    def write_batch(batch_df, batch_id):
        (
            batch_df.select(F.expr(fnv1a32_spark_sql("fp")).alias("__h"))
            .select("__h", F.explode(ks).alias("i"))
            .select(pos.alias("pos"))
            .distinct()
            .withColumn("ingest_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .parquet(store)
        )

    schema = spark.read.parquet(base_src).schema
    q = (
        sp.read_stream(spark, base_src, schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert (
        spark.read.parquet(store).select("ingest_batch").distinct().count()
        >= 2
    )

    merged = spark.read.parquet(store).select("pos").distinct()
    delta = fp.where(F.col("is_delta")).select("doc_id", "fp")
    dpos = (
        delta.select("doc_id", F.expr(fnv1a32_spark_sql("fp")).alias("__h"))
        .select("doc_id", F.explode(ks).alias("i"), "__h")
        .select("doc_id", pos.alias("pos"))
    )
    hits = (
        dpos.join(merged.withColumn("__mk", F.lit(1)), "pos", "left")
        .groupBy("doc_id")
        .agg((F.sum(F.coalesce("__mk", F.lit(0))) == _BLOOM_K).alias("hit"))
    )
    streamed = {r["doc_id"]: r["hit"] for r in hits.collect()}
    batch = {
        r["doc_id"]: r["bloom_hit"]
        for r in dedup_incremental_bloom(spark, sf_dir).collect()
    }
    assert streamed == batch and batch


def test_cdc_apply_stream_guarded_moving_keys(spark, tmp_path):
    # Round 8 (VERDICT r7 #4): guard_seq + sweep_moved_keys composes —
    # out-of-order delivery AND partition-migrating keys in one feed.
    # Batch order is deliberately adversarial: the migration event
    # (seq 5, day 3) lands FIRST, then a stale pre-migration update
    # (seq 3) claiming the ORIGINAL partition arrives in a later batch.
    # The store must end with exactly one copy per key, at the globally
    # largest version, in that version's partition.
    import glob
    import os
    import shutil

    from node_mongo2influx_spark.sinks import ParquetSink

    src = str(tmp_path / "feed")
    os.makedirs(src)
    schema = "event_id long, value double, day string, __seq int"
    rows1 = [(1, 10.0, "2024-01-01", 1), (2, 20.0, "2024-01-01", 1)]
    rows2 = [(1, 50.0, "2024-01-03", 5)]           # key 1 migrates
    rows3 = [(1, 30.0, "2024-01-01", 3),           # stale, old partition
             (2, 25.0, "2024-01-02", 2)]           # key 2 migrates
    for i, rows in enumerate((rows1, rows2, rows3)):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/.t{i}"
        )
    files = [
        f
        for i in range(3)
        for f in sorted(glob.glob(f"{src}/.t{i}/*.parquet"))
    ]
    for i, f in enumerate(files):
        dst = f"{src}/{i:03d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    feed_schema = spark.read.parquet(src).schema

    store = str(tmp_path / "store")
    sink = ParquetSink(store, partition_by=("day",), dynamic_overwrite=True)

    def run(ck):
        q = sp.cdc_apply_stream(
            sp.read_stream(spark, src, feed_schema, max_files_per_trigger=1),
            sink, "t", keys=("event_id",),
            checkpoint_dir=str(tmp_path / ck),
            guard_seq=True, sweep_moved_keys=True,
        )
        q.awaitTermination(120)

    run("ck1")
    got = sorted(
        (r["event_id"], r["value"], str(r["day"]), r["__seq"])
        for r in spark.read.parquet(store + "/t").collect()
    )
    assert got == [
        (1, 50.0, "2024-01-03", 5),
        (2, 25.0, "2024-01-02", 2),
    ], got
    # vacated partitions are gone from disk (no stale directories)
    assert not os.path.exists(store + "/t/day=2024-01-01")
    # fresh-checkpoint replay of the whole feed: set-equal store
    run("ck2")
    again = sorted(
        (r["event_id"], r["value"], str(r["day"]), r["__seq"])
        for r in spark.read.parquet(store + "/t").collect()
    )
    assert again == got


def test_drift_forecast_eta_pins_the_flag_day(spark):
    # Round 8 (VERDICT r7 #6). Exact-linear drift: ratio climbs 0.05/
    # batch from 1.0 — slope is EXACTLY 500 bp/batch once the window has
    # 2 points, and the ETA at every pre-alarm batch lands exactly on
    # the actual crossing (2.0 at batch 20).
    log = spark.createDataFrame(
        [(b, (10_000 + 500 * b) / 1e4) for b in range(25)],
        "ingest_batch long, ratio double",
    )
    rows = {r["batch"]: r for r in sp.drift_forecast(log).collect()}
    assert rows[0]["slope_bp_per_batch"] is None  # 1-point window
    assert rows[0]["eta_batches"] is None
    for b in range(1, 25):
        assert rows[b]["slope_bp_per_batch"] == 500.0, b
    flag_day = min(b for b in rows if rows[b]["alarm"])
    assert flag_day == 20
    for b in range(1, 20):
        assert b + rows[b]["eta_batches"] == flag_day, b
    assert rows[20]["eta_batches"] is None  # crossed: nothing to forecast
    # improving drift never forecasts
    down = spark.createDataFrame(
        [(b, (15_000 - 300 * b) / 1e4) for b in range(10)],
        "ingest_batch long, ratio double",
    )
    assert all(
        r["eta_batches"] is None for r in sp.drift_forecast(down).collect()
    )


def test_drift_forecast_registry_flag_day_matches(spark, sf_dir):
    # The registered synthesized-log face: the last pre-alarm ETA must
    # land within 1 batch of the ACTUAL threshold crossing (the trend is
    # quadratic, so the trailing-linear extrapolation may lead by a hair
    # — never trail: under accelerating drift the forecast must be
    # conservative, not late).
    from node_mongo2influx_spark.plans import load_registry

    rows = {
        r["batch"]: r
        for r in load_registry()["ivfpq_drift_forecast"]
        .fn(spark, sf_dir)
        .collect()
    }
    alarms = [b for b in rows if rows[b]["alarm"]]
    assert alarms, "synthesized series must cross the 2x threshold"
    flag_day = min(alarms)
    last_pre = flag_day - 1
    eta = rows[last_pre]["eta_batches"]
    assert eta is not None
    predicted = last_pre + eta
    assert flag_day <= predicted <= flag_day + 1, (predicted, flag_day)


def test_integrity_maintenance_stream_sees_cross_batch_dups(spark, tmp_path):
    # The reason this is an IVM and not a per-batch check: a key that
    # arrives in two different micro-batches is invisible to any single
    # batch's census — only the merged per-id counts can see it. Merge-
    # on-read must equal the batch census over all data bit-for-bit,
    # and a fresh-checkpoint replay must change nothing (dynamic
    # overwrite of per-batch partitions).
    from node_mongo2influx_spark.operators import integrity

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1,), (2,), (3,), (None,)], "event_id long"
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame([(3,), (4,), (4,)], "event_id long").coalesce(
        1
    ).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    store = str(tmp_path / "store")
    q = sp.integrity_maintenance_stream(
        sp.read_stream(spark, src, schema, max_files_per_trigger=1),
        store,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert (
        spark.read.parquet(store).select("ingest_batch").distinct().count()
        >= 2
    ), "need multiple micro-batches to prove the cross-batch merge"

    fields = (
        "n_rows n_null_id n_distinct_id n_dup_excess "
        "max_id_multiplicity min_id max_id"
    ).split()
    rows = sp.read_integrity_store(spark, store).collect()
    assert len(rows) == 1
    got = tuple(rows[0][f] for f in fields)
    # 7 rows, 1 NULL id, distinct {1,2,3,4}, ids 3 and 4 each twice
    assert got == (7, 1, 4, 2, 2, 1, 4)
    full = integrity.id_census(
        integrity.per_id_counts(spark.read.parquet(src), "event_id"), []
    ).collect()
    assert got == tuple(full[0][f] for f in fields)

    q2 = sp.integrity_maintenance_stream(
        sp.read_stream(spark, src, schema, max_files_per_trigger=1),
        store,
        str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(120)
    rows2 = sp.read_integrity_store(spark, store).collect()
    assert tuple(rows2[0][f] for f in fields) == got

    # empty / never-written store reads as an EMPTY census with the
    # pinned schema (r6 store-reader rule), not a crash or NULL row
    empty = sp.read_integrity_store(spark, str(tmp_path / "nope"))
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == fields


def test_integrity_store_compaction_preserves_census(spark, tmp_path):
    # same compaction contract as the rollup store: partials merged down
    # to one ingest_batch partition must read back census-identical
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i % 5,) for i in range(20)], "event_id long"
    ).repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema
    store = str(tmp_path / "store")
    q = sp.integrity_maintenance_stream(
        sp.read_stream(spark, src, schema, max_files_per_trigger=1),
        store,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    before = sp.read_integrity_store(spark, store).collect()
    compacted = (
        spark.read.parquet(store)
        .groupBy("id")
        .agg(F.sum("c").alias("c"))
        .withColumn("ingest_batch", F.lit(-1))
    )
    compacted.write.mode("overwrite").parquet(store + "__tmp")
    import shutil

    shutil.rmtree(store)
    shutil.move(store + "__tmp", store)
    after = sp.read_integrity_store(spark, store).collect()
    assert after == before
    assert (
        spark.read.parquet(store).select("ingest_batch").distinct().count()
        == 1
    )
