"""Structured Streaming pipeline tests (file source, availableNow trigger)."""

from __future__ import annotations

import logging
import re

import pytest
from pyspark.sql import functions as F

from node_mongo2influx_spark import TransformSpec
from node_mongo2influx_spark.sinks import MemorySink
from node_mongo2influx_spark.streaming import pipeline as sp
from node_mongo2influx_spark.plans.tables import load


@pytest.fixture(scope="module", autouse=True)
def few_shuffle_partitions(spark):
    # 32 shuffle partitions of ~1000 rows is pure overhead in tests.
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


@pytest.mark.parametrize("kind", ["memory", "parquet", "influx"])
def test_migrate_stream_end_to_end(spark, events_stream_dir, tmp_path, caplog, kind):
    # The stream twin of test_engine.py::test_migrate_contract_every_sink:
    # each micro-batch logs rows_in = rows_written + rows_skipped, the
    # skips add up to the null-time rows, and the sink holds exactly the
    # input minus those rows.
    from node_mongo2influx_spark.sinks import ParquetSink
    from node_mongo2influx_spark.sinks.influx import (
        InfluxLineProtocolSink,
        SpoolTransport,
    )

    src = str(tmp_path / "src")
    (
        spark.read.parquet(events_stream_dir)
        .withColumn("ts", F.when(F.col("event_id") % 7 != 0, F.col("ts")))
        .repartition(4)
        .write.parquet(src)
    )
    expected = (
        spark.read.parquet(src)
        .withColumnRenamed("ts", "time")
        .where(F.col("time").isNotNull())
    )
    n_null = spark.read.parquet(src).where(F.col("ts").isNull()).count()
    assert n_null > 0
    out = tmp_path / "out"
    sink = {
        "memory": MemorySink,
        "parquet": lambda: ParquetSink(str(out)),
        "influx": lambda: InfluxLineProtocolSink(SpoolTransport(str(out))),
    }[kind]()
    source = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    caplog.set_level(logging.INFO, logger="node_mongo2influx_spark")
    q = sp.migrate_stream(
        source,
        TransformSpec(rename={"ts": "time"}),
        sink,
        series="events",
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_once=True,
    )
    q.awaitTermination(120)
    assert q.exception() is None
    line = re.compile(
        r"table events batch (\d+): (\d+) rows in, (\d+) written, (\d+) skipped"
    )
    reports = [
        tuple(map(int, m.groups()))
        for m in map(line.match, caplog.messages) if m
    ]
    assert len({r[0] for r in reports}) == len(reports) >= 2  # one per batch
    for _, rows_in, written, skipped in reports:
        assert rows_in == written + skipped
    assert sum(r[1] for r in reports) == 1000
    assert sum(r[3] for r in reports) == n_null
    assert sum(r[2] for r in reports) == 1000 - n_null
    cols = expected.columns
    want = [tuple(r) for r in expected.collect()]
    assert len(want) == 1000 - n_null
    if kind == "influx":
        lines = [ln for f in (out / "events").glob("*.lp")
                 for ln in f.read_text().splitlines()]
        assert len(lines) == len(want)
        return
    if kind == "memory":
        got = [tuple(r[c] for c in cols) for r in sink.series["events"]]
    else:
        got = [tuple(r) for r in spark.read.parquet(str(out / "events"))
               .select(*cols).collect()]
    assert sorted(got, key=repr) == sorted(want, key=repr)


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
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base_src)
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
