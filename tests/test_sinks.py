"""Sink adapter tests: line-protocol rendering, insertlimit batching, spool
transport, truncate semantics."""

from __future__ import annotations

import datetime
import pathlib

import pytest

from node_mongo2influx_spark import TransformSpec
from node_mongo2influx_spark.sinks import InfluxLineProtocolSink, NoopSink
from node_mongo2influx_spark.sinks.influx import SpoolTransport, batches, render_lines


def _points(spark):
    return spark.createDataFrame(
        [
            (datetime.datetime(2024, 1, 1, 0, 0, 0), 1.5, 7, 'say "hi"', True),
            (datetime.datetime(2024, 1, 1, 0, 0, 1), None, 8, None, False),
        ],
        "time timestamp, value double, n long, note string, ok boolean",
    )


def test_render_lines_types_and_nulls(spark):
    lines = sorted(r["line"] for r in render_lines(_points(spark), "cpu load").collect())
    # measurement escaped; int gets 'i'; string quoted+escaped; nulls omitted
    assert lines[0] == 'cpu\\ load n=8i,ok=false 1704067201000000000'
    assert lines[1] == (
        'cpu\\ load value=1.5,n=7i,note="say \\"hi\\"",ok=true 1704067200000000000'
    )


def test_render_drops_all_null_field_rows(spark):
    # a row with every non-time field NULL would be invalid line protocol
    df = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1), None, None),
         (datetime.datetime(2024, 1, 2), 1.0, "x")],
        "time timestamp, v double, s string",
    )
    lines = [r["line"] for r in render_lines(df, "m").collect()]
    assert len(lines) == 1 and 'v=1.0,s="x"' in lines[0]


def test_render_drops_nonfinite_float_fields(spark):
    # Line protocol has no NaN/±Inf representation and InfluxDB 400s the
    # whole POST batch on one bad field — a non-finite reading renders
    # as an ABSENT field (like NULL); the row's other fields still write,
    # and a row whose ONLY field was non-finite is dropped entirely.
    df = spark.createDataFrame(
        [
            (datetime.datetime(2024, 1, 1), float("nan"), "a"),
            (datetime.datetime(2024, 1, 2), float("inf"), "b"),
            (datetime.datetime(2024, 1, 3), float("-inf"), None),
            (datetime.datetime(2024, 1, 4), 2.5, None),
        ],
        "time timestamp, v double, s string",
    )
    lines = sorted(r["line"] for r in render_lines(df, "m").collect())
    assert lines == [
        'm s="a" 1704067200000000000',
        'm s="b" 1704153600000000000',
        "m v=2.5 1704326400000000000",
    ]


def test_render_escapes_newlines_in_string_fields(spark):
    # Line protocol is newline-delimited: an unescaped \n in a field value
    # splits one point into two malformed lines and 400s the POST batch.
    df = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1), "a\nb\r\nc\rd"),
         (datetime.datetime(2024, 1, 2), "has \\n literal")],
        "time timestamp, s string",
    )
    lines = sorted(r["line"] for r in render_lines(df, "m").collect())
    assert len(lines) == 2
    assert all("\n" not in ln and "\r" not in ln for ln in lines)
    assert 's="a\\nb\\nc\\nd"' in lines[0]
    # a pre-existing literal backslash-n survives distinguishably (doubled \)
    assert 's="has \\\\n literal"' in lines[1]


def test_render_drops_null_time_rows(spark):
    # NULL time → NULL line after concat; a None among the lines would
    # crash '\n'.join mid-POST. The sink must be safe without upstream
    # time filtering (TransformSpec(time_column=None) / --no-time-filter).
    df = spark.createDataFrame(
        [(None, 1.0), (datetime.datetime(2024, 1, 2), 2.0)],
        "time timestamp, v double",
    )
    lines = [r["line"] for r in render_lines(df, "m").collect()]
    assert len(lines) == 1 and "v=2.0" in lines[0]


def test_dedup_tag_makes_replay_idempotent(spark, tmp_path):
    # Two rows share a timestamp in a field-only schema: without the tag a
    # replayed POST upserts both onto one point (same measurement+tagset+ts)
    # and data is silently lost; with the tag each row keys its own point,
    # so a replay lands on the same two points.
    ts = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame([(ts, 1.0), (ts, 2.0)], "time timestamp, v double")
    lines = [r["line"] for r in render_lines(df, "m", dedup_tag="ck").collect()]
    keys = {(ln.split(" ")[0], ln.split(" ")[-1]) for ln in lines}
    assert len(keys) == 2  # distinct (measurement,tagset)+ts upsert keys
    assert all(",ck=" in ln.split(" ")[0] for ln in lines)

    sink = InfluxLineProtocolSink(
        SpoolTransport(str(tmp_path)), insert_limit=10, dedup_tag="ck"
    )
    sink.write(df, "m")
    sink.write(df, "m")  # replay
    spooled = [
        ln
        for f in pathlib.Path(tmp_path, "m").glob("*.lp")
        for ln in f.read_text().splitlines()
    ]
    # upsert key = (measurement+tagset, ts): replay collapses to 2 points
    assert len(spooled) == 4
    assert len({(ln.split(" ")[0], ln.split(" ")[-1]) for ln in spooled}) == 2


def test_spool_truncate_removes_stale_batches(spark, tmp_path):
    from node_mongo2influx_spark.sinks.influx import SpoolTransport

    t = SpoolTransport(str(tmp_path))
    t("events", ["a b 1"])
    assert list(pathlib.Path(tmp_path, "events").glob("*.lp"))
    t.truncate("events")
    assert not list(pathlib.Path(tmp_path, "events").glob("*.lp"))


def test_truncate_without_support_raises(spark):
    import pytest

    sink = InfluxLineProtocolSink(lambda s, l: None)  # bare callable transport
    with pytest.raises(RuntimeError):
        sink.truncate("x")


def test_insertlimit_batching():
    got = list(batches(iter(["a", "b", "c", "d", "e"]), 2))
    assert got == [["a", "b"], ["c", "d"], ["e"]]


def test_spool_transport_end_to_end(spark, tmp_path):
    sink = InfluxLineProtocolSink(SpoolTransport(str(tmp_path)), insert_limit=100)
    sink.write(_points(spark), "events")
    files = list(pathlib.Path(tmp_path, "events").glob("*.lp"))
    assert files
    lines = [ln for f in files for ln in f.read_text().splitlines()]
    assert len(lines) == 2
    assert all(ln.startswith("events ") for ln in lines)


def test_noop_sink_runs_plan(spark):
    NoopSink().write(_points(spark), "x")  # must not raise


def test_full_pipeline_into_influx_sink(engine, sf_dir, tmp_path):
    from node_mongo2influx_spark.sources.catalog import DirectoryCatalog

    catalog = DirectoryCatalog(engine.spark, sf_dir)
    sink = InfluxLineProtocolSink(SpoolTransport(str(tmp_path)), insert_limit=150)
    report = engine.migrate(
        catalog, TransformSpec(rename={"ts": "time"}), sink, tables=["events"]
    )
    assert not report.failed
    lines = [
        ln
        for f in pathlib.Path(tmp_path, "events").glob("*.lp")
        for ln in f.read_text().splitlines()
    ]
    assert len(lines) == 1000


def test_influx_rows_in_equals_written_plus_skipped(engine, tmp_path):
    # The renderer drops a row whose non-time fields are all NULL; the
    # engine must count it as skipped, next to the null-time row.
    from node_mongo2influx_spark.sources.catalog import SessionCatalog

    t = datetime.datetime(2024, 1, 1)
    engine.spark.createDataFrame(
        [(t, 1.0, "a"), (t, None, None), (None, 3.0, "c"), (t, 4.0, None)],
        "time timestamp, v double, s string",
    ).createOrReplaceTempView("all_null_fields")
    try:
        report = engine.migrate(
            SessionCatalog(engine.spark),
            TransformSpec(),
            InfluxLineProtocolSink(SpoolTransport(str(tmp_path))),
            tables=["all_null_fields"],
        )
    finally:
        engine.spark.catalog.dropTempView("all_null_fields")
    [tr] = report.tables
    assert tr.error is None
    assert (tr.rows_in, tr.rows_written, tr.rows_skipped) == (4, 2, 2)
    assert tr.rows_in == tr.rows_written + tr.rows_skipped
    lines = [
        ln
        for f in pathlib.Path(tmp_path, "all_null_fields").glob("*.lp")
        for ln in f.read_text().splitlines()
    ]
    assert len(lines) == tr.rows_written


@pytest.mark.parametrize("limit", [0, -5])
def test_insert_limit_below_one_is_rejected(limit, tmp_path):
    # batches() yields one-line batches for any limit < 1, so such a sink
    # would quietly send one POST per line
    with pytest.raises(ValueError, match=f"insert_limit must be >= 1, got {limit}"):
        InfluxLineProtocolSink(SpoolTransport(str(tmp_path)), insert_limit=limit)
