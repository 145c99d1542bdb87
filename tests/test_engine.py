"""End-to-end migrate pipeline tests (SURVEY.md §5.2 item 2: golden tests
over sf0.001 into a collecting sink)."""

from __future__ import annotations

import pytest

from node_mongo2influx_spark import TransformSpec
from node_mongo2influx_spark.sinks import MemorySink, ParquetSink
from node_mongo2influx_spark.sinks.base import Sink
from node_mongo2influx_spark.sources.catalog import (
    Catalog,
    DirectoryCatalog,
    is_system_table,
)


@pytest.fixture()
def catalog(engine, sf_dir):
    return DirectoryCatalog(engine.spark, sf_dir)


def test_catalog_enumerates_all_fixture_tables(catalog):
    names = catalog.table_names()
    assert set(names) >= {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }


def test_system_prefix_filter_is_prefix_not_substring():
    # Deliberate fix of the reference's substring match (index.js:298),
    # which would skip a user table named "ecosystem".
    assert is_system_table("system.indexes", ("system.",))
    assert not is_system_table("ecosystem", ("system.", "system_"))


def test_migrate_events_end_to_end(engine, catalog):
    # The canonical reference example (examples/migrate.js:27-38):
    # rename date->time, keep everything else, drop rows without time.
    spec = TransformSpec(rename={"ts": "time"})
    sink = MemorySink()
    report = engine.migrate(catalog, spec, sink, tables=["events"])
    assert not report.failed
    [tr] = report.tables
    assert tr.table == "events"
    assert tr.rows_in == 1000
    assert tr.rows_skipped == 0
    assert tr.rows_written == 1000
    assert tr.success_rate == 100.0
    rows = sink.series["events"]
    assert len(rows) == 1000
    assert "time" in rows[0].asDict() and "ts" not in rows[0].asDict()


def test_migrate_skip_accounting(engine, catalog):
    # Null-out time for 'error' events to exercise F1 + M3 accounting
    # (rows_in = rows_written + rows_skipped, the reference's own invariant,
    # index.js:271).
    spec = TransformSpec(
        rename={"ts": "time"},
        set={"time": "CASE WHEN event_type = 'error' THEN NULL ELSE time END"},
    )
    sink = MemorySink()
    report = engine.migrate(catalog, spec, sink, tables=["events"])
    [tr] = report.tables
    assert tr.rows_in == 1000
    assert tr.rows_skipped > 0
    assert tr.rows_in == tr.rows_written + tr.rows_skipped
    assert all(r["time"] is not None for r in sink.series["events"])


def test_migrate_multi_table_parallel(engine, catalog):
    spec = TransformSpec(time_column=None)
    sink = MemorySink()
    report = engine.migrate(catalog, spec, sink, tables=["region", "nation", "customer"])
    assert {t.table for t in report.tables} == {"region", "nation", "customer"}
    assert not report.failed
    assert len(sink.series["nation"]) == 25


def test_migrate_truncate_mode(engine, catalog, tmp_path):
    spec = TransformSpec(rename={"ts": "time"})
    sink = ParquetSink(str(tmp_path / "out"))
    cfg_engine = type(engine)(engine.spark, engine.config.merged(empty_series=False))
    cfg_engine.migrate(catalog, spec, sink, tables=["events"])
    cfg_engine.migrate(catalog, spec, sink, tables=["events"])  # append → 2x
    n_appended = engine.spark.read.parquet(str(tmp_path / "out" / "events")).count()
    assert n_appended == 2000

    trunc_engine = type(engine)(engine.spark, engine.config.merged(empty_series=True))
    trunc_engine.migrate(catalog, spec, sink, tables=["events"])
    n_trunc = engine.spark.read.parquet(str(tmp_path / "out" / "events")).count()
    assert n_trunc == 1000



def test_parquet_sink_output_reads_back(engine, catalog, tmp_path):
    # Spark writes `time` as INT96; reading the series back must not take
    # it for nanos.
    from node_mongo2influx_spark.sources.parquet_compat import read_parquet

    spec = TransformSpec(rename={"ts": "time"}, drop=["props"])
    engine.migrate(catalog, spec, ParquetSink(str(tmp_path / "out")), tables=["events"])
    back = read_parquet(engine.spark, str(tmp_path / "out" / "events"))
    want = spec.compile(catalog.read("events"))
    assert back.dtypes == want.dtypes
    assert back.count() == want.count() == 1000
    assert back.exceptAll(want).isEmpty() and want.exceptAll(back).isEmpty()


def test_table_failure_is_isolated(engine, catalog):
    # A transform referencing a missing column fails that table only.
    spec = TransformSpec(rename={"no_such_column": "time"}, time_column="time")
    sink = MemorySink()
    report = engine.migrate(catalog, spec, sink, tables=["events", "region"])
    failed = {t.table for t in report.failed}
    assert "events" in failed and "region" in failed  # both lack 'time' source
    # but the run completed and reported both tables
    assert len(report.tables) == 2


def test_fail_fast_aborts_run(engine, catalog):
    import pytest

    spec = TransformSpec(rename={"no_such_column": "time"})
    sink = MemorySink()
    ff = type(engine)(engine.spark, engine.config.merged(fail_fast=True))
    with pytest.raises(Exception):
        ff.migrate(catalog, spec, sink, tables=["events", "region"])


def test_influx_transport_truncate(engine, sf_dir):
    # HttpTransport.truncate: parameterized DELETE via /query, and the
    # unsafe-name guard refuses injection-shaped series names.
    import pytest

    from node_mongo2influx_spark.sinks.influx import HttpTransport

    t = HttpTransport("http://127.0.0.1:9", "db")
    with pytest.raises(ValueError):
        t.truncate('x"; DROP MEASUREMENT "y')


def test_config_merge_explicit_falsy_wins(engine):
    from node_mongo2influx_spark.config import EngineConfig

    cfg = EngineConfig(empty_series=True).merged(
        empty_series=False, table_concurrency=1
    )
    assert cfg.empty_series is False
    assert cfg.table_concurrency == 1
    with pytest.raises(ValueError):
        engine.config.merged(nonexistent_key=1)


@pytest.mark.parametrize("n", [0, -3])
def test_migrate_rejects_table_concurrency_below_one(engine, catalog, n):
    # an explicit value below one is an error naming the field, not a
    # silent clamp to one worker
    from node_mongo2influx_spark import Engine
    from node_mongo2influx_spark.config import EngineConfig

    eng = Engine(engine.spark, EngineConfig(table_concurrency=n))
    with pytest.raises(ValueError, match=f"table_concurrency must be >= 1, got {n}"):
        eng.migrate(catalog, TransformSpec(), MemorySink(), tables=["events"])


class _RaisingCatalog(Catalog):
    """Lists ``events`` but fails to read it, as a broken source would."""

    def table_names(self) -> list[str]:
        return ["events"]

    def read(self, name: str):
        raise OSError(f"cannot read {name}")


def test_failed_truncate_run_leaves_no_pending_overwrite(engine, tmp_path):
    # A truncate-run whose read fails must not leave the sink holding a
    # pending overwrite that a later append run would act on.
    from node_mongo2influx_spark import Engine
    from node_mongo2influx_spark.config import EngineConfig

    class OneRow(Catalog):
        def table_names(self) -> list[str]:
            return ["events"]

        def read(self, name: str):
            return self.spark.createDataFrame([(1,)], "v long")

    spec = TransformSpec(time_column=None)
    sink = ParquetSink(str(tmp_path / "out"))
    append = Engine(engine.spark, EngineConfig())
    truncate = Engine(engine.spark, EngineConfig(empty_series=True))
    assert not append.migrate(OneRow(engine.spark), spec, sink).failed
    broken = truncate.migrate(_RaisingCatalog(engine.spark), spec, sink)
    assert [t.table for t in broken.failed] == ["events"]
    assert not append.migrate(OneRow(engine.spark), spec, sink).failed
    back = engine.spark.read.parquet(str(tmp_path / "out" / "events"))
    assert back.count() == 2


def test_failed_read_does_not_truncate_spool(tmp_path):
    # Spark-free: a table that fails before its write keeps what its
    # series already held; the truncate is never sent.
    from node_mongo2influx_spark import Engine
    from node_mongo2influx_spark.config import EngineConfig
    from node_mongo2influx_spark.sinks.influx import (
        InfluxLineProtocolSink,
        SpoolTransport,
    )

    stale = tmp_path / "out" / "events" / "earlier.lp"
    stale.parent.mkdir(parents=True)
    stale.write_text("events v=1i 1\n")
    sink = InfluxLineProtocolSink(SpoolTransport(str(tmp_path / "out")))
    eng = Engine(None, EngineConfig(empty_series=True))
    report = eng.migrate(_RaisingCatalog(None), TransformSpec(), sink)
    assert "cannot read events" in report.failed[0].error
    assert stale.read_text() == "events v=1i 1\n"


class _RecordingSink(Sink):
    def __init__(self) -> None:
        self.calls: list[str] = []

    def truncate(self, series: str) -> None:
        self.calls.append(f"truncate {series}")

    def write(self, df, series: str) -> int:
        self.calls.append(f"write {series}")
        return 0


@pytest.mark.parametrize("tables", [None, ["events", "events"]])
def test_migrate_rejects_repeated_table_names(tmp_path, tables):
    # Spark-free: events.parquet and events.csv both list as "events", and
    # an explicit list can repeat a name. Either would migrate the table
    # twice, so the run fails before any truncate or write.
    from node_mongo2influx_spark import Engine
    from node_mongo2influx_spark.config import EngineConfig

    for f in ("events.parquet", "events.csv", "users.json"):
        (tmp_path / f).write_text("")
    catalog = DirectoryCatalog(None, tmp_path)
    assert catalog.table_names() == ["events", "events", "users"]
    sink = _RecordingSink()
    eng = Engine(None, EngineConfig(empty_series=True))
    with pytest.raises(ValueError, match=r"table names repeat: \['events'\]"):
        eng.migrate(catalog, TransformSpec(), sink, tables=tables)
    assert sink.calls == []


def _sink_count(kind: str, sink, spark, out) -> int:
    if kind == "memory":
        return len(sink.series["events"])
    if kind == "parquet":
        return spark.read.parquet(str(out / "events")).count()
    return sum(
        len(f.read_text().splitlines()) for f in (out / "events").glob("*.lp")
    )


@pytest.mark.parametrize("time_column", ["time", None])
@pytest.mark.parametrize("kind", ["memory", "parquet", "influx"])
def test_migrate_contract_every_sink(engine, catalog, tmp_path, kind, time_column):
    # Per table rows_in = rows_written + rows_skipped, and the sink holds
    # exactly rows_written rows (or lines). Null-time rows are skipped by
    # the time filter, or, with no filter, by the Influx renderer alone.
    from node_mongo2influx_spark.sinks.influx import (
        InfluxLineProtocolSink,
        SpoolTransport,
    )

    out = tmp_path / "out"
    sink = {
        "memory": MemorySink,
        "parquet": lambda: ParquetSink(str(out)),
        "influx": lambda: InfluxLineProtocolSink(SpoolTransport(str(out))),
    }[kind]()
    spec = TransformSpec(
        rename={"ts": "time"},
        set={"time": "CASE WHEN event_type = 'error' THEN NULL ELSE time END"},
        time_column=time_column,
    )
    n_null = spec.compile(catalog.read("events")).where("time IS NULL").count()
    assert n_null > 0
    report = engine.migrate(catalog, spec, sink, tables=["events"])
    assert not report.failed
    [tr] = report.tables
    assert tr.rows_in == 1000
    assert tr.rows_in == tr.rows_written + tr.rows_skipped
    drops_null = time_column is not None or kind == "influx"
    assert tr.rows_skipped == (n_null if drops_null else 0)
    assert _sink_count(kind, sink, engine.spark, out) == tr.rows_written


_MIGRATE_FROM_ELSEWHERE = """
import json, sys
sys.path.insert(0, sys.argv[1])
from node_mongo2influx_spark import Engine, TransformSpec
from node_mongo2influx_spark.sinks import MemorySink
from node_mongo2influx_spark.sources.catalog import SpoolCatalog

eng = Engine.builder(master="local[1]")
report = eng.migrate(SpoolCatalog(eng.spark, sys.argv[2]), TransformSpec(), MemorySink())
[t] = report.tables
print(json.dumps({"written": t.rows_written, "error": t.error}))
eng.spark.stop()
"""


def test_workers_import_package_from_any_working_directory(tmp_path):
    # The driver finds the package through sys.path alone, with no
    # PYTHONPATH and a working directory outside the checkout; the spool
    # decode runs in Python workers, which must import the package too.
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    coll = tmp_path / "dump" / "events"
    coll.mkdir(parents=True)
    (coll / "a.jsonl").write_text(
        "".join(
            json.dumps({"time": {"$date": 1_700_000_000_000 + i}, "v": i}) + "\n"
            for i in range(5)
        )
    )
    script = tmp_path / "migrate.py"
    script.write_text(_MIGRATE_FROM_ELSEWHERE)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    repo = str(Path(__file__).resolve().parent.parent)
    out = subprocess.run(
        [sys.executable, str(script), repo, str(tmp_path / "dump")],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result == {"written": 5, "error": None}
