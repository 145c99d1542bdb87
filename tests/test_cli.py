"""CLI end-to-end test (reuses the session via direct main() call)."""

from __future__ import annotations

import json

import pytest

from node_mongo2influx_spark.cli import main


def test_cli_migrate_to_parquet(spark, sf_dir, tmp_path, capsys):
    rc = main(
        [
            "--source", sf_dir,
            "--sink", f"parquet:{tmp_path}/out",
            "--tables", "events",
            "--rename", "ts=time",
            "--drop", "props",
            "--master", "local[4]",
        ]
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["tables"]["events"]["rows_written"] == 1000
    assert report["failed"] == []
    df = spark.read.parquet(f"{tmp_path}/out/events")
    assert df.count() == 1000
    assert "props" not in df.columns and "time" in df.columns


def test_cli_bad_sink_spec():
    import pytest

    with pytest.raises(SystemExit):
        main(["--source", "/tmp", "--sink", "bogus:x"])


def test_cli_insert_limit_below_one_exits_with_message(tmp_path):
    # rejected with a one-line message before any Spark work, not a
    # traceback and not one POST per line
    import pytest

    with pytest.raises(SystemExit) as exc:
        main(
            ["--source", str(tmp_path), "--sink", f"influx-spool:{tmp_path}/lp",
             "--insert-limit", "0"]
        )
    assert exc.value.code == (
        "invalid sink option: insert_limit must be >= 1, got 0"
    )


@pytest.mark.parametrize(
    "option, value",
    [("--target-file-mb", "0"), ("--target-file-mb", "-5"),
     ("--limit", "0"), ("--limit", "-3")],
)
def test_cli_size_below_one_exits_before_spark(
    tmp_path, monkeypatch, option, value
):
    # rejected with a one-line message before Spark starts: not a
    # ZeroDivisionError from compact, and not a silent clamp to 1
    from node_mongo2influx_spark import Engine

    def no_spark(*args, **kwargs):
        raise AssertionError("Spark started")

    monkeypatch.setattr(Engine, "builder", no_spark)
    sink = ["--sink", f"parquet:{tmp_path}/out"]
    mode = (
        ["--compact", "events"]
        if option == "--target-file-mb"
        else ["--source", str(tmp_path)]
    )
    with pytest.raises(SystemExit) as exc:
        main([*sink, *mode, option, value])
    assert exc.value.code == f"{option} must be >= 1, got {value}"


def test_cli_repeated_tables_exit_before_spark(tmp_path, monkeypatch):
    # a repeated --tables value would migrate that table twice
    from node_mongo2influx_spark import Engine

    def no_spark(*args, **kwargs):
        raise AssertionError("Spark started")

    monkeypatch.setattr(Engine, "builder", no_spark)
    with pytest.raises(SystemExit) as exc:
        main(["--source", str(tmp_path), "--sink", f"parquet:{tmp_path}/out",
              "--tables", "events", "users", "events"])
    assert exc.value.code == "--tables repeats ['events']"


def test_cli_two_files_for_one_table_exit_before_spark(tmp_path, monkeypatch):
    # events.parquet beside events.csv both list as "events"
    from node_mongo2influx_spark import Engine

    def no_spark(*args, **kwargs):
        raise AssertionError("Spark started")

    monkeypatch.setattr(Engine, "builder", no_spark)
    for f in ("events.parquet", "events.csv", "users.json"):
        (tmp_path / f).write_text("")
    with pytest.raises(SystemExit) as exc:
        main(["--source", str(tmp_path), "--sink", f"parquet:{tmp_path}/out"])
    assert exc.value.code == (
        "--source has more than one file per table: "
        "['events.csv', 'events.parquet']"
    )


@pytest.mark.parametrize("spool", [False, True])
def test_cli_empty_source_exits_with_message(spark, tmp_path, capsys, spool):
    # a source with no tables is a failed migration, not an empty report
    source = f"spool:{tmp_path}" if spool else str(tmp_path)
    with pytest.raises(SystemExit) as exc:
        main(["--source", source, "--sink", f"parquet:{tmp_path}/out"])
    assert exc.value.code == f"no tables to migrate in source: {source}"
    assert capsys.readouterr().out == ""


def test_cli_compact(spark, sf_dir, tmp_path, capsys):
    # seed a fragmented series, then compact it via the CLI
    base = spark.read.parquet(f"{sf_dir}/region.parquet")
    for _ in range(3):
        base.repartition(6).write.mode("append").parquet(f"{tmp_path}/c/region")
    import pathlib

    before = len(list(pathlib.Path(f"{tmp_path}/c/region").rglob("*.parquet")))
    assert before >= 12  # 3 appends × ≥4 non-empty part files
    rc = main(
        ["--sink", f"parquet:{tmp_path}/c", "--compact", "region",
         "--master", "local[4]"]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["files_after"] < before
    assert spark.read.parquet(f"{tmp_path}/c/region").count() == 3 * base.count()


def test_cli_migrate_spool_source(spark, sf_dir, tmp_path, capsys):
    import json as _json

    from node_mongo2influx_spark.plans.tables import load

    dump = tmp_path / "dump" / "readings"
    dump.mkdir(parents=True)
    rows = load(spark, sf_dir, "events").select("event_id", "ts", "value").limit(50).collect()
    with open(dump / "p0.jsonl", "w") as fh:
        for r in rows:
            fh.write(_json.dumps({
                "event_id": r["event_id"],
                "date": {"$date": int(r["ts"].timestamp() * 1000)},
                "value": r["value"],
            }) + "\n")
    rc = main([
        "--source", f"spool:{tmp_path}/dump",
        "--sink", f"parquet:{tmp_path}/out",
        "--rename", "date=time",
        "--master", "local[4]",
    ])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["tables"]["readings"]["rows_written"] == 50
    df = spark.read.parquet(f"{tmp_path}/out/readings")
    assert df.count() == 50 and "time" in df.columns


def test_cli_adhoc_sql(capsys):
    from node_mongo2influx_spark.cli import main

    rc = main([
        "--sql",
        "SELECT event_type, count(*) AS n FROM events "
        "GROUP BY event_type ORDER BY event_type",
        "--source", "/root/testdata/sf0.001",
        "--master", "local[4]",
    ])
    out = capsys.readouterr().out
    assert rc == 0
    assert "rows: 5" in out and "click" in out


def test_cli_time_column_reaches_influx_sink(spark, sf_dir, tmp_path, capsys):
    import pathlib

    rc = main([
        "--source", sf_dir,
        "--sink", f"influx-spool:{tmp_path}/lp",
        "--tables", "events",
        "--time-column", "ts",
        "--master", "local[4]",
    ])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and report["failed"] == []
    assert report["tables"]["events"]["rows_written"] == 1000
    lines = [
        ln
        for f in pathlib.Path(tmp_path, "lp", "events").glob("*.lp")
        for ln in f.read_text().splitlines()
    ]
    assert len(lines) == 1000
    assert not any(" ts=" in ln or ",ts=" in ln for ln in lines)
