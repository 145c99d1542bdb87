"""CLI: the reference's end-user workflow as one command.

The reference's canonical usage (examples/migrate.js) is: configure
endpoints, define a prepareFunction, call migrate(), watch the progress TUI.
The CLI equivalent::

    python -m node_mongo2influx_spark \
        --source /root/testdata/sf0.001 \
        --sink parquet:/tmp/out \
        --rename ts=time --drop props --empty-series \
        --tables events

Sinks: ``parquet:<dir>``, ``influx-spool:<dir>``, ``influx:<url>#<db>``,
``memory`` (prints counts), ``noop`` (benchmark). Progress goes to stderr as
structured logs (the M6 TUI's role — SURVEY.md §2.6; the Spark UI covers
task-level detail).
"""

from __future__ import annotations

import argparse
import json
import logging
import sys


def _parse_kv(pairs: list[str]) -> dict[str, str]:
    out = {}
    for p in pairs:
        if "=" not in p:
            raise SystemExit(f"expected key=value, got {p!r}")
        k, v = p.split("=", 1)
        out[k] = v
    return out


def _build_sink(spec: str, insert_limit: int, time_column: str):
    from node_mongo2influx_spark.sinks import (
        InfluxLineProtocolSink,
        MemorySink,
        NoopSink,
        ParquetSink,
    )
    from node_mongo2influx_spark.sinks.influx import HttpTransport, SpoolTransport

    kind, _, rest = spec.partition(":")
    if kind == "parquet":
        return ParquetSink(rest)
    if kind == "influx-spool":
        return InfluxLineProtocolSink(
            SpoolTransport(rest), insert_limit=insert_limit, time_column=time_column
        )
    if kind == "influx":
        url, _, db = rest.partition("#")
        if not db:
            raise SystemExit("influx sink needs <url>#<database>")
        return InfluxLineProtocolSink(
            HttpTransport(url, db), insert_limit=insert_limit, time_column=time_column
        )
    if kind == "memory":
        return MemorySink()
    if kind == "noop":
        return NoopSink()
    raise SystemExit(f"unknown sink {spec!r}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="node_mongo2influx_spark",
        description="Migrate every table of a source through a declarative "
        "transform into a sink (the reference pipeline, Spark-first), or run "
        "a named query from the library (--list-queries / --query).",
    )
    ap.add_argument("--source", help="directory of table files, or "
                    "spool:<dir> for a mongoexport JSON dump "
                    "(one sub-directory per collection)")
    ap.add_argument("--sink", help="parquet:<dir> | influx:<url>#<db> | influx-spool:<dir> | memory | noop")
    ap.add_argument("--list-queries", action="store_true",
                    help="list the query library and exit")
    ap.add_argument("--sql", default=None, metavar="SQL",
                    help="run ad-hoc SQL with the source dir's tables "
                    "registered as views (ANSI, Spark dialect)")
    ap.add_argument("--query", default=None, metavar="NAME",
                    help="run one library query against --source and print rows")
    ap.add_argument("--show-rows", type=int, default=20,
                    help="rows to print for --query")
    ap.add_argument("--tables", nargs="*", default=None, help="subset of tables")
    ap.add_argument("--rename", nargs="*", default=[], metavar="OLD=NEW")
    ap.add_argument("--drop", nargs="*", default=[], metavar="COL")
    ap.add_argument("--cast", nargs="*", default=[], metavar="COL=TYPE")
    ap.add_argument("--set", nargs="*", default=[], metavar="COL=SQL_EXPR")
    ap.add_argument("--where", default=None, help="SQL predicate")
    ap.add_argument("--time-column", default="time")
    ap.add_argument("--no-time-filter", action="store_true")
    ap.add_argument("--empty-series", action="store_true", help="truncate first")
    ap.add_argument("--compact", default=None, metavar="SERIES",
                    help="maintenance: rewrite one series of a parquet sink "
                    "into ~--target-file-mb files and exit")
    ap.add_argument("--target-file-mb", type=int, default=128)
    ap.add_argument("--limit", type=int, default=2, help="concurrent tables")
    ap.add_argument("--insert-limit", type=int, default=100, help="sink batch rows")
    ap.add_argument("--master", default="local[*]")
    args = ap.parse_args(argv)

    logging.basicConfig(
        level=logging.INFO, format="%(asctime)s %(message)s", stream=sys.stderr
    )

    if args.list_queries:
        from node_mongo2influx_spark.plans import load_registry

        for name, qd in sorted(load_registry().items()):
            oracle = "oracle" if qd.oracle else "rows-only"
            print(f"{name:32s} [{oracle}] {qd.description.splitlines()[0][:90]}")
        return 0

    if args.sql is not None:
        # Ad-hoc SQL over the fixture tables — the escape hatch for
        # queries the library hasn't named. Same session settings (AQE,
        # ANSI) as every library query.
        if not args.source:
            raise SystemExit("--sql requires --source <fixture dir>")
        from node_mongo2influx_spark import Engine
        from node_mongo2influx_spark.plans.tables import TABLE_NAMES, load

        engine = Engine.builder(master=args.master)
        import pathlib as _pl

        for t in TABLE_NAMES:
            if (_pl.Path(args.source) / f"{t}.parquet").exists():
                load(engine.spark, args.source, t).createOrReplaceTempView(t)
        df = engine.spark.sql(args.sql).persist()
        try:
            df.show(args.show_rows, truncate=False)
            print(f"rows: {df.count()}")
        finally:
            df.unpersist()
        return 0

    if args.query is not None:
        if not args.source:
            raise SystemExit("--query requires --source <fixture dir>")
        from node_mongo2influx_spark import Engine
        from node_mongo2influx_spark.plans import load_registry

        reg = load_registry()
        if args.query not in reg:
            raise SystemExit(
                f"unknown query {args.query!r}; see --list-queries"
            )
        engine = Engine.builder(master=args.master)
        df = reg[args.query].fn(engine.spark, args.source).persist()
        try:
            df.show(args.show_rows, truncate=False)
            print(f"rows: {df.count()}")  # served from cache, not a re-run
        finally:
            df.unpersist()
        return 0

    if args.compact is not None:
        from node_mongo2influx_spark import Engine
        from node_mongo2influx_spark.sinks import ParquetSink
        from node_mongo2influx_spark.sources.parquet_compat import read_parquet

        kind, _, rest = (args.sink or "").partition(":")
        if kind != "parquet" or not rest:
            raise SystemExit("--compact requires --sink parquet:<dir>")
        if args.target_file_mb < 1:
            raise SystemExit(
                f"--target-file-mb must be >= 1, got {args.target_file_mb}"
            )
        engine = Engine.builder(master=args.master)
        sink = ParquetSink(rest)
        n = sink.compact(
            lambda p: read_parquet(engine.spark, p),
            args.compact,
            target_file_bytes=args.target_file_mb << 20,
        )
        print(json.dumps({"series": args.compact, "files_after": n}))
        return 0

    if not args.source or not args.sink:
        raise SystemExit("--source and --sink are required for migration")

    import pathlib

    src_kind, _, src_rest = args.source.partition(":")
    src_path = src_rest if src_kind == "spool" else args.source
    if not pathlib.Path(src_path).is_dir():
        raise SystemExit(f"source is not a directory: {src_path}")
    if args.tables is not None and not args.tables:
        # `--tables` with no values (e.g. an empty shell expansion) would
        # otherwise silently migrate nothing and exit 0.
        raise SystemExit("--tables given but empty; omit it to migrate all tables")
    repeated = sorted({t for t in args.tables or () if args.tables.count(t) > 1})
    if repeated:  # Engine.migrate rejects these too, but after Spark starts
        raise SystemExit(f"--tables repeats {repeated}")
    if args.limit < 1:
        raise SystemExit(f"--limit must be >= 1, got {args.limit}")
    try:
        sink = _build_sink(args.sink, args.insert_limit, args.time_column)
    except ValueError as e:  # e.g. --insert-limit 0, before Spark starts
        raise SystemExit(f"invalid sink option: {e}") from None

    from node_mongo2influx_spark import Engine, EngineConfig, TransformSpec
    from node_mongo2influx_spark.sources.catalog import (
        DirectoryCatalog,
        SpoolCatalog,
    )

    if src_kind != "spool":  # table_names() needs no session: before Spark
        names = DirectoryCatalog(None, src_path).table_names()
        twice = {n for n in names if names.count(n) > 1} & set(args.tables or names)
        files = sorted(p.name for p in pathlib.Path(src_path).iterdir()
                       if p.stem in twice and p.suffix in DirectoryCatalog._READERS)
        if files:  # e.g. events.parquet beside events.csv: which is "events"?
            raise SystemExit(f"--source has more than one file per table: {files}")

    engine = Engine.builder(
        master=args.master,
        config=EngineConfig(
            table_concurrency=args.limit,
            empty_series=args.empty_series,
        ),
    )
    spec = TransformSpec(
        rename=_parse_kv(args.rename),
        drop=args.drop,
        cast=_parse_kv(args.cast),
        set=_parse_kv(args.set),
        where=args.where,
        time_column=None if args.no_time_filter else args.time_column,
    )
    catalog = (
        SpoolCatalog(engine.spark, src_path)
        if src_kind == "spool"
        else DirectoryCatalog(engine.spark, args.source)
    )
    report = engine.migrate(catalog, spec, sink, tables=args.tables)
    if not report.tables:
        raise SystemExit(f"no tables to migrate in source: {args.source}")

    print(
        json.dumps(
            {
                "tables": {
                    t.table: {
                        "rows_in": t.rows_in,
                        "rows_written": t.rows_written,
                        "rows_skipped": t.rows_skipped,
                        "success_rate": round(t.success_rate, 2),
                        "rows_per_sec": round(t.rows_per_sec, 1),
                        "seconds": round(t.seconds, 3),
                        "error": t.error,
                    }
                    for t in report.tables
                },
                "total_rows_written": report.rows_written,
                "total_seconds": round(report.seconds, 3),
                "failed": [t.table for t in report.failed],
            }
        )
    )
    return 1 if report.failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
