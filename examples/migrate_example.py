"""The reference's canonical example (examples/migrate.js:1-58), re-expressed.

The original: connect to Mongo + Influx, then for EVERY collection apply

    prepareFunction(row):          # examples/migrate.js:27-38
        delete row['_id']          # :30
        row.time = row.date        # :33
        delete row['date']         # :36
        return row

with querylimit=200000, insertlimit=150, and a progress TUI. The same
program here — declarative, partition-parallel, with the same knobs
(querylimit excepted: input splits replace skip/limit pagination):

    PYTHONPATH=.. python migrate_example.py
"""

from node_mongo2influx_spark import Engine, EngineConfig, TransformSpec
from node_mongo2influx_spark.sinks import InfluxLineProtocolSink
from node_mongo2influx_spark.sinks.influx import SpoolTransport
from node_mongo2influx_spark.sources.catalog import DirectoryCatalog


def main() -> None:
    engine = Engine.builder(
        master="local[*]",
        config=EngineConfig(
            table_concurrency=2,   # reference `limit` (index.js:50)
            empty_series=False,
        ),
    )

    # the prepareFunction, declaratively: drop _id, date -> time.
    # (Our fixtures use `ts`; a real Mongo source would have `date`/`_id`.)
    prepare = TransformSpec(drop=["_id"], rename={"date": "time", "ts": "time"})

    catalog = DirectoryCatalog(engine.spark, "/root/testdata/sf0.001")
    sink = InfluxLineProtocolSink(SpoolTransport("/tmp/migrate_example_spool"),
                                  insert_limit=150)  # examples/migrate.js:21
    # For a live InfluxDB instead:
    #   from node_mongo2influx_spark.sinks.influx import HttpTransport
    #   sink = InfluxLineProtocolSink(HttpTransport("http://localhost:8086", "grafinflux"))

    report = engine.migrate(catalog, prepare, sink, tables=["events"])
    for t in report.tables:
        print(
            f"{t.table}: {t.rows_written} written, {t.rows_skipped} skipped "
            f"({t.success_rate:.1f}% success, {t.rows_per_sec:.0f} rows/s)"
        )


if __name__ == "__main__":
    main()
