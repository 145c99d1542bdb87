"""Noop sink: full materialization of the plan, zero write cost.

Uses Spark's built-in `noop` datasource — every row is computed and shipped
through the writer, nothing is persisted. This is the benchmark sink: it
measures the pipeline (scan → transform → filter) without conflating disk
write throughput.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from node_mongo2influx_spark.sinks.base import Sink


class NoopSink(Sink):
    def write(self, df: DataFrame, series: str) -> int:
        df.write.format("noop").mode("overwrite").save()
        return -1

    def truncate(self, series: str) -> None:
        pass
