"""Sink adapters: memory (tests), parquet (bench), InfluxDB line protocol."""

from node_mongo2influx_spark.sinks.base import Sink
from node_mongo2influx_spark.sinks.memory import MemorySink
from node_mongo2influx_spark.sinks.parquet import ParquetSink
from node_mongo2influx_spark.sinks.influx import InfluxLineProtocolSink
from node_mongo2influx_spark.sinks.noop import NoopSink

__all__ = [
    "Sink",
    "MemorySink",
    "ParquetSink",
    "InfluxLineProtocolSink",
    "NoopSink",
]
