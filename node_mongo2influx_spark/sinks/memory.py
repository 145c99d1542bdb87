"""In-memory sink for tests and small results.

Collects to the driver — intentionally NOT a 100 TB path; it exists so the
end-to-end pipeline (SURVEY.md §5.2 golden tests) can assert on exact rows,
series names, and counts, the way the reference's example run would be
eyeballed.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, Row

from node_mongo2influx_spark.sinks.base import Sink


class MemorySink(Sink):
    def __init__(self) -> None:
        self.series: dict[str, list[Row]] = {}
        self._lock = threading.Lock()

    def write(self, df: DataFrame, series: str) -> int:
        rows = df.collect()
        with self._lock:
            self.series.setdefault(series, []).extend(rows)
        return len(rows)

    def truncate(self, series: str) -> None:
        with self._lock:
            self.series[series] = []
