"""node_mongo2influx_spark — a PySpark-native analytics/ETL engine.

Re-expresses the capabilities of the reference ETL tool
``nichdiekuh/node-mongo2influx`` (batch multi-table migrate with per-row
transform, time-validity filter, batched parallel sink writes — see
/root/reference/index.js) as an idiomatic Spark DataFrame engine, and extends
it with the relational surface (joins/aggregations/windows/sorts/set-ops) and
LLM-data-pipeline operators (dedup, similarity search, text analysis,
multimodal columns) designed for 100 TB scale.

Entry points:
    Engine          — session + multi-table migrate driver
    TransformSpec   — declarative per-row transform (the `prepareFunction`
                      analogue, compiled to Column expressions)
"""

from node_mongo2influx_spark.config import EngineConfig
from node_mongo2influx_spark.engine import Engine, MigrationReport, TableReport
from node_mongo2influx_spark.operators.transform import TransformSpec
from node_mongo2influx_spark.worker_zipimport import install as _install_zipimport

_install_zipimport()

__all__ = [
    "Engine",
    "EngineConfig",
    "MigrationReport",
    "TableReport",
    "TransformSpec",
]

__version__ = "0.1.0"
