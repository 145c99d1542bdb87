"""Catalog enumeration — the reference's dynamic collection discovery.

The reference enumerates every collection of the source database at runtime
(`mongodb.collections(cb)`, /root/reference/index.js:356) and skips names
containing the substring "system" (index.js:298 — over-matching; we use
prefix semantics per SURVEY.md §4.3.3).

Spark-first: a :class:`Catalog` yields (name, DataFrame) pairs. The built-in
implementations cover a directory of files (our fixtures; one parquet/csv/json
per table) and the Spark session catalog (for tables registered via metastore
or temp views). A MongoDB implementation would wrap
``spark.read.format("mongodb")`` with the official connector; it is gated
behind import so the engine has no hard dependency.
"""

from __future__ import annotations

import pathlib
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


#: Tables whose name starts with one of these prefixes are not migrated.
SYSTEM_PREFIXES = ("system.", "system_")


def is_system_table(name: str, prefixes: Sequence[str] = SYSTEM_PREFIXES) -> bool:
    """Prefix-based system-table filter (deliberate fix of index.js:298's
    substring match, which would skip a user table named "ecosystem")."""
    return any(name.startswith(p) for p in prefixes)


class Catalog:
    """Enumerate source tables. Subclasses implement :meth:`table_names` and
    :meth:`read`."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark

    def table_names(self) -> list[str]:
        raise NotImplementedError

    def read(self, name: str) -> DataFrame:
        raise NotImplementedError


class DirectoryCatalog(Catalog):
    """A directory of single-file tables: ``<dir>/<table>.<ext>``.

    This is the fixture layout (/root/testdata/sf*/ — TESTDATA.md). Reads are
    plain ``spark.read`` so Catalyst gets full pushdown/pruning into the scan.
    """

    _READERS = {
        ".parquet": "parquet",
        ".csv": "csv",
        ".json": "json",
        ".orc": "orc",
    }

    def __init__(self, spark: SparkSession, path: str) -> None:
        super().__init__(spark)
        self.path = pathlib.Path(path)

    def table_names(self) -> list[str]:
        names = []
        for p in sorted(self.path.iterdir()):
            if p.suffix in self._READERS:
                names.append(p.stem)
        return names

    def read(self, name: str) -> DataFrame:
        for ext, fmt in self._READERS.items():
            p = self.path / f"{name}{ext}"
            if p.exists():
                if fmt == "parquet":
                    from node_mongo2influx_spark.sources.parquet_compat import (
                        read_parquet,
                    )

                    return read_parquet(self.spark, str(p))
                reader = self.spark.read.format(fmt)
                if fmt == "csv":
                    reader = reader.option("header", "true").option("inferSchema", "true")
                return reader.load(str(p))
        raise FileNotFoundError(f"no table file for {name!r} under {self.path}")


class SpoolCatalog(Catalog):
    """A mongoexport dump directory: ``<dir>/<collection>/<*.jsonl>``
    (each collection a sub-directory of BSON-extended-JSON spool files).

    A read infers the schema on the driver, splits the spool files with
    ``spark.read.text`` (splits break at newlines) and decodes each split
    in ``mapInArrow`` with the decoder of
    :mod:`~node_mongo2influx_spark.sources.mongospool`. It needs no session
    conf, and filters on the result are plain Spark filters. With this
    catalog, ``Engine.migrate`` runs the reference's EXACT end-to-end use
    case (every Mongo collection → prepare → Influx) from a dump, no live
    mongod required.
    """

    def __init__(self, spark: SparkSession, path: str) -> None:
        super().__init__(spark)
        self.path = pathlib.Path(path)

    def table_names(self) -> list[str]:
        return sorted(p.name for p in self.path.iterdir() if p.is_dir())

    def read(self, name: str) -> DataFrame:
        from node_mongo2influx_spark.sources.mongospool import (
            arrow_decoder,
            infer_schema,
            spool_files,
        )

        files = spool_files(self.path / name)
        schema = infer_schema(files)
        return self.spark.read.text(files).mapInArrow(arrow_decoder(schema), schema)


class SessionCatalog(Catalog):
    """Tables already registered in the Spark session catalog (metastore /
    temp views) — the analogue of enumerating a live database."""

    def __init__(self, spark: SparkSession, database: str | None = None) -> None:
        super().__init__(spark)
        self.database = database

    def table_names(self) -> list[str]:
        return [t.name for t in self.spark.catalog.listTables(self.database)]

    def read(self, name: str) -> DataFrame:
        qualified = f"{self.database}.{name}" if self.database else name
        return self.spark.table(qualified)
