"""`mongospool` — MongoDB JSON dumps (mongoexport spools) as Spark rows.

The reference reads live Mongo collections with skip/limit pagination
(index.js:186-198 — unstable under concurrent writes, see SURVEY §4.3.1).
The container has no mongod, but the OTHER standard Mongo interchange path
— `mongoexport` newline-delimited JSON (one BSON-extended-JSON document
per line) — maps onto stock Spark:

* **Batch reads are file splits, not pagination**: ``spark.read.text``
  over the spool files, then :func:`arrow_decoder` in ``mapInArrow``.
  Text splits break at newlines, so even a one-file collection decodes on
  every core, and a read is snapshot-stable — the fix for the reference's
  skip/limit hazard. Filters are ordinary Spark filters above the decode.
* **The streaming tail** is the ``mongospool`` Python Data Source
  (:class:`MongoSpoolDataSource`), whose byte-range offsets keep
  delivering lines appended to a file already listed. Both paths run one
  decode, :func:`_decode_lines`, into Arrow record batches.
* **BSON extended JSON is decoded**, not passed through: ``{"$oid": …}``
  → string id, ``{"$date": epoch-ms | ISO | {"$numberLong"}}`` → timestamp
  (exact integer millis, pre-1970 and far-future included),
  ``$numberLong``/``$numberInt`` → long, ``$numberDouble`` → double (incl.
  the canonical Infinity/NaN spellings), ``$numberDecimal`` (Decimal128) →
  the exact decimal string, ``$binary`` → bytes (BinaryType — feeds the
  multimodal operators directly), ``$uuid`` → canonical lowercase UUID
  string, ``$timestamp`` → the BSON uint64 ``(t << 32) | i`` logical-clock
  value, ``$regularExpression`` (and the legacy ``$regex`` spelling) →
  ``/pattern/options`` (see :func:`_decode_extended`). Other nested
  objects stay JSON strings (the reference's schemaless rows flow through
  the same way — a truthy `time` is the only structural requirement,
  applied later by TransformSpec).
* **Schema** is inferred on the driver by :func:`infer_schema` from a
  sample of leading documents (the first ``_SCHEMA_SAMPLE_LINES``
  non-blank lines, read across the files in order — union of keys;
  conflicting types widen to string, the schemaless-safe choice). A later
  document whose value does not fit, or that holds a key outside the
  schema, fails the read, naming the column or key and the document. A
  stream reader may pass its own ``schema(...)`` instead; it is checked
  the same way.

Usage::

    df = SpoolCatalog(spark, dump_dir).read(collection)   # batch
    spark.dataSource.register(MongoSpoolDataSource)        # streaming tail
    sdf = (spark.readStream.format("mongospool").schema(schema)
           .option("path", collection_dir).load())
"""

from __future__ import annotations

import base64
import json
import pathlib
from datetime import datetime, timedelta, timezone
from typing import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType,
    DataType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: Leading non-blank lines of the spool files (in sorted order) examined
#: by schema inference. Sparse/optional fields are routine in mongoexport
#: dumps — one document is not a schema.
_SCHEMA_SAMPLE_LINES = 100


def _decode_extended(v):
    """BSON extended-JSON scalars → python values; nested docs → JSON str.

    Covers the scalar wrappers a real ``mongoexport`` dump carries in
    BOTH relaxed and canonical (v2) modes — reference index.js:198 reads
    arbitrary BSON, so the spool source must too (VERDICT r8 #4):

    * ``$oid`` → string id.
    * ``$date`` → timestamp. Relaxed mode is ISO-8601 only for years
      1970-9999; anything pre-epoch or far-future arrives canonical as
      ``{"$date": {"$numberLong": "<epoch-ms>"}}`` — decoded with EXACT
      integer millis (divmod, floor-correct for negatives; a float
      ``ms/1000.0`` is ~1 µs off by year 2200).
    * ``$numberLong`` / ``$numberInt`` → int (LongType; int64 edges are
      exact — Python ints are unbounded, Spark checks the range).
    * ``$numberDouble`` → float, including the canonical string forms
      ``"Infinity"`` / ``"-Infinity"`` / ``"NaN"`` (decoded faithfully;
      the finite-measure rule applies at QUERY input, and the Influx
      sink already renders non-finite fields as absent).
    * ``$numberDecimal`` (Decimal128) → the decimal STRING, verbatim.
      DECIMAL output columns are banned repo-wide (arrow-hostile at the
      comparator) and a double would silently corrupt the 34-digit
      lexical value; the exact string survives schemaless, and callers
      cast — the repo's currency discipline parses exact integer basis
      points from strings anyway (q7_nation_trade_flow).
    * ``$binary`` → raw bytes (both the canonical v2
      ``{"base64": …, "subType": …}`` shape and the legacy v1
      ``{"$binary": "<b64>", "$type": "<hex>"}`` shape). The subtype tag
      is dropped — payload bytes are the value; BinaryType columns feed
      operators/multimodal (sniff_mime, image_dims, …) directly.
    * ``$uuid`` → the canonical lowercase-hyphenated UUID string (the
      extended-JSON convenience spelling of binary subtype 4).
    * ``$timestamp`` (``{"t": secs, "i": inc}``) → the BSON-defined
      uint64 ``(t << 32) | i`` as int. This is Mongo's INTERNAL
      logical clock (oplog ordering), not a wall time — the integer
      preserves exactness and total order where a datetime would drop
      the increment. LongType caps at int64, so t ≥ 2^31 (an oplog
      stamped after 2038) falls through to the JSON-string path — a
      hostile stamp degrades to a string, never a scan crash. Same for
      malformed base64 under ``$binary``: a user field literally named
      ``$binary`` stays a JSON string instead of failing the partition.
    * ``$regularExpression`` (canonical) and the legacy
      ``{"$regex": "<pat>", "$options": "<opts>"}`` value shape →
      ``/pattern/options`` (mongosh's literal rendering — one string,
      options preserved). The legacy form decodes only when ``$regex``
      is itself a string, so a QUERY document that nests an operator
      under ``$regex`` falls through to the JSON-string path.

    Other wrappers and nested documents stay JSON strings (the
    reference's schemaless rows flow through the same way)."""
    if isinstance(v, dict):
        if "$oid" in v:
            return str(v["$oid"])
        if "$date" in v:
            d = v["$date"]
            if isinstance(d, dict) and "$numberLong" in d:
                d = int(d["$numberLong"])
            if isinstance(d, int):
                sec, ms = divmod(d, 1000)
                return datetime.fromtimestamp(
                    sec, tz=timezone.utc
                ) + timedelta(milliseconds=ms)
            if isinstance(d, float):
                return datetime.fromtimestamp(d / 1000.0, tz=timezone.utc)
            dt = datetime.fromisoformat(str(d).replace("Z", "+00:00"))
            # BSON dates are UTC; an ISO string without an offset must not
            # take the worker's local zone
            return dt if dt.tzinfo else dt.replace(tzinfo=timezone.utc)
        if "$numberLong" in v:
            return int(v["$numberLong"])
        if "$numberInt" in v:
            return int(v["$numberInt"])
        if "$numberDouble" in v:
            return float(v["$numberDouble"])
        if "$numberDecimal" in v:
            return str(v["$numberDecimal"])
        if "$binary" in v:
            b = v["$binary"]
            # Malformed base64 (a schemaless USER field literally named
            # $binary) must not fail the partition scan — fall through to
            # the JSON-string path instead (ADVICE r10). binascii.Error
            # is a ValueError subclass; b64decode can raise either.
            # validate=True: default lax decoding DISCARDS non-alphabet
            # bytes, so "%%%" would silently mint b"" — strict per the
            # extended-JSON spec (clean base64, no whitespace).
            try:
                if isinstance(b, dict) and "base64" in b:  # canonical v2
                    return base64.b64decode(b["base64"], validate=True)
                if isinstance(b, str):  # legacy v1: {"$binary": b64, "$type": hex}
                    return base64.b64decode(b, validate=True)
            except (ValueError, TypeError):
                pass
        if "$uuid" in v:
            return str(v["$uuid"]).lower()
        if "$timestamp" in v and isinstance(v["$timestamp"], dict):
            t = v["$timestamp"]
            if "t" in t and "i" in t:
                stamp = (int(t["t"]) << 32) | int(t["i"])
                # t >= 2^31 (an oplog stamped after 2038) exceeds int64
                # and would crash LongType row conversion at scan time —
                # keep the document as its JSON string instead
                # (ADVICE r10; the docstring's explicit-schema caveat,
                # now enforced rather than documented).
                if -(1 << 63) <= stamp < (1 << 63):
                    return stamp
        if "$regularExpression" in v and isinstance(
            v["$regularExpression"], dict
        ):
            r = v["$regularExpression"]
            return f"/{r.get('pattern', '')}/{r.get('options', '')}"
        if "$regex" in v and isinstance(v["$regex"], str):
            return f"/{v['$regex']}/{v.get('$options', '')}"
        return json.dumps(v, sort_keys=True)
    if isinstance(v, list):
        return json.dumps(v, sort_keys=True)
    return v


def _infer_type(v) -> DataType:
    v = _decode_extended(v)
    if isinstance(v, bool):
        return StringType()  # keep rare booleans as strings (schemaless source)
    if isinstance(v, int):
        return LongType()
    if isinstance(v, float):
        return DoubleType()
    if isinstance(v, datetime):
        return TimestampType()
    if isinstance(v, bytes):
        return BinaryType()
    return StringType()


def _coerce(v, dtype: DataType):
    """The ONE value-shaping rule of :func:`_decode_lines`, the decode of
    both batch and stream, whose one Arrow conversion is :func:`_arrow_column`.
    Values that do not fit a string column (widened by mixed types) are
    re-rendered as text."""
    v = _decode_extended(v)
    if v is not None and isinstance(dtype, StringType) and not isinstance(v, str):
        # bytes can't json.dumps; a $binary landing in a string-widened
        # column re-renders as its base64 text (round-trips the dump)
        v = (
            base64.b64encode(v).decode("ascii")
            if isinstance(v, bytes)
            else json.dumps(v)
        )
    return v


def spool_files(path) -> list[str]:
    """The spool files of one collection directory, sorted."""
    root = pathlib.Path(path)
    return sorted(
        str(p) for pat in ("*.json", "*.jsonl", "*.ndjson") for p in root.glob(pat)
    )


def _nonblank_lines(files: list[str]) -> Iterator[tuple[str, int, str]]:
    for path in files:
        with open(path, "r", encoding="utf-8") as fh:
            for line_no, line in enumerate(fh, 1):
                line = line.strip()
                if line:
                    yield path, line_no, line


def infer_schema(files: list[str]) -> StructType:
    """Infer from a sample: union of keys over the first
    ``_SCHEMA_SAMPLE_LINES`` non-blank documents, reading the files in
    order until that many are seen; the first non-null occurrence types a
    field, a later conflicting type widens it to string."""
    if not files:
        raise FileNotFoundError("no spool files (*.json, *.jsonl, *.ndjson)")
    names: list[str] = []  # insertion order = column order
    types: dict[str, DataType | None] = {}
    n_docs = 0
    for path, line_no, line in _nonblank_lines(files):
        try:
            doc = json.loads(line)
        except json.JSONDecodeError as exc:
            raise ValueError(
                f"spool file {path} line {line_no} is not valid JSON: {exc}"
            ) from exc
        n_docs += 1
        for k, v in doc.items():
            if k not in types:
                names.append(k)
                types[k] = None
            t = None if v is None else _infer_type(v)
            if t is None:
                continue
            if types[k] is None:
                types[k] = t
            elif type(types[k]) is not type(t):
                types[k] = StringType()  # mixed types: widen
        if n_docs >= _SCHEMA_SAMPLE_LINES:
            break
    if n_docs == 0:
        raise ValueError(
            f"cannot infer schema: no spool file in "
            f"{pathlib.Path(files[0]).parent} has a document (pass an "
            "explicit .schema(...) or remove the empty files)"
        )
    return StructType(
        [StructField(k, types[k] or StringType(), nullable=True) for k in names]
    )


def _rows_from_lines(lines, fields) -> Iterator[tuple]:
    names = {name for name, _ in fields}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        doc = json.loads(line)
        if not names.issuperset(doc):  # else a key the sample missed is lost
            extra = sorted(set(doc) - names)
            raise ValueError(f"spool key(s) {extra} are not in the schema: {line}")
        yield tuple(_coerce(doc.get(name), dtype) for name, dtype in fields)


def _decode_lines(lines, schema: StructType, arrow_schema):
    """The ONE spool decode, batch and stream: lines (blank ones skipped) →
    a ``pyarrow.RecordBatch``, rows shaped by :func:`_coerce`, columns made
    by :func:`_arrow_column`. A column that does not fit fails the read."""
    import pyarrow as pa

    rows = list(_rows_from_lines(lines, [(f.name, f.dataType) for f in schema.fields]))
    columns = zip(*rows) if rows else ([] for _ in schema.fields)
    arrays = []
    for field, t, column in zip(schema.fields, arrow_schema.types, columns):
        try:
            arrays.append(_arrow_column(column, t))
        except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError) as exc:
            raise _type_mismatch(lines, column, field, t) from exc
    return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)


def arrow_decoder(schema: StructType):
    """The ``mapInArrow`` function that turns ``spark.read.text`` batches
    (one ``value`` column of spool lines) into rows of ``schema``."""
    arrow_schema = to_arrow_schema(schema)

    def decode(batches):
        for batch in batches:
            yield _decode_lines(batch.column(0).to_pylist(), schema, arrow_schema)

    return decode


def _arrow_column(values, t):
    """One decoded column as an Arrow array of type ``t``. A ``bigint``
    column is inferred, then cast safely: a direct ``pa.array(values,
    type=int64)`` truncates 1.5, while the safe cast raises on it and reads
    2.0 as 2; strings, booleans and timestamps stay errors. Only when
    inference fails (an integer above 2**53 beside a double) do values
    whose doubles are all integral convert directly, losing nothing."""
    import pyarrow as pa

    if not pa.types.is_int64(t):
        return pa.array(values, type=t)
    try:
        arr = pa.array(values)
    except pa.ArrowInvalid:
        if any(isinstance(v, float) and not v.is_integer() for v in values):
            raise
        return pa.array(values, type=t)
    if not (
        pa.types.is_integer(arr.type)
        or pa.types.is_floating(arr.type)
        or pa.types.is_null(arr.type)
    ):
        raise pa.ArrowTypeError(f"{arr.type} values in a bigint column")
    return arr.cast(t)


def _type_mismatch(lines, column, field: StructField, t) -> Exception:
    """The error for a column that failed to convert, naming its first value
    that does not fit and the document. A mismatch fails; it never widens."""
    import pyarrow as pa

    msg = f"spool column {field.name!r} was inferred as {field.dataType.simpleString()}"
    docs = [line.strip() for line in lines if line.strip()]
    for doc, v in zip(docs, column):
        try:
            _arrow_column([v], t)
        except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError):
            return ValueError(f"{msg}, but a document holds {v!r}: {doc}")
    return ValueError(f"{msg}, but its values do not fit it")


class MongoSpoolDataSource(DataSource):
    """The streaming tail of one collection directory (option ``path``).
    Batch reads go through :func:`arrow_decoder` instead."""

    @classmethod
    def name(cls) -> str:
        return "mongospool"

    def schema(self) -> StructType:
        """Inferred by :func:`infer_schema`; ``.schema(...)`` on the reader
        overrides inference entirely (the right call for a stream that
        starts on an empty directory). An explicit schema is not a
        projection: a document with a key outside it fails the read, as
        with an inferred one, so no key is dropped unseen."""
        return infer_schema(spool_files(self.options["path"]))

    def simpleStreamReader(self, schema: StructType) -> "MongoSpoolStreamReader":
        return MongoSpoolStreamReader(self.options["path"], schema)


def _complete_prefix_len(path: str) -> int:
    """Byte length of the newline-terminated prefix of ``path`` right now.
    A producer may be mid-append; bytes after the last newline are a
    partial document and belong to a later batch."""
    p = pathlib.Path(path)
    size = p.stat().st_size
    if size == 0:
        return 0
    with open(path, "rb") as fh:
        # scan back from the end for the last newline (tail is small)
        back = min(size, 1 << 16)
        while True:
            fh.seek(size - back)
            tail = fh.read(back)
            nl = tail.rfind(b"\n")
            if nl >= 0:
                return size - back + nl + 1
            if back == size:
                return 0  # no newline at all: nothing complete yet
            back = min(size, back * 2)


class MongoSpoolStreamReader(SimpleDataSourceStreamReader):
    """Streaming tail of a spool directory. The offset maps each file to
    the number of bytes already delivered (newline-aligned), so

    * a file listed while still being appended to keeps delivering: later
      batches pick up bytes past the recorded size;
    * crash replay (``readBetweenOffsets``) re-reads exactly the byte
      ranges of the original batch — not whatever the files contain now —
      which is what makes the offsets genuinely replayable;
    * a partially-written last line is never delivered: delivery stops at
      the last newline seen at listing time.
    """

    def __init__(self, path: str, schema: StructType) -> None:
        self.path = path
        self.schema = schema
        self.arrow_schema = to_arrow_schema(schema)

    def initialOffset(self) -> dict:
        return {"sizes": {}}

    def read(self, start: dict):
        sizes = dict(start["sizes"])
        for f in spool_files(self.path):
            upto = _complete_prefix_len(f)
            if upto > sizes.get(f, 0):  # an offset never moves backwards
                sizes[f] = upto
        end = {"sizes": sizes}
        return self.readBetweenOffsets(start, end), end

    def readBetweenOffsets(self, start: dict, end: dict):
        # replay: exactly the byte ranges the original batch covered. No rows,
        # no batch: Spark rejects data from a read whose offset did not move.
        a, b = start["sizes"], end["sizes"]
        lines: list[str] = []
        for f in sorted(b):
            lo, hi = a.get(f, 0), b[f]
            if hi > lo:
                with open(f, "rb") as fh:
                    fh.seek(lo)
                    # "\n" only, as the offsets; splitlines() also breaks at U+2028
                    lines += fh.read(hi - lo).decode("utf-8").split("\n")
        batch = _decode_lines(lines, self.schema, self.arrow_schema)
        return iter([batch] if batch.num_rows else [])

    def commit(self, end: dict) -> None:
        pass  # byte-range offsets are self-contained; nothing to clean up
