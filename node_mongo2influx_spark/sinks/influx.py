"""InfluxDB sink: line-protocol rendering JVM-side, batched delivery.

Reference behavior (/root/reference/index.js): one series per source
collection named verbatim after it (:242), points appended in `insertlimit`-
sized batches (:209-212, 227-252), optional truncate-first (:321-336).

Spark-first design — the two halves are deliberately split:

1. **Rendering** (the hot path, every row): each row is turned into one
   line-protocol string *entirely with Column expressions* (concat /
   format_string / regexp_replace), so serialization runs inside whole-stage
   codegen on executors. No Python touches row contents.
2. **Delivery** (the edge): one ``mapInArrow`` pass over the rendered
   lines, chunking each partition into ``insert_limit``-line POST bodies
   and yielding one ``sent`` count per partition, which the driver sums.
   The transport is an injectable callable so tests swap HTTP for a spool
   directory; the default HTTP transport uses stdlib ``urllib`` (no extra
   deps). Partition-parallel — the reference wrote batches strictly serially
   with pooling disabled (index.js:227, {pool:false} :242).

At-least-once caveat: a retried task re-POSTs its partition. InfluxDB
upserts points keyed by (measurement, tagset, timestamp), which makes
replays idempotent for typical schemas; for field-only schemas pass
``dedup_tag`` to :class:`InfluxLineProtocolSink` / :func:`render_lines`
— it adds a content-hash tag so replayed rows that share a timestamp
upsert onto themselves instead of clobbering each other. (SURVEY.md §7
hard-part 1.)
"""

from __future__ import annotations

import pathlib
import urllib.request
import uuid
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from node_mongo2influx_spark.sinks.base import Sink

#: transport(series, batch_of_lines) -> None
Transport = Callable[[str, list[str]], None]


def _escape_measurement(name: str) -> str:
    return name.replace(",", r"\,").replace(" ", r"\ ")


def _field_expr(name: str, dtype: T.DataType) -> Column:
    """Render one field as ``name=value`` per line-protocol typing rules."""
    col = F.col(name)
    key = F.lit(
        name.replace(",", r"\,").replace("=", r"\=").replace(" ", r"\ ")
    )
    if isinstance(dtype, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        val = F.concat(col.cast("string"), F.lit("i"))
    elif isinstance(dtype, (T.DoubleType, T.FloatType, T.DecimalType)):
        # Line protocol has NO non-finite representation: InfluxDB
        # rejects NaN/±Inf field values, and ONE bad field 400s the
        # whole POST batch (and the engines even stringify them
        # differently — 'Infinity' vs 'inf'). A non-finite reading
        # renders as an ABSENT field, exactly like NULL; the row's
        # other fields still write.
        from node_mongo2influx_spark.functions.measures import (
            finite_measure,
        )

        val = finite_measure(col.cast("double")).cast("string")
    elif isinstance(dtype, T.BooleanType):
        val = col.cast("string")
    else:
        # String-ish (incl. complex types via JSON): quoted, with \ and "
        # escaped. Line protocol is newline-delimited and cannot represent a
        # literal newline in a field value — an unescaped \n would split one
        # point into two malformed lines and 400 the whole POST batch — so
        # CR/LF become the two-char sequence \n (after backslash doubling,
        # which keeps a pre-existing literal "\n" distinguishable).
        # Rendering stays JVM-side.
        s = col if isinstance(dtype, T.StringType) else F.to_json(col)
        escaped = F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(s, r"\\", r"\\\\"), '"', r'\\"'
            ),
            "\r\n|[\r\n]",
            r"\\n",
        )
        val = F.concat(F.lit('"'), escaped, F.lit('"'))
    rendered = F.concat(key, F.lit("="), val)
    return F.when(col.isNull(), F.lit(None)).otherwise(rendered)


def render_lines(
    df: DataFrame,
    series: str,
    time_column: str = "time",
    dedup_tag: str | None = None,
) -> DataFrame:
    """Project ``df`` to a single-column frame of line-protocol strings.

    Pure Column expressions → whole-stage codegen; null fields are omitted
    per protocol. Timestamp precision: nanoseconds (micros * 1000 — parquet
    timestamps are micros).

    ``dedup_tag``: optional tag name; when set, each line carries
    ``,<dedup_tag>=<xxhash64 of the rendered fields>`` in its tagset.
    InfluxDB upserts points keyed by (measurement, tagset, timestamp), so
    with the tag a replayed partition (at-least-once task retry) lands on
    the same series points instead of clobbering distinct rows that share a
    timestamp — this makes replays idempotent even for field-only schemas.
    """
    fields = [
        _field_expr(f.name, f.dataType)
        for f in df.schema.fields
        if f.name != time_column
    ]
    if not fields:
        raise ValueError("line protocol requires at least one field")
    rendered_fields = F.concat_ws(",", F.array_compact(F.array(*fields)))
    measurement: Column = F.lit(_escape_measurement(series))
    if dedup_tag is not None:
        measurement = F.concat(
            measurement, F.lit(f",{dedup_tag}="), F.xxhash64(rendered_fields).cast("string")
        )
    line = F.concat(
        measurement,
        F.lit(" "),
        rendered_fields,
        F.lit(" "),
        (F.unix_micros(F.col(time_column).cast("timestamp")) * 1000).cast("string"),
    )
    # Two row classes render as malformed/poisonous lines and are dropped
    # (Engine.migrate counts them as skipped):
    # all-fields-NULL ('series  <ts>' — no information for a field-value
    # store, 400s the batch) and NULL time (concat goes NULL; a None among
    # the lines would crash '\n'.join mid-POST). Upstream TransformSpec
    # normally filters null time already — this guard makes the sink safe
    # standalone (time_column=None specs, --no-time-filter).
    return (
        df.select(line.alias("line"), rendered_fields.alias("__f"))
        .where(F.col("__f") != "")
        .where(F.col("line").isNotNull())
        .select("line")
    )


class HttpTransport:
    """POST batches to ``/write`` (line protocol endpoint). Stdlib-only."""

    def __init__(self, url: str, database: str, timeout: float = 30.0) -> None:
        self.url = url.rstrip("/")
        self.database = database
        self.endpoint = f"{self.url}/write?db={database}"
        self.timeout = timeout

    def __call__(self, series: str, lines: list[str]) -> None:
        body = ("\n".join(lines) + "\n").encode()
        req = urllib.request.Request(
            self.endpoint, data=body, method="POST",
            headers={"Content-Type": "text/plain; charset=utf-8"},
        )
        urllib.request.urlopen(req, timeout=self.timeout).read()

    def truncate(self, series: str) -> None:
        """Drop the series' points (reference `emptySeries`, index.js:328 —
        but parameterized via urlencode, never string-concatenated SQL).
        Measurement names are validated to the line-protocol-safe charset
        first; InfluxQL identifiers are double-quoted."""
        import re
        import urllib.parse

        if not re.fullmatch(r"[\w .\-]+", series):
            raise ValueError(f"refusing to truncate suspicious series name {series!r}")
        q = urllib.parse.urlencode(
            {"db": self.database, "q": f'DELETE FROM "{series}"'}
        )
        req = urllib.request.Request(
            f"{self.url}/query?{q}", data=b"", method="POST"
        )
        urllib.request.urlopen(req, timeout=self.timeout).read()


class SpoolTransport:
    """Write each batch to ``<dir>/<series>/<uuid>.lp`` — the test/offline
    transport (also useful as a bulk-load staging area)."""

    def __init__(self, path: str) -> None:
        self.path = str(path)

    def __call__(self, series: str, lines: list[str]) -> None:
        d = pathlib.Path(self.path) / series
        d.mkdir(parents=True, exist_ok=True)
        (d / f"{uuid.uuid4().hex}.lp").write_text("\n".join(lines) + "\n")

    def truncate(self, series: str) -> None:
        d = pathlib.Path(self.path) / series
        if d.is_dir():
            for f in d.glob("*.lp"):
                f.unlink()


class InfluxLineProtocolSink(Sink):
    def __init__(
        self,
        transport: Transport,
        insert_limit: int = 100,
        time_column: str = "time",
        dedup_tag: str | None = None,
    ) -> None:
        if insert_limit < 1:
            # batches() would send one POST per line for any limit < 1
            raise ValueError(f"insert_limit must be >= 1, got {insert_limit}")
        self.transport = transport
        self.insert_limit = insert_limit
        self.time_column = time_column
        self.dedup_tag = dedup_tag

    def write(self, df: DataFrame, series: str) -> int:
        lines_df = render_lines(df, series, self.time_column, self.dedup_tag)
        transport, limit = self.transport, self.insert_limit

        # Delivery via mapInArrow (not foreachPartition): it stays a SQL
        # action, so upstream Observation metrics fire and we get an exact
        # sent-count back; foreachPartition drops to the RDD path, which
        # bypasses the SQL listener (observe() would never resolve). One
        # count row per partition, summed here: no aggregate, so one job.
        def send_partition(arrow_batches: Iterator) -> Iterator:
            import pyarrow as pa

            lines = (ln for b in arrow_batches for ln in b.column(0).to_pylist())
            sent = 0
            for batch in batches(lines, limit):
                transport(series, batch)
                sent += len(batch)
            yield pa.RecordBatch.from_pydict({"sent": [sent]})

        rows = lines_df.mapInArrow(send_partition, schema="sent long").collect()
        return sum(r["sent"] for r in rows)

    def truncate(self, series: str) -> None:
        # The reference issues `DELETE FROM <series> WHERE time < now()` by
        # string concatenation (index.js:328) — injection-prone; here the
        # deletion is the transport's own parameterized truncate
        # (HttpTransport.truncate).
        if not hasattr(self.transport, "truncate"):
            # Never silently skip a requested truncate (empty_series mode
            # would otherwise bulk-load on top of stale data).
            raise RuntimeError(
                f"transport {type(self.transport).__name__} cannot truncate; "
                "use a transport with .truncate()"
            )
        self.transport.truncate(series)


def batches(lines: Iterable[str], limit: int) -> Iterator[list[str]]:
    """Chunk an iterable into ``limit``-sized lists (reference insertlimit
    batching, index.js:209-212) — the chunker behind every sink POST."""
    batch: list[str] = []
    for line in lines:
        batch.append(line)
        if len(batch) >= limit:
            yield batch
            batch = []
    if batch:
        yield batch
