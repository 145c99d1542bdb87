"""Seeded input generators for the benchmark workloads.

Every generator takes the seed and a target directory and returns the
expected values the correctness checks compare against. The same seed gives
byte-identical inputs; the program under test only ever sees the files.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

#: Spool collections: (name, share of documents, spool files). Uneven
#: sizes; some collections have fewer files than a 4-core machine has
#: cores and some have more.
SPOOL_COLLECTIONS = (
    ("sensors", 0.45, 6),
    ("meters", 0.30, 3),
    ("gateways", 0.17, 2),
    ("audit", 0.08, 1),
)
SPOOL_DOCS = 40_000
#: Share of spool documents without ``date`` (skipped by the time filter).
NO_DATE_SHARE = 0.05

EPOCH_2024_MS = 1_704_067_200_000


def pair_digest(pairs) -> tuple[int, str]:
    """Order-insensitive digest of (series, timestamp-ns) pairs: count plus
    the sum of 64-bit hashes modulo 2**64 (duplicates do not cancel)."""
    n, acc = 0, 0
    for series, ts in pairs:
        h = hashlib.blake2b(f"{series} {ts}".encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return n, f"{acc:016x}"


def _oid(rng: random.Random) -> dict:
    return {"$oid": f"{rng.getrandbits(96):024x}"}


def _date(rng: random.Random, ms: int) -> dict:
    """Alternate the two ``$date`` spellings mongoexport produces."""
    if rng.random() < 0.5:
        iso = dt.datetime.fromtimestamp(ms / 1000, tz=dt.timezone.utc)
        return {"$date": iso.isoformat(timespec="milliseconds").replace("+00:00", "Z")}
    return {"$date": {"$numberLong": str(ms)}}


def write_spool(seed: int, root: Path, docs: int = SPOOL_DOCS) -> dict:
    """mongoexport-style spool: ``<root>/<collection>/part-NNN.jsonl``.

    Returns the expected delivered-line count, the number of documents
    without ``date`` and the (series, ns-timestamp) digest."""
    rng = random.Random(seed)
    expected_pairs = []
    skipped = 0
    for name, share, n_files in SPOOL_COLLECTIONS:
        coll = root / name
        coll.mkdir(parents=True, exist_ok=True)
        n_docs = int(docs * share)
        per_file = -(-n_docs // n_files)
        written = 0
        for f in range(n_files):
            lines = []
            for _ in range(min(per_file, n_docs - written)):
                doc = {"_id": _oid(rng)}
                # the first documents of each file always carry every key, so
                # schema inference sees the full, stable type set
                if len(lines) < 100 or rng.random() >= NO_DATE_SHARE:
                    ms = EPOCH_2024_MS + rng.randrange(0, 30 * 86_400_000)
                    doc["date"] = _date(rng, ms)
                    expected_pairs.append((name, ms * 1_000_000))
                else:
                    skipped += 1
                doc["sensor"] = f"s-{rng.randrange(500):03d}"
                doc["value"] = {"$numberDouble": repr(round(rng.uniform(-50, 150), 3))}
                doc["count"] = {"$numberLong": str(rng.randrange(1 << 40))}
                doc["status"] = rng.choice(("ok", "warn", "fail", "ok ok"))
                lines.append(json.dumps(doc, separators=(",", ":")))
            written += len(lines)
            (coll / f"part-{f:03d}.jsonl").write_text("\n".join(lines) + "\n")
    n, digest = pair_digest(expected_pairs)
    return {"lines": n, "skipped": skipped, "digest": digest}


#: Parquet catalog: rows per table, one large table and the rest small and
#: uneven. The sizes do not depend on the seed, so that every seed gives the
#: same work; the seed picks the values.
CATALOG_ROWS = (1_000_000, 40_000, 60_000, 80_000, 100_000, 120_000, 140_000, 160_000)
NULL_TIME_SHARE = 0.05


def write_catalog(seed: int, root: Path) -> dict:
    """Directory of single-file parquet tables written by pyarrow with
    ``time`` as TIMESTAMP(MICROS, UTC).

    Returns per-table expected rows written and column sums after the
    benchmark's transform (see ``workloads.CATALOG_SPEC``)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    root.mkdir(parents=True, exist_ok=True)
    expected = {}
    for i, n in enumerate(CATALOG_ROWS):
        micros = (EPOCH_2024_MS * 1000 + rng.integers(0, 30 * 86_400_000_000, n)).astype("int64")
        null_time = rng.random(n) < NULL_TIME_SHARE
        reading = np.round(rng.normal(20.0, 5.0, n), 3)
        qty = rng.integers(0, 1000, n).astype("int32")
        device = rng.integers(0, 200, n)
        table = pa.table(
            {
                "ts": pa.array(micros, pa.timestamp("us", tz="UTC"), mask=null_time),
                "device": pa.array([f"d{d:03d}" for d in device]),
                "reading": pa.array(reading),
                "qty": pa.array(qty),
                "_id": pa.array(np.arange(n, dtype="int64")),
            }
        )
        name = f"t{i:02d}"
        pq.write_table(table, root / f"{name}.parquet", coerce_timestamps="us")
        # transform: where qty >= 100, value = reading * 2, time not null
        keep = (~null_time) & (qty >= 100)
        expected[name] = {
            "rows_in": int((qty >= 100).sum()),
            "rows_written": int(keep.sum()),
            "rows_skipped": int(((qty >= 100) & null_time).sum()),
            "qty_sum": int(qty[keep].astype("int64").sum()),
            "value_sum": float(np.round(reading[keep] * 2.0, 6).sum()),
        }
    return expected


#: The query mix: oracle-bearing library queries from the pipeline, relational
#: and LLM-data plan modules.
QUERIES = (
    "migrate_events",
    "influx_line_protocol",
    "asof_join_last_order",
    "window_topn_per_user",
    "rollup_events_daily",
    "dedup_exact",
    "text_quality",
)
#: Scale of the query-mix tables, in TPC-H scale-factor terms: 0.01 gives
#: 15,000 orders, 10,000 events and 500 documents.
QUERY_SF = 0.01
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group big "
    "sort query fast the"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")
_NAIVE_US = pa.timestamp("us")


def _day_us(y: int, m: int, d: int) -> int:
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def write_tables(seed: int, root: Path, sf: float = QUERY_SF) -> dict[str, int]:
    """The tables the query mix reads, as ``<root>/<name>.parquet``, with
    the schemas and value ranges of the library's TPC-H-style fixture:
    ``events``, ``orders`` and ``documents`` (about 5% near-duplicates, a
    copy of an earlier text plus ``" dup"``). Returns the row count per
    table."""
    import numpy as np

    rng = np.random.default_rng(seed)
    root.mkdir(parents=True, exist_ok=True)
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_ord, n_cust = int(1_500_000 * sf), int(150_000 * sf)
    n_doc = int(50_000 * sf)

    t0 = _day_us(2024, 1, 1)
    tables = {
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev, dtype="int64")),
            "ts": pa.array(np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, n_ev)), _NAIVE_US),
            "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype="int64")),
            "event_type": pa.array(rng.choice(["click", "view", "purchase", "signup", "error"], n_ev)),
            "value": pa.array(np.round(rng.uniform(0, 100, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype="int64")),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": pa.array(np.round(rng.uniform(1_000, 500_000, n_ord), 2)),
            "o_orderdate": pa.array(
                _day_us(1995, 1, 1) + rng.integers(0, 2404, n_ord) * 86_400_000_000, _NAIVE_US
            ),
            "o_orderpriority": pa.array(rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)),
        }),
    }
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    for name, table in tables.items():
        pq.write_table(table, root / f"{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}


def stream_docs(seed: int, n: int, seq0: int) -> list[dict]:
    """Documents for the stream workload, numbered ``seq0 ..``. The
    generator adds each document's creation stamp when it writes it."""
    rng = random.Random(seed * 7919 + seq0)
    docs = []
    for i in range(n):
        ms = EPOCH_2024_MS + rng.randrange(0, 30 * 86_400_000)
        docs.append({
            "_id": _oid(rng),
            "date": _date(rng, ms),
            "seq": {"$numberLong": str(seq0 + i)},
            "sensor": f"s-{rng.randrange(500):03d}",
            "value": {"$numberDouble": repr(round(rng.uniform(-50, 150), 3))},
        })
    return docs
