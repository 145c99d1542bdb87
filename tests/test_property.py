"""Property-based checks (SURVEY.md §5.2 item 4): random transform specs
over random sub-schemas preserve the reference's own invariants."""

from __future__ import annotations

import json
import os
import tempfile

import hypothesis.strategies as st
from hypothesis import HealthCheck, given, settings

from node_mongo2influx_spark import TransformSpec

COLS = ["event_id", "ts", "user_id", "event_type", "value"]


@st.composite
def specs(draw):
    drop = draw(st.lists(st.sampled_from(["user_id", "value", "event_type"]),
                         unique=True, max_size=2))
    rename_time = draw(st.booleans())
    where = draw(st.sampled_from([None, "event_id % 2 = 0", "value > 50"]))
    return TransformSpec(
        rename={"ts": "time"} if rename_time else {},
        drop=drop,
        where=where,
        time_column="time" if rename_time else "ts",
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=specs())
def test_rows_in_equals_out_plus_skipped(spark, sf_dir, spec):
    from node_mongo2influx_spark.plans.tables import load

    df = load(spark, sf_dir, "events")
    out, obs = spec.apply(df)
    n_out = out.count()
    stats = obs.get
    # the reference's own invariant (index.js:271):
    assert stats["rows_in"] == n_out + stats["rows_skipped"]
    # schema algebra: input minus dropped, with renames applied
    expected = [
        ("time" if (c == "ts" and spec.rename) else c)
        for c in [*COLS, "props"]
        if c not in spec.drop
    ]
    assert out.columns == expected


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    buckets=st.integers(min_value=1, max_value=64),
)
def test_salted_aggregation_matches_plain(spark, sf_dir, buckets):
    from pyspark.sql import functions as F

    from node_mongo2influx_spark.functions.skew import salted_stats
    from node_mongo2influx_spark.plans.tables import load

    e = load(spark, sf_dir, "events")
    plain = {
        r["event_type"]: (r["n"], round(r["s"], 4))
        for r in e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    salted = {
        r["event_type"]: (r["n"], round(r["total"], 4))
        for r in salted_stats(e, ["event_type"], "value", buckets).collect()
    }
    assert salted == plain


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "bb", "ccc", "dd", "e", "ff"]),
            min_size=1,
            max_size=30,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_repetition_fold_matches_counter(spark, docs):
    # the longest-equal-run-over-sorted-words fold must equal the max
    # word frequency for ANY word multiset, not just fixture text
    from collections import Counter

    from node_mongo2influx_spark.plans.llm_ops import doc_repetition_ratio

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    import node_mongo2influx_spark.plans.tables as tables

    # route the query's load() to our synthetic frame
    orig = tables.load
    import node_mongo2influx_spark.plans.llm_ops as llm_ops

    llm_ops.load = lambda s, d, n: df
    try:
        got = {
            r["doc_id"]: (r["top_word_count"], r["n_words"])
            for r in doc_repetition_ratio(spark, "unused").collect()
        }
    finally:
        llm_ops.load = orig
    for i, words in enumerate(docs):
        c = Counter(words)
        assert got[i] == (max(c.values()), len(words)), (i, words)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "bb", "ccc", "dd", "e", "ff"]),
            min_size=1,
            max_size=40,
        ),
        min_size=1,
        max_size=10,
    ),
    ctx=st.integers(min_value=2, max_value=12),
)
def test_chunk_windows_covers_every_word(spark, docs, ctx):
    # invariants for ANY document set and any (ctx, stride=ctx//2+1):
    # chunk count = ceil(n / stride); sizes = ctx except a short tail;
    # reconstructing from stride-prefixes of each chunk yields the doc.
    import math

    from node_mongo2influx_spark.operators import sampling

    stride = ctx // 2 + 1
    rows = [(i, " ".join(w)) for i, w in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sampling.chunk_windows(df, ctx=ctx, stride=stride).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, words in enumerate(docs):
        n = len(words)
        chunks = sorted(by_doc[i], key=lambda r: r["chunk_no"])
        assert len(chunks) == math.ceil(n / stride)
        for j, c in enumerate(chunks):
            start = j * stride
            assert c["n_words"] == min(ctx, n - start)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ids=st.sets(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=200),
)
def test_shuffle_order_is_always_a_permutation(spark, ids):
    from node_mongo2influx_spark.operators import sampling

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = sampling.shuffle_order(df, n_buckets=8).collect()
    positions = sorted(r["pos"] for r in out)
    assert positions == list(range(len(ids)))


@given(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        min_size=1,
        max_size=400,
    )
)
@settings(max_examples=200, deadline=None)
def test_cdc_chunks_reassemble_and_are_edit_local(text):
    # Pure-python model of operators/dedup.cdc_chunks (the Spark/DuckDB
    # equivalence is pinned by tests/test_dedup.py on the fixtures; this
    # checks the ALGORITHM's invariants on arbitrary printable strings).
    from tests.test_dedup import _cdc_python

    chunks = _cdc_python(text)
    # lossless: chunks partition the document exactly, in order
    assert "".join(c[3] for c in chunks) == text
    assert [c[0] for c in chunks] == list(range(1, len(chunks) + 1))
    assert all(c[2] == len(c[3]) >= 1 for c in chunks)
    # edit locality: prepending text preserves all chunks after the
    # first boundary of the original
    edited = _cdc_python("XX " + text)
    if len(chunks) > 1:
        surviving = {c[3] for c in chunks[1:]}
        got = {c[3] for c in edited}
        assert surviving <= got


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),
            st.integers(min_value=0, max_value=40),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_components_match_pure_python_union_find(spark, edges):
    # Model-based check of the contraction components operator against a
    # 20-line sequential union-find: same partition into components, and
    # component_id is the smallest member id — for ANY random graph,
    # including self-loops, duplicate and reversed edges.
    from node_mongo2influx_spark.operators import dedup

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {n: find(n) for n in parent}

    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    # Both execution paths must match the model: the driver endgame
    # (default — these graphs are far under the edge bound) and the
    # all-distributed contraction rounds (forced via bound 0).
    got = {
        r["doc_id"]: r["component_id"]
        for r in dedup.components_from_pairs(pairs).collect()
    }
    assert got == expect
    distributed = {
        r["doc_id"]: r["component_id"]
        for r in dedup.components_from_pairs(
            pairs, driver_finish_edges=0
        ).collect()
    }
    assert distributed == expect


def _fnv1a32(codes):
    a = 2166136261
    for c in codes:
        a = ((a ^ c) * 16777619) & 0xFFFFFFFF
    return a


def _model_cdc(text, w=4, d=64):
    # sequential reimplementation of the cdc_chunks contract
    import hashlib

    n = len(text)
    bounds = []
    if n >= w:
        for j in range(0, n - w + 1):
            p = j + w  # 1-based position of the window's last char
            if _fnv1a32([ord(c) for c in text[j:j + w]]) % d == 0 and p < n:
                bounds.append(p)
    starts = [1] + [b + 1 for b in bounds]
    ends = bounds + [n]
    return [
        (i + 1, s, e - s + 1, hashlib.md5(text[s - 1:e].encode()).hexdigest())
        for i, (s, e) in enumerate(zip(starts, ends))
    ]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=1,
            max_size=400,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_cdc_chunks_match_sequential_model(spark, texts):
    # The zip-of-shifted-slices rolling hash must equal a plain sequential
    # FNV-1a chunker: same boundaries, spans, and fingerprints — and the
    # spans must tile each document exactly.
    from node_mongo2influx_spark.operators import dedup

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got: dict[int, list] = {}
    for r in dedup.cdc_chunks(df).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_no"], r["chunk_start"], r["chunk_len"], r["chunk_md5"])
        )
    for i, text in enumerate(texts):
        chunks = sorted(got.get(i, []))
        assert chunks == _model_cdc(text), text
        # tiling: contiguous, covering 1..len exactly
        pos = 1
        for _, s, ln, _h in chunks:
            assert s == pos
            pos += ln
        assert pos - 1 == len(text)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lens=st.lists(st.integers(min_value=1, max_value=3000), min_size=1, max_size=60),
    ctx=st.sampled_from([128, 512, 2048]),
    size_ordered=st.booleans(),
)
def test_pack_sequences_invariants(spark, lens, ctx, size_ordered):
    # Packing layout invariants for any doc-length mix: every doc
    # assigned exactly once; within a bucket the layout is the exact
    # concatenate-and-chop prefix order (start_offset = running sum,
    # bin = floor(start/ctx)); deterministic across runs.
    from node_mongo2influx_spark.operators import sampling

    df = spark.createDataFrame(
        list(enumerate(lens)), "doc_id long, n_tokens int"
    )
    out = sampling.pack_sequences(
        df, ctx_len=ctx, n_buckets=4, size_ordered=size_ordered
    ).collect()
    assert sorted(r["doc_id"] for r in out) == list(range(len(lens)))
    by_bucket: dict[int, list] = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r)
    for bucket, rows in by_bucket.items():
        key = (
            (lambda r: (-r["n_tokens"], r["doc_id"]))
            if size_ordered
            else (lambda r: r["doc_id"])
        )
        rows = sorted(rows, key=key)
        run = 0
        for r in rows:
            assert r["bucket"] == bucket == r["doc_id"] % 4
            assert r["start_offset"] == run
            assert r["bin"] == run // ctx
            run += r["n_tokens"]
    again = sampling.pack_sequences(
        df, ctx_len=ctx, n_buckets=4, size_ordered=size_ordered
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


@st.composite
def spool_appends(draw):
    """A spool file's bytes (documents, blank lines, non-ASCII text written
    as raw UTF-8, as mongoexport does) and the byte positions where a
    producer's successive appends stop; a cut may split a line, or a
    character."""
    # line and paragraph separators that are not newlines, and multi-byte
    # characters, beside whatever else hypothesis draws
    chars = st.characters(blacklist_categories=("Cs",)) | st.sampled_from(
        "\x85\u2028\u2029é€😀"
    )
    doc = st.fixed_dictionaries(
        {"k": st.none() | st.integers(-(2**63), 2**63 - 1)},
        optional={"s": st.none() | st.text(chars)},
    )
    lines = draw(st.lists(doc | st.sampled_from(["", "  "]), max_size=20))
    data = "".join(
        (json.dumps(d, ensure_ascii=False) if isinstance(d, dict) else d) + "\n"
        for d in lines
    ).encode("utf-8")
    cuts = draw(st.lists(st.integers(0, len(data)), max_size=6))
    return data, [*sorted(set(cuts)), len(data)]


@given(spool=spool_appends())
@settings(max_examples=200, deadline=None)
def test_spool_stream_tail_matches_one_batch_decode(spool):
    # The stream reader, reading a file as it grows, delivers the rows one
    # batch decode of the finished file gives, and each (start, end) replay
    # returns its original record batch.
    import pyarrow as pa
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from node_mongo2influx_spark.sources.mongospool import (
        MongoSpoolStreamReader,
        arrow_decoder,
    )

    data, cuts = spool
    schema = StructType([StructField("k", LongType()), StructField("s", StringType())])
    with tempfile.TemporaryDirectory() as d:
        rdr = MongoSpoolStreamReader(d, schema)
        offset, reads, written = rdr.initialOffset(), [], 0
        for cut in cuts:
            with open(os.path.join(d, "a.jsonl"), "ab") as fh:
                fh.write(data[written:cut])
            written = cut
            batches, end = rdr.read(offset)
            reads.append((offset, end, list(batches)))
            offset = end
        for start, end, batches in reads:
            assert list(rdr.readBetweenOffsets(start, end)) == batches
    whole = pa.RecordBatch.from_pydict({"value": data.decode("utf-8").split("\n")})
    expected = [b.to_pylist() for b in arrow_decoder(schema)(iter([whole]))]
    streamed = [b.to_pylist() for *_, batches in reads for b in batches]
    assert sum(streamed, []) == sum(expected, [])
