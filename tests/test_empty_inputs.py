"""Empty-input robustness: every core operator must accept an EMPTY frame
(right schema, zero rows) and return an empty result without raising.

At 100 TB this is not a corner case — a filter stage, a partition, a CDC
micro-batch, or an incremental delta is routinely empty, and an operator
that assumes rows (reduce without identity, first() on nothing, kernel fed
zero batches, eager trainer over an empty sample) kills the whole job.
The r5 upsert empty-delta crash (ADVICE r4) is the class this pins down.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from node_mongo2influx_spark.operators import dedup, sampling, text


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


@pytest.fixture(scope="module")
def empty_pairs(spark):
    return spark.createDataFrame([], "doc_a long, doc_b long")


@pytest.fixture(scope="module")
def empty_vecs(spark):
    return spark.createDataFrame([], "vec_id long, embedding array<float>")


def test_dedup_exact_empty(empty_docs):
    assert dedup.exact(empty_docs).count() == 0


def test_ngram_jaccard_empty(empty_docs):
    assert dedup.ngram_jaccard_pairs(empty_docs).count() == 0


def test_minhash_lsh_empty(empty_docs):
    assert dedup.minhash_lsh_pairs(empty_docs, threshold=0.5).count() == 0


def test_components_empty(empty_pairs):
    assert dedup.components_from_pairs(empty_pairs).count() == 0


def test_components_empty_string_ids(spark):
    pairs = spark.createDataFrame([], "doc_a string, doc_b string")
    assert dedup.components_from_pairs(pairs).count() == 0


def test_segment_dedup_empty(empty_docs):
    assert dedup.segment_dedup(empty_docs).count() == 0


def test_cdc_chunks_empty(empty_docs):
    assert dedup.cdc_chunks(empty_docs).count() == 0


def test_simhash_empty(empty_docs):
    assert dedup.simhash(empty_docs).count() == 0


def test_text_quality_empty(empty_docs):
    assert text.quality(empty_docs).count() == 0


def test_tfidf_empty(empty_docs):
    # global doc-count scalar over zero rows must not poison the join
    assert text.tfidf_top_terms(empty_docs).count() == 0


def test_lang_id_empty(empty_docs):
    assert text.lang_id(empty_docs).count() == 0


def test_bm25_empty_corpus(empty_docs):
    # corpus stats (N, avgdl) over zero docs: no division blow-up
    assert text.bm25_topk(empty_docs, terms=("join", "hash")).count() == 0


def test_cooccurrence_pmi_empty(empty_docs):
    assert text.cooccurrence_pmi(empty_docs).count() == 0


def test_sft_render_empty(empty_docs):
    assert text.sft_render(empty_docs).count() == 0


def test_pack_sequences_empty(spark):
    lens = spark.createDataFrame([], "doc_id long, n_tokens int")
    assert sampling.pack_sequences(lens, ctx_len=2048, n_buckets=4).count() == 0


def test_quota_sample_empty(spark):
    docs = spark.createDataFrame([], "doc_id long, text string, source string")
    assert sampling.quota_sample(docs).count() == 0


def test_shuffle_order_empty(empty_docs):
    assert sampling.shuffle_order(empty_docs).count() == 0


def test_assign_split_empty(empty_docs):
    assert sampling.assign_split(empty_docs).count() == 0


def test_cosine_pairs_empty(empty_vecs):
    from node_mongo2influx_spark.operators import similarity

    assert similarity.cosine_pairs(
        empty_vecs, id_col="vec_id", vec_col="embedding", threshold=0.4
    ).count() == 0


def test_incremental_exact_empty_delta(spark):
    # base rows exist, the delta is empty — the routine no-op ingest
    df = spark.createDataFrame(
        [(1, "some base text", False)],
        "doc_id long, text string, is_delta boolean",
    )
    out = dedup.incremental_exact(df, F.col("is_delta"))
    assert out.count() == 0


def test_incremental_exact_empty_base(spark):
    # first-ever ingest: base empty, all delta rows classify as new/dup_delta
    df = spark.createDataFrame(
        [(1, "a", True), (2, "a", True), (3, "b", True)],
        "doc_id long, text string, is_delta boolean",
    )
    got = {
        r["doc_id"]: r["status"]
        for r in dedup.incremental_exact(df, F.col("is_delta")).collect()
    }
    assert got == {1: "new", 2: "dup_delta", 3: "new"}


# ---------------------------------------------------------------------------
# NULL-cell robustness: a null text / null embedding row must be OMITTED
# (no shingles / no bucket / no code — the operators' documented rule for
# undefined inputs), never crash the Arrow kernel or the driver-side
# trainer. At 100 TB one malformed row must not kill the job.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs_with_null(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, None),
            (3, "the quick brown fox jumps over the lazy dog again"),
        ],
        "doc_id long, text string",
    )


@pytest.fixture(scope="module")
def vecs_with_null(spark):
    rows = [
        (1, [1.0] * 8),
        (2, None),
        (3, [0.9, 0.1] + [0.0] * 6),
        (4, [0.99] + [0.01] * 7),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_minhash_null_text_omitted(docs_with_null):
    pairs = dedup.minhash_lsh_pairs(docs_with_null, threshold=0.5).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(1, 3)}


def test_cosine_lsh_null_vec_omitted(vecs_with_null):
    from node_mongo2influx_spark.operators import similarity

    pairs = similarity.cosine_pairs_lsh(
        vecs_with_null, id_col="vec_id", vec_col="embedding",
        threshold=0.5, dim=8,
    ).collect()
    ids = {i for r in pairs for i in (r["vec_a"], r["vec_b"])}
    assert 2 not in ids and len(pairs) > 0


def test_ivf_trainer_and_query_tolerate_null_vec(vecs_with_null):
    from node_mongo2influx_spark.operators import similarity

    q = vecs_with_null.where(F.col("vec_id").isin(1, 2))
    out = similarity.knn_cosine_ivf(
        vecs_with_null, q, id_col="vec_id", vec_col="embedding",
        k=2, dim=8, n_cells=2,
    ).collect()
    # only the non-null query produces neighbors
    assert {r["query_id"] for r in out} == {1}


def test_ivfpq_batch_tolerates_null_and_empty_queries(vecs_with_null):
    from node_mongo2influx_spark.operators import similarity

    # all-NULL query set: the probe kernel drops the rows, the cogroup
    # sees an empty query side everywhere, and the result is empty —
    # no AxisError, no driver collect to blow up on
    q_null = vecs_with_null.where(F.col("vec_id") == 2)
    out = similarity.knn_cosine_ivfpq_batch(
        vecs_with_null, q_null, id_col="vec_id", vec_col="embedding",
        k=2, dim=8, n_cells=2, n_probe=2, m=4, n_codes=4,
    )
    assert out.count() == 0
    # empty query frame: same contract
    q_empty = vecs_with_null.where(F.lit(False))
    out2 = similarity.knn_cosine_ivfpq_batch(
        vecs_with_null, q_empty, id_col="vec_id", vec_col="embedding",
        k=2, dim=8, n_cells=2, n_probe=2, m=4, n_codes=4,
    )
    assert out2.count() == 0


def test_cosine_pairs_ivf_fused_null_vec_omitted(vecs_with_null):
    from node_mongo2influx_spark.operators import similarity

    pairs = similarity.cosine_pairs_ivf(
        vecs_with_null, id_col="vec_id", vec_col="embedding",
        threshold=0.0, n_cells=2, n_assign=2, dim=8,
    ).collect()
    ids = {i for r in pairs for i in (r["vec_a"], r["vec_b"])}
    assert 2 not in ids  # the NULL-embedding row has no cell, no pairs


def test_pq_trainer_tolerates_null_vec(vecs_with_null):
    from node_mongo2influx_spark.operators import similarity

    q = vecs_with_null.where(F.col("vec_id") == 1)
    out = similarity.knn_cosine_pq(
        vecs_with_null, q, id_col="vec_id", vec_col="embedding",
        k=2, dim=8, m=4,
    ).collect()
    assert len(out) == 2 and all(r["neighbor_id"] != 2 for r in out)


# ---------------------------------------------------------------------------
# Empty CORPUS for the ANN family (tools/empty_sweep.py class): the
# trainers raise EmptyTrainingInput on a zero-row sample; every PUBLIC
# search operator catches it and degrades to an empty, correctly-typed
# result. An explicit index BUILD keeps the raise (caller error, the
# FAISS train() contract).
# ---------------------------------------------------------------------------


def test_knn_family_empty_corpus_degrades(spark, empty_vecs):
    from node_mongo2influx_spark.operators import similarity

    q = spark.createDataFrame(
        [(1, [1.0] * 8)], "vec_id long, embedding array<float>"
    )
    cases = [
        (similarity.knn_cosine_ivf, dict(n_cells=2)),
        (similarity.knn_cosine_pq, dict(m=4, n_codes=4)),
        (similarity.knn_cosine_ivfpq, dict(n_cells=2, m=4, n_codes=4)),
        (similarity.knn_cosine_ivfpq_batch, dict(n_cells=2, m=4, n_codes=4)),
    ]
    for fn, kw in cases:
        out = fn(
            empty_vecs, q, id_col="vec_id", vec_col="embedding",
            k=2, dim=8, **kw,
        )
        assert out.columns == ["query_id", "neighbor_id", "cosine"]
        assert out.count() == 0


def test_cosine_pairs_ivf_empty_corpus_degrades(empty_vecs):
    from node_mongo2influx_spark.operators import similarity

    out = similarity.cosine_pairs_ivf(
        empty_vecs, id_col="vec_id", vec_col="embedding",
        threshold=0.5, n_cells=2, dim=8,
    )
    assert out.columns == ["vec_a", "vec_b", "cosine"]
    assert out.count() == 0
