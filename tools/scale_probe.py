"""Scaling sanity probe: run representative operators at 1x / 4x / 8x the
sf0.1 input (the same parquet files listed N times — no extra disk, real
extra rows) and report wall-clock scaling factors.

What this catches: hidden super-linear behavior — a candidate join whose
buckets grow quadratically, an aggregate whose key domain explodes, a
driver-side collect proportional to data. A healthy operator's 8x time is
roughly <= 8x its 1x time (often much less, since fixed stage overhead
amortizes); a quadratic one blows past it.

Usage: PYTHONPATH=/root/repo python tools/scale_probe.py [sf_dir]
Prints one JSON line: {"probe": {...}, "sf": ..., "factors": [1, 4, 8]}.

Env knobs (VERDICT r5 #5 — push heavy operators to 64×, where fixed
stage overhead no longer masks the exponent):
  SCALE_PROBE_FACTORS=1,8,64   comma-separated replication factors
  SCALE_PROBE_ONLY=a,b         run only the named probes
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
FACTORS = tuple(
    int(x)
    for x in os.environ.get("SCALE_PROBE_FACTORS", "1,4,8").split(",")
)
ONLY = frozenset(
    x for x in os.environ.get("SCALE_PROBE_ONLY", "").split(",") if x
)


def main() -> None:
    import tempfile

    from pyspark.sql import functions as F

    from node_mongo2influx_spark.engine import Engine
    from node_mongo2influx_spark.functions import phash
    from node_mongo2influx_spark.functions.vec import usable_vector_sql
    from node_mongo2influx_spark.operators import (
        dedup,
        integrity,
        sampling,
        similarity,
        text,
    )
    from node_mongo2influx_spark.plans.llm_ops import _BPE_FIXED_MERGES
    from node_mongo2influx_spark.sources.parquet_compat import read_parquet

    eng = Engine.builder(
        app_name="scale-probe",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
    )
    spark = eng.spark
    spark.sparkContext.setLogLevel("ERROR")

    def at_scale(table: str, k: int):
        # list the same file k times: k x rows through every operator with
        # zero extra disk. Ids are NOT uniquified — fine for scan/agg/window
        # probes; dedup probes uniquify below.
        df = read_parquet(spark, f"{SF_DIR}/{table}.parquet")
        out = df
        for _ in range(k - 1):
            out = out.unionAll(df)
        return out

    def uniquified_docs(k: int):
        # replica i shifts doc ids by i * 10^9 so dedup sees k x distinct
        # docs (duplicate ids would make candidate counts quadratic in k
        # by construction, which would test the data, not the operator).
        df = read_parquet(spark, f"{SF_DIR}/documents.parquet")
        parts = [
            df.withColumn(
                "doc_id", F.col("doc_id") + F.lit(i * 1_000_000_000)
            )
            for i in range(k)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out

    def uniquified_embeddings(k: int):
        df = read_parquet(spark, f"{SF_DIR}/embeddings.parquet")
        parts = [
            df.withColumn("vec_id", F.col("vec_id") + F.lit(i * 1_000_000_000))
            for i in range(k)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out

    def _axis_cents():
        import numpy as np

        c = np.zeros((16, 64))
        for i in range(16):
            c[i, i] = 1.0
        return c

    def skewed_embeddings(k: int):
        # deterministic synthetic skew on top of the replicated id space:
        # even ids → a single e0-dominant region (always cell 0 under the
        # axis quantizer: the 0..15 components are 1/0 exactly), odd ids
        # → spread over cells 1..15. Noise lives in dims 16..63 so it
        # can't flip the argmax; pair cosines sit ~0.86±0.05, below the
        # 0.95 probe threshold — edge output stays tiny while pair WORK
        # inside the heavy cell stays (n/2)² per corpus of n.
        vid = F.col("vec_id")
        heavy = F.pmod(vid, F.lit(2)) == F.lit(0)
        axis = F.when(heavy, F.lit(0)).otherwise(
            (F.pmod(vid, F.lit(15)) + F.lit(1)).cast("int")
        )
        noise = lambda i: (  # noqa: E731 — per-element deterministic noise
            (F.pmod(F.xxhash64(vid, i), F.lit(1000)).cast("double") / F.lit(500.0))
            - F.lit(1.0)
        ) * F.lit(0.101)
        vec = F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: F.when(i == axis, F.lit(1.0))
            .when(i >= F.lit(16), noise(i))
            .otherwise(F.lit(0.0)),
        )
        return uniquified_embeddings(k).select("vec_id", vec.alias("embedding"))

    def modality_agreement_sampled(k: int):
        # The sampled calibration's scale knob: rate shrinks as 1/k so the
        # sampled population r*n stays CONSTANT as the corpus grows k-fold
        # — the quadratic tiers run over a fixed-size sample, so cost
        # should stay ~flat (that is what makes the calibration runnable
        # at 100 TB; the exact variant is unrunnable by construction).
        cut = phash.cutoff32(0.5 / k)
        fnv = phash.fnv1a32_spark_sql
        docs = uniquified_docs(k).where(
            F.expr(fnv("cast(doc_id as string)")) < F.lit(cut)
        )
        emb = uniquified_embeddings(k).where(
            F.expr(fnv("cast(vec_id as string)")) < F.lit(cut)
        )
        tp = dedup.ngram_jaccard_pairs(
            docs, text_col="text", id_col="doc_id", n=3, threshold=0.5
        ).select("doc_a", "doc_b", F.lit(True).alias("in_text"))
        ep = similarity.cosine_pairs(
            emb, id_col="vec_id", vec_col="embedding", threshold=0.4
        ).select(
            F.col("vec_a").alias("doc_a"),
            F.col("vec_b").alias("doc_b"),
            F.lit(True).alias("in_emb"),
        )
        return tp.join(ep, ["doc_a", "doc_b"], "full_outer").agg(
            F.count(F.lit(1)).alias("n_either")
        )

    def _bpe_vocab_probe(k: int):
        # deterministic synthetic vocabulary: 5000·k words, 200·k merges
        import random

        from node_mongo2influx_spark.operators.text import _bpe_merge_loop

        rng = random.Random(7)
        vocab: dict = {}
        for _ in range(5000 * k):
            w = tuple(
                rng.choice("abcdefghijklmnopqrstuvwxyz")
                for _ in range(rng.randint(3, 10))
            ) + ("</w>",)
            vocab[w] = vocab.get(w, 0) + rng.randint(1, 1000)
        _bpe_merge_loop(vocab, 200 * k)
        return None

    # Word pool for the query-count probe: fixed vocabulary, k scales the
    # NUMBER of queries (data stays 1x) — probes the inverted-index
    # restriction claim (postings pruned to query vocab pre-shuffle, cost
    # ~ query-vocab postings, not corpus x queries).
    _POOL = (
        "join window hash stream merge sort filter shuffle spark parquet "
        "index vector token batch schema"
    ).split()

    def bm25_multi_queries(k: int):
        queries = {
            q: tuple(_POOL[(q + j) % len(_POOL)] for j in range(3))
            for q in range(2 * k)
        }
        return text.bm25_multi_topk(uniquified_docs(1), queries=queries)

    # The UNBOUNDED-query-stream face (round 8, VERDICT r7 #1): queries
    # arrive as a DataFrame, never collected; the broadcast hints are
    # size-gated (forced off here so every factor runs the unhinted
    # shuffle path — the path a truly unbounded stream takes at scale).
    def bm25_multi_qstream(k: int):
        n_q = 2 * k
        qdf = (
            spark.range(3 * n_q)
            .select(
                (F.col("id") % n_q).cast("int").alias("query_id"),
                F.element_at(
                    F.array(*[F.lit(w) for w in _POOL]),
                    ((F.col("id") * 7 + F.col("id") / n_q) % len(_POOL))
                    .cast("int") + 1,
                ).alias("w"),
            )
        )
        saved = text._BM25_QUERY_BROADCAST_MAX_BYTES
        text._BM25_QUERY_BROADCAST_MAX_BYTES = 0
        try:
            return text.bm25_multi_topk(uniquified_docs(1), queries=qdf)
        finally:
            text._BM25_QUERY_BROADCAST_MAX_BYTES = saved

    # Bloom incremental-dedup probe (round 7, VERDICT r6 #1): build the
    # persisted filter from a k-scaled BASE corpus, classify the k-scaled
    # delta, and measure the false-positive rate. Geometry is data-sized
    # (m = 16 * base keys), so the FP rate must stay ~flat (design point
    # ~0.25%) at EVERY k — the r6 static m=2^17 saturated here at 64×
    # (fill -> 1, every delta labeled dup). Fingerprints are salted with
    # the uniquified doc_id so the base key set really grows k-fold, and
    # delta fps are all absent from the base — the hit rate IS the FP
    # rate. Prints it per k; raises if any k exceeds 10x design.
    bloom_dir = tempfile.mkdtemp(prefix="scale_probe_bloom_")

    def bloom_incremental(k: int):
        docs = uniquified_docs(k).select(
            "doc_id", F.md5(F.concat_ws(":", F.col("doc_id"), F.col("text"))).alias("fp")
        )
        path = f"{bloom_dir}/k{k}"
        geom = dedup.bloom_build(
            docs.where(F.col("doc_id") % 4 != 3), "fp", path
        )
        delta = docs.where(F.col("doc_id") % 4 == 3)
        hit = (
            dedup.bloom_classify(delta, "fp", path)
            .agg(
                F.avg(F.col("bloom_hit").cast("double")).alias("fp_rate"),
                F.count(F.lit(1)).alias("n"),
            )
            .first()
        )
        print(
            f"#   bloom_incremental k={k}: m={geom['m']} "
            f"n_keys={geom['n_keys']} fp_rate={hit['fp_rate']:.5f} "
            f"(n={hit['n']})",
            file=sys.stderr,
        )
        assert hit["fp_rate"] < 0.025, (
            f"Bloom FP rate {hit['fp_rate']} at k={k} exceeds 10x the "
            "design point — geometry not tracking the corpus"
        )
        return None

    probes = {
        "bloom_incremental": bloom_incremental,
        "agg_q1_shape": lambda k: at_scale("lineitem", k)
        .where(F.col("l_shipdate") <= "1998-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity"), F.avg("l_extendedprice"), F.count(F.lit(1))),
        "window_running": lambda k: at_scale("events", k)
        .withColumn(
            "rt",
            F.sum("value").over(
                __import__("pyspark.sql", fromlist=["Window"]).Window
                .partitionBy("user_id")
                .orderBy("ts", "event_id")
                .rowsBetween(-10**9, 0)
            ),
        ),
        "dedup_minhash_lsh": lambda k: dedup.minhash_lsh_pairs(
            uniquified_docs(k), text_col="text", id_col="doc_id", threshold=0.5
        ),
        # portable HLL (r6): per-row hash + a register-bounded groupBy-max
        # — state is O(groups × 256) whatever k is; wall must track rows
        "hll_distinct": lambda k: __import__(
            "node_mongo2influx_spark.functions.hll", fromlist=["hll"]
        ).hll_count_distinct(at_scale("events", k), ["event_type"], "user_id"),
        "token_pack": lambda k: sampling.pack_sequences(
            uniquified_docs(k).select(
                "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
            ),
            ctx_len=2048,
            n_buckets=16,
        ),
        "text_quality": lambda k: text.quality(uniquified_docs(k)),
        "segment_dedup": lambda k: dedup.segment_dedup(uniquified_docs(k)),
        "cooccurrence": lambda k: text.cooccurrence_pairs(
            uniquified_docs(k), max_dist=2, k=50
        ),
        "chunk_windows": lambda k: sampling.chunk_windows(uniquified_docs(k)),
        "shuffle_order": lambda k: sampling.shuffle_order(uniquified_docs(k)),
        "cdc_chunking": lambda k: dedup.cdc_chunks(uniquified_docs(k)),
        "bm25": lambda k: text.bm25_topk(
            uniquified_docs(k), terms=("join", "window", "hash")
        ),
        "cooccurrence_pmi": lambda k: text.cooccurrence_pmi(uniquified_docs(k)),
        "quota_sample": lambda k: sampling.quota_sample(uniquified_docs(k)),
        "bm25_multi": lambda k: text.bm25_multi_topk(
            uniquified_docs(k),
            queries={
                0: ("join", "window", "hash"),
                1: ("stream", "merge", "sort"),
            },
        ),
        "sft_render": lambda k: text.sft_render(uniquified_docs(k)),
        # synthetic chains-of-10 edge list scaling linearly in k: probes
        # the contraction operator itself. (Feeding it the exact-Jaccard
        # tier over replicated docs would create k^2 pairs by
        # construction — that tests the data, not the operator.)
        # driver_finish_edges=0: probe the DISTRIBUTED contraction rounds
        # themselves (the default driver endgame would absorb the 1x run
        # and make the 8x factor compare different code paths).
        "components_contraction": lambda k: dedup.components_from_pairs(
            spark.range(50_000 * k)
            .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
            .where(F.col("id") % 10 != 9),
            driver_finish_edges=0,
        ),
        # round-5 probes (VERDICT r4 #6)
        "modality_agreement_sampled": modality_agreement_sampled,
        "bm25_multi_qcount": bm25_multi_queries,
        "bm25_multi_qstream": bm25_multi_qstream,
        # round-5 library additions: BPE trains over the word-frequency
        # aggregate (the only corpus pass — driver merge-loop time is
        # corpus-size independent); the C4 cleaner is a map-only rewrite.
        "bpe_word_frequencies": lambda k: text.word_frequencies(
            uniquified_docs(k)
        ),
        "clean_lines_c4": lambda k: text.clean_lines_c4(uniquified_docs(k)),
        # round-5 second wave: the blocked within-cell IVF self-join.
        # n_cells scales with the corpus (constant expected cell
        # population) — the documented IVF posture; a FIXED cell count
        # under k x data grows within-cell pairs k^2-fold by
        # construction, which would probe the configuration, not the
        # operator.
        "cosine_pairs_ivf_blocked": lambda k: similarity.cosine_pairs_ivf(
            uniquified_embeddings(k),
            id_col="vec_id",
            vec_col="embedding",
            threshold=0.4,
            n_cells=16 * k,
            n_assign=3,
            dim=64,
            two_level=False,
            pair_backend="blocked",
        ),
        # same growth with the hierarchical coarse quantizer ON: the
        # n·n_cells assignment term drops to n·(k1 + 2·n_cells/k1).
        "cosine_pairs_ivf_two_level": lambda k: similarity.cosine_pairs_ivf(
            uniquified_embeddings(k),
            id_col="vec_id",
            vec_col="embedding",
            threshold=0.4,
            n_cells=16 * k,
            n_assign=3,
            dim=64,
            two_level=True,
            pair_backend="blocked",
        ),
        # round-6: the FUSED backend (default) — candidate generation +
        # exact scoring in one applyInPandas per cell; the pair table
        # (the r5 rows' dominant term) never exists. Flat and two-level
        # quantizer variants.
        "cosine_pairs_ivf_fused": lambda k: similarity.cosine_pairs_ivf(
            uniquified_embeddings(k),
            id_col="vec_id",
            vec_col="embedding",
            threshold=0.4,
            n_cells=16 * k,
            n_assign=3,
            dim=64,
            two_level=False,
            pair_backend="fused",
        ),
        "cosine_pairs_ivf_fused_two_level": lambda k: similarity.cosine_pairs_ivf(
            uniquified_embeddings(k),
            id_col="vec_id",
            vec_col="embedding",
            threshold=0.4,
            n_cells=16 * k,
            n_assign=3,
            dim=64,
            two_level=True,
            pair_backend="fused",
        ),
        # round-6: batch ANN — data fixed at 1x, k scales the QUERY
        # count (25·k queries). Claimed ~flat: per-cell cogroup work is
        # corpus-bounded and the ADC gather amortizes across the
        # queries probing the cell (the BM25 multi-query posture for
        # vector retrieval).
        "ivfpq_batch_qcount": lambda k: similarity.knn_cosine_ivfpq_batch(
            uniquified_embeddings(1),
            uniquified_embeddings(1).where(F.col("vec_id") < 25 * k),
            id_col="vec_id",
            vec_col="embedding",
            k=10,
            n_cells=16,
            n_probe=8,
            m=16,
            n_codes=16,
            dim=64,
        ),
        # round-7 (VERDICT r6 #5): batch ANN with the CORPUS scaled —
        # queries fixed at 50, n_cells ∝ corpus (constant expected cell
        # population, the documented IVF posture; n_probe fixed at 8 so
        # the probed fraction shrinks as the corpus grows). Claimed
        # linear-class: training/encode are one-pass, the cogroup
        # moves each code row at most n_probe-cell times, ADC work per
        # query tracks probed-cell population (constant), rerank is
        # k-bounded.
        "ivfpq_batch_corpus": lambda k: similarity.knn_cosine_ivfpq_batch(
            uniquified_embeddings(k),
            uniquified_embeddings(1).where(F.col("vec_id") < 50),
            id_col="vec_id",
            vec_col="embedding",
            k=10,
            n_cells=16 * k,
            n_probe=8,
            m=16,
            n_codes=16,
            dim=64,
        ),
        # ...and with corpus AND query count scaled together (25·k
        # queries over k× corpus): the full-system growth path.
        "ivfpq_batch_both": lambda k: similarity.knn_cosine_ivfpq_batch(
            uniquified_embeddings(k),
            uniquified_embeddings(1).where(F.col("vec_id") < 25 * k),
            id_col="vec_id",
            vec_col="embedding",
            k=10,
            n_cells=16 * k,
            n_probe=8,
            m=16,
            n_codes=16,
            dim=64,
        ),
        # round-6 session 2: the skew-pathological corpus the fused
        # backend's AUTO split exists for — HALF the rows land in one
        # pre-trained quantizer cell (axis centroids passed in, so
        # k-means can't rebalance; the realistic shape: a reused
        # production quantizer + drifted ingest). autosplit spreads the
        # heavy cell over ceil(pop/cap)² block-pair tasks; nosplit puts
        # its (n/2)² matmul on ONE task — the contrast row.
        "cosine_pairs_ivf_fused_skew_autosplit": lambda k: similarity.cosine_pairs_ivf(
            skewed_embeddings(k),
            id_col="vec_id",
            vec_col="embedding",
            threshold=0.95,
            n_assign=1,
            dim=64,
            centroids=_axis_cents(),
            two_level=False,
            cell_cap=1024,
        ),
        "cosine_pairs_ivf_fused_skew_nosplit": lambda k: similarity.cosine_pairs_ivf(
            skewed_embeddings(k),
            id_col="vec_id",
            vec_col="embedding",
            threshold=0.95,
            n_assign=1,
            dim=64,
            centroids=_axis_cents(),
            two_level=False,
            cell_cap=None,
        ),
        # fixed-merge tokenizer: map-only full-corpus rewrite.
        "bpe_replace_chain": lambda k: text.bpe_replace_chain(
            uniquified_docs(k), merges=_BPE_FIXED_MERGES
        ),
        "curriculum_order": lambda k: sampling.curriculum_order(
            uniquified_docs(k).select(
                "doc_id", F.size(F.split("text", " ")).alias("s")
            ),
            score_col="s",
        ),
        # round-6 (VERDICT r5 #6): the BPE merge loop at k× vocab AND k×
        # merges — pure driver work on a synthetic Zipf-ish vocabulary
        # (the parquet fixtures have a ~31-word vocab, useless for this).
        # The incremental heap/inverted-index loop should stay
        # ~linear-ish; the naive full-rescan reference is quadratic-class
        # (measured 18× wall at 4×).
        "bpe_merge_loop_vocab": lambda k: _bpe_vocab_probe(k),
        # round-11 (VERDICT r10 #7): the vector-validity guard itself as
        # a contrast pair — the guarded embeddings scan vs the same scan
        # with only a null filter. The guard is ONE single-traversal
        # max-abs fold per row (functions/vec), so its 8x/64x factor
        # must track the raw scan's: scan-side, partition-parallel,
        # linear class. A divergent exponent here would mean the guard
        # stopped being a pure per-row predicate.
        "vec_guard_scan": lambda k: at_scale("embeddings", k).where(
            F.expr(usable_vector_sql("embedding"))
        ),
        "vec_guard_raw_scan": lambda k: at_scale("embeddings", k).where(
            F.col("embedding").isNotNull()
        ),
        # round-11: the integrity census (operators/integrity.py).
        # at_scale's replicated ids are the POINT here: k replicas mean
        # every id appears k times, so the per-id key domain stays
        # CONSTANT while rows grow k-fold — wall must track rows (the
        # map-side-combined count partials), never the duplicate count.
        "id_census": lambda k: integrity.id_census(
            integrity.per_id_counts(at_scale("events", k), "event_id"), []
        ),
    }

    # warm up session + python workers
    at_scale("region", 1).count()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    report = {}
    for name, fn in probes.items():
        if ONLY and name not in ONLY:
            continue
        times = []
        for k in FACTORS:
            t0 = time.monotonic()
            out = fn(k)
            if out is not None:  # side-effecting probes write themselves
                out.write.format("noop").mode("overwrite").save()
            times.append(round(time.monotonic() - t0, 3))
        base = max(times[0], 1e-9)
        last = FACTORS[-1]
        report[name] = {
            "sec": times,
            f"scaling_{last}x": round(times[-1] / base, 2),
        }
        print(
            f"# {name}: {times} ({last}x factor "
            f"{report[name][f'scaling_{last}x']})",
            file=sys.stderr,
        )

    print(json.dumps({"probe": report, "sf_dir": SF_DIR, "factors": list(FACTORS)}))


if __name__ == "__main__":
    main()
