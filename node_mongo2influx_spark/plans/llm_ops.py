"""LLM-data-pipeline queries (SURVEY.md §2.12): dedup, similarity search,
text analysis, multimodal — over the `documents` and `embeddings` fixtures.

Implementations live in ``operators/``; this module wraps them as named,
oracle-checked queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from node_mongo2influx_spark.functions import fold
from node_mongo2influx_spark.functions.fold import ascii_lower
from node_mongo2influx_spark.operators import (
    dedup,
    multimodal,
    sampling,
    similarity,
    text,
)
from node_mongo2influx_spark.plans import query
from node_mongo2influx_spark.functions import vec as vecf
from node_mongo2influx_spark.plans.tables import load

#: DuckDB twins of the vector-validity contract (functions/vec): the
#: finite-measure rule extended to embeddings. Every oracle that consumes
#: the embedding column carries the SAME predicate its Spark operator
#: applies — usable (cosine family) or bounded (exact-quantization
#: statistics family).
_UVEC = vecf.usable_vector_duckdb_sql("embedding")
_BVEC = vecf.bounded_vector_duckdb_sql("embedding")


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle="""
        SELECT md5(text) AS fingerprint,
               min(doc_id) AS keep_doc_id,
               count(*) AS n_copies
        FROM documents
        GROUP BY md5(text)
    """,
    description="Exact dedup: content-hash groupBy, keep lowest doc_id "
    "(deterministic canonical row — dropDuplicates' arbitrary pick is not "
    "oracle-friendly).",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact(load(spark, sf_dir, "documents"), text_col="text", id_col="doc_id")


@query(
    "dedup_ngram_jaccard",
    oracle="""
        WITH docs AS (
            SELECT doc_id, string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ') AS words FROM documents
        ),
        shingles AS (
            SELECT doc_id,
                   unnest(list_distinct(
                       CASE WHEN len(words) >= 3 THEN
                           list_transform(generate_series(1, len(words) - 2),
                               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
                       ELSE [] END
                   )) AS sh
            FROM docs
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM shingles a JOIN shingles b
                 ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT p.doc_a, p.doc_b,
               round(CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter), 6) AS jaccard
        FROM pairs p
        JOIN sizes sa ON sa.doc_id = p.doc_a
        JOIN sizes sb ON sb.doc_id = p.doc_b
        WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.5
    """,
    description="Near-dup candidate pairs by exact 3-gram-shingle Jaccard "
    "(explode → self-join on shingle → |A∩B|/|A∪B|). The exact-arithmetic "
    "oracle for the MinHash approximation.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"),
        text_col="text",
        id_col="doc_id",
        n=3,
        threshold=0.5,
    )


@query(
    "dedup_rate_by_source",
    oracle="""
        WITH ranked AS (
            SELECT source,
                   doc_id = min(doc_id) OVER (PARTITION BY md5(text))
                       AS canonical
            FROM documents
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN canonical THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_duplicates,
               floor(CAST(sum(CASE WHEN canonical THEN 0 ELSE 1 END)
                          AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6
                   AS dup_rate
        FROM ranked
        GROUP BY source
    """,
    description="Dedup observability: per-source duplicate rate (share of "
    "docs that are non-canonical exact copies) — the report a data buyer "
    "reads before deciding which crawl sources to keep paying for, and "
    "the drift signal an ingest pipeline alerts on. One window over the "
    "content hash + one aggregate; at 100 TB the same query runs over "
    "the incremental fingerprint store instead of rescanning text.",
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents").select(
        "source", "doc_id", F.md5("text").alias("fp")
    )
    canonical = F.col("doc_id") == F.min("doc_id").over(
        Window.partitionBy("fp")
    )
    return (
        docs.withColumn("canon", canonical)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((~F.col("canon")).cast("long")).alias("n_duplicates"),
            (
                F.floor(
                    F.sum((~F.col("canon")).cast("long")).cast("double")
                    / F.count(F.lit(1))
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("dup_rate"),
        )
    )


#: The incremental-dedup fingerprint and delta split, shared by the exact
#: face (dedup_incremental_delta) and the Bloom membership face
#: (dedup_incremental_bloom) — the two compose ONLY while these stay
#: bit-identical, so both queries (Spark bodies AND oracles) read them
#: from here.
_HEAD_FP_DUCKDB = (
    "md5(array_to_string("
    "list_slice(string_split(text, ' '), 1, 10), ' '))"
)
_DELTA_SPLIT_DUCKDB = "doc_id % 4 = 3"


def _head_fp_spark():
    return F.md5(
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 10), " ")
    )


def _delta_split_spark():
    return F.pmod(F.col("doc_id"), F.lit(4)) == 3


@query(
    "source_overlap_matrix",
    oracle="""
        WITH fp AS (
            SELECT DISTINCT source, md5(text) AS h FROM documents
        ),
        sizes AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n
            FROM fp GROUP BY source
        ),
        inter AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM fp a JOIN fp b ON a.h = b.h AND a.source < b.source
            GROUP BY a.source, b.source
        )
        SELECT i.source_a, i.source_b, i.n_shared,
               floor(CAST(i.n_shared AS DOUBLE)
                     / least(sa.n, sb.n) * 1e6 + 0.5) / 1e6
                   AS overlap_coeff
        FROM inter i
        JOIN sizes sa ON sa.source = i.source_a
        JOIN sizes sb ON sb.source = i.source_b
    """,
    description="Cross-source duplication matrix: for every source pair, "
    "the count of shared content hashes and the overlap coefficient "
    "|A∩B| / min(|A|, |B|) — which crawls mirror each other, the input "
    "to source-level dedup ordering (drop the mirror, keep the origin). "
    "The join runs on 16-byte content hashes (never text) grouped to "
    "per-pair counts — O(sources²) output regardless of corpus size.",
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fp is consumed 3× (sizes + both sides of the pair self-join)
    # downstream of the corpus scan + distinct — checkpoint it
    # (CLAUDE.md consumed-≥2× rule; same fix as source_overlap_hll's
    # exact-witness tier)
    fp = (
        load(spark, sf_dir, "documents")
        .select("source", F.md5("text").alias("h"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = fp.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = fp.select(F.col("source").alias("source_a"), "h")
    b = fp.select(F.col("source").alias("source_b"), "h")
    inter = (
        a.join(b, "h")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            (
                F.floor(
                    F.col("n_shared").cast("double")
                    / F.least(F.col("na"), F.col("nb"))
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("overlap_coeff"),
        )
    )


def _overlap_hll_oracle() -> str:
    from node_mongo2influx_spark.functions.hll import (
        HLL_M,
        HLL_MAXRHO,
        hll_estimate_duckdb_expr,
        hll_registers_duckdb_ctes,
    )

    regs = hll_registers_duckdb_ctes(
        f"SELECT source, {_HEAD_FP_DUCKDB} AS __v FROM documents "
        "WHERE text IS NOT NULL",
        "source",
    )
    shl = f"(CAST(1 AS BIGINT) << ({HLL_MAXRHO} - {{m}}))"
    est_a = hll_estimate_duckdb_expr("sum_inv_a", "zero_a")
    est_b = hll_estimate_duckdb_expr("sum_inv_b", "zero_b")
    est_u = hll_estimate_duckdb_expr("sum_inv_u", "zero_u")
    return f"""
        WITH {regs}
        tot AS (
            SELECT source, CAST(count(*) AS BIGINT) AS used,
                   CAST(sum({shl.format(m="__m")}) AS BIGINT) AS s
            FROM __hll_regs GROUP BY 1
        ),
        sh AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   CAST(count(*) AS BIGINT) AS cnt_sh,
                   CAST(sum({shl.format(m="greatest(a.__m, b.__m)")})
                        AS BIGINT) AS s_max,
                   CAST(sum({shl.format(m="a.__m")}) AS BIGINT) AS s_a_sh,
                   CAST(sum({shl.format(m="b.__m")}) AS BIGINT) AS s_b_sh
            FROM __hll_regs a
            JOIN __hll_regs b ON a.__bucket = b.__bucket
                             AND a.source < b.source
            GROUP BY 1, 2
        ),
        parts AS (
            SELECT sh.source_a, sh.source_b,
                   ta.s + ({HLL_M} - ta.used)
                        * (CAST(1 AS BIGINT) << {HLL_MAXRHO}) AS sum_inv_a,
                   {HLL_M} - ta.used AS zero_a,
                   tb.s + ({HLL_M} - tb.used)
                        * (CAST(1 AS BIGINT) << {HLL_MAXRHO}) AS sum_inv_b,
                   {HLL_M} - tb.used AS zero_b,
                   sh.s_max + (ta.s - sh.s_a_sh) + (tb.s - sh.s_b_sh)
                     + ({HLL_M} - (ta.used + tb.used - sh.cnt_sh))
                       * (CAST(1 AS BIGINT) << {HLL_MAXRHO}) AS sum_inv_u,
                   {HLL_M} - (ta.used + tb.used - sh.cnt_sh) AS zero_u
            FROM sh
            JOIN tot ta ON ta.source = sh.source_a
            JOIN tot tb ON tb.source = sh.source_b
        ),
        est AS (
            SELECT source_a, source_b,
                   CAST(sum_inv_u AS BIGINT) AS union_sum_inv,
                   {est_a} AS hll_a, {est_b} AS hll_b, {est_u} AS hll_union
            FROM parts
        ),
        fp AS (SELECT DISTINCT source, {_HEAD_FP_DUCKDB} AS h FROM documents
               WHERE text IS NOT NULL),
        sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n
                  FROM fp GROUP BY 1),
        ex AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   CAST(count(*) AS BIGINT) AS exact_shared
            FROM fp a JOIN fp b ON a.h = b.h AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT e.source_a, e.source_b,
               coalesce(ex.exact_shared, 0) AS exact_shared,
               sa.n AS exact_a, sb.n AS exact_b,
               e.hll_a, e.hll_b, e.hll_union,
               floor((e.hll_a + e.hll_b - e.hll_union) * 1e4 + 5e-1) / 1e4
                   AS hll_intersection,
               e.union_sum_inv
        FROM est e
        LEFT JOIN ex ON ex.source_a = e.source_a
                    AND ex.source_b = e.source_b
        JOIN sizes sa ON sa.source = e.source_a
        JOIN sizes sb ON sb.source = e.source_b
    """


@query(
    "source_overlap_hll",
    oracle=_overlap_hll_oracle(),
    description="HLL SET ALGEBRA over the per-source sketches — the 100 TB "
    "face of source_overlap_matrix: union registers are the bucket-wise "
    "max of two sources' registers (computed by inclusion-exclusion on "
    "the exact-integer harmonic sums: shared buckets take max, one-sided "
    "buckets keep their own term — only a bucket equi-join of "
    "sketch-sized tables, the corpus hash join disappears entirely), "
    "|A∩B| ≈ |A| + |B| − |A∪B|. Every number derives from the exact "
    "integer register algebra, so the whole matrix is bit-identical "
    "across engines (FULL oracle), with the exact shared-hash counts "
    "joined in-row as the accuracy witness. Per source pair the input "
    "is ≤ 2·256 small ints at ANY corpus size; sketches can be "
    "maintained incrementally (per-batch register partials merged by "
    "max) and compared without touching data.",
)
def source_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from node_mongo2influx_spark.functions.hll import (
        hll_overlap_from_registers,
        hll_registers,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        # identity = the HEAD fingerprint shared with the incremental
        # faces: byte-exact md5(text) finds ZERO cross-source dups on
        # the fixtures (a degenerate witness); the normalized head is
        # what crawl-overlap comparisons actually key on and gives the
        # exact_shared column non-zero mass to check the sketch against
        .select("source", _head_fp_spark().alias("h"))
    )
    est = hll_overlap_from_registers(
        hll_registers(docs, ["source"], "h"), "source"
    ).select(
        F.col("key_a").alias("source_a"),
        F.col("key_b").alias("source_b"),
        "union_sum_inv",
        "hll_a",
        "hll_b",
        "hll_union",
        "hll_intersection",
    )
    # the exact-witness tier: fp is consumed 3× (sizes + both sides of
    # the pair self-join) downstream of the corpus scan + distinct —
    # checkpoint it (CLAUDE.md consumed-≥2× rule) so the scan runs once
    fp = docs.distinct().localCheckpoint(eager=False)
    sizes = fp.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    ex = (
        fp.select(F.col("source").alias("source_a"), "h")
        .join(fp.select(F.col("source").alias("source_b"), "h"), "h")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("exact_shared"))
    )
    return (
        est.join(ex, ["source_a", "source_b"], "left")
        .join(
            sizes.select(
                F.col("source").alias("source_a"), F.col("n").alias("exact_a")
            ),
            "source_a",
        )
        .join(
            sizes.select(
                F.col("source").alias("source_b"), F.col("n").alias("exact_b")
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            F.coalesce(F.col("exact_shared"), F.lit(0)).alias("exact_shared"),
            "exact_a",
            "exact_b",
            "hll_a",
            "hll_b",
            "hll_union",
            "hll_intersection",
            "union_sum_inv",
        )
    )


@query(
    "dedup_minhash_lsh",
    oracle=None,  # approximate: verified against exact Jaccard in tests
    description="MinHash(128 perms)+LSH banding near-dup pairs — the 100 TB "
    "path: candidate generation is a band-bucket equi-join, never all-pairs. "
    "Verified against dedup_ngram_jaccard in tests/test_dedup.py (recall "
    "bound), rows-only check here.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"),
        text_col="text",
        id_col="doc_id",
        shingle_n=3,
        num_perm=128,
        bands=32,
        threshold=0.5,
    )


#: Shared CTE producing the exact near-dup pair list (mirrors
#: dedup_ngram_jaccard's oracle) — the input graph for cluster queries.
_PAIRS_CTE = """
        docs AS (
            SELECT doc_id, string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ') AS words FROM documents
        ),
        shingles AS (
            SELECT doc_id,
                   unnest(list_distinct(
                       CASE WHEN len(words) >= 3 THEN
                           list_transform(generate_series(1, len(words) - 2),
                               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
                       ELSE [] END
                   )) AS sh
            FROM docs
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
            FROM shingles a JOIN shingles b
                 ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        pairs AS (
            SELECT p.doc_a, p.doc_b
            FROM inter p
            JOIN sizes sa ON sa.doc_id = p.doc_a
            JOIN sizes sb ON sb.doc_id = p.doc_b
            WHERE CAST(p.i AS DOUBLE) / (sa.n + sb.n - p.i) >= 0.5
        )
"""


@query(
    "dedup_clusters",
    oracle=f"""
        WITH RECURSIVE
        {_PAIRS_CTE},
        edges(src, dst) AS (
            SELECT doc_a, doc_b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs
        ),
        reach(node, label) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst
        )
        SELECT node AS doc_id, min(label) AS component_id
        FROM reach GROUP BY node
    """,
    description="Near-dup clustering: connected components over exact-"
    "Jaccard pairs via distributed small-label propagation (two hash joins "
    "+ one aggregate per iteration, no driver-side graph). The oracle is a "
    "recursive-CTE transitive closure. This is the step that turns pairwise "
    "candidates into keep/drop decisions (canonical = min doc_id).",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup.ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), text_col="text", id_col="doc_id",
        n=3, threshold=0.5,
    )
    return dedup.components_from_pairs(pairs)


from node_mongo2influx_spark.operators.sampling import split_oracle_case_duckdb


@query(
    "leakage_safe_split",
    oracle=f"""
        WITH RECURSIVE
        {_PAIRS_CTE},
        edges(src, dst) AS (
            SELECT doc_a, doc_b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs
        ),
        reach(node, label) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst
        ),
        comp AS (
            SELECT node AS doc_id, min(label) AS component_id
            FROM reach GROUP BY node
        ),
        canon AS (
            SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS cn
            FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
        )
        SELECT doc_id, {split_oracle_case_duckdb("cn")} AS split
        FROM canon
    """,
    description="Leakage-safe train/val/test split: the split hash is "
    "taken over each document's near-dup CLUSTER canonical id (connected "
    "components over the exact 3-gram Jaccard pairs), so duplicate "
    "clusters can never straddle splits — a per-doc hash split puts "
    "~(1 - sum f_i^2) of duplicate pairs across different splits (eval "
    "contamination by construction). Singletons fall back to their own "
    "id, matching plain assign_split exactly. Oracle: recursive-CTE "
    "components + the portable FNV-1a integer-cutoff split CASE.",
)
def leakage_safe_split_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dedup.ngram_jaccard_pairs(
        docs, text_col="text", id_col="doc_id", n=3, threshold=0.5
    )
    return sampling.leakage_safe_split(docs, pairs).select("doc_id", "split")


@query(
    "clean_lines_c4",
    oracle="""
        WITH base AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        lined AS (
            SELECT doc_id,
                   list_transform(
                       generate_series(0, CAST(ceil(len(w) / 8.0) AS INT) - 1),
                       i -> array_to_string(w[8*i+1:8*i+8], ' ') ||
                            CASE WHEN i % 3 = 0 THEN '.'
                                 WHEN i % 3 = 1 THEN '!'
                                 ELSE '' END) AS lines
            FROM base
        ),
        cleaned AS (
            SELECT doc_id, len(lines) AS n_in,
                   list_distinct(list_filter(
                       list_transform(lines, l -> trim(l)),
                       l -> len(string_split_regex(l, '\\s+')) >= 3
                            AND regexp_matches(l, '[.!?"'']$'))) AS kept
            FROM lined
        )
        SELECT doc_id,
               CAST(n_in AS INT) AS n_lines_in,
               CAST(len(kept) AS INT) AS n_lines_kept,
               md5(array_to_string(list_sort(kept), chr(10))) AS clean_md5
        FROM cleaned
    """,
    description="C4-style line-level cleaning over a deterministic "
    "re-lining of the fixture word soup (8-word lines; line i gets '.', "
    "'!', or no terminal punctuation by i%3 — so exactly the "
    "unpunctuated third drops): min-words + terminal-punctuation filter, "
    "in-doc exact-line dedup, drop-rate accounting. Both engines replay "
    "the same synthesis; kept lines are md5'd in sorted order because "
    "DuckDB's list_distinct does not preserve occurrence order (the "
    "operator's own first-occurrence ordering is pinned in pytest). Pure "
    "Column exprs — the full-corpus rewrite runs in whole-stage codegen.",
)
def clean_lines_c4_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # Split ONCE per row in its OWN projection (the oracle's `base` CTE
    # twin). Referencing the split expression inside the transform
    # lambda below re-evaluates it PER LINE — O(n_lines · doc_size),
    # invisible on 500-char fixtures but one 10 MB longdoc document
    # burned 80 minutes in a single interpreted-split task (r11 find;
    # the per-element edition of the r5 CollapseProject trap). With two
    # non-cheap references to `__w` in one projection, CollapseProject
    # keeps the alias materialized.
    split_docs = docs.select("doc_id", F.split("text", " ").alias("__w"))
    w = F.col("__w")
    n_lines = F.ceil(F.size(w) / F.lit(8.0)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.concat(
            F.array_join(F.slice(w, i * 8 + 1, 8), " "),
            F.when(i % 3 == 0, F.lit("."))
            .when(i % 3 == 1, F.lit("!"))
            .otherwise(F.lit("")),
        ),
    )
    relined = split_docs.select(
        "doc_id", F.array_join(lines, "\n").alias("text")
    )
    out = text.clean_lines_c4(relined)
    kept_sorted = F.array_sort(F.split("clean_text", "\n"))
    return out.select(
        "doc_id",
        "n_lines_in",
        "n_lines_kept",
        F.md5(F.array_join(kept_sorted, "\n")).alias("clean_md5"),
    )


@query(
    "bpe_tokenize_corpus",
    oracle=None,  # the merge list is trained at compose (driver-side over
    # the word-frequency aggregate); DuckDB cannot replay the training
    # loop. The train/apply logic is pinned instead by pytest equivalence
    # with a raw-stream reference trainer and segmentation replay
    # (tests/test_text.py), and the tokens round-trip to the input words.
    description="End-to-end BPE tokenization of the corpus: train 64 "
    "merges over the ONE-pass word-frequency aggregate (driver merge "
    "loop is corpus-size independent), then rank-based greedy encoding "
    "via mapInPandas with a per-batch word cache — cost tracks the "
    "vocabulary, not the token count; the merge list ships in the "
    "kernel (no join, no shuffle). Output: per-doc token count + md5 of "
    "the token stream.",
)
def bpe_tokenize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    merges = text.bpe_train(docs, n_merges=64)
    out = text.bpe_tokenize(docs, merges)
    return out.select(
        "doc_id",
        "n_tokens",
        F.md5(F.array_join("tokens", " ")).alias("tokens_md5"),
    )


@query(
    "dedup_clusters_lsh",
    oracle=None,  # approximate pair source; component logic oracle-checked
    # via dedup_clusters, pair recall via dedup_minhash_lsh tests
    description="The full 100 TB dedup pipeline in one query: MinHash-LSH "
    "candidate pairs → connected components → (doc_id, component_id). The "
    "exact-tier twin (dedup_clusters) oracle-checks the clustering logic; "
    "this chains it onto the scalable pair source.",
)
def dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), text_col="text", id_col="doc_id",
        threshold=0.5,
    )
    return dedup.components_from_pairs(pairs)


@query(
    "dup_transitivity_audit",
    oracle=f"""
        WITH {_PAIRS_CTE},
        deg AS (
            SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
                SELECT doc_a AS node FROM pairs
                UNION ALL SELECT doc_b AS node FROM pairs
            ) GROUP BY node
        ),
        tri AS (
            SELECT CAST(count(*) AS BIGINT) AS n_triangles
            FROM pairs p1
            JOIN pairs p2 ON p2.doc_a = p1.doc_b
            JOIN pairs p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b
        ),
        wed AS (
            SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
               n_wedges, n_triangles,
               CASE WHEN n_wedges = 0 THEN 0.0
                    ELSE floor(3.0 * n_triangles / n_wedges * 1e6 + 0.5) / 1e6
               END AS transitivity
        FROM wed, tri
    """,
    description="Transitivity audit of the near-dup graph: edges, wedges "
    "(Σ d·(d−1)/2), closed triangles (ordered-edge double join — each "
    "triangle counted once), and the global clustering coefficient "
    "3·triangles/wedges. High transitivity means duplicate clusters are "
    "cliquey (cluster-level canonical-keep is safe); low means chaining — "
    "threshold too loose for component-based dedup. Triangle counting is "
    "the standard two-join formulation over ordered edges; wedges come "
    "from the degree aggregate, no joins.",
)
def dup_transitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The pair list is consumed FIVE times below (degree agg, the three
    # triangle-join legs, the edge count); un-persisted, the whole
    # shingle self-join pipeline recomputes per consumer — measured 124 MB
    # of re-reads and 77 MB of spill at sf0.1 (tools/query_metrics.py).
    # persist() is lazy, so composing the query stays job-free.
    pairs = (
        dedup.ngram_jaccard_pairs(
            load(spark, sf_dir, "documents"), text_col="text", id_col="doc_id",
            n=3, threshold=0.5,
        )
        .select("doc_a", "doc_b")
        .persist()
    )
    deg = (
        pairs.select(F.col("doc_a").alias("node"))
        .unionAll(pairs.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges")
    )
    p1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    p2 = pairs.select(F.col("doc_a").alias("b2"), F.col("doc_b").alias("c"))
    p3 = pairs.select(F.col("doc_a").alias("a3"), F.col("doc_b").alias("c3"))
    tri = (
        p1.join(p2, p1.b == p2.b2)
        .join(p3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        edges.crossJoin(wedges)
        .crossJoin(tri)
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(F.col("n_wedges") == 0, F.lit(0.0))
            .otherwise(
                F.floor(
                    3.0 * F.col("n_triangles") / F.col("n_wedges") * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            )
            .alias("transitivity"),
        )
    )


def simhash_oracle_sql(n_bands: int = 4) -> str:
    """DuckDB replica of dedup.simhash(token_hash='fnv1a32x2').

    Same arithmetic, different engine: FNV-1a over code points via
    list_reduce (list_prepend supplies the basis — DuckDB's reduce has no
    init argument), 64 conditional-sum votes, sign-packed BIGINT, arithmetic
    shift + mask for bands ((x >> s) & 0xFFFF equals the unsigned-shift
    version because the mask discards the sign-filled high bits).
    """
    from node_mongo2influx_spark.functions.phash import fnv1a32_duckdb_sql as fnv

    votes = ",\n".join(
        f"sum(CASE WHEN ({'lo' if j < 32 else 'hi'} >> {j % 32}) & 1 = 1 "
        f"THEN 1 ELSE -1 END) AS b{j}"
        for j in range(64)
    )
    # bit 63 is the sign bit: -(2^63) as a literal (1<<63 overflows BIGINT)
    packed = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN CAST({(1 << j) if j < 63 else '-9223372036854775807 - 1'} AS BIGINT) ELSE 0 END)"
        for j in range(64)
    )
    width = 64 // n_bands
    bands = ",\n".join(
        f"(simhash >> {i * width}) & {(1 << width) - 1} AS band{i}"
        for i in range(n_bands)
    )
    return f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS w
            FROM documents
        ),
        hashed AS (
            SELECT doc_id, {fnv('w')} AS lo, {fnv("w || '#'")} AS hi
            FROM tok WHERE w <> ''
        ),
        votes AS (
            SELECT doc_id, {votes}
            FROM hashed GROUP BY doc_id
        ),
        fp AS (
            SELECT doc_id, {packed} AS simhash FROM votes
        )
        SELECT doc_id, simhash, {bands} FROM fp
    """


@query(
    "dedup_simhash",
    oracle=simhash_oracle_sql(),
    description="64-bit SimHash per document (token-hash sign aggregation) + "
    "hamming-band grouping. This query runs the portable-hash tier "
    "(token_hash='fnv1a32x2') so DuckDB can replicate the fingerprint "
    "bit-for-bit; production default is xxhash64 (identical plan, JVM "
    "leaf hash), covered by determinism tests in pytest.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(
        load(spark, sf_dir, "documents"),
        text_col="text",
        id_col="doc_id",
        token_hash="fnv1a32x2",
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------
@query(
    "knn_cosine_bruteforce",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> coalesce(x, 'NaN'::DOUBLE)) AS emb FROM embeddings
            WHERE {_UVEC}
        )
        SELECT query_id, neighbor_id, cosine
        FROM (
            SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                   round(list_dot_product(q.emb, v.emb)
                         / (sqrt(list_dot_product(q.emb, q.emb))
                            * sqrt(list_dot_product(v.emb, v.emb))), 4) AS cosine,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_dot_product(q.emb, v.emb)
                                / (sqrt(list_dot_product(q.emb, q.emb))
                                   * sqrt(list_dot_product(v.emb, v.emb))) DESC,
                                v.vec_id
                   ) AS rn
            FROM e q
            JOIN e v ON v.vec_id <> q.vec_id
            WHERE q.vec_id < 5
        ) t
        WHERE rn <= 10
    """,
    description="Exact top-10 cosine neighbors for query vectors (vec_id<5): "
    "broadcast queries × corpus scan, JVM-side dot products, per-query top-k. "
    "The correctness baseline for the ANN path.",
)
def knn_cosine_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return similarity.knn_cosine(
        emb, emb.where("vec_id < 5"), id_col="vec_id", vec_col="embedding", k=10
    )


@query(
    "knn_cosine_lsh",
    oracle=None,  # approximate; recall vs brute force asserted in tests
    description="ANN top-k via random-hyperplane LSH bucketing: queries join "
    "only their bucket (multi-probe), not the whole corpus — the 100 TB path. "
    "Recall vs knn_cosine_bruteforce asserted in tests/test_similarity.py.",
)
def knn_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return similarity.knn_cosine_lsh(
        emb, emb.where("vec_id < 5"), id_col="vec_id", vec_col="embedding",
        k=10, n_planes=8, seed=42, dim=64,  # testdata embeddings are 64-wide
    )


@query(
    "knn_cosine_ivf",
    oracle=None,  # approximate (kmeans cells); recall vs brute force in tests
    description="ANN top-k via IVF: spherical k-means coarse quantizer "
    "trained on a deterministic hash-sample (~10% at scale, floored for "
    "small corpora), each Lloyd pass one fused Arrow assign+partial-sum "
    "kernel; queries probe their n_probe nearest cells, exact cosine on "
    "cell members only. Cells adapt to the data distribution (vs LSH's "
    "fixed hyperplanes). Recall asserted in tests/test_similarity.py.",
)
def knn_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return similarity.knn_cosine_ivf(
        emb, emb.where("vec_id < 5"), id_col="vec_id", vec_col="embedding",
        k=10, n_cells=16, n_probe=8, dim=64,
    )


@query(
    "embedding_neardup_pairs",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> coalesce(x, 'NaN'::DOUBLE)) AS emb FROM embeddings
            WHERE {_UVEC}
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_dot_product(a.emb, b.emb)
                     / (sqrt(list_dot_product(a.emb, a.emb))
                        * sqrt(list_dot_product(b.emb, b.emb))), 4) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.emb, b.emb)
              / (sqrt(list_dot_product(a.emb, a.emb))
                 * sqrt(list_dot_product(b.emb, b.emb))) >= 0.4
    """,
    description="Embedding-cosine near-duplicate pairs (cosine ≥ 0.4 — calibrated to this corpus's top ~0.1%% of pairs): exact "
    "all-pairs on the label-blocked corpus here; at 100 TB the identical "
    "predicate runs over LSH-bucketed candidates (knn_cosine_lsh's bucketer) "
    "instead of the full cross product.",
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_pairs(
        load(spark, sf_dir, "embeddings"),
        id_col="vec_id",
        vec_col="embedding",
        threshold=0.4,
    )


@query(
    "embedding_neardup_lsh",
    oracle=None,  # approximate; recall vs embedding_neardup_pairs in tests
    description="LSH-bucketed embedding near-dup pairs: candidates from "
    "multi-table bucket equi-joins, exact cosine only on candidates — the "
    "linear-ish scale path promised by embedding_neardup_pairs. Recall vs "
    "the exact baseline asserted in tests/test_similarity.py.",
)
def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_pairs_lsh(
        load(spark, sf_dir, "embeddings"),
        id_col="vec_id",
        vec_col="embedding",
        threshold=0.4,
        dim=64,  # testdata embeddings are 64-wide
    )


@query(
    "dedup_modality_agreement",
    oracle=f"""
        WITH docs AS (
            SELECT doc_id, string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ') AS words FROM documents
        ),
        shingles AS (
            SELECT doc_id,
                   unnest(list_distinct(
                       CASE WHEN len(words) >= 3 THEN
                           list_transform(generate_series(1, len(words) - 2),
                               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
                       ELSE [] END
                   )) AS sh
            FROM docs
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM shingles a JOIN shingles b
                 ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        text_pairs AS (
            SELECT p.doc_a, p.doc_b
            FROM inter p
            JOIN sizes sa ON sa.doc_id = p.doc_a
            JOIN sizes sb ON sb.doc_id = p.doc_b
            WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.5
        ),
        e AS (
            SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> coalesce(x, 'NaN'::DOUBLE)) AS emb FROM embeddings
            WHERE {_UVEC}
        ),
        emb_pairs AS (
            SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.emb, b.emb)
                  / (sqrt(list_dot_product(a.emb, a.emb))
                     * sqrt(list_dot_product(b.emb, b.emb))) >= 0.4
        ),
        merged AS (
            SELECT coalesce(t.doc_a, v.doc_a) AS doc_a,
                   (t.doc_a IS NOT NULL) AS in_text,
                   (v.doc_a IS NOT NULL) AS in_emb
            FROM text_pairs t
            FULL OUTER JOIN emb_pairs v
                 ON t.doc_a = v.doc_a AND t.doc_b = v.doc_b
        )
        SELECT CAST(sum(CASE WHEN in_text THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_text_pairs,
               CAST(sum(CASE WHEN in_emb THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_embedding_pairs,
               CAST(sum(CASE WHEN in_text AND in_emb THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_both,
               CAST(count(*) AS BIGINT) AS n_either,
               floor(CAST(sum(CASE WHEN in_text AND in_emb THEN 1 ELSE 0 END)
                          AS DOUBLE)
                     / count(*) * 1e6 + 0.5) / 1e6 AS agreement
        FROM merged
    """,
    description="Cross-modality dedup audit: do the text tier (exact "
    "3-gram Jaccard >= 0.5) and the embedding tier (exact cosine >= 0.4) "
    "flag the same pairs? Full-outer join of the two exact pair sets -> "
    "counts per side, intersection, union, and the pair-set Jaccard "
    "agreement — the calibration measurement that tells a pipeline "
    "operator whether the cheap tier can stand in for the expensive one "
    "on this corpus. Both inputs are the exact (oracle-checkable) tiers, "
    "so the audit itself is fully oracle-checked.",
)
def dedup_modality_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    tp = dedup.ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"),
        text_col="text", id_col="doc_id", n=3, threshold=0.5,
    ).select("doc_a", "doc_b", F.lit(True).alias("in_text"))
    ep = similarity.cosine_pairs(
        load(spark, sf_dir, "embeddings"),
        id_col="vec_id", vec_col="embedding", threshold=0.4,
    ).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"),
        F.lit(True).alias("in_emb"),
    )
    merged = tp.join(ep, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce(F.col("in_text"), F.lit(False)).alias("in_text"),
        F.coalesce(F.col("in_emb"), F.lit(False)).alias("in_emb"),
    )
    both = F.sum((F.col("in_text") & F.col("in_emb")).cast("long"))
    return merged.agg(
        F.sum(F.col("in_text").cast("long")).alias("n_text_pairs"),
        F.sum(F.col("in_emb").cast("long")).alias("n_embedding_pairs"),
        both.alias("n_both"),
        F.count(F.lit(1)).alias("n_either"),
        (
            F.floor(
                both.cast("double") / F.count(F.lit(1)) * 1e6 + F.lit(0.5)
            )
            / 1e6
        ).alias("agreement"),
    )


from node_mongo2influx_spark.functions import phash as _ph

#: Hash-sample rate for the sampled calibration audit. At 100 TB the
#: EXACT all-pairs calibration above is not runnable at all; sampling doc
#: ids at rate r before BOTH tiers turns O(n^2) into O((rn)^2) while the
#: agreement statistic on surviving pairs estimates the full-corpus
#: agreement (both endpoints survive with prob r^2, independent of
#: modality, so the pair sample is unbiased for the in-text/in-emb
#: contingency proportions).
_MODALITY_SAMPLE_RATE = 0.5
_MODALITY_CUT = _ph.cutoff32(_MODALITY_SAMPLE_RATE)


@query(
    "dedup_modality_agreement_sampled",
    oracle=f"""
        WITH sdocs AS (
            SELECT doc_id, text FROM documents
            WHERE {_ph.fnv1a32_duckdb_sql("CAST(doc_id AS VARCHAR)")}
                  < {_MODALITY_CUT}
        ),
        semb AS (
            SELECT vec_id, embedding FROM embeddings
            WHERE {_ph.fnv1a32_duckdb_sql("CAST(vec_id AS VARCHAR)")}
                  < {_MODALITY_CUT}
        ),
        docs AS (
            SELECT doc_id, string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ') AS words FROM sdocs
        ),
        shingles AS (
            SELECT doc_id,
                   unnest(list_distinct(
                       CASE WHEN len(words) >= 3 THEN
                           list_transform(generate_series(1, len(words) - 2),
                               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
                       ELSE [] END
                   )) AS sh
            FROM docs
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM shingles a JOIN shingles b
                 ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        text_pairs AS (
            SELECT p.doc_a, p.doc_b
            FROM inter p
            JOIN sizes sa ON sa.doc_id = p.doc_a
            JOIN sizes sb ON sb.doc_id = p.doc_b
            WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.5
        ),
        e AS (
            SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> coalesce(x, 'NaN'::DOUBLE)) AS emb FROM semb
            WHERE {_UVEC}
        ),
        emb_pairs AS (
            SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.emb, b.emb)
                  / (sqrt(list_dot_product(a.emb, a.emb))
                     * sqrt(list_dot_product(b.emb, b.emb))) >= 0.4
        ),
        merged AS (
            SELECT coalesce(t.doc_a, v.doc_a) AS doc_a,
                   (t.doc_a IS NOT NULL) AS in_text,
                   (v.doc_a IS NOT NULL) AS in_emb
            FROM text_pairs t
            FULL OUTER JOIN emb_pairs v
                 ON t.doc_a = v.doc_a AND t.doc_b = v.doc_b
        )
        SELECT CAST(sum(CASE WHEN in_text THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_text_pairs,
               CAST(sum(CASE WHEN in_emb THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_embedding_pairs,
               CAST(sum(CASE WHEN in_text AND in_emb THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_both,
               CAST(count(*) AS BIGINT) AS n_either,
               floor(CAST(sum(CASE WHEN in_text AND in_emb THEN 1 ELSE 0 END)
                          AS DOUBLE)
                     / count(*) * 1e6 + 0.5) / 1e6 AS agreement
        FROM merged
    """,
    description="Sampled cross-modality dedup audit — the scale path of "
    "dedup_modality_agreement. Both exact tiers run over the SAME "
    "portable FNV-1a hash cut of the id space (rate "
    f"{_MODALITY_SAMPLE_RATE}), so the quadratic calibration cost drops "
    "by rate^2 while the pair sample stays unbiased for the agreement "
    "contingency (a pair survives iff both endpoints do, independent of "
    "which tier flags it). The oracle replays the identical integer-"
    "cutoff hash cut, so the sampled audit is itself fully "
    "oracle-checked. At 100 TB: the exact variant is unrunnable by "
    "construction; this one is tuned by rate alone.",
)
def dedup_modality_agreement_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    fnv = _ph.fnv1a32_spark_sql
    docs = load(spark, sf_dir, "documents").where(
        F.expr(fnv("cast(doc_id as string)")) < F.lit(_MODALITY_CUT)
    )
    emb = load(spark, sf_dir, "embeddings").where(
        F.expr(fnv("cast(vec_id as string)")) < F.lit(_MODALITY_CUT)
    )
    tp = dedup.ngram_jaccard_pairs(
        docs, text_col="text", id_col="doc_id", n=3, threshold=0.5
    ).select("doc_a", "doc_b", F.lit(True).alias("in_text"))
    ep = similarity.cosine_pairs(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.4
    ).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"),
        F.lit(True).alias("in_emb"),
    )
    merged = tp.join(ep, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce(F.col("in_text"), F.lit(False)).alias("in_text"),
        F.coalesce(F.col("in_emb"), F.lit(False)).alias("in_emb"),
    )
    both = F.sum((F.col("in_text") & F.col("in_emb")).cast("long"))
    return merged.agg(
        F.sum(F.col("in_text").cast("long")).alias("n_text_pairs"),
        F.sum(F.col("in_emb").cast("long")).alias("n_embedding_pairs"),
        both.alias("n_both"),
        F.count(F.lit(1)).alias("n_either"),
        (
            F.floor(
                both.cast("double") / F.count(F.lit(1)) * 1e6 + F.lit(0.5)
            )
            / 1e6
        ).alias("agreement"),
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
@query(
    "text_quality",
    oracle="""
        SELECT doc_id,
               length(text) AS n_chars_m,
               len(string_split(text, ' ')) AS n_tokens,
               round(CAST(length(text) AS DOUBLE)
                     / len(string_split(text, ' ')), 4) AS avg_token_len,
               round(CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                     AS DOUBLE) / length(text), 4) AS non_alpha_ratio,
               round(CAST(len(list_filter(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '),
                     w -> w IN ('the','a','of','to','and','in','is','it')))
                     AS DOUBLE) / len(string_split(text, ' ')), 4) AS stopword_ratio
        FROM documents
        WHERE length(text) > 0
    """,
    description="Quality scoring: length, token count, avg token length, "
    "non-alpha ratio, stopword ratio — pure Column expressions.",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality(load(spark, sf_dir, "documents"), text_col="text", id_col="doc_id")


@query(
    "token_count",
    oracle=r"""
        SELECT doc_id,
               len(string_split(text, ' ')) AS ws_tokens,
               len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS bpe_ish_tokens
        FROM documents
    """,
    description="Token counting: whitespace split + BPE-ish regex "
    "(alpha runs / digit runs / single punctuation).",
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_counts(load(spark, sf_dir, "documents"), text_col="text", id_col="doc_id")


@query(
    "lang_id",
    oracle=text.lang_id_oracle_sql(),
    description="Language ID heuristic (marker-stopword voting; oracle SQL "
    "generated from the same marker sets). The fixture text is synthetic "
    "English-ish regardless of label — the heuristic is the deliverable, not "
    "fixture accuracy.",
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(load(spark, sf_dir, "documents"), text_col="text", id_col="doc_id")


@query(
    "cross_source_contamination",
    oracle="""
        WITH docs AS (
            SELECT doc_id, source, string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ') AS words
            FROM documents
        ),
        shingles AS (
            SELECT DISTINCT source, sh FROM (
                SELECT source,
                       unnest(CASE WHEN len(words) >= 3 THEN
                           list_transform(generate_series(1, len(words) - 2),
                               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
                       ELSE [] END) AS sh
                FROM docs
            )
        )
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS n_shared_shingles
        FROM shingles a JOIN shingles b
             ON a.sh = b.sh AND a.source < b.source
        GROUP BY a.source, b.source
        HAVING count(*) >= 20
    """,
    description="Contamination audit: source pairs sharing ≥20 distinct "
    "3-gram shingles (the train/test-overlap decontamination check at "
    "n-gram granularity). Shingles are hashed to 64 bits (xxhash64) before "
    "the distinct and the overlap self-join, so both shuffles move 8-byte "
    "keys instead of 3-gram text; collisions are negligible at 64 bits "
    "(the sf0.01 oracle, which joins on raw strings, still hash-matches).",
)
def cross_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from node_mongo2influx_spark.operators.dedup import shingles_from_words

    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        F.col("source"), F.split(ascii_lower(F.col("text")), " ").alias("__words")
    )
    sh = (
        words.select(
            "source", F.explode(shingles_from_words("__words", 3)).alias("sh")
        )
        .select("source", F.xxhash64("sh").alias("shh"))
        .distinct()
    )
    a = sh.select(F.col("source").alias("source_a"), "shh")
    b = sh.select(F.col("source").alias("source_b"), "shh")
    return (
        a.join(b, ["shh"])
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
        .where(F.col("n_shared_shingles") >= 20)
    )


@query(
    "quality_filter_pipeline",
    oracle="""
        WITH q AS (
            SELECT doc_id, lang, source,
                   length(text) AS n_chars_m,
                   len(string_split(text, ' ')) AS n_tokens,
                   CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                        AS DOUBLE) / length(text) AS non_alpha_ratio,
                   CAST(len(list_filter(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '),
                        w -> w IN ('the','a','of','to','and','in','is','it')))
                        AS DOUBLE) / len(string_split(text, ' ')) AS stopword_ratio
            FROM documents WHERE length(text) > 0
        )
        SELECT doc_id, lang, source, n_tokens
        FROM q
        WHERE n_tokens BETWEEN 10 AND 5000
          AND non_alpha_ratio < 0.3
          AND stopword_ratio > 0.01
    """,
    description="The composed training-data quality gate: token-count "
    "bounds + non-alpha ceiling + stopword floor — the standard pre-dedup "
    "corpus filter, all scan-side predicates over computed features.",
)
def quality_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    kept = text.quality_filter(
        docs, text_col="text",
        min_tokens=10, max_tokens=5000,
        max_non_alpha=0.3, min_stopword=0.01,
    )
    return kept.select("doc_id", "lang", "source", "n_tokens")


@query(
    "doc_fingerprint",
    oracle=r"""
        SELECT doc_id,
               md5(translate(trim(regexp_replace(text, '\s+', ' ', 'g')),
                   'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                   'abcdefghijklmnopqrstuvwxyz')) AS fingerprint,
               substr(md5(translate(trim(regexp_replace(text, '\s+', ' ', 'g')),
                   'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                   'abcdefghijklmnopqrstuvwxyz')), 1, 4)
                   AS shard_bucket
        FROM documents
    """,
    description="Document fingerprinting: whitespace-normalized content hash "
    "+ leading-nibble shard bucket (the partition key for dedup at scale).",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(load(spark, sf_dir, "documents"), text_col="text", id_col="doc_id")


@query(
    "tfidf_top_terms",
    oracle="""
        WITH tokens AS (
            SELECT doc_id, unnest(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS w
            FROM documents
        ),
        tf AS (
            SELECT doc_id, w, count(*) AS tf FROM tokens
            WHERE w <> '' GROUP BY doc_id, w
        ),
        df AS (
            SELECT w, count(DISTINCT doc_id) AS df FROM tf GROUP BY w
        ),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.w,
                   round(tf.tf * ln((1.0 + n.n_docs) / (1.0 + df.df)), 6)
                       AS tfidf,
                   row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY tf.tf * ln((1.0 + n.n_docs) / (1.0 + df.df)) DESC,
                                tf.w
                   ) AS rn
            FROM tf JOIN df USING (w) CROSS JOIN n
        )
        SELECT doc_id, w AS term, tfidf, rn AS rank
        FROM scored WHERE rn <= 3
    """,
    description="TF-IDF top-3 terms per document: token explode → tf per "
    "(doc, term) → document frequency (broadcast back) → smoothed idf → "
    "per-doc top-k window. All shuffles key on term or doc — no driver "
    "collection of the vocabulary.",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.tfidf_top_terms(
        load(spark, sf_dir, "documents"), text_col="text", id_col="doc_id", k=3
    )


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------
@query(
    "multimodal_features",
    oracle="""
        SELECT doc_id,
               'text/plain' AS mime,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               CAST(i - 1 AS INT) AS feature_idx,
               round(CAST(('0x' || substr(sha, 2*CAST(i AS INT)-1, 2))
                     AS INT) / 255.0, 5) AS feature_val,
               'stub-fake' AS decoder
        FROM (
            SELECT doc_id, text,
                   sha256(text || repeat(chr(0), 4)) AS sha
            FROM documents WHERE text IS NOT NULL
        ), range(1, 9) t(i)
    """,
    description="Arrow-batched feature extraction over binary payloads "
    "(stub decode — codecs absent in container; the mapInPandas plumbing, "
    "schema and determinism are real). FULL oracle: the sha256-expansion "
    "pseudo-decode is replayed in DuckDB byte-for-byte (digest of "
    "payload+counter, bytes/255), features rounded to 5 decimals on both "
    "sides — safe for every k/255 under float32→double promotion "
    "(verified exhaustively; round-6 has three boundary collisions). "
    "Output is posexploded to (doc_id, feature_idx, feature_val) ROWS: the "
    "driver comparator canonicalizes via pandas sort_values, which cannot "
    "factorize list cells (r4 red row) — non-scalar output columns are "
    "banned at the query edge (tools/check_oracle.py enforces).",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = multimodal.as_binary_payload(
        load(spark, sf_dir, "documents").where(F.col("text").isNotNull()),
        source_col="text", id_col="doc_id",
    )
    out = multimodal.extract_features(df, id_col="doc_id", dim=8)
    exploded = out.select(
        "doc_id",
        "mime",
        "n_bytes",
        "decoder",
        F.posexplode("feature").alias("feature_idx", "feature_val"),
    )
    return exploded.select(
        "doc_id",
        "mime",
        "n_bytes",
        "feature_idx",
        F.round(F.col("feature_val").cast("double"), 5).alias("feature_val"),
        "decoder",
    )


@query(
    "multimodal_meta",
    oracle="""
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               md5(text) AS content_md5,
               CASE WHEN octet_length(encode(text)) >= 4096 THEN 'large'
                    WHEN octet_length(encode(text)) >= 1024 THEN 'medium'
                    ELSE 'small' END AS size_class
        FROM documents
    """,
    description="Multimodal plumbing: opaque binary payload column + typed "
    "metadata (bytes, checksum, size class). The decode/feature steps are "
    "stubbed (no codec libs in container) but the schema/partitioning/UDF "
    "plumbing is real — see operators/multimodal.py and tests.",
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = multimodal.as_binary_payload(
        load(spark, sf_dir, "documents"), source_col="text", id_col="doc_id"
    )
    return multimodal.payload_meta(df, id_col="doc_id")


@query(
    "multimodal_image_dims",
    oracle="""
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
               CAST(16 + doc_id % 4081 AS BIGINT) AS width,
               CAST(16 + (doc_id * 7) % 2033 AS BIGINT) AS height
        FROM documents
    """,
    description="Codec-free image dimension extraction: PNG IHDR offsets / "
    "JPEG SOF marker-segment walk as pure Column byte arithmetic over "
    "BinaryType (operators/multimodal.py:image_dims). The fixture has no "
    "image bytes, so the query synthesizes REAL container headers from "
    "doc_id (even->PNG, odd->JPEG with a doc_id-dependent number of COM "
    "filler segments, dims from doc_id formulas) and parses them back "
    "with the generic parser; the oracle computes ground-truth dims "
    "arithmetically, so any parser or construction bug mismatches. "
    "Unit tests validate the parser on hand-built spec-correct headers "
    "(tests/test_multimodal.py).",
)
def multimodal_image_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    w = (F.lit(16) + did % 4081).cast("long")
    h = (F.lit(16) + (did * 7) % 2033).cast("long")

    def be_hex(col, nbytes):  # fixed-width big-endian hex of an integer
        return F.lpad(F.hex(col), 2 * nbytes, "0")

    png_hex = F.concat(
        F.lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
        be_hex(w, 4), be_hex(h, 4), F.lit("0806000000"),
    )
    jpeg_hex = F.concat(
        F.lit("FFD8" + "FFE00010" + "4A46494600010100000100010000"),
        # 0-2 COM filler segments so the SOF walk depth varies per row
        F.repeat(F.lit("FFFE000601020304"), (did % 3).cast("int")),
        F.lit("FFC0000B08"), be_hex(h, 2), be_hex(w, 2), F.lit("01011100"),
    )
    payload = F.unhex(F.when(did % 2 == 0, png_hex).otherwise(jpeg_hex))
    return multimodal.image_dims(
        docs.select("doc_id", payload.alias("payload")), id_col="doc_id"
    )


# ---------------------------------------------------------------------------
# Dataset splitting & deterministic sampling
# ---------------------------------------------------------------------------
def _split_oracle_sql() -> str:
    case = sampling.split_oracle_case_duckdb("doc_id")
    return f"""
        SELECT source, {case} AS split,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars
        FROM documents
        GROUP BY source, 2
    """


@query(
    "train_val_test_split",
    oracle=_split_oracle_sql(),
    description="Deterministic 90/5/5 train/val/test assignment from a "
    "salted portable hash of doc_id (integer cutoff over the 32-bit space), "
    "aggregated per (source, split). Membership is stable under corpus "
    "growth — new data never reshuffles old assignments — and the DuckDB "
    "oracle replays the exact hash arithmetic (functions/phash).",
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = sampling.assign_split(load(spark, sf_dir, "documents"))
    return docs.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("n_chars")
    )


#: Per-source keep rates for the mixture-sampling query: even-numbered
#: sources at 50%, odd at 20% (a stand-in for real mixture weights).
_MIX_FRACTIONS = {f"src{i}": (0.5 if i % 2 == 0 else 0.2) for i in range(20)}


def _sample_oracle_sql() -> str:
    from node_mongo2influx_spark.functions.phash import (
        cutoff32,
        fnv1a32_duckdb_sql,
    )

    h = fnv1a32_duckdb_sql("concat(CAST(doc_id AS VARCHAR), ':sample-v1')")
    # Same rates as _MIX_FRACTIONS, expressed via the numeric source
    # suffix. The LIKE + TRY_CAST BETWEEN guard replicates the fractions
    # map's MEMBERSHIP (default_fraction=0.0): a stratum not listed —
    # NULL, a non-'srcN' name, or a suffix outside 0..19 — keeps
    # nothing. TRY_CAST everywhere: a plain CAST on an unknown stratum
    # name crashes DuckDB outright (degenerate sweep, round 8), and AND
    # is not guaranteed to short-circuit.
    return f"""
        SELECT doc_id, source
        FROM documents
        WHERE source IS NOT NULL
          AND source LIKE 'src%'
          AND TRY_CAST(substr(source, 4) AS INT) BETWEEN 0 AND 19
          AND {h} < CASE WHEN TRY_CAST(substr(source, 4) AS INT) % 2 = 0
                         THEN {cutoff32(0.5)} ELSE {cutoff32(0.2)} END
    """


@query(
    "stratified_sample_hash",
    oracle=_sample_oracle_sql(),
    description="Deterministic per-source stratified sample (the mixture-"
    "weighting primitive): keep a document iff its salted hash falls under "
    "its source's integer cutoff. Reproducible across engines/runs — the "
    "oracle recomputes membership from scratch in DuckDB — and disjoint "
    "salts keep it independent of the train/val/test assignment.",
)
def stratified_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return sampling.stratified_sample(docs, _MIX_FRACTIONS).select(
        "doc_id", "source"
    )


@query(
    "pack_sequences",
    oracle="""
        WITH t AS (
            SELECT doc_id, doc_id % 16 AS bucket,
                   len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ),
        c AS (
            SELECT doc_id, bucket, n_tokens,
                   CAST(sum(n_tokens) OVER (
                       PARTITION BY bucket ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum
            FROM t
        )
        SELECT doc_id, bucket,
               CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS bin,
               n_tokens,
               CAST(cum - n_tokens AS BIGINT) AS start_offset
        FROM c
    """,
    description="Training-sequence packing: documents concatenate in id "
    "order and chop into 2048-token context windows (bin = start offset "
    "div ctx). Bucketed by doc_id%16 so the prefix-sum window shuffles "
    "n_buckets-way parallel instead of needing a global single-partition "
    "sort — grow n_buckets with the corpus.",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    toks = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    return sampling.pack_sequences(toks, ctx_len=2048, n_buckets=16)


# ---------------------------------------------------------------------------
# Round 3: repetition quality signal + per-label embedding centroids
# ---------------------------------------------------------------------------
@query(
    "doc_repetition_ratio",
    oracle="""
        WITH w AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents WHERE text IS NOT NULL
        ),
        c AS (
            SELECT doc_id, word, count(*) AS n
            FROM w GROUP BY doc_id, word
        )
        SELECT doc_id,
               CAST(max(n) AS BIGINT) AS top_word_count,
               CAST(sum(n) AS BIGINT) AS n_words,
               round(CAST(max(n) AS DOUBLE) / sum(n), 4) AS repetition_ratio
        FROM c GROUP BY doc_id
    """,
    description="Gopher-style repetition signal: fraction of a document "
    "occupied by its single most frequent word (high ratio = boilerplate / "
    "degenerate text, a standard pretraining quality filter). ZERO-SHUFFLE "
    "formulation: the top-word count is the longest equal-run in the "
    "document's SORTED word array, computed as one higher-order fold per "
    "row — a narrow map over the scan, embarrassingly parallel, vs the "
    "word-count formulation's corpus-wide explode + (doc, word) exchange "
    "(which the oracle keeps, proving equivalence).",
)
def doc_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no-text docs are not corpus input (the minhash omission rule)
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    ws = F.split("text", " ")
    # longest equal-run over the sorted words == max per-word count; the
    # fold state is (prev word, current run, best run)
    best_run = F.aggregate(
        F.array_sort(ws),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, w: F.struct(
            w.alias("prev"),
            F.when(w == acc.prev, acc.run + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc.best,
                F.when(w == acc.prev, acc.run + 1).otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    return docs.select(
        "doc_id",
        best_run.alias("top_word_count"),
        F.size(ws).cast("long").alias("n_words"),
        F.round(
            best_run.cast("double") / F.size(ws).cast("double"), 4
        ).alias("repetition_ratio"),
    )


@query(
    "label_centroid_cosine",
    oracle=f"""
        WITH elems AS (
            SELECT label, vec_id, CAST(i AS INT) AS pos,
                   CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v
            FROM embeddings, range(1, 65) t(i)
            WHERE {_UVEC}
        ),
        cent AS (
            SELECT label, pos, avg(v) AS c FROM elems GROUP BY label, pos
        ),
        dots AS (
            SELECT e.vec_id, e.label,
                   sum(e.v * c.c) AS dot,
                   sum(e.v * e.v) AS nv,
                   sum(c.c * c.c) AS nc
            FROM elems e JOIN cent c USING (label, pos)
            GROUP BY e.vec_id, e.label
        )
        SELECT vec_id, label,
               round(dot / (sqrt(nv) * sqrt(nc)), 4) AS cos_to_centroid
        FROM dots
    """,
    description="Per-label embedding centroid + each vector's cosine to its "
    "own label centroid — the embedding-space QA op (low cosine = mislabeled "
    "or outlier row, the thing you filter before training). Spark shape: "
    "centroids via posexplode + two-level avg (the only exploded data is "
    "what the element-wise mean needs), re-packed into a label-indexed "
    "array and BROADCAST back; the corpus side computes its cosine with "
    "zip_with/aggregate Column exprs — never exploded, never shuffled. At "
    "768+ dims swap the centroid step for the fused Arrow partial-sum "
    "kernel used by the IVF trainer (operators/similarity.py).",
)
def label_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").where(
        F.expr(vecf.usable_vector_sql("embedding"))
    ).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    elems = e.select("label", F.posexplode("vec").alias("pos", "v"))
    cent = (
        elems.groupBy("label", "pos")
        .agg(F.avg("v").alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s.c,
            ).alias("cvec")
        )
    )
    dot = F.aggregate(
        F.zip_with("vec", "cvec", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    nv = F.aggregate(F.col("vec"), F.lit(0.0), lambda acc, x: acc + x * x)
    nc = F.aggregate(F.col("cvec"), F.lit(0.0), lambda acc, x: acc + x * x)
    return e.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        F.round(dot / (F.sqrt(nv) * F.sqrt(nc)), 4).alias("cos_to_centroid"),
    )


@query(
    "top_bigrams",
    oracle="""
        WITH ws AS (
            SELECT string_split(text, ' ') AS w FROM documents
        ),
        bg AS (
            SELECT unnest(list_transform(range(1, len(w)),
                                         i -> w[i] || ' ' || w[i + 1])) AS bigram
            FROM ws
        )
        SELECT bigram, CAST(count(*) AS BIGINT) AS n
        FROM bg
        GROUP BY bigram
        ORDER BY n DESC, bigram
        LIMIT 50
    """,
    description="Corpus-level top-50 bigram counts (the n-gram frequency "
    "table behind contamination screens and quality heuristics). Bigrams "
    "form JVM-side — transform over an index sequence, zero string "
    "re-parsing — then explode feeds a map-side-combined count and "
    "TakeOrderedAndProject caps the result; ties break lexically so the "
    "cut is deterministic.",
)
def top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    # zip-of-shifted-slices bigrams: codegen walks the two arrays in
    # lockstep (per-index element_at measured 8x slower at sf0.1); a
    # one-word doc yields empty slices -> empty zip, no guard needed.
    ln = F.greatest(F.size(ws) - 1, F.lit(0))
    z = F.arrays_zip(F.slice(ws, 1, ln), F.slice(ws, 2, ln))
    bigrams = F.transform(
        z, lambda s: F.concat_ws(" ", s["0"], s["1"])
    )
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(50)
    )


#: Count-Min sketch geometry: D independent hash rows × W counters. The
#: row hash mixes the word's FNV with r·(golden-ratio constant) through
#: fmix32 — deterministic, portable, and independent-enough per row.
_CM_D, _CM_W = 4, 1024
_CM_SEED = 0x9E3779B1


def _cm_oracle() -> str:
    from node_mongo2influx_spark.functions.phash import (
        fmix32_duckdb_inline,
        fnv1a32_duckdb_sql,
    )

    cell = (
        fmix32_duckdb_inline(f"(__h + r * {_CM_SEED}) % 4294967296")
        + f" % {_CM_W}"
    )
    return f"""
        WITH w0 AS (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents
        ),
        -- count first, hash the VOCABULARY once: FNV cost tracks distinct
        -- words, not corpus size
        wc AS (
            SELECT word, CAST(count(*) AS BIGINT) AS n
            FROM w0 WHERE word <> '' GROUP BY 1
        ),
        wh AS (SELECT word, n, {fnv1a32_duckdb_sql("word")} AS __h FROM wc),
        cells AS (
            SELECT word, n, r, {cell} AS cell
            FROM wh, unnest([0, 1, 2, 3]) AS t(r)
        ),
        counters AS (
            SELECT r, cell, CAST(sum(n) AS BIGINT) AS cnt
            FROM cells GROUP BY 1, 2
        ),
        tc AS (
            SELECT word, n AS exact_n, r, cell FROM cells
            WHERE word IN (SELECT word FROM wc
                           ORDER BY n DESC, word LIMIT 20)
        )
        SELECT tc.word,
               CAST(max(tc.exact_n) AS BIGINT) AS exact_n,
               CAST(min(c.cnt) AS BIGINT) AS cm_est,
               CAST(min(c.cnt) - max(tc.exact_n) AS BIGINT) AS overestimate
        FROM tc JOIN counters c ON c.r = tc.r AND c.cell = tc.cell
        GROUP BY tc.word
    """


@query(
    "countmin_word_frequency",
    oracle=_cm_oracle(),
    description="The frequency member of the oracle-checkable sketch trio "
    "(HLL = distinct, fixed-bin histogram = quantiles, Count-Min = "
    "frequency): a 4×1024 Count-Min sketch over corpus words — counters "
    "are EXACT INTEGER sums per (row, fmix32-mixed FNV cell), so the "
    "whole sketch is deterministic, mergeable (per-batch counters SUM) "
    "and bit-identical across engines. The exact top-20 words then read "
    "their estimates back out of the sketch in-row: est = min over the 4 "
    "counters, with the one-sided error (cm_est ≥ exact, overestimate = "
    "collision mass ≤ εN) witnessed per word. approx_top_words keeps the "
    "production heavy-hitters path (Spark's native sketch); this proves "
    "the algorithm cross-engine.",
)
def countmin_word_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from node_mongo2influx_spark.functions.phash import (
        fmix32_spark_inline,
        fnv1a32_spark_sql,
    )

    cell = F.expr(
        fmix32_spark_inline(f"(__h + r * {_CM_SEED}) % 4294967296")
        + f" % {_CM_W}"
    )
    rs = F.array([F.lit(r) for r in range(_CM_D)])
    words = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
    )
    # count first, hash the VOCABULARY once (FNV cost tracks distinct
    # words, not corpus size); the fold is aliased in its OWN projection
    # (CollapseProject duplication rule), the fmix chain is cheap column
    # arithmetic and inlines fine.
    # wc feeds BOTH the cells pipeline and the top-20 selection — without
    # the checkpoint the corpus scan + explode + count shuffle would run
    # twice (CLAUDE.md consumed-≥2× rule); vocab-sized materialization
    wc = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    cells = (
        wc.select("word", "n", F.expr(fnv1a32_spark_sql("word")).alias("__h"))
        .select("word", "n", F.explode(rs).alias("r"), "__h")
        .select("word", "n", "r", cell.alias("cell"))
        .localCheckpoint(eager=False)
    )
    counters = cells.groupBy("r", "cell").agg(F.sum("n").alias("cnt"))
    top = wc.orderBy(F.col("n").desc(), "word").limit(20)
    tc = cells.join(
        F.broadcast(top.select("word")), "word"
    ).withColumnRenamed("n", "exact_n")
    return (
        tc.join(counters, ["r", "cell"])
        .groupBy("word")
        .agg(
            F.max("exact_n").alias("exact_n"),
            F.min("cnt").alias("cm_est"),
            (F.min("cnt") - F.max("exact_n")).alias("overestimate"),
        )
    )


@query(
    "multimodal_frame_sample",
    oracle="""
        WITH o AS (
            -- DuckDB has no BLOB substring; slicing the hex dump instead
            -- is BYTE-exact (byte off -> hex chars (off-1)*2+1 .. +32),
            -- unlike slicing the VARCHAR, whose char offsets drift off
            -- the byte offsets on multibyte text (unicode sweep, r8).
            SELECT doc_id, hex(encode(text)) AS payload_hex,
                   unnest(range(1, greatest(octet_length(encode(text))
                                            - 15, 1) + 1, 1024)) AS off
            FROM documents
        )
        SELECT doc_id,
               CAST((off - 1) / 1024 AS INT) AS frame_no,
               substr(payload_hex, CAST((off - 1) * 2 + 1 AS INT), 32)
                   AS frame_hex
        FROM o
    """,
    description="Deterministic frame sampling over opaque binary payloads "
    "(one 16-byte slice per 1024 bytes — the video-frame-extraction shape "
    "with the codec swapped for byte slicing so the result is "
    "oracle-checkable). Pure Column expressions: offsets from sequence(), "
    "slices from substring() on BinaryType, posexplode for the frame index "
    "— only sampled bytes survive the projection, nothing crosses into "
    "Python. The frame bytes are hex-encoded at the output edge: binary "
    "columns crash pandas-based result canonicalizers (bytearray is "
    "unhashable), and hex carries identical information. See "
    "operators/multimodal.py for the real-decoder seam.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = multimodal.as_binary_payload(
        load(spark, sf_dir, "documents"), source_col="text", id_col="doc_id"
    )
    frames = multimodal.sample_frames(
        docs, id_col="doc_id", every_n_bytes=1024, frame_bytes=16
    )
    return frames.select(
        "doc_id", "frame_no", F.hex("frame").alias("frame_hex")
    )


@query(
    "embedding_neardup_ivf",
    oracle=None,  # approximate candidate source; exact tier is the oracle
    description="Embedding near-dup pairs via IVF cells (soft-assigned to 2 "
    "nearest k-means cells) — the data-adaptive twin of "
    "embedding_neardup_lsh. Candidate generation and exact scoring are "
    "FUSED per cell (one applyInPandas, BLAS matmul, nothing pair-sized "
    "shuffled); recall vs the exact all-pairs tier asserted in "
    "tests/test_similarity.py.",
)
def embedding_neardup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs_ivf(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.4,
        n_cells=16, n_assign=2, dim=64,
    )


@query(
    "dedup_filtered_corpus",
    oracle=f"""
        WITH RECURSIVE
        {_PAIRS_CTE},
        edges(src, dst) AS (
            SELECT doc_a, doc_b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs
        ),
        reach(node, label) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst
        ),
        comp AS (
            SELECT node AS doc_id, min(label) AS component_id
            FROM reach GROUP BY node
        )
        SELECT d.doc_id, d.source, d.n_chars
        FROM documents d
        WHERE NOT EXISTS (
            SELECT 1 FROM comp c
            WHERE c.doc_id = d.doc_id AND c.component_id < c.doc_id
        )
    """,
    description="The dedup pipeline MATERIALIZED: pairs → connected "
    "components → anti-join drops every non-canonical duplicate (keep = "
    "smallest doc_id per cluster; unpaired docs pass through untouched) — "
    "the 'cleaned corpus' a training run actually consumes. The drop list "
    "is O(duplicates), so the anti join broadcasts it at any realistic "
    "dup rate; the oracle rebuilds the same decision with a recursive-CTE "
    "closure.",
)
def dedup_filtered_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, text_col="text", id_col="doc_id", n=3, threshold=0.5
    )
    comp = dedup.components_from_pairs(pairs)
    drop = comp.where(F.col("component_id") < F.col("doc_id")).select("doc_id")
    return docs.join(drop, "doc_id", "left_anti").select(
        "doc_id", "source", "n_chars"
    )


#: Exact-INTEGER quality score for canonical selection: token count
#: dominates (×10^6), alpha-character count breaks near-ties — both
#: exact integers, so the per-cluster argmax is deterministic and
#: engine-identical (no float quality, no rounding question). NULL text
#: coalesces to −1 so an all-null cluster still keeps one member.
_QSCORE_DUCKDB = (
    "coalesce(1000000 * len(string_split(text, ' ')) "
    "+ length(regexp_replace(text, '[^a-zA-Z]', '', 'g')), -1)"
)


def _qscore_spark():
    return F.coalesce(
        F.lit(1_000_000) * F.size(F.split(F.col("text"), " "))
        + F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", "")),
        F.lit(-1),
    ).cast("long")


@query(
    "dedup_keep_best_quality",
    oracle=f"""
        WITH RECURSIVE
        {_PAIRS_CTE},
        edges(src, dst) AS (
            SELECT doc_a, doc_b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs
        ),
        reach(node, label) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst
        ),
        comp AS (
            SELECT node AS doc_id, min(label) AS component_id
            FROM reach GROUP BY node
        ),
        scored AS (
            SELECT c.doc_id, c.component_id,
                   CAST({_QSCORE_DUCKDB} AS BIGINT) AS score
            FROM comp c JOIN documents d ON d.doc_id = c.doc_id
        ),
        ranked AS (
            SELECT doc_id, component_id, score,
                   row_number() OVER (
                       PARTITION BY component_id
                       ORDER BY score DESC, doc_id
                   ) AS rn
            FROM scored
        )
        SELECT d.doc_id, d.source, d.n_chars,
               CAST({_QSCORE_DUCKDB} AS BIGINT) AS score
        FROM documents d
        WHERE NOT EXISTS (
            SELECT 1 FROM ranked r
            WHERE r.doc_id = d.doc_id AND r.rn <> 1
        )
    """,
    description="Quality-aware canonical selection: like "
    "dedup_filtered_corpus, but each near-dup cluster keeps its "
    "HIGHEST-QUALITY member instead of the smallest id — what real "
    "corpus prep does (the longest/cleanest copy survives, truncated "
    "mirrors drop). Quality is an exact-INTEGER composite (tokens ×10^6 "
    "+ alpha chars, doc_id tie-break) so the per-cluster argmax is "
    "deterministic and engine-identical; the argmax itself is the "
    "lexicographic struct-max reduction (no window over the corpus — "
    "only cluster MEMBERS rank, O(duplicates) rows). Full oracle "
    "replays pairs → recursive-CTE components → per-component "
    "row_number. Unpaired docs pass through untouched.",
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, text_col="text", id_col="doc_id", n=3, threshold=0.5
    )
    comp = dedup.components_from_pairs(pairs)
    members = comp.join(
        docs.select("doc_id", _qscore_spark().alias("score")), "doc_id"
    )
    # deterministic argmax per cluster: lexicographic struct-max on
    # (score, -doc_id) — ties go to the SMALLEST id, matching the
    # oracle's ORDER BY score DESC, doc_id
    best = members.groupBy("component_id").agg(
        F.max(
            F.struct(F.col("score"), (-F.col("doc_id")).alias("neg_id"))
        ).alias("best")
    ).select(
        "component_id", (-F.col("best.neg_id")).alias("keep_id")
    )
    drop = (
        members.join(best, "component_id")
        .where(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id")
    )
    return docs.join(drop, "doc_id", "left_anti").select(
        "doc_id", "source", "n_chars", _qscore_spark().alias("score")
    )


@query(
    "dedup_containment_pairs",
    oracle="""
        WITH docs AS (
            SELECT doc_id, string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ') AS words
            FROM documents
        ),
        shingles AS (
            SELECT doc_id,
                   unnest(list_distinct(
                       CASE WHEN len(words) >= 3 THEN
                           list_transform(generate_series(1, len(words) - 2),
                               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
                       ELSE [] END
                   )) AS sh
            FROM docs
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
            FROM shingles a JOIN shingles b
                 ON a.sh = b.sh AND a.doc_id <> b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT p.doc_a, p.doc_b,
               round(CAST(p.i AS DOUBLE) / sa.n, 6) AS containment
        FROM inter p
        JOIN sizes sa ON sa.doc_id = p.doc_a
        WHERE CAST(p.i AS DOUBLE) / sa.n >= 0.8
    """,
    description="Asymmetric containment near-dup: |A∩B|/|A| >= 0.8 over "
    "3-gram shingles — catches short docs embedded in longer ones "
    "(quotes, boilerplate inclusion), which symmetric Jaccard misses "
    "because the union is dominated by the long doc. Ordered pairs, both "
    "directions from one symmetric shingle equi-join.",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_containment_pairs(
        load(spark, sf_dir, "documents"), text_col="text", id_col="doc_id",
        n=3, threshold=0.8,
    )


def _split_contamination_oracle() -> str:
    case = sampling.split_oracle_case_duckdb("doc_id")
    return f"""
        WITH assigned AS (
            SELECT doc_id, text, {case} AS split FROM documents
        ),
        ws AS (
            -- words materialized ONCE per row: inlining the split into
            -- the shingle lambda re-evaluates the O(len) split per
            -- POSITION (DuckDB does not CSE through lambdas) — O(len²)
            -- and tens of GB of churn on a 10 MB document (longdoc
            -- sweep, round 9); list indexing over this column is O(1)
            SELECT doc_id, split, string_split(text, ' ') AS w
            FROM assigned
        ),
        sh AS (
            SELECT doc_id, split,
                   unnest(list_distinct(
                       CASE WHEN len(w) >= 5 THEN
                           list_transform(
                               generate_series(1, len(w) - 4),
                               i -> w[i] || ' ' || w[i+1] || ' ' ||
                                    w[i+2] || ' ' || w[i+3] || ' ' ||
                                    w[i+4]
                       ) ELSE [] END)) AS sh
            FROM ws
        )
        SELECT e.doc_id,
               CAST(count(DISTINCT e.sh) AS BIGINT) AS n_shared_shingles
        FROM sh e
        JOIN sh t ON t.sh = e.sh AND t.split = 'train'
        WHERE e.split <> 'train'
        GROUP BY e.doc_id
    """


@query(
    "split_contamination_audit",
    oracle=_split_contamination_oracle(),
    description="Train→eval contamination audit over the engine's OWN "
    "train/val/test assignment: for every held-out document, the number "
    "of its distinct 5-gram shingles that also occur anywhere in the "
    "train split — the decontamination question a real eval pipeline "
    "asks. Candidate generation is the shingle equi-join (hashed 8-byte "
    "keys at scale, as in cross_source_contamination); the oracle replays "
    "the split hash AND the shingle join in DuckDB.",
)
def split_contamination_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from node_mongo2influx_spark.operators.text import _spread_heavy_scan

    docs = sampling.assign_split(
        _spread_heavy_scan(load(spark, sf_dir, "documents"))
    )
    # zip-of-shifted-slices 5-grams (see dedup.shingles_from_words for the
    # formulation rationale: ~8x faster than per-index element_at)
    staged = docs.select(
        "doc_id", "split", F.split("text", " ").alias("__words")
    )
    grams = dedup.shingles_from_words("__words", n=5)
    sh = staged.select("doc_id", "split", F.explode(grams).alias("sh"))
    train = sh.where(F.col("split") == "train").select("sh").distinct()
    held_out = sh.where(F.col("split") != "train")
    return (
        held_out.join(train, "sh")
        .groupBy("doc_id")
        .agg(F.count_distinct("sh").alias("n_shared_shingles"))
    )


@query(
    "pack_sequences_ffd",
    oracle="""
        WITH t AS (
            SELECT doc_id, doc_id % 16 AS bucket,
                   len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ),
        c AS (
            SELECT doc_id, bucket, n_tokens,
                   CAST(sum(n_tokens) OVER (
                       PARTITION BY bucket
                       ORDER BY n_tokens DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum
            FROM t
        )
        SELECT doc_id, bucket,
               CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS bin,
               n_tokens,
               CAST(cum - n_tokens AS BIGINT) AS start_offset
        FROM c
    """,
    description="Size-ordered sequence packing (first-fit-decreasing "
    "flavour): each bucket lays out longest documents first, so bins fill "
    "with large docs while empty and the boundary-straddling tail is "
    "small docs — less padding waste than id-order packing at identical "
    "cost (the prefix-sum window just sorts by (tokens DESC, id)). Same "
    "bucketed n-way-parallel shuffle shape as pack_sequences.",
)
def pack_sequences_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    return sampling.pack_sequences(
        toks, ctx_len=2048, n_buckets=16, size_ordered=True
    )


# ---------------------------------------------------------------------------
# Round 4: portable-minhash band agreement, self-auditing ANN recall,
# quality matrix, BPE merge statistics, URL canonicalization, embedding QA
# ---------------------------------------------------------------------------
from node_mongo2influx_spark.functions import phash as _phash


def _minhash_band_oracle() -> str:
    words = "string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')"
    sigs = ",\n                   ".join(
        f"{_phash.minhash_words_duckdb_sql('wh', seed)} AS h{seed}"
        for seed in range(4)
    )
    return f"""
        WITH sig AS (
            SELECT doc_id, {sigs}
            FROM (SELECT doc_id,
                         {_phash.word_hashes_duckdb_sql(words)} AS wh
                  FROM documents) d
            WHERE len(wh) >= 3
        )
        SELECT 0 AS band, a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b
          ON a.h0 = b.h0 AND a.h1 = b.h1 AND a.doc_id < b.doc_id
        UNION ALL
        SELECT 1 AS band, a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b
          ON a.h2 = b.h2 AND a.h3 = b.h3 AND a.doc_id < b.doc_id
    """


@query(
    "minhash_band_agreement",
    oracle=_minhash_band_oracle(),
    description="Bit-for-bit oracle tier of MinHash LSH: 4 portable "
    "FNV-fold minhashes over 3-word shingles (functions/phash.py "
    "generates BOTH engines' SQL from one template, so they cannot "
    "drift), banded 2x2, candidate pairs = band equi-join. The "
    "production tier (dedup_minhash_lsh) keeps the faster xxhash Arrow "
    "kernel and is recall-gated; THIS query proves the banding algebra "
    "itself against DuckDB exactly. Same plan shape: signature map pass, "
    "then equi-joins on band keys — never an all-pairs comparison.",
)
def minhash_band_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # Hash each word ONCE on the scalar (codegen) path via explode, then
    # reassemble the per-doc hash array ordered by position. Computing the
    # word-hash array inline would be recomputed per shingle: Catalyst
    # inlines projections into higher-order-function lambdas, and HOFs run
    # interpreted — measured 2-8x slower. The groupBy shuffle carries one
    # 8-byte hash per token (the tf-idf shuffle class, fine at scale).
    words = docs.select(
        "doc_id",
        F.posexplode(F.split(ascii_lower("text"), " ")).alias("pos", "wd"),
    ).select(
        "doc_id", "pos", F.expr(_phash.fnv1a32_spark_sql("wd")).alias("wh1")
    )
    sig = (
        words.groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "wh1"))),
                lambda s: s["wh1"],
            ).alias("wh")
        )
        .where(F.expr("size(wh) >= 3"))
    )
    sig = sig.select(
        "doc_id",
        *[
            F.expr(_phash.minhash_words_spark_sql("wh", seed)).alias(f"h{seed}")
            for seed in range(4)
        ],
    )
    a, b = sig.alias("a"), sig.alias("b")
    band0 = (
        a.join(
            b,
            (F.col("a.h0") == F.col("b.h0"))
            & (F.col("a.h1") == F.col("b.h1"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.lit(0).alias("band"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
    )
    band1 = (
        a.join(
            b,
            (F.col("a.h2") == F.col("b.h2"))
            & (F.col("a.h3") == F.col("b.h3"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.lit(1).alias("band"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
    )
    return band0.unionAll(band1)


_DRIFT_THR_BP = 20_000  # the probe's 2x rebuild flag, in basis points


def _drift_forecast_oracle() -> str:
    # HUGEINT discipline: DuckDB window sum() widens BIGINT to HUGEINT —
    # every integer OUTPUT is cast back to BIGINT (check_oracle
    # hard-fails HUGEINT), and `//` floor-division matches Spark DIV on
    # the all-positive operands the CASE admits.
    t = _DRIFT_THR_BP
    return f"""
        WITH days AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(sum(event_id) % 211 AS BIGINT) AS jit
            FROM events WHERE ts IS NOT NULL GROUP BY 1
        ),
        lg AS (
            SELECT (row_number() OVER (ORDER BY day)) - 1 AS batch,
                   10000
                   + ((row_number() OVER (ORDER BY day)) - 1)
                     * ((row_number() OVER (ORDER BY day)) - 1) * 40
                   + jit AS bp
            FROM days
        ),
        st AS (
            SELECT batch, bp,
                   count(*) OVER w AS n,
                   sum(batch) OVER w AS sx,
                   sum(bp) OVER w AS sy,
                   sum(batch * bp) OVER w AS sxy,
                   sum(batch * batch) OVER w AS sxx
            FROM lg
            WINDOW w AS (ORDER BY batch
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        )
        SELECT CAST(batch AS BIGINT) AS batch,
               CAST(bp AS DOUBLE) / 1e4 AS ratio,
               CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(nullif(n * sxx - sx * sx, 0) AS DOUBLE)
                   AS slope_bp_per_batch,
               CAST(CASE WHEN (n * sxy - sx * sy) > 0
                          AND (n * sxx - sx * sx) != 0
                          AND bp < {t}
                         THEN (({t} - bp) * (n * sxx - sx * sx)
                               + (n * sxy - sx * sy) - 1)
                              // (n * sxy - sx * sy)
                    END AS BIGINT) AS eta_batches,
               bp >= {t} AS alarm
        FROM st
    """


@query(
    "ivfpq_drift_forecast",
    oracle=_drift_forecast_oracle(),
    description="Drift-over-time FORECAST from the ANN maintenance log "
    "(round 8, VERDICT r7 #6): per ingest batch, the trailing-7 "
    "least-squares slope of the quantizer-drift ratio and the "
    "extrapolated batches-to-threshold at the current slope — the query "
    "that turns a reactive 2x drift flag into a scheduled rebuild. The "
    "log here is SYNTHESIZED deterministically from the "
    "events fixture (one batch per day, exact-integer basis points with "
    "a quadratic trend plus a data-derived jitter) so the full pipeline "
    "is oracle-checked; streaming/pipeline.drift_forecast is the same "
    "code over any per-batch drift log (pytest-gated, including "
    "the flag-day pin: the last pre-alarm ETA lands within 1 batch of "
    "the actual crossing). Exact-integer regression (the "
    "cusum_drift_chunked rule): slope numerator/denominator and the "
    "ceil-division ETA are BIGINT algebra; the two output doubles are "
    "single IEEE divisions of identical integers. The window is "
    "single-partition BY CONSTRUCTION - one row per ingest batch, "
    "model-sized however big the corpus.",
)
def ivfpq_drift_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from node_mongo2influx_spark.streaming.pipeline import drift_forecast

    e = load(spark, sf_dir, "events")
    days = (
        e.where(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("day"))
        .agg((F.sum("event_id") % 211).alias("jit"))
    )
    w = Window.orderBy("day")
    idx = F.row_number().over(w) - 1
    log = days.select(
        idx.alias("ingest_batch"),
        (
            (F.lit(10000) + idx * idx * 40 + F.col("jit")).cast("double")
            / 1e4
        ).alias("ratio"),
    )
    return drift_forecast(log, window=7, threshold_ratio=2.0)


@query(
    "ann_recall_probe",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> coalesce(x, 'NaN'::DOUBLE)) AS emb FROM embeddings
            WHERE {_UVEC}
        ),
        cents AS (SELECT vec_id AS cell, emb FROM e WHERE vec_id < 16),
        assigned AS (
            SELECT vec_id, emb, cell FROM (
                SELECT v.vec_id, v.emb, c.cell,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY list_dot_product(v.emb, c.emb)
                                    / sqrt(list_dot_product(c.emb, c.emb)) DESC,
                                    c.cell
                       ) AS rn
                FROM e v CROSS JOIN cents c
            ) WHERE rn = 1
        ),
        exact AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_dot_product(q.emb, v.emb)
                                    / (sqrt(list_dot_product(q.emb, q.emb))
                                       * sqrt(list_dot_product(v.emb, v.emb))) DESC,
                                    v.vec_id
                       ) AS rn
                FROM e q JOIN e v ON v.vec_id <> q.vec_id
                WHERE q.vec_id < 10
            ) WHERE rn <= 10
        ),
        approx AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_dot_product(q.emb, v.emb)
                                    / (sqrt(list_dot_product(q.emb, q.emb))
                                       * sqrt(list_dot_product(v.emb, v.emb))) DESC,
                                    v.vec_id
                       ) AS rn
                FROM assigned q
                JOIN assigned v ON v.cell = q.cell AND v.vec_id <> q.vec_id
                WHERE q.vec_id < 10
            ) WHERE rn <= 10
        )
        SELECT e.query_id,
               round(CAST(count(a.neighbor_id) AS DOUBLE) / 10.0, 2) AS recall
        FROM exact e
        LEFT JOIN approx a ON a.query_id = e.query_id
                          AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
    """,
    description="Self-auditing ANN recall with a FULL oracle: a "
    "deterministic single-cell IVF (centroids = the first 16 vectors, "
    "argmax-cosine assignment with index tie-break) whose top-10 is "
    "compared against the exact top-10 INSIDE the query, yielding "
    "per-query recall@10. Both engines compute identical IEEE doubles, "
    "so the ranking — and therefore the recall — matches bit-for-bit. "
    "This is the harness shape for monitoring recall of the production "
    "LSH/IVF tiers on a live corpus (swap the candidate CTE).",
)
def ann_recall_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings").where(
        F.expr(vecf.usable_vector_sql("embedding"))
    ).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    dot = similarity._dot
    cents = emb.where("vec_id < 16").select(
        F.col("vec_id").alias("cell"), F.col("emb").alias("cemb")
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        (dot(F.col("emb"), F.col("cemb"))
         / F.sqrt(dot(F.col("cemb"), F.col("cemb")))).desc(),
        "cell",
    )
    assigned = (
        emb.crossJoin(F.broadcast(cents))
        .withColumn("rn", F.row_number().over(w_assign))
        .where("rn = 1")
        .select("vec_id", "emb", "cell")
    )

    def topk(pairs: DataFrame) -> DataFrame:
        cos = dot(F.col("qemb"), F.col("vemb")) / (
            F.sqrt(dot(F.col("qemb"), F.col("qemb")))
            * F.sqrt(dot(F.col("vemb"), F.col("vemb")))
        )
        w = Window.partitionBy("query_id").orderBy(
            cos.desc(), "neighbor_id"
        )
        return (
            pairs.withColumn("rn", F.row_number().over(w))
            .where("rn <= 10")
            .select("query_id", "neighbor_id")
        )

    q_exact = emb.where("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("vemb")
    )
    exact = topk(
        F.broadcast(q_exact).join(
            corpus, F.col("neighbor_id") != F.col("query_id")
        )
    )
    q_approx = assigned.where("vec_id < 10").select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        "cell",
    )
    cand = assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("vemb"),
        F.col("cell").alias("vcell"),
    )
    approx = topk(
        F.broadcast(q_approx).join(
            cand,
            (F.col("vcell") == F.col("cell"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
    )
    approx_r = approx.select(
        F.col("query_id").alias("a_query"),
        F.col("neighbor_id").alias("a_neighbor"),
    )
    return (
        exact.join(
            approx_r,
            (F.col("query_id") == F.col("a_query"))
            & (F.col("neighbor_id") == F.col("a_neighbor")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.round(F.count("a_neighbor").cast("double") / 10.0, 2).alias(
                "recall"
            )
        )
    )


# --- deterministic recall probes for the approximate ANN families --------
# (VERDICT r5 #3: clone ann_recall_probe's pattern — a DETERMINISTIC index
# both engines can replay makes recall itself oracle-checkable, giving the
# rows-only LSH/PQ tiers a hash-green driver witness.)
#
# Shared building blocks: the fmix32-derived ±1 sign matrix (already the
# JL projection's replayable randomness) doubles as SRP hyperplanes; dot
# products are bit-identical across engines (ann_recall_probe proves the
# zip_with fold ≡ list_dot_product equivalence on these fixtures).

#: 4 LSH tables × 4 signed planes each — rows of the JL sign matrix.
_LSH_PROBE_TABLES, _LSH_PROBE_PLANES = 4, 4
_LSH_PROBE_SIGNS = None  # filled lazily below (import-order safety)


def _lsh_probe_signs():
    global _LSH_PROBE_SIGNS
    if _LSH_PROBE_SIGNS is None:
        _LSH_PROBE_SIGNS = similarity.jl_sign_matrix(
            64, _LSH_PROBE_TABLES * _LSH_PROBE_PLANES
        )
    return _LSH_PROBE_SIGNS


def _lsh_probe_bucket_sql(t: int, emb: str, spark_side: bool) -> str:
    """One table's SRP bucket id as engine SQL: bit j set iff
    dot(emb, plane_{t,j}) > 0. Same text shape both engines; only the
    dot-product spelling differs."""
    signs = _lsh_probe_signs()
    bits = []
    for j in range(_LSH_PROBE_PLANES):
        row = signs[t * _LSH_PROBE_PLANES + j]
        if spark_side:
            lit = "array(" + ", ".join(f"{s:.1f}D" for s in row) + ")"
            dot = (
                f"aggregate(zip_with({emb}, {lit}, (x, s) -> x * s), "
                "CAST(0.0 AS DOUBLE), (a, v) -> a + v)"
            )
        else:
            lit = "[" + ", ".join(f"{s:.1f}" for s in row) + "]"
            dot = f"list_dot_product({emb}, {lit})"
        bits.append(
            f"(CASE WHEN {dot} > CAST(0.0 AS DOUBLE) THEN {1 << j} ELSE 0 END)"
        )
    return " + ".join(bits)


def _lsh_probe_oracle() -> str:
    buckets = "\n            UNION ALL ".join(
        f"SELECT vec_id, emb, {t} AS t, "
        f"{_lsh_probe_bucket_sql(t, 'emb', spark_side=False)} AS bucket "
        "FROM e"
        for t in range(_LSH_PROBE_TABLES)
    )
    return f"""
        WITH e AS (
            SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> coalesce(x, 'NaN'::DOUBLE)) AS emb FROM embeddings
            WHERE {_UVEC}
        ),
        b AS (
            {buckets}
        ),
        cand AS (
            SELECT DISTINCT q.vec_id AS query_id, v.vec_id AS neighbor_id
            FROM b q JOIN b v ON v.t = q.t AND v.bucket = q.bucket
                              AND v.vec_id <> q.vec_id
            WHERE q.vec_id < 10
        ),
        exact AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_dot_product(q.emb, v.emb)
                                    / (sqrt(list_dot_product(q.emb, q.emb))
                                       * sqrt(list_dot_product(v.emb, v.emb))) DESC,
                                    v.vec_id
                       ) AS rn
                FROM e q JOIN e v ON v.vec_id <> q.vec_id
                WHERE q.vec_id < 10
            ) WHERE rn <= 10
        ),
        approx AS (
            SELECT query_id, neighbor_id FROM (
                SELECT c.query_id, c.neighbor_id,
                       row_number() OVER (
                           PARTITION BY c.query_id
                           ORDER BY list_dot_product(q.emb, v.emb)
                                    / (sqrt(list_dot_product(q.emb, q.emb))
                                       * sqrt(list_dot_product(v.emb, v.emb))) DESC,
                                    c.neighbor_id
                       ) AS rn
                FROM cand c
                JOIN e q ON q.vec_id = c.query_id
                JOIN e v ON v.vec_id = c.neighbor_id
            ) WHERE rn <= 10
        )
        SELECT e.query_id,
               round(CAST(count(a.neighbor_id) AS DOUBLE) / 10.0, 2) AS recall
        FROM exact e
        LEFT JOIN approx a ON a.query_id = e.query_id
                          AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
    """


@query(
    "lsh_recall_probe",
    oracle=_lsh_probe_oracle(),
    description="Self-auditing SRP-LSH recall with a FULL oracle: 4 hash "
    "tables of 4 DERIVED ±1 hyperplanes (fmix32 sign matrix — the JL "
    "matrix's replayable randomness, so the index needs no training and "
    "no side table), candidates = pairs sharing any (table, bucket), "
    "exact-cosine top-10 over candidates vs the true top-10, per-query "
    "recall@10. Both engines build the identical index from integer "
    "arithmetic and identical IEEE dots, so recall matches bit-for-bit — "
    "the production knn_cosine_lsh tier's monitoring harness, "
    "oracle-checked end to end.",
)
def lsh_recall_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = (
        load(spark, sf_dir, "embeddings")
        # an unusable row is not index input (the vector-validity
        # contract, functions/vec — the vector analogue of the
        # time-validity rule); the oracle's e CTE carries the twin
        .where(F.expr(vecf.usable_vector_sql("embedding")))
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )
    # Single-pass formulation (r6 session 3): at probe query counts the
    # input is tiny, so the cost is plan DEPTH, not data. Candidacy
    # ("shares any (table, bucket)") is a per-PAIR expression over the
    # two precomputed bucket arrays — no posexplode, no bucket
    # self-join, no distinct — and exact + approx ranks come from TWO
    # windows over ONE scored frame sharing one exchange. Approx rank =
    # rank among candidates: ordering candidates-first makes row_number
    # of a candidate row exactly its candidate rank. Selection is
    # unchanged (same dots, same tie-breaks) — the hash-matched oracle
    # keeps the original two-subtree spelling.
    # Projections and the pair score spelled as SQL text (the r11
    # py4j-batching class — same expressions, same fold order as the
    # lambda-built Columns they replace; oracle-gated identical).
    buckets_sql = "array(" + ", ".join(
        _lsh_probe_bucket_sql(t, "emb", spark_side=True)
        for t in range(_LSH_PROBE_TABLES)
    ) + ")"
    norm_sql = (
        "sqrt(aggregate(zip_with(emb, emb, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
    )
    # Per-side norms and buckets evaluated ONCE per corpus row and
    # materialized (localCheckpoint): __vn is expensive but
    # single-referenced, so CollapseProject would otherwise inline it
    # into the per-PAIR projection (the round-5 BPE-chain trap), and the
    # checkpointed frame gives the BroadcastNestedLoopJoin a multi-split
    # streamed side (a 1-split parquet scan would run all pair scoring
    # on one core). O(n) materialization — same order as the bucket
    # shuffle the join formulation pays.
    from node_mongo2influx_spark.functions.skew import ensure_min_partitions

    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    corpus = ensure_min_partitions(emb, width).selectExpr(
        "vec_id AS neighbor_id",
        "emb AS vemb",
        f"{norm_sql} AS __vn",
        f"{buckets_sql} AS vb",
    ).localCheckpoint(eager=True)
    qside = emb.where("vec_id < 10").selectExpr(
        "vec_id AS query_id",
        "emb AS qemb",
        f"{norm_sql} AS __qn",
        f"{buckets_sql} AS qb",
    )
    is_cand_sql = " OR ".join(
        f"qb[{t}] = vb[{t}]" for t in range(_LSH_PROBE_TABLES)
    )
    scored = (
        F.broadcast(qside)
        .join(corpus, F.col("neighbor_id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "neighbor_id",
            "aggregate(zip_with(qemb, vemb, (x, y) -> x * y), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
            " / (__qn * __vn) AS __s",
            f"({is_cand_sql}) AS __c",
        )
    )
    w_e = Window.partitionBy("query_id").orderBy(
        F.col("__s").desc(), "neighbor_id"
    )
    w_a = Window.partitionBy("query_id").orderBy(
        F.col("__c").desc(), F.col("__s").desc(), "neighbor_id"
    )
    return (
        scored.select(
            "query_id",
            "__c",
            F.row_number().over(w_e).alias("__rn_e"),
            F.row_number().over(w_a).alias("__rn_a"),
        )
        .where("__rn_e <= 10")
        .groupBy("query_id")
        .agg(
            F.round(
                F.count(
                    F.when(F.col("__c") & (F.col("__rn_a") <= 10), 1)
                ).cast("double")
                / 10.0,
                2,
            ).alias("recall")
        )
    )


def _pq_probe_oracle() -> str:
    return f"""
        WITH e AS (
            SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> coalesce(x, 'NaN'::DOUBLE)) AS emb FROM embeddings
            WHERE {_UVEC}
        ),
        grid AS (SELECT unnest(range(0, 8)) AS j),
        cb AS (
            SELECT c.vec_id AS code, g.j,
                   c.emb[g.j * 8 + 1 : g.j * 8 + 8] AS sub
            FROM e c CROSS JOIN grid g WHERE c.vec_id < 16
        ),
        xs AS (
            SELECT v.vec_id, g.j, v.emb[g.j * 8 + 1 : g.j * 8 + 8] AS x
            FROM e v CROSS JOIN grid g
        ),
        assign AS (
            SELECT vec_id, j, sub FROM (
                SELECT xs.vec_id, xs.j, cb.sub,
                       row_number() OVER (
                           PARTITION BY xs.vec_id, xs.j
                           ORDER BY list_dot_product(xs.x, cb.sub)
                                    - 0.5 * list_dot_product(cb.sub, cb.sub)
                                    DESC,
                                    cb.code
                       ) AS rn
                FROM xs JOIN cb ON cb.j = xs.j
            ) WHERE rn = 1
        ),
        recon AS (
            SELECT vec_id, flatten(list(sub ORDER BY j)) AS rvec
            FROM assign GROUP BY vec_id
        ),
        exact AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_dot_product(q.emb, v.emb)
                                    / (sqrt(list_dot_product(q.emb, q.emb))
                                       * sqrt(list_dot_product(v.emb, v.emb))) DESC,
                                    v.vec_id
                       ) AS rn
                FROM e q JOIN e v ON v.vec_id <> q.vec_id
                WHERE q.vec_id < 10
            ) WHERE rn <= 10
        ),
        approx AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_dot_product(q.emb, r.rvec)
                                    / (sqrt(list_dot_product(q.emb, q.emb))
                                       * sqrt(list_dot_product(v.emb, v.emb))) DESC,
                                    r.vec_id
                       ) AS rn
                FROM e q
                JOIN recon r ON r.vec_id <> q.vec_id
                JOIN e v ON v.vec_id = r.vec_id
                WHERE q.vec_id < 10
            ) WHERE rn <= 10
        )
        SELECT e.query_id,
               round(CAST(count(a.neighbor_id) AS DOUBLE) / 10.0, 2) AS recall
        FROM exact e
        LEFT JOIN approx a ON a.query_id = e.query_id
                          AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
    """


@query(
    "pq_recall_probe",
    oracle=_pq_probe_oracle(),
    description="Self-auditing PQ (asymmetric-distance) recall with a "
    "FULL oracle: a deterministic codebook — subspace j's 16 "
    "sub-centroids are the j-th 8-dim slices of the first 16 vectors — "
    "encodes every vector by nearest sub-centroid (argmax x·c − ‖c‖²/2, "
    "code-id tie-break) and reconstructs it as the concatenation of its "
    "chosen sub-centroids; ADC ranking is dot(q, reconstruction) over "
    "the EXACT norms, compared against the true top-10 for per-query "
    "recall@10. Identical IEEE arithmetic both engines → bit-for-bit "
    "recall. The knn_cosine_pq tier's monitoring harness, oracle-checked "
    "end to end.",
)
def pq_recall_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = (
        load(spark, sf_dir, "embeddings")
        # drop unusable embeddings up front (the vector-validity
        # contract; oracle's e CTE mirrors it): a NULL — or a
        # NULL-ELEMENT — row among the first 16 would crash the
        # driver-side codebook slicing (float(None), embed sweep r10)
        .where(F.expr(vecf.usable_vector_sql("embedding")))
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )
    m, dsub, n_codes = 8, 8, 16
    # Single-pass formulation (r6 session 3): the codebook is by
    # construction the subspace slices of the FIRST 16 vectors, so it is
    # collected once (16 pruned rows) and inlined as literals — encoding
    # becomes a zero-shuffle projection (argmax over a 16-struct array
    # per subspace) instead of posexplode + broadcast join + a
    # per-(vec, subspace) argmax exchange. Arithmetic is bit-identical:
    # literal doubles round-trip exactly, every dot keeps the same
    # left-fold order, −½‖sub‖² is folded in Python with that same
    # order, and max of (s, −code) == first of (s DESC, code ASC).
    # Exact + ADC ranks then come from two windows over ONE scored
    # frame (shared exchange), as in lsh_recall_probe. The hash-matched
    # oracle keeps the original multi-CTE spelling.
    rows16 = sorted(
        emb.where(f"vec_id < {n_codes}").collect(),
        key=lambda r: r["vec_id"],
    )
    if not rows16:
        # EMPTY corpus: no vectors to slice codebooks from (and no
        # queries either — vec_id < 10 is a subset of the same corpus).
        # array(<zero candidates>) would type as VOID and fail analysis;
        # degrade to the empty result instead (tools/empty_sweep.py).
        from pyspark.sql import types as T

        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("query_id", emb.schema["vec_id"].dataType),
                    T.StructField("recall", T.DoubleType()),
                ]
            ),
        )

    # SQL-text spelling, COMPACT edition (optimization round r11 s4): the
    # codebook literals ride ONE aliased array<array<array<double>>>
    # column (__cb[j][p] = candidate p's subspace-j slice; ConstantFolding
    # collapses the CreateArray of foldables to a single static Literal,
    # so nothing is rebuilt per row), and each subspace's argmax is a
    # transform over __cb[j] — the fold body appears ONCE per subspace
    # instead of once per (subspace, candidate), and each sub-slice
    # literal appears ~once instead of twice ('sub' payload now comes
    # from element_at(__cb[j], winner.p) instead of a second copy in the
    # struct). Tree ~4× smaller → analyzer + codegen at construct time
    # measured 0.59× interleaved, outputs bit-identical row-for-row.
    # Arithmetic is unchanged by construction: `<repr>D` literals
    # round-trip bit-exactly (typed double literal — still dodges the
    # bare-decimal-DECIMAL expr() trap), every dot keeps _dot's left-fold
    # order, −½‖sub‖² folds in Python in that same order, and the winner
    # is still the max of (s, −code) struct comparison — the trailing 'p'
    # field is unreachable in the ordering because nc is unique. A
    # wrong-length emb keeps its exact old semantics too: the slice /
    # zip_with NULL-padding path is the same expression.
    def dlit(v: float) -> str:
        return f"{v!r}D"

    cb_sql = "array(" + ", ".join(
        "array(" + ", ".join(
            "array(" + ", ".join(
                dlit(float(v)) for v in r["emb"][j * dsub : (j + 1) * dsub]
            ) + ")"
            for r in rows16
        ) + ")"
        for j in range(m)
    ) + ")"

    def chosen_sub_sql(j: int) -> str:
        metas = []
        for p, r in enumerate(rows16):
            sub = [float(v) for v in r["emb"][j * dsub : (j + 1) * dsub]]
            acc = 0.0
            for v in sub:
                acc = acc + v * v
            metas.append(
                f"named_struct('h', {dlit(0.5 * acc)}, "
                f"'nc', {-int(r['vec_id'])}, 'p', {p + 1})"
            )
        dots = (
            f"transform(__cb[{j}], c -> "
            f"aggregate(zip_with(slice(emb, {j * dsub + 1}, {dsub}), c, "
            f"(x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
        )
        win = (
            f"array_max(zip_with({dots}, array({', '.join(metas)}), "
            f"(d, t) -> named_struct('s', d - t.h, 'nc', t.nc, 'p', t.p)))"
        )
        return f"element_at(__cb[{j}], {win}.p)"

    # Encode once per corpus row and MATERIALIZE (localCheckpoint):
    # rvec is expensive but single-referenced downstream, so
    # CollapseProject would inline it into the per-PAIR projection —
    # re-encoding every vector once per query (measured 4×) — and the
    # checkpoint also gives the nested-loop join a multi-split streamed
    # side. O(n·dim) local materialization, the same order the join
    # formulation shuffled through its assignment exchange.
    from node_mongo2influx_spark.functions.skew import ensure_min_partitions

    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    enc = ensure_min_partitions(emb, width)
    corpus = (
        enc.select("vec_id", "emb", F.expr(cb_sql).alias("__cb"))
        .selectExpr(
            "vec_id AS neighbor_id",
            "emb AS vemb",
            "sqrt(aggregate(zip_with(emb, emb, (x, y) -> x * y), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)) AS __vn",
            f"concat({', '.join(chosen_sub_sql(j) for j in range(m))})"
            " AS rvec",
        )
        .localCheckpoint(eager=True)
    )
    qfeat = emb.where("vec_id < 10").selectExpr(
        "vec_id AS query_id",
        "emb AS qemb",
        "sqrt(aggregate(zip_with(emb, emb, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)) AS __qn",
    )

    # ADC: approx dot against the reconstruction, EXACT corpus norms
    # (SQL-text spelling — the same folds the lambda Columns built)
    def _dot_sql(a: str, b: str) -> str:
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )

    scored = (
        F.broadcast(qfeat)
        .join(corpus, F.col("neighbor_id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"{_dot_sql('qemb', 'vemb')} / (__qn * __vn) AS __se",
            f"{_dot_sql('qemb', 'rvec')} / (__qn * __vn) AS __sa",
        )
    )
    w_e = Window.partitionBy("query_id").orderBy(
        F.col("__se").desc(), "neighbor_id"
    )
    w_a = Window.partitionBy("query_id").orderBy(
        F.col("__sa").desc(), "neighbor_id"
    )
    return (
        scored.select(
            "query_id",
            F.row_number().over(w_e).alias("__rn_e"),
            F.row_number().over(w_a).alias("__rn_a"),
        )
        .where("__rn_e <= 10")
        .groupBy("query_id")
        .agg(
            F.round(
                F.count(F.when(F.col("__rn_a") <= 10, 1)).cast("double")
                / 10.0,
                2,
            ).alias("recall")
        )
    )


@query(
    "quality_lang_matrix",
    oracle="""
        SELECT lang,
               CASE WHEN len(string_split(text, ' ')) < 50 THEN 'short'
                    WHEN len(string_split(text, ' ')) < 100 THEN 'medium'
                    ELSE 'long' END AS size_bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
               round(CAST(sum(length(text)
                              - length(regexp_replace(text, '[^a-zA-Z]', '', 'g')))
                          AS DOUBLE)
                     / CAST(sum(length(text)) AS DOUBLE), 6) AS non_alpha_rate,
               round(CAST(sum(len(list_filter(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '),
                              w -> w IN ('the','a','of','to','and','in','is','it'))))
                          AS DOUBLE)
                     / CAST(sum(len(string_split(text, ' '))) AS DOUBLE), 6)
                   AS stopword_rate
        FROM documents
        GROUP BY 1, 2
    """,
    description="Corpus quality matrix per (language, size bucket): doc "
    "and token counts plus corpus-level non-alpha and stopword rates. "
    "The rates are RATIOS OF EXACT INTEGER SUMS (chars, marker hits), "
    "not averages of per-doc doubles — avg-of-ratios order-depends "
    "across engines and over-weights short documents. Stopword set "
    "shared with operators/text.py's quality features. One map pass + "
    "one small shuffle.",
)
def quality_lang_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " "))
    n_chars = F.length("text")
    n_non_alpha = n_chars - F.length(
        F.regexp_replace(F.col("text"), "[^a-zA-Z]", "")
    )
    n_stop = text._marker_count("text", text.QUALITY_STOPWORDS)
    bucket = (
        F.when(n_tokens < 50, "short")
        .when(n_tokens < 100, "medium")
        .otherwise("long")
    )
    return (
        docs.groupBy(F.col("lang"), bucket.alias("size_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_tokens).alias("n_tokens"),
            F.round(
                F.sum(n_non_alpha).cast("double")
                / F.sum(n_chars).cast("double"),
                6,
            ).alias("non_alpha_rate"),
            F.round(
                F.sum(n_stop).cast("double")
                / F.sum(n_tokens).cast("double"),
                6,
            ).alias("stopword_rate"),
        )
    )


@query(
    "bpe_merge_pair_stats",
    oracle="""
        WITH words AS (
            SELECT unnest(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS w FROM documents
        ),
        cs AS (
            SELECT string_split(w, '') AS c FROM words WHERE length(w) >= 2
        ),
        pairs AS (
            SELECT unnest(list_transform(
                       generate_series(1, len(c) - 1),
                       i -> c[i] || c[i + 1])) AS pair
            FROM cs
        )
        SELECT pair, CAST(count(*) AS BIGINT) AS n
        FROM pairs GROUP BY pair
        ORDER BY n DESC, pair
        LIMIT 40
    """,
    description="BPE vocabulary training, step 1: corpus-wide adjacent "
    "character-pair frequencies within words — the statistic every merge "
    "round of byte-pair encoding maximizes. Two explodes (words, then "
    "in-word pairs) feeding one count shuffle keyed on the pair; top-40 "
    "via TakeOrderedAndProject with a total order (count desc, pair). "
    "At 100 TB the pair space is <= 256^2 after the shuffle — the heavy "
    "side stays map-local partial counts. Pairs come from zipping the "
    "word's char array against its own shifted slice (the round-4 "
    "n-gram pattern) — a per-position substring(w, i, 2) is O(i) per "
    "element on a UTF8String, i.e. O(len²) per word, and a single "
    "2 M-char token wedges the task (longdoc sweep, round 9); both "
    "engines' split-by-empty yields CODE POINTS, measured identical to "
    "per-position substr on the supplementary plane.",
)
def bpe_merge_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    w = F.explode(F.split(ascii_lower(F.col("text")), " ")).alias("w")
    pairs = (
        docs.select(w)
        .where(F.length("w") >= 2)
        .select(F.split("w", "").alias("c"))
        .select(
            F.explode(
                F.expr(
                    "zip_with(slice(c, 1, size(c) - 1), "
                    "slice(c, 2, size(c) - 1), (a, b) -> concat(a, b))"
                )
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(40)
    )


#: Synthesized messy URL for a document — the fixture has no URL column,
#: so both engines derive one deterministically from (source, doc_id):
#: scheme / www. / host case / trailing slash / query-string variants all
#: keyed off doc_id so the canonicalizer has real work to do, and the
#: path collides on doc_id % 97 so canonical dedup finds real duplicates.
# The uppercased-URL slice folds through functions/fold.ascii_upper_sql —
# engine upper() on an ARBITRARY source column diverges cross-engine on
# ß/ı (the r8 case-fold contract; caught by the r11 label sweep, which
# makes `source` hostile). ASCII-only case is also the real URL
# semantics: hostname case-insensitivity is ASCII-only.
_UP_SRC_SPARK = fold.ascii_upper_sql("concat(source, '.com')")
_UP_SRC_DUCK = fold.ascii_upper_duckdb_sql("(source || '.com')")
_URL_SPARK = (
    "concat("
    "  CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END,"
    "  CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END,"
    f"  CASE WHEN doc_id % 7 = 0 THEN {_UP_SRC_SPARK}"
    "       ELSE concat(source, '.com') END,"
    "  '/p/', cast(doc_id % 97 AS string),"
    "  CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END,"
    "  CASE WHEN doc_id % 5 = 0 THEN '?utm=x&ref=feed' ELSE '' END"
    ")"
)
_URL_DUCK = (
    "("
    "  CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END ||"
    "  CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END ||"
    f"  CASE WHEN doc_id % 7 = 0 THEN {_UP_SRC_DUCK}"
    "       ELSE source || '.com' END ||"
    "  '/p/' || CAST(doc_id % 97 AS VARCHAR) ||"
    "  CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||"
    "  CASE WHEN doc_id % 5 = 0 THEN '?utm=x&ref=feed' ELSE '' END"
    ")"
)


def _url_stats_oracle() -> str:
    canon = text.canonical_url_duckdb_sql("url")
    return f"""
        WITH u AS (
            SELECT doc_id, n_chars, {_URL_DUCK} AS url FROM documents
        ),
        c AS (
            SELECT doc_id, n_chars, {canon} AS curl,
                   regexp_extract(regexp_extract({canon}, '^([^/]*)', 1),
                                  '([^.]+\\.[^.]+)$', 1) AS domain
            FROM u
        )
        SELECT domain,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT curl) AS BIGINT) AS n_canonical,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM c GROUP BY domain
    """


@query(
    "url_domain_stats",
    oracle=_url_stats_oracle(),
    description="Per-domain corpus stats through the URL canonicalizer "
    "(operators/text.py:canonical_url — scheme/case/www/query/slash "
    "normalization as a pure regexp chain, same patterns run in DuckDB): "
    "docs, distinct canonical URLs, total chars per registrable domain. "
    "The per-row canonicalization is whole-stage-codegen map work; the "
    "only shuffle is the final small rollup keyed on domain.",
)
def url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").withColumn(
        "url", F.expr(_URL_SPARK)
    )
    return (
        docs.select(
            "doc_id",
            "n_chars",
            text.canonical_url(F.col("url")).alias("curl"),
            text.url_domain(F.col("url")).alias("domain"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("curl").alias("n_canonical"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def _url_dedup_oracle() -> str:
    canon = text.canonical_url_duckdb_sql("url")
    return f"""
        WITH u AS (
            SELECT doc_id, {_URL_DUCK} AS url FROM documents
        ),
        c AS (SELECT doc_id, {canon} AS canonical_url FROM u)
        SELECT min(doc_id) AS doc_id, canonical_url,
               CAST(count(*) AS BIGINT) AS n_dupes
        FROM c GROUP BY canonical_url
    """


@query(
    "dedup_url_canonical",
    oracle=_url_dedup_oracle(),
    description="URL-level dedup, the cheapest dedup tier of a crawl "
    "pipeline (before any content hashing): canonicalize, keep min "
    "doc_id per canonical URL, report the duplicate multiplicity. "
    "Exactly the exact-dedup plan shape — one shuffle keyed on the "
    "canonical URL — with the canonicalizer fused into the map side.",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").withColumn(
        "url", F.expr(_URL_SPARK)
    )
    return (
        docs.select(
            "doc_id", text.canonical_url(F.col("url")).alias("canonical_url")
        )
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
        .select("doc_id", "canonical_url", "n_dupes")
    )


@query(
    "embedding_norm_qa",
    oracle=f"""
        WITH n AS (
            SELECT label,
                   {vecf.vector_class_duckdb_sql("embedding")} AS cls,
                   CASE WHEN {_BVEC}
                   THEN CAST(round(sqrt(list_reduce(
                       list_prepend(CAST(0.0 AS DOUBLE),
                           list_transform(list_transform(CAST(embedding AS DOUBLE[]), x -> coalesce(x, 'NaN'::DOUBLE)),
                                          x -> x * x)),
                       (a, b) -> a + b)) * 100000) AS BIGINT) END AS norm_micro
            FROM embeddings
        )
        SELECT label,
               CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(sum(CASE WHEN cls = 'missing' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_missing,
               CAST(sum(CASE WHEN cls = 'invalid' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_invalid,
               CAST(sum(CASE WHEN cls = 'zero' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_zero,
               CAST(sum(CASE WHEN cls = 'outlier' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outlier,
               round(CAST(min(norm_micro) AS DOUBLE) / 100000.0, 5) AS min_norm,
               round(CAST(max(norm_micro) AS DOUBLE) / 100000.0, 5) AS max_norm,
               round(CAST(sum(norm_micro) AS DOUBLE)
                     / nullif(CAST(count(norm_micro) AS DOUBLE), 0.0)
                     / 100000.0, 5)
                   AS avg_norm,
               CAST(sum(CASE WHEN abs(norm_micro - 100000) > 10000
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_nonunit
        FROM n GROUP BY label
    """,
    description="Embedding QA per label: L2-norm min/max/avg, the count "
    "of far-from-unit vectors, and a census of every vector-contract "
    "class the operators EXCLUDE (functions/vec, r10): rows MISSING "
    "their embedding, INVALID vectors (NULL/NaN/Inf element), ZERO "
    "(direction-free) vectors, and statistics-domain OUTLIERS "
    "(|x| > 100 — unquantizable on the micro-unit int64 lattice: a "
    "3e38 norm times 1e5 cannot cast to BIGINT, embed sweep r10). "
    "Norm stats cover the ok class only — the QA face SURFACES what "
    "the operator faces exclude. Per-vector norms are LEFT FOLDS in "
    "both engines (aggregate vs list_reduce — identical IEEE operation "
    "sequence, so identical doubles), then quantized to integer "
    "micro-units so every aggregate is exact integer arithmetic; only "
    "the final display division is floating. One map pass + one tiny "
    "shuffle on label.",
)
def embedding_norm_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    sumsq = F.aggregate(
        F.col("embedding").cast("array<double>"),
        F.lit(0.0),
        lambda a, x: a + x * x,
    )
    norm_micro = F.when(
        F.expr(vecf.bounded_vector_sql("embedding")),
        F.round(F.sqrt(sumsq) * 100000).cast("long"),
    )
    cls = vecf.vector_class(F.col("embedding"))
    n = emb.select(
        "label", cls.alias("cls"), norm_micro.alias("norm_micro")
    )
    return n.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        # every contract class the operators exclude is REPORTED here,
        # never silently skipped (nullify sweep r8; embed sweep r10)
        F.sum((F.col("cls") == "missing").cast("int")).alias("n_missing"),
        F.sum((F.col("cls") == "invalid").cast("int")).alias("n_invalid"),
        F.sum((F.col("cls") == "zero").cast("int")).alias("n_zero"),
        F.sum((F.col("cls") == "outlier").cast("int")).alias("n_outlier"),
        F.round(F.min("norm_micro").cast("double") / 100000.0, 5).alias(
            "min_norm"
        ),
        F.round(F.max("norm_micro").cast("double") / 100000.0, 5).alias(
            "max_norm"
        ),
        F.round(
            F.sum("norm_micro").cast("double")
            # nullif: a label whose every vector is excluded has
            # count 0 — DuckDB's NULL/0 is NULL, ANSI Spark raises
            / F.nullif(F.count("norm_micro").cast("double"), F.lit(0.0))
            / 100000.0,
            5,
        ).alias("avg_norm"),
        F.sum(
            F.when(F.abs(F.col("norm_micro") - 100000) > 10000, 1).otherwise(0)
        ).alias("n_nonunit"),
    )


@query(
    "id_integrity_qa",
    oracle="""
        WITH ids AS (
            SELECT 'documents' AS table_name, doc_id AS id FROM documents
            UNION ALL
            SELECT 'embeddings' AS table_name, vec_id AS id FROM embeddings
            UNION ALL
            SELECT 'events' AS table_name, event_id AS id FROM events
        ),
        per_id AS (
            SELECT table_name, id, count(*) AS c
            FROM ids GROUP BY table_name, id
        )
        SELECT table_name,
               CAST(sum(c) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN id IS NULL THEN c ELSE 0 END) AS BIGINT)
                   AS n_null_id,
               CAST(sum(CASE WHEN id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_distinct_id,
               CAST(sum(CASE WHEN id IS NOT NULL AND c > 1 THEN c - 1
                             ELSE 0 END) AS BIGINT) AS n_dup_excess,
               CAST(max(CASE WHEN id IS NOT NULL THEN c END) AS BIGINT)
                   AS max_id_multiplicity,
               CAST(min(id) AS BIGINT) AS min_id,
               CAST(max(id) AS BIGINT) AS max_id
        FROM per_id GROUP BY table_name
    """,
    description="Primary-id integrity census over the three Mongo-shaped "
    "tables (documents.doc_id, embeddings.vec_id, events.event_id): row "
    "count, NULL-id rows, distinct non-NULL ids, duplicate-excess rows "
    "(rows beyond the first per id), worst per-id multiplicity, id range. "
    "The observability face for the registry's id PRECONDITION: every "
    "(score, id) rank tie-break (knn top-k, arg_max spellings, keep-best "
    "dedup) is total ONLY under unique ids, and every features/rerank "
    "join assumes id is a key — a real mongoexport can violate both "
    "(duplicate _id across shard dumps, absent _id after a projection). "
    "This query is how a user checks the assumption BEFORE trusting "
    "top-k determinism, the same way embedding_norm_qa reports what the "
    "vector contract excludes. Scale shape: one map-side-combined "
    "hash aggregate keyed (table, id) per table scan — the exact-dedup "
    "plan — then a 3-group rollup over distinct ids; NULL ids form an "
    "ordinary group on both engines. All aggregates are exact integer "
    "arithmetic; DuckDB's HUGEINT sums cast back to BIGINT.",
)
def id_integrity_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from node_mongo2influx_spark.operators import integrity

    parts = [
        integrity.per_id_counts(
            load(spark, sf_dir, t), c, extra=[F.lit(t).alias("table_name")]
        )
        for t, c in (
            ("documents", "doc_id"),
            ("embeddings", "vec_id"),
            ("events", "event_id"),
        )
    ]
    per_id = parts[0].unionByName(parts[1]).unionByName(parts[2])
    # empty-table semantics match the oracle by construction: a table
    # contributing zero rows has no (table_name, id) groups, so its
    # census row is absent on BOTH sides (a global agg would instead
    # mint a Spark-only all-NULL row on empty input — the empty sweep).
    return integrity.id_census(per_id, ["table_name"])


#: child table, FK column, parent table, parent key — the star schema's
#: FK edges a migration must preserve plus the events→customer edge a
#: Mongo dump has no way to enforce (reference index.js:99-108 copies
#: collections independently; nothing checks cross-collection refs).
_FK_RELATIONS = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("events.user_id->customer", "events", "user_id",
     "customer", "c_custkey"),
)


@query(
    "referential_integrity_qa",
    oracle="""
        WITH fks AS (
            SELECT 'lineitem.l_orderkey->orders' AS relation,
                   l_orderkey AS fk, count(*) AS c
            FROM lineitem GROUP BY l_orderkey
            UNION ALL
            SELECT 'orders.o_custkey->customer' AS relation,
                   o_custkey AS fk, count(*) AS c
            FROM orders GROUP BY o_custkey
            UNION ALL
            SELECT 'events.user_id->customer' AS relation,
                   user_id AS fk, count(*) AS c
            FROM events GROUP BY user_id
        ),
        parents AS (
            SELECT 'lineitem.l_orderkey->orders' AS relation,
                   o_orderkey AS pk FROM orders GROUP BY o_orderkey
            UNION ALL
            SELECT 'orders.o_custkey->customer' AS relation,
                   c_custkey AS pk FROM customer GROUP BY c_custkey
            UNION ALL
            SELECT 'events.user_id->customer' AS relation,
                   c_custkey AS pk FROM customer GROUP BY c_custkey
        ),
        j AS (
            SELECT f.relation, f.fk, f.c, p.pk
            FROM fks f LEFT JOIN parents p
              ON f.relation = p.relation AND f.fk = p.pk
        )
        SELECT relation,
               CAST(sum(c) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN fk IS NULL THEN c ELSE 0 END) AS BIGINT)
                   AS n_null_fk,
               CAST(sum(CASE WHEN fk IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_distinct_fk,
               CAST(sum(CASE WHEN fk IS NOT NULL AND pk IS NULL
                             THEN c ELSE 0 END) AS BIGINT) AS n_orphan_rows,
               CAST(sum(CASE WHEN fk IS NOT NULL AND pk IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_keys
        FROM j GROUP BY relation
    """,
    description="Foreign-key orphan census over the schema's FK edges "
    "(lineitem→orders, orders→customer, events→customer): per relation, "
    "child rows, NULL-FK rows, distinct FKs, and orphan rows/keys whose "
    "FK has no parent. The cross-collection twin of id_integrity_qa: "
    "the reference migrates collections independently "
    "(index.js:99-108), so nothing upstream guarantees referential "
    "integrity — this is the post-migration audit. Scale shape: the "
    "RAW child table is never joined — each child collapses to its "
    "distinct-FK counts first (map-side-combined aggregate, one "
    "shuffle keyed on the FK), parents collapse to distinct keys, and "
    "the orphan probe is a distinct-key⋈distinct-key left join "
    "(dim-sized sides broadcast under AQE; the fact-fact edge "
    "lineitem→orders co-partitions on the shared key). NULL FKs never "
    "match and are reported separately, not as orphans. All exact "
    "integer arithmetic; HUGEINT sums cast back.",
)
def referential_integrity_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    fks = None
    parents = None
    for rel, child, fk, parent, pk in _FK_RELATIONS:
        f = (
            load(spark, sf_dir, child)
            .groupBy(F.col(fk).cast("long").alias("fk"))
            .agg(F.count(F.lit(1)).alias("c"))
            .select(F.lit(rel).alias("relation"), "fk", "c")
        )
        p = (
            load(spark, sf_dir, parent)
            .select(F.col(pk).cast("long").alias("pk"))
            .distinct()
            .select(F.lit(rel).alias("relation"), "pk")
        )
        fks = f if fks is None else fks.unionByName(f)
        parents = p if parents is None else parents.unionByName(p)
    j = fks.join(
        parents,
        (fks["relation"] == parents["relation"]) & (fks["fk"] == parents["pk"]),
        "left",
    ).select(fks["relation"], "fk", "c", "pk")
    return j.groupBy("relation").agg(
        F.sum("c").alias("n_rows"),
        F.sum(F.when(F.col("fk").isNull(), F.col("c")).otherwise(F.lit(0)))
        .alias("n_null_fk"),
        F.sum(F.when(F.col("fk").isNotNull(), 1).otherwise(0))
        .alias("n_distinct_fk"),
        F.sum(
            F.when(
                F.col("fk").isNotNull() & F.col("pk").isNull(), F.col("c")
            ).otherwise(F.lit(0))
        ).alias("n_orphan_rows"),
        F.sum(
            F.when(F.col("fk").isNotNull() & F.col("pk").isNull(), 1).otherwise(
                0
            )
        ).alias("n_orphan_keys"),
    )


# ---------------------------------------------------------------------------
# Context-window chunking & training order (round 4)
# ---------------------------------------------------------------------------
@query(
    "doc_chunk_overlap",
    oracle="""
        WITH pos AS (
            -- fully ROW-based: the old list spelling carried/copied the
            -- full word list per chunk (and DuckDB copies the outer
            -- list per lambda element), O(chunks · len) churn — tens of
            -- GB on a 10 MB document (longdoc sweep, round 9). Zipped
            -- unnests give (word, position) rows; each word joins its
            -- <= 2 covering windows arithmetically; string_agg with an
            -- ORDER BY rebuilds the chunk text exactly.
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS w,
                   unnest(generate_series(1, len(string_split(text, ' '))))
                       AS p
            FROM documents
        ),
        sized AS (
            SELECT doc_id, w, p, max(p) OVER (PARTITION BY doc_id) AS n
            FROM pos
        ),
        memb AS (
            SELECT doc_id, w, p, t.k
            FROM sized, unnest([(p - 1) // 48, (p - 1) // 48 - 1]) AS t(k)
            WHERE t.k >= 0 AND 48 * t.k + 1 <= n AND p <= 48 * t.k + 64
        )
        SELECT doc_id,
               CAST(k AS INT) AS chunk_no,
               CAST(count(*) AS INT) AS n_words,
               md5(string_agg(w, ' ' ORDER BY p)) AS chunk_md5
        FROM memb GROUP BY doc_id, k
    """,
    description="Context-window chunking with overlap: each document "
    "becomes sliding windows of 64 words at stride 48 (16 words of "
    "overlap carry context across boundaries — the standard layout for "
    "bounded-context training). Pure per-row Column work (split / "
    "sequence-of-starts / slice): ZERO shuffles, chunks at scan speed at "
    "any corpus size. Chunk text leaves as an md5 fingerprint so the "
    "output stays narrow.",
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.chunk_windows(
        load(spark, sf_dir, "documents"),
        text_col="text",
        id_col="doc_id",
        ctx=64,
        stride=48,
    )


def _shuffle_oracle() -> str:
    from node_mongo2influx_spark.functions.phash import fnv1a32_duckdb_sql

    h = fnv1a32_duckdb_sql("concat(CAST(doc_id AS VARCHAR), ':shuffle-v1')")
    return f"""
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY {h}, doc_id) - 1 AS BIGINT)
                   AS pos
        FROM documents
    """


@query(
    "training_order_shuffle",
    oracle=_shuffle_oracle(),
    description="Deterministic global training-order permutation WITHOUT "
    "a global sort: portable 32-bit hash is the order key, a range-prefix "
    "bucket (key div 2^32/64) keeps (bucket, key) ordering == key "
    "ordering, rank is a per-bucket window (64-way parallel), and global "
    "positions come from adding bucket offsets computed on the 64-row "
    "count table (AQE broadcasts it back). No single-partition exchange "
    "ever touches data-sized input — the oracle's row_number() OVER "
    "(ORDER BY hash) IS that bottleneck and exists only on the DuckDB "
    "side as the semantic spec.",
)
def training_order_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.shuffle_order(
        load(spark, sf_dir, "documents"), id_col="doc_id", salt="shuffle-v1"
    )


@query(
    "corpus_segment_dedup",
    oracle="""
        WITH pos AS (
            -- row-based segmenting: the old shape unnested seg_no
            -- alongside the words column, duplicating the full word
            -- list into every segment row — O(segs · len) list churn
            -- on megabyte documents (longdoc sweep, round 9; same
            -- class as doc_chunk_overlap). Non-overlapping segments:
            -- word p belongs to exactly segment (p-1)//10.
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS w,
                   unnest(generate_series(1, len(string_split(text, ' '))))
                       AS p
            FROM documents
        ),
        s AS (
            SELECT doc_id, CAST((p - 1) // 10 AS INT) AS seg_no,
                   string_agg(w, ' ' ORDER BY p) AS seg
            FROM pos GROUP BY doc_id, (p - 1) // 10
        ),
        c AS (SELECT seg, count(DISTINCT doc_id) AS nd FROM s GROUP BY seg),
        k AS (SELECT s.* FROM s JOIN c USING (seg) WHERE c.nd <= 1),
        a AS (
            SELECT doc_id, count(*) AS n_kept,
                   md5(string_agg(seg, ' ' ORDER BY seg_no)) AS clean_md5
            FROM k GROUP BY doc_id
        ),
        t AS (SELECT doc_id, count(*) AS n_segs FROM s GROUP BY doc_id)
        SELECT t.doc_id, t.n_segs,
               coalesce(a.n_kept, 0) AS n_kept,
               coalesce(a.clean_md5, md5('')) AS clean_md5
        FROM t LEFT JOIN a USING (doc_id)
    """,
    description="Segment-level cross-corpus dedup (CCNet/C4 boilerplate "
    "removal): 10-word segments, drop any segment occurring in more than "
    "one distinct document corpus-wide, reassemble survivors in order "
    "(md5 fingerprint of the cleaned text). Shuffles key on the segment "
    "(at 100 TB: on xxhash64(seg) — 8-byte exchange keys; the oracle "
    "tier keys on raw text so DuckDB replays it exactly); reassembly "
    "state is one document, never a global window.",
)
def corpus_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.segment_dedup(
        load(spark, sf_dir, "documents"),
        text_col="text",
        id_col="doc_id",
        seg_words=10,
        max_docs=1,
    )


@query(
    "dedup_incremental_delta",
    oracle=f"""
        WITH fp AS (
            SELECT doc_id,
                   {_HEAD_FP_DUCKDB} AS fp,
                   {_DELTA_SPLIT_DUCKDB} AS is_delta
            FROM documents
        ),
        base AS (SELECT DISTINCT fp FROM fp WHERE NOT is_delta),
        delta AS (SELECT doc_id, fp FROM fp WHERE is_delta),
        m AS (
            SELECT doc_id, fp,
                   min(doc_id) OVER (PARTITION BY fp) AS min_id
            FROM delta
        )
        SELECT m.doc_id,
               CASE WHEN base.fp IS NOT NULL THEN 'dup_base'
                    WHEN m.min_id <> m.doc_id THEN 'dup_delta'
                    ELSE 'new' END AS status
        FROM m LEFT JOIN base ON m.fp = base.fp
    """,
    description="Incremental-ingest dedup: classify a new crawl batch "
    "(delta = doc_id%4==3 stands in for the arriving increment) against "
    "the already-ingested base — dup_base (fingerprint exists in "
    "history), dup_delta (first occurrence wins within the batch), or "
    "new. The dedup key is a CANONICAL fingerprint (md5 of the first 10 "
    "words — the normalized-head hash real crawlers use so trivially "
    "perturbed copies still collide; the fixture has no byte-exact dups "
    "but 24 shared heads). O(|delta| + |base fingerprints|): base text "
    "is never rescanned, the join moves DISTINCT 16-byte hashes, and "
    "persisting that fingerprint table bucketed by fp makes every "
    "future increment join co-located.",
)
def dedup_incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.incremental_exact(
        load(spark, sf_dir, "documents"),
        is_delta=_delta_split_spark(),
        text_col="text",
        id_col="doc_id",
        fingerprint=_head_fp_spark(),
    )


#: Bloom geometry is DATA-SIZED (round 7, VERDICT r6 #1): m =
#: max(16 * |base distinct fps|, 2048) bit positions, k = 4 fmix32-mixed
#: FNV hashes — fill ≈ 1-exp(-4/16) ≈ 0.22 and FP ≈ 0.25% at EVERY
#: corpus size, because m grows with the base. (The r6 static m = 2^17
#: saturated at ~64× base growth and then classified every delta as dup
#: — silent data loss at scale.) Both engines derive m from the same
#: exact-integer rule: Spark via one scalar count action, DuckDB via a
#: geom CTE cross-joined into the position arithmetic.
_BLOOM_K = 4
_BLOOM_BITS_PER_KEY = 16
_BLOOM_FLOOR = 2048
_BLOOM_SEED = 0x9E3779B1


def _bloom_oracle() -> str:
    from node_mongo2influx_spark.functions.phash import (
        fmix32_duckdb_inline,
        fnv1a32_duckdb_sql,
    )

    pos = (
        fmix32_duckdb_inline(f"(__h + i * {_BLOOM_SEED}) % 4294967296")
        + " % (SELECT m FROM geom)"
    )
    return f"""
        WITH fp AS (
            SELECT doc_id,
                   {_HEAD_FP_DUCKDB} AS fp,
                   {_DELTA_SPLIT_DUCKDB} AS is_delta
            FROM documents WHERE text IS NOT NULL
        ),
        base AS (SELECT DISTINCT fp FROM fp WHERE NOT is_delta),
        geom AS (
            SELECT greatest({_BLOOM_BITS_PER_KEY} * count(*),
                            {_BLOOM_FLOOR}) AS m
            FROM base
        ),
        bh AS (SELECT fp, {fnv1a32_duckdb_sql("fp")} AS __h FROM base),
        bloom AS (
            SELECT DISTINCT {pos} AS pos
            FROM bh, unnest([0, 1, 2, 3]) AS t(i)
        ),
        delta AS (SELECT doc_id, fp FROM fp WHERE is_delta),
        dh AS (SELECT doc_id, fp, {fnv1a32_duckdb_sql("fp")} AS __h
               FROM delta),
        dpos AS (
            SELECT doc_id, i, {pos} AS pos
            FROM dh, unnest([0, 1, 2, 3]) AS t(i)
        ),
        hits AS (
            SELECT d.doc_id,
                   CAST(sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_hit
            FROM dpos d LEFT JOIN bloom b ON b.pos = d.pos
            GROUP BY 1
        )
        SELECT h.doc_id,
               h.n_hit = {_BLOOM_K} AS bloom_hit,
               base.fp IS NOT NULL AS exact_dup,
               (base.fp IS NOT NULL AND h.n_hit <> {_BLOOM_K})
                   AS false_negative
        FROM hits h
        JOIN dh ON dh.doc_id = h.doc_id
        LEFT JOIN base ON base.fp = dh.fp
    """


@query(
    "dedup_incremental_bloom",
    oracle=_bloom_oracle(),
    description="The MEMBERSHIP sketch (completing the tier: HLL = "
    "distinct, histogram = quantiles, Count-Min = frequency, Bloom = "
    "membership): classify an arriving crawl batch against a 2^17-bit / "
    "4-hash Bloom filter of the base corpus's head fingerprints — the "
    "same fingerprint and delta split as dedup_incremental_delta, so "
    "the two faces compose. Geometry is DATA-SIZED: m = "
    "max(16*|base fps|, 2048) derived identically in both engines (one "
    "scalar count in Spark, a geom CTE in DuckDB), so fill (~0.22) and "
    "FP (~0.25%) are corpus-size invariants — a static m would saturate "
    "and mislabel every delta as dup at some growth factor. The filter "
    "is a DISTINCT set of fmix32-mixed "
    "FNV bit positions: exact integers, mergeable (set union; a "
    "streaming ingest appends per-batch position sets), and "
    "bit-identical across engines (FULL oracle). Exact membership rides "
    "along per delta doc, witnessing the one-sided guarantee in-row: "
    "false_negative must be false for EVERY row by construction "
    "(pytest-asserted), false positives are the measured εN. At 100 TB "
    "the delta never joins the base fingerprint TABLE — only the "
    "bit-position set (≤ m rows however large the base grows).",
)
def dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from node_mongo2influx_spark.functions.phash import (
        fmix32_spark_inline,
        fnv1a32_spark_sql,
    )

    # fp feeds base AND delta; base feeds the geometry count, the bloom
    # build AND the exact join — checkpoint both (CLAUDE.md consumed-≥2×
    # rule) so the corpus scan + md5 runs once and the base distinct
    # shuffle runs once (the count below materializes them).
    fp = (
        load(spark, sf_dir, "documents")
        # a no-text doc has no fingerprint — not dedup input on either
        # engine (NULL fp positions would diverge: SQL NULL=NULL join
        # semantics vs the filter's distinct position set)
        .where(F.col("text").isNotNull())
        .select(
            "doc_id",
            _head_fp_spark().alias("fp"),
            _delta_split_spark().alias("is_delta"),
        )
        .localCheckpoint(eager=False)
    )
    base = (
        fp.where(~F.col("is_delta"))
        .select("fp")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Data-sized geometry: ONE scalar count of the (checkpointed) base
    # fingerprint set — the same exact-integer m rule as the oracle's
    # geom CTE. The count doubles as the checkpoint materializer.
    geom = dedup.bloom_geometry(
        base.count(), bits_per_key=_BLOOM_BITS_PER_KEY, k=_BLOOM_K,
        floor=_BLOOM_FLOOR,
    )
    pos = F.expr(
        fmix32_spark_inline(f"(__h + i * {_BLOOM_SEED}) % 4294967296")
        + f" % {geom['m']}"
    )
    ks = F.array([F.lit(i) for i in range(_BLOOM_K)])
    bloom = (
        base.select(F.expr(fnv1a32_spark_sql("fp")).alias("__h"))
        .select("__h", F.explode(ks).alias("i"))
        .select(pos.alias("pos"))
        .distinct()
        .withColumn("__marked", F.lit(1))
    )
    delta = fp.where(F.col("is_delta")).select("doc_id", "fp")
    dpos = (
        delta.select(
            "doc_id", F.expr(fnv1a32_spark_sql("fp")).alias("__h")
        )
        .select("doc_id", F.explode(ks).alias("i"), "__h")
        .select("doc_id", pos.alias("pos"))
    )
    hits = (
        dpos.join(bloom, "pos", "left")
        .groupBy("doc_id")
        .agg(F.sum(F.coalesce(F.col("__marked"), F.lit(0))).alias("n_hit"))
    )
    exact = delta.join(
        base.withColumn("__in_base", F.lit(1)), "fp", "left"
    ).select("doc_id", F.col("__in_base").isNotNull().alias("exact_dup"))
    return hits.join(exact, "doc_id").select(
        "doc_id",
        (F.col("n_hit") == _BLOOM_K).alias("bloom_hit"),
        "exact_dup",
        (F.col("exact_dup") & (F.col("n_hit") != _BLOOM_K)).alias(
            "false_negative"
        ),
    )


@query(
    "cooccurrence_topk",
    oracle="""
        WITH d AS (
            SELECT string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ') AS w FROM documents
        ),
        i1 AS (
            SELECT w, unnest(range(1, len(w))) AS i
            FROM d WHERE len(w) >= 2
        ),
        i2 AS (
            SELECT w, unnest(range(1, len(w) - 1)) AS i
            FROM d WHERE len(w) >= 3
        ),
        p AS (
            SELECT least(w[CAST(i AS INT)], w[CAST(i + 1 AS INT)]) AS w1,
                   greatest(w[CAST(i AS INT)], w[CAST(i + 1 AS INT)]) AS w2
            FROM i1
            UNION ALL
            SELECT least(w[CAST(i AS INT)], w[CAST(i + 2 AS INT)]),
                   greatest(w[CAST(i AS INT)], w[CAST(i + 2 AS INT)])
            FROM i2
        )
        SELECT w1, w2, count(*) AS n
        FROM p GROUP BY w1, w2
        ORDER BY n DESC, w1, w2 LIMIT 50
    """,
    description="Word co-occurrence top-50 (skip-gram window ±2): the "
    "co-occurrence-matrix build behind GloVe-style embeddings and "
    "collocation mining. Pair generation is one nested JVM transform "
    "flattened per row (no self-join, no corpus window); the only "
    "shuffle is the map-side-combined pair count; the top-k is "
    "TakeOrderedAndProject. Pairs canonicalized (least, greatest).",
)
def cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.cooccurrence_pairs(
        load(spark, sf_dir, "documents"), text_col="text", max_dist=2, k=50
    )


@query(
    "doc_char_entropy",
    oracle="""
        WITH ch AS (
            -- unnest the split-by-empty char list (CODE POINTS in both
            -- engines, measured) instead of substr(text, i, 1) per
            -- position: DuckDB's substr walks from the string start on
            -- multibyte text, so the per-position spelling is O(len²)
            -- — minutes on a 3 MB unicode document (longdoc sweep, r9)
            SELECT doc_id, unnest(string_split(text, '')) AS ch
            FROM documents WHERE length(text) > 0
        ),
        cnt AS (
            SELECT doc_id, ch, count(*) AS c
            FROM ch GROUP BY doc_id, ch
        ),
        tot AS (
            SELECT doc_id, CAST(sum(c) AS DOUBLE) AS n,
                   sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) AS s
            FROM cnt GROUP BY doc_id
        )
        SELECT doc_id, round(log2(n) - s / n, 6) AS char_entropy
        FROM tot
    """,
    description="Character-level Shannon entropy per document (bits/char) "
    "— the cheap gibberish/filler signal. Spark side is a ZERO-SHUFFLE "
    "per-row fold over the sorted characters (same pattern as the "
    "repetition fold — no explode, no per-char groupBy, whole-stage "
    "codegen end to end); the oracle is the classic explode + histogram "
    "formulation, proving the fold computes the same quantity.",
)
def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.char_entropy(
        load(spark, sf_dir, "documents"), text_col="text", id_col="doc_id"
    )


@query(
    "pii_redaction_stats",
    oracle=r"""
        WITH t AS (
            SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com or call +1-555-'
                        || lpad(CAST((doc_id * 7919) % 10000 AS VARCHAR),
                                4, '0') AS text2
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text2,
                   '[a-z0-9]+@[a-z]+\.[a-z]+')) AS INT) AS n_email,
               CAST(len(regexp_extract_all(text2,
                   '\+1-555-[0-9]{4}')) AS INT) AS n_phone,
               md5(regexp_replace(regexp_replace(text2,
                   '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
                   '\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
        FROM t
    """,
    description="PII detect-and-redact: per-pattern match counts (email, "
    "phone) plus the redacted text's md5. The fixture corpus contains no "
    "PII, so the query first decorates each document with a DETERMINISTIC "
    "synthetic contact line derived from doc_id (same construction both "
    "engines) — the redaction machinery (regexp_count / chained "
    "regexp_replace, patterns written in the Java-regex ∩ RE2 subset) is "
    "the deliverable. All JVM codegen; DuckDB needs the explicit 'g' "
    "flag Spark applies implicitly.",
)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    decorated = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call +1-555-"),
        F.lpad(
            F.pmod(F.col("doc_id") * F.lit(7919), F.lit(10000)).cast(
                "string"
            ),
            4,
            "0",
        ),
    )
    return text.redact_pii(
        docs.withColumn("text2", decorated), text_col="text2", id_col="doc_id"
    )


@query(
    "knn_cosine_pq",
    oracle=None,  # approximate (trained codebooks); recall gate in tests
    description="ANN top-k via product quantization + asymmetric-distance "
    "search: vectors live as 16 sub-space code ids + an exact norm (16× "
    "smaller than the float vector — the storage-side scale path, "
    "complementing IVF's candidate-pruning path), the corpus scan reads "
    "ONLY codes and scores them against per-query lookup tables "
    "(Σ_j LUT[j, code_j]), each partition emits a local shortlist, and "
    "the exact vectors are touched solely for the shortlist rerank. "
    "Codebooks train like the IVF quantizer: deterministic hash-sample, "
    "one fused Arrow Lloyd kernel for all sub-spaces, model-sized driver "
    "state. Recall ≥0.7 vs brute force gated in tests/test_similarity.py "
    "(0.92 observed at the registered parameters).",
)
def knn_cosine_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return similarity.knn_cosine_pq(
        emb, emb.where("vec_id < 5"), id_col="vec_id", vec_col="embedding",
        k=10, m=16, n_codes=16, dim=64, shortlist=80,
    )


@query(
    "multimodal_mime_sniff",
    oracle="""
        SELECT doc_id,
               CASE doc_id % 6
                   WHEN 0 THEN 'image/png'
                   WHEN 1 THEN 'image/jpeg'
                   WHEN 2 THEN 'image/gif'
                   WHEN 3 THEN 'audio/x-wav'
                   WHEN 4 THEN 'application/pdf'
                   ELSE 'application/octet-stream'
               END AS sniffed_mime,
               CAST(CASE doc_id % 6
                   WHEN 0 THEN 12 WHEN 1 THEN 8 WHEN 2 THEN 10
                   WHEN 3 THEN 16 WHEN 4 THEN 12 ELSE 8
               END AS BIGINT) AS n_bytes
        FROM documents
    """,
    description="Magic-byte MIME sniffing over opaque binary payloads — "
    "the routing step for mixed multimodal columns (declared mimes lie; "
    "magic bytes don't). Pure Column byte compares on the first 16 bytes "
    "(hex-prefix equality, RIFF sniffed one level deeper for WAVE): runs "
    "in whole-stage codegen at scan speed, payload bytes never leave the "
    "JVM. The fixture has no binary column, so the query synthesizes one "
    "REAL container header per row (doc_id%6 cycles PNG/JPEG/GIF/WAV/PDF/"
    "garbage, each with a doc_id-dependent tail) and sniffs it back; the "
    "oracle states the expected type arithmetically, so a sniffing or "
    "construction bug mismatches. Hand-built spec headers are unit-tested "
    "in tests/test_multimodal.py.",
)
def multimodal_mime_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    tail = F.lpad(F.hex(did % F.lit(4294967296)), 8, "0")  # 4-byte tail
    kinds = [
        F.concat(F.lit("89504E470D0A1A0A"), tail),                # PNG, 12 B
        F.concat(F.lit("FFD8FFE0"), tail),                        # JPEG, 8 B
        F.concat(F.lit("474946383961"), tail),                    # GIF, 10 B
        F.concat(F.lit("52494646"), tail, F.lit("57415645"), tail),  # WAV, 16 B
        F.concat(F.lit("255044462D312E34"), tail),                # PDF, 12 B
        F.concat(F.lit("DEADBEEF"), tail),                        # junk, 8 B
    ]
    sel = F.when(did % 6 == 0, kinds[0])
    for i in range(1, len(kinds) - 1):
        sel = sel.when(did % 6 == i, kinds[i])
    sel = sel.otherwise(kinds[-1])
    payload = F.unhex(sel)
    return multimodal.sniff_mime(
        docs.select("doc_id", payload.alias("payload")), id_col="doc_id"
    )


@query(
    "doc_perplexity_bigram",
    oracle="""
        WITH d AS (
            SELECT doc_id, string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ') AS w
            FROM documents
        ),
        pos AS (
            SELECT doc_id, w, unnest(range(1, len(w))) AS i
            FROM d WHERE len(w) >= 2
        ),
        bg AS (
            SELECT doc_id, w[CAST(i AS INT)] AS w1,
                   w[CAST(i + 1 AS INT)] AS w2
            FROM pos
        ),
        B AS (SELECT w1, w2, count(*) AS bc FROM bg GROUP BY w1, w2),
        uni AS (SELECT unnest(w) AS w1 FROM d),
        U AS (SELECT w1, count(*) AS uc FROM uni GROUP BY w1),
        V AS (SELECT count(*) AS v FROM U),
        terms AS (
            SELECT bg.doc_id,
                   log2(CAST(B.bc + 1 AS DOUBLE)
                        / CAST(U.uc + V.v AS DOUBLE)) AS t
            FROM bg JOIN B USING (w1, w2) JOIN U USING (w1) CROSS JOIN V
        )
        SELECT doc_id,
               count(*) AS n_bigrams,
               round(-avg(t), 4) AS bits_per_word,
               round(pow(2.0, -avg(t)), 2) AS perplexity
        FROM terms GROUP BY doc_id
    """,
    description="Per-document bigram LM perplexity against the corpus's "
    "own add-one bigram model — the CCNet/KenLM quality-filter shape made "
    "closed-form (and so fully oracle-checkable): high perplexity = "
    "gibberish, low = boilerplate. Two map-side-combined corpus count "
    "aggregations + a 1-row vocabulary aggregate broadcast to the scoring "
    "join (bounded — the hint gate's global-aggregate rule); per-doc "
    "reduction over joined counts. N-gram join keys become xxhash64 at "
    "100 TB as in the contamination audit.",
)
def doc_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bigram_lm_scores(
        load(spark, sf_dir, "documents"), text_col="text", id_col="doc_id"
    )


@query(
    "knn_cosine_ivfpq",
    oracle=None,  # approximate (trained index); recall gate in tests
    description="ANN top-k via composed IVF + PQ — the FAISS-style IVFPQ "
    "index on Spark, combining both scale levers at once: IVF prunes "
    "CANDIDATES (each query scores only its n_probe nearest cells' rows) "
    "while PQ shrinks STORAGE (those rows are read as residual codes + "
    "norm, 16× smaller; the coarse centroid carries the bulk of the "
    "vector so the code budget describes only the residual). Asymmetric "
    "scoring dot(q,centroid)+ΣLUT[code], exact rerank on the shortlist "
    "only. One fused Arrow pass assigns cells AND encodes residuals; "
    "driver state is centroids + codebooks + per-query LUTs — "
    "model-sized. Recall ≥0.7 gated in tests (0.83 observed).",
)
def knn_cosine_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return similarity.knn_cosine_ivfpq(
        emb, emb.where("vec_id < 5"), id_col="vec_id", vec_col="embedding",
        k=10, n_cells=16, n_probe=8, m=16, n_codes=16, dim=64, shortlist=80,
    )


@query(
    "knn_cosine_ivfpq_batch",
    oracle=None,  # approximate (trained index); recall gate in tests
    description="IVFPQ top-k for a LARGE query batch — the fully "
    "distributed twin of knn_cosine_ivfpq (VERDICT r5 #2). The per-query "
    "paths collect query vectors to the driver to build ADC LUTs; here "
    "queries stay a DataFrame end-to-end: an Arrow kernel assigns each "
    "query its n_probe cells, the encoded corpus COGROUPS with that "
    "probe table on cell (one applyInPandas per cell builds LUTs for "
    "just its probing queries and scores the cell's codes as one numpy "
    "gather), a rank window trims to the shortlist, and the exact "
    "rerank hash-joins the query side (no broadcast — the batch may be "
    "huge). Wall ~flat in query count (scale probe ivfpq_batch_qcount); "
    "recall gated in tests/test_similarity.py.",
)
def knn_cosine_ivfpq_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return similarity.knn_cosine_ivfpq_batch(
        emb, emb.where("vec_id < 50"), id_col="vec_id", vec_col="embedding",
        k=10, n_cells=16, n_probe=8, m=16, n_codes=16, dim=64, shortlist=80,
    )


# ---------------------------------------------------------------------------
# Round 4 (second half): mixture weighting, quota sampling, batching stats
# ---------------------------------------------------------------------------
_R6 = "floor(({expr}) * 1000000.0 + 0.5) / 1000000.0"


@query(
    "domain_mixture_weights",
    oracle=f"""
        WITH per AS (
            SELECT source,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS w_total
            FROM documents GROUP BY source
        ),
        tot AS (
            SELECT sum(power(CAST(w_total AS DOUBLE), 0.7)) AS wsum,
                   CAST(sum(w_total) AS DOUBLE) AS tsum
            FROM per
        )
        SELECT source, n_docs, w_total,
               {_R6.format(expr="CAST(w_total AS DOUBLE) / tsum")} AS p_natural,
               {_R6.format(expr="power(CAST(w_total AS DOUBLE), 0.7) / wsum")} AS p_mixture,
               {_R6.format(expr="(power(CAST(w_total AS DOUBLE), 0.7) / wsum)"
                                " / (CAST(w_total AS DOUBLE) / tsum)")} AS boost
        FROM per, tot
    """,
    description="Temperature-scaled domain mixture weights (alpha=0.7): "
    "p_i = c_i^a / sum c_j^a flattens the source distribution for "
    "training blends; boost = mixture/natural share. One map-side-"
    "combined aggregate over the corpus + a broadcast 1-row reduce.",
)
def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.domain_mixture_weights(
        load(spark, sf_dir, "documents"), group_col="source",
        weight_col="n_chars", alpha=0.7,
    )


def _quota_oracle() -> str:
    from node_mongo2influx_spark.functions.phash import fnv1a32_duckdb_sql

    h = fnv1a32_duckdb_sql("concat(CAST(doc_id AS VARCHAR), ':quota-v1')")
    return f"""
        WITH ranked AS (
            SELECT doc_id, source,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY {h}, doc_id
                   ) AS sample_rank
            FROM documents
        )
        SELECT doc_id, source, sample_rank
        FROM ranked WHERE sample_rank <= 15
    """


@query(
    "quota_sample_per_source",
    oracle=_quota_oracle(),
    description="Per-domain quota sampling: cap each source at 15 docs "
    "chosen by portable-FNV hash rank — deterministic, engine-replayable, "
    "stable under re-runs; one window shuffle partitioned by source.",
)
def quota_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.quota_sample(
        load(spark, sf_dir, "documents"), group_col="source",
        id_col="doc_id", cap=15, salt="quota-v1",
    )


def _aes_oracle(k: int = 100, salt: str = "aes-v1") -> str:
    from node_mongo2influx_spark.functions.phash import fnv1a32_duckdb_sql

    h = fnv1a32_duckdb_sql(f"concat(CAST(doc_id AS VARCHAR), ':{salt}')")
    return f"""
        WITH t AS (
            SELECT doc_id, n_chars,
                   (CAST({h} AS DOUBLE) + 1) / 4294967296 AS u
            FROM documents WHERE n_chars > 0
        )
        SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
               floor(ln(u) / n_chars * 1e9 + 0.5) / 1e9 AS sample_key
        FROM t
        ORDER BY ln(u) / n_chars DESC, doc_id
        LIMIT {k}
    """


@query(
    "weighted_sample_aes",
    oracle=_aes_oracle(),
    description="Weighted sampling without replacement (Efraimidis-"
    "Spirakis A-ES): each doc draws u from a salted portable-FNV hash "
    "(deterministic, engine-replayable) and competes on key = ln(u)/w "
    "with w = doc length — the top-k IS a weighted sample, so one "
    "TakeOrderedAndProject replaces any sequential pass. The standard "
    "way to sample training docs proportional to a quality/length "
    "weight at 100 TB: distributed top-k over a scan, no global sort, "
    "no state, reproducible across engines and re-runs.",
)
def weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from node_mongo2influx_spark.functions.phash import fnv1a32_spark_sql

    h = fnv1a32_spark_sql("concat(CAST(doc_id AS STRING), ':aes-v1')")
    docs = load(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    u = (F.expr(h) + 1).cast("double") / F.lit(float(1 << 32))
    key = F.log(u) / F.col("n_chars")
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("weight"),
            key.alias("__key"),
        )
        .orderBy(F.col("__key").desc(), "doc_id")
        .limit(100)
        .select(
            "doc_id",
            "weight",
            (F.floor(F.col("__key") * 1e9 + F.lit(0.5)) / 1e9).alias(
                "sample_key"
            ),
        )
    )


@query(
    "length_bucket_padding_stats",
    oracle=f"""
        WITH docs AS (
            SELECT (floor((len(string_split(text, ' ')) - 1) / 64) + 1) * 64
                       AS bucket_cap,
                   len(string_split(text, ' ')) AS toks
            FROM documents
            WHERE len(string_split(text, ' ')) > 0
        ),
        per AS (
            SELECT bucket_cap, count(*) AS n_docs,
                   CAST(sum(toks) AS BIGINT) AS token_sum
            FROM docs GROUP BY bucket_cap
        ),
        g AS (SELECT max(bucket_cap) AS max_cap FROM per)
        SELECT CAST(bucket_cap AS BIGINT) AS bucket_cap, n_docs, token_sum,
               CAST(n_docs * bucket_cap AS BIGINT) AS padded_sum,
               {_R6.format(expr="1.0 - CAST(token_sum AS DOUBLE) / (n_docs * bucket_cap)")} AS pad_frac,
               {_R6.format(expr="1.0 - CAST(token_sum AS DOUBLE) / (n_docs * max_cap)")} AS pad_frac_global
        FROM per, g
    """,
    description="Length-bucketed batching padding-waste accounting: docs "
    "pad to the next 64-token bucket cap; per-bucket waste vs the pad-to-"
    "global-max strawman. Map-side-combined aggregate + 1-row max "
    "broadcast.",
)
def length_bucket_padding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.length_bucket_padding(
        load(spark, sf_dir, "documents"), text_col="text",
        id_col="doc_id", bucket=64,
    )


@query(
    "word_subsample_weights",
    oracle=f"""
        WITH words AS (
            SELECT unnest(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS word
            FROM documents
        ),
        counts AS (SELECT word, count(*) AS cnt FROM words GROUP BY word),
        tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM counts)
        SELECT word, cnt,
               {_R6.format(expr="CAST(cnt AS DOUBLE) / total")} AS freq,
               {_R6.format(expr="least(1.0, (sqrt((CAST(cnt AS DOUBLE) / total) / 0.001) + 1.0)"
                                " * (0.001 / (CAST(cnt AS DOUBLE) / total)))")} AS p_keep
        FROM counts, tot
        ORDER BY cnt DESC, word
        LIMIT 50
    """,
    description="word2vec-style frequency subsampling weights: "
    "p_keep = min(1, (sqrt(f/t)+1)*t/f), t=1e-3 — downsample the head, "
    "keep the tail. Explode + vocab-width aggregate + top-k "
    "(TakeOrderedAndProject).",
)
def word_subsample_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.word_subsample_weights(
        load(spark, sf_dir, "documents"), text_col="text", t=1e-3, top_n=50,
    )


_BM25_TERMS = ("join", "window", "hash")


def _bm25_oracle(terms=_BM25_TERMS, k1=1.2, b=0.75, top_n=20) -> str:
    tf_cols = ",\n                   ".join(
        f"len(list_filter(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), w -> w = '{t}'))"
        f" AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n                   ".join(
        f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df_{i}"
        for i in range(len(terms))
    )
    score = " + ".join(
        f"(ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
        f" * (CAST(tf_{i} AS DOUBLE) * ({k1} + 1.0))"
        f" / (CAST(tf_{i} AS DOUBLE) + {k1} * (1.0 - {b} + {b} * dl / avgdl)))"
        for i in range(len(terms))
    )
    return f"""
        WITH docs AS (
            SELECT doc_id,
                   len(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS dl,
                   {tf_cols}
            FROM documents
        ),
        stats AS (
            SELECT count(*) AS n_docs, avg(dl) AS avgdl,
                   {df_cols}
            FROM docs
        ),
        scored AS (
            SELECT doc_id, dl,
                   {_R6.format(expr=score)} AS bm25
            FROM docs, stats
        )
        SELECT doc_id, CAST(dl AS BIGINT) AS dl, bm25
        FROM scored WHERE bm25 > 0
        ORDER BY bm25 DESC, doc_id
        LIMIT {top_n}
    """


@query(
    "bm25_keyword_topk",
    oracle=_bm25_oracle(),
    description="Okapi BM25 lexical retrieval (Lucene idf variant) for a "
    "fixed 3-term query — the keyword-search counterpart to the ANN tier. "
    "For a fixed query no inverted index is needed: one map-side-combined "
    "pass reduces the corpus to a 1-row stats record (N, avgdl, per-term "
    "df) broadcast over a scoring scan + TakeOrderedAndProject; per-term "
    "tf is a codegen filter-count, no explode, no vocabulary shuffle.",
)
def bm25_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bm25_topk(
        load(spark, sf_dir, "documents"), terms=_BM25_TERMS,
        text_col="text", id_col="doc_id", k1=1.2, b=0.75, top_n=20,
    )


_BM25_QUERIES = {
    0: ("join", "window", "hash"),
    1: ("stream", "merge", "sort"),
    2: ("data", "query", "fast", "scan"),
}


def _bm25_multi_oracle(queries=_BM25_QUERIES, k1=1.2, b=0.75, top_n=10) -> str:
    vals = ", ".join(
        f"({qid}, '{t}')" for qid, ts in sorted(queries.items()) for t in ts
    )
    vocab = ", ".join(
        f"'{t}'" for t in sorted({t for ts in queries.values() for t in ts})
    )
    contrib = (
        f"ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)"
        f" * (CAST(tf AS DOUBLE) * ({k1} + 1.0))"
        f" / (CAST(tf AS DOUBLE) + {k1} * (1.0 - {b} + {b} * dl / avgdl))"
    )
    return f"""
        WITH q(query_id, w) AS (VALUES {vals}),
        base AS (
            SELECT doc_id, string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ') AS ws FROM documents
        ),
        sized AS (SELECT doc_id, len(ws) AS dl, ws FROM base),
        stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl
                  FROM sized),
        postings AS (
            SELECT doc_id, dl, w, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, dl, unnest(ws) AS w FROM sized)
            WHERE w IN ({vocab})
            GROUP BY doc_id, dl, w
        ),
        dfreq AS (
            SELECT w, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY w
        ),
        contrib AS (
            SELECT q.query_id, p.doc_id,
                   CAST(floor(({contrib}) * 1e9 + 0.5) AS BIGINT) AS nanos
            FROM postings p
            JOIN q ON p.w = q.w
            JOIN dfreq ON dfreq.w = p.w, stats
        ),
        scored AS (
            SELECT query_id, doc_id, CAST(sum(nanos) AS BIGINT) AS nanos
            FROM contrib GROUP BY query_id, doc_id
        ),
        ranked AS (
            SELECT query_id, doc_id, nanos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY nanos DESC, doc_id) AS rk
            FROM scored
        )
        SELECT CAST(query_id AS INTEGER) AS query_id, doc_id,
               CAST(rk AS INTEGER) AS rank,
               floor(CAST(nanos AS DOUBLE) / 1e3 + 0.5) / 1e6 AS bm25
        FROM ranked WHERE rk <= {top_n}
        ORDER BY query_id, rank
    """


@query(
    "bm25_multi_query_topk",
    oracle=_bm25_multi_oracle(),
    description="Okapi BM25 top-10 per query for a BATCH of queries via a "
    "real inverted index: the corpus explodes once into postings "
    "restricted to the query vocabulary (filter before the (doc, term) "
    "shuffle), per-term df is a second tiny aggregate, query terms + df "
    "broadcast onto the postings, and per-(query, doc) scores sum EXACT "
    "INTEGER nano-units so the reassociated distributed sum hash-matches "
    "the sequential oracle. The scale path bm25_keyword_topk's fixed-"
    "query shortcut (one tf column per term) cannot take when the term "
    "set is thousands of queries wide.",
)
def bm25_multi_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bm25_multi_topk(
        load(spark, sf_dir, "documents"), queries=_BM25_QUERIES,
        text_col="text", id_col="doc_id", k1=1.2, b=0.75, top_n=10,
    )


@query(
    "sft_render_truncate",
    oracle="""
        WITH base AS (
            SELECT doc_id, string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ') AS ws FROM documents
        ),
        split AS (
            SELECT doc_id, len(ws) AS n,
                   CAST(floor((len(ws) + 1) / 2) AS INTEGER) AS np, ws
            FROM base
        ),
        parts AS (
            SELECT doc_id, n, np,
                   ws[1:np] AS prompt,
                   ws[np+1:n] AS resp
            FROM split
        ),
        cut AS (
            SELECT doc_id, n, prompt, resp,
                   resp[1:least(len(resp), 48)] AS kept
            FROM parts
        ),
        rend AS (
            -- DuckDB array_to_string([]) is NULL (string_agg over zero
            -- elements) where Spark array_join([]) is '' — a 1-word
            -- document has an EMPTY truncated response and rendered
            -- NULL through the whole concat (longdoc sweep, round 9);
            -- coalesce pins the Spark semantics, the CASE keeps
            -- NULL-text rows NULL
            SELECT doc_id, n, prompt, resp, kept,
                   CASE WHEN prompt IS NULL OR kept IS NULL THEN NULL
                        ELSE '<|user|>' || chr(10)
                             || coalesce(array_to_string(prompt, ' '), '')
                             || chr(10) || '<|assistant|>' || chr(10)
                             || coalesce(array_to_string(kept, ' '), '')
                             || '<|end|>'
                   END AS rendered
            FROM cut
        )
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_words,
               CAST(len(prompt) AS BIGINT) AS n_prompt_words,
               CAST(len(resp) AS BIGINT) AS n_response_words,
               CAST(len(kept) AS BIGINT) AS n_response_kept,
               len(resp) > 48 AS truncated,
               CAST(length(rendered) AS BIGINT) AS n_chars_rendered,
               md5(rendered) AS rendered_md5
        FROM rend
    """,
    description="SFT chat-template rendering with a response budget: each "
    "document splits at its word midpoint into a synthetic prompt/response "
    "pair, the response truncates to 48 words, and the pair renders as "
    "<|user|>/<|assistant|>/<|end|>-tagged training text — the formatting "
    "step between a cleaned corpus and packed batches. Output is the "
    "rendered text's md5 + length plus the token accounting "
    "(prompt/response/kept counts, truncation flag). Pure Column ops, "
    "zero shuffles, renders at scan speed.",
)
def sft_render_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.sft_render(
        load(spark, sf_dir, "documents"),
        text_col="text", id_col="doc_id", response_budget=48,
    )


@query(
    "sft_pack_plan",
    oracle="""
        WITH base AS (
            SELECT doc_id, len(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS n
            FROM documents WHERE text IS NOT NULL
        ),
        acct AS (
            SELECT doc_id, doc_id % 16 AS bucket,
                   CAST(floor((n + 1) / 2) AS BIGINT) AS n_prompt,
                   CAST(least(n - floor((n + 1) / 2), 48) AS BIGINT) AS n_kept,
                   CAST(floor((n + 1) / 2)
                        + least(n - floor((n + 1) / 2), 48) + 4 AS BIGINT)
                       AS n_tokens
            FROM base
        ),
        c AS (
            SELECT doc_id, bucket, n_prompt, n_kept, n_tokens,
                   CAST(sum(n_tokens) OVER (
                       PARTITION BY bucket ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum
            FROM acct
        )
        SELECT doc_id, bucket,
               CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS bin,
               n_tokens,
               CAST(n_prompt + 4 AS BIGINT) AS n_masked,
               n_kept AS n_trained,
               CAST(cum - n_tokens AS BIGINT) AS start_offset
        FROM c
    """,
    description="Loss-mask-aware SFT packing plan: each rendered chat "
    "example (prompt + budget-truncated response + 4 template special "
    "tokens) is packed into 512-token bins by the bucketed "
    "concatenate-and-chop layout, and every row carries the trainer's "
    "loss accounting — masked tokens (prompt + specials, loss off) vs "
    "trained tokens (response). The composition sft_render → "
    "pack_sequences: token accounting from the render, bin layout from "
    "the bucketed prefix-sum window (n_buckets-way parallel, no global "
    "sort).",
)
def sft_pack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    rendered = text.sft_render(
        load(spark, sf_dir, "documents").where(F.col("text").isNotNull()),
        text_col="text", id_col="doc_id", response_budget=48,
    ).select(
        "doc_id",
        F.col("n_prompt_words").alias("n_prompt"),
        F.col("n_response_kept").alias("n_kept"),
        (
            F.col("n_prompt_words") + F.col("n_response_kept") + F.lit(4)
        ).alias("n_tokens"),
    )
    packed = sampling.pack_sequences(
        rendered.select("doc_id", "n_tokens"),
        id_col="doc_id", ctx_len=512, n_buckets=16,
    )
    return packed.join(
        rendered.select("doc_id", "n_prompt", "n_kept"), "doc_id"
    ).select(
        "doc_id",
        "bucket",
        "bin",
        "n_tokens",
        (F.col("n_prompt") + 4).alias("n_masked"),
        F.col("n_kept").alias("n_trained"),
        "start_offset",
    )


def _cdc_oracle(window: int = 4, divisor: int = 64) -> str:
    from node_mongo2influx_spark.operators.dedup import _cdc_hash_nested

    parts = [f"cs[i - {window - 1 - j}]" for j in range(window)]
    h = _cdc_hash_nested(parts).replace("XOR", "xor")
    return f"""
        WITH base AS (
            SELECT doc_id, text, length(text) AS n,
                   list_transform(string_split(text, ''), c -> ascii(c)) AS cs
            FROM documents
        ),
        bounded AS (
            SELECT doc_id, text, n,
                   list_filter(
                       list_transform(generate_series({window}, n),
                           i -> CASE WHEN ({h}) % {divisor} = 0 AND i < n
                                THEN i ELSE -1 END),
                       x -> x > 0) AS bounds
            FROM base
        ),
        bnd AS (SELECT doc_id, unnest(bounds) AS b FROM bounded),
        chars AS (
            -- fully ROW-based chunk text (longdoc sweep, round 10): the
            -- old md5(substr(text, starts[i], ...)) walked from the
            -- string head per chunk — O(len²/chunk_size), a multi-hour
            -- single-thread grind on one 10 MB document (and Spark's
            -- UTF8String.substring has the identical cost shape; its
            -- side now slices the materialized char array). Zipped
            -- unnests give (char, position) rows; a char's chunk number
            -- is 1 + the running count of boundaries before it; ordered
            -- string_agg rebuilds each chunk exactly.
            SELECT doc_id,
                   unnest(string_split(text, '')) AS c,
                   unnest(generate_series(1, len(string_split(text, ''))))
                       AS p
            FROM base WHERE text IS NOT NULL
        ),
        numbered AS (
            SELECT ch.doc_id, ch.c, ch.p,
                   1 + sum(CASE WHEN bnd.b IS NULL THEN 0 ELSE 1 END)
                       OVER (PARTITION BY ch.doc_id ORDER BY ch.p
                             ROWS UNBOUNDED PRECEDING) AS chunk_no
            FROM chars ch
            LEFT JOIN bnd ON bnd.doc_id = ch.doc_id AND bnd.b + 1 = ch.p
        )
        SELECT doc_id,
               CAST(chunk_no AS INTEGER) AS chunk_no,
               CAST(min(p) AS BIGINT) AS chunk_start,
               -- sum(length(c)) == the span length, and the empty-doc
               -- padding row (string_split('','') = ['']) contributes 0
               CAST(sum(length(c)) AS BIGINT) AS chunk_len,
               md5(string_agg(c, '' ORDER BY p)) AS chunk_md5
        FROM numbered GROUP BY doc_id, chunk_no
        UNION ALL
        -- a NULL-text document yields exactly one all-NULL chunk row on
        -- the Spark side (slice(NULL)/length(NULL) propagate) — mirror it
        SELECT doc_id, 1 AS chunk_no, CAST(1 AS BIGINT) AS chunk_start,
               CAST(NULL AS BIGINT) AS chunk_len,
               CAST(NULL AS VARCHAR) AS chunk_md5
        FROM base WHERE text IS NULL
    """


@query(
    "cdc_chunking",
    oracle=_cdc_oracle(),
    description="Content-defined chunking (FastCDC/rsync family): split "
    "where a rolling 4-char FNV hits h%64==0, so an edit shifts at most "
    "one chunk boundary instead of every later chunk. Rolling hash via "
    "the zip-of-shifted-slices pattern — zero shuffles, chunks at scan "
    "speed; output is narrow spans + md5 fingerprints ready for "
    "chunk-level dedup.",
)
def cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.cdc_chunks(
        load(spark, sf_dir, "documents"), text_col="text", id_col="doc_id",
        window=4, divisor=64,
    )


@query(
    "embedding_gram_matrix",
    oracle=f"""
        SELECT CAST(t.i AS BIGINT) AS i, CAST(u.j AS BIGINT) AS j,
               {_R6.format(expr="sum(CAST(embedding[t.i + 1] AS DOUBLE)"
                                " * CAST(embedding[u.j + 1] AS DOUBLE))")} AS gram
        FROM embeddings,
             unnest(generate_series(0, 15)) AS t(i),
             unnest(generate_series(0, 15)) AS u(j)
        WHERE u.j >= t.i AND {_BVEC}
        GROUP BY t.i, u.j
    """,
    description="Distributed Gram matrix (upper triangle of X^T X over "
    "the first 16 dims): each row contributes its d(d+1)/2 products "
    "per-row, one map-side-combined aggregate reduces the corpus to d^2 "
    "numbers — the PCA/whitening/covariance building block where only "
    "(i, j, partial sum) triples ever move.",
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.gram_matrix(
        load(spark, sf_dir, "embeddings"), vec_col="embedding", dims=16,
    )


def _jl_oracle(in_dim: int = 64, out_dim: int = 8) -> str:
    signs = similarity.jl_sign_matrix(in_dim, out_dim)
    cols = []
    for j in range(out_dim):
        lit = "[" + ", ".join(f"{s:.1f}" for s in signs[j]) + "]"
        fold = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(generate_series(1, {in_dim}), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ({lit})[i])), "
            "(a, v) -> a + v)"
        )
        cols.append(
            f"floor(({fold}) / sqrt(CAST({out_dim} AS DOUBLE)) "
            f"* 1000000.0 + 0.5) / 1000000.0 AS p{j}"
        )
    sep = ",\n               ".join(cols)
    return (
        f"SELECT vec_id,\n               {sep}\n        FROM embeddings"
        f"\n        WHERE {_BVEC}"
    )


@query(
    "random_projection_jl",
    oracle=_jl_oracle(),
    description="Johnson-Lindenstrauss projection to 8 dims via a "
    "DERIVED ±1 sign matrix (integer parity — no side table, no "
    "broadcast, no runtime randomness). Per-row left-fold zip_with sums "
    "are bit-identical across engines; zero shuffles, scan-speed "
    "dimensionality reduction ahead of ANN/clustering.",
)
def random_projection_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.random_project(
        load(spark, sf_dir, "embeddings"), vec_col="embedding",
        id_col="vec_id", in_dim=64, out_dim=8,
    )


@query(
    "semantic_dedup_ivf",
    oracle=None,  # approximate candidate tier; precision/recall gated in tests
    description="SemDeDup: semantic near-dup removal over embeddings — "
    "IVF-cell candidate pairs (exact-cosine verified edges), pointer-"
    "jumping components, broadcast anti-join drop list. Missed candidates "
    "only split components, so every drop is exact-justified (precision "
    "1 structurally; recall vs the all-pairs drop set gated ≥0.7 in "
    "tests/test_similarity.py).",
)
def semantic_dedup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.4,
        n_cells=16, n_assign=3, dim=64,
    ).select("vec_id", "label")


@query(
    "cdc_shared_chunks",
    oracle=f"""
        WITH chunks AS (
            {_cdc_oracle().strip()}
        ),
        per_doc AS (
            SELECT chunk_md5, doc_id, count(*) AS cnt
            FROM chunks
            WHERE chunk_len >= 16
            GROUP BY chunk_md5, doc_id
        )
        SELECT chunk_md5,
               CAST(sum(cnt) AS BIGINT) AS n_occurrences,
               count(*) AS n_docs,
               min(doc_id) AS first_doc
        FROM per_doc
        GROUP BY chunk_md5
        HAVING count(*) > 1
    """,
    description="Chunk-level storage dedup over the CDC chunk table: "
    "fingerprints appearing in >1 document = shared content spans "
    "(boilerplate, quotes, mirrors) detectable WITHOUT any pairwise "
    "comparison — GROUP BY fingerprint is O(n). Pre-aggregated per "
    "(chunk, doc) first: a distinct-count mixed into the same groupBy "
    "would plan an Expand and double the shuffle.",
)
def cdc_shared_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = dedup.cdc_chunks(
        load(spark, sf_dir, "documents"), text_col="text", id_col="doc_id",
        window=4, divisor=64,
    )
    per_doc = (
        chunks.where(F.col("chunk_len") >= 16)
        .groupBy("chunk_md5", "doc_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        per_doc.groupBy("chunk_md5")
        .agg(
            F.sum("cnt").alias("n_occurrences"),
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("n_docs") > 1)
    )


@query(
    "gopher_quality_flags",
    oracle=f"""
        WITH feats AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_words,
                   CAST(length(text) - (len(string_split(text, ' ')) - 1)
                        AS DOUBLE)
                       / len(string_split(text, ' ')) AS mwl,
                   len(list_filter(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '),
                       w -> w IN ('the','a','of','to','and','in','is','it')))
                       AS stop_hits,
                   CAST(length(regexp_replace(text, '[a-zA-Z ]', '', 'g'))
                        AS DOUBLE) / length(text) AS symr
            FROM documents
            WHERE length(text) > 0
        )
        SELECT doc_id, n_words,
               {_R6.format(expr="mwl")} AS mean_word_len,
               stop_hits,
               {_R6.format(expr="symr")} AS symbol_ratio,
               (n_words BETWEEN 50 AND 100000) AS flag_word_count,
               (mwl BETWEEN 3.0 AND 10.0) AS flag_mean_word_len,
               (stop_hits >= 2) AS flag_stopwords,
               (symr <= 0.1) AS flag_symbol_ratio,
               ((n_words BETWEEN 50 AND 100000)
                AND (mwl BETWEEN 3.0 AND 10.0)
                AND (stop_hits >= 2)
                AND (symr <= 0.1)) AS passes
        FROM feats
    """,
    description="Gopher-style quality rule screen: word-count bounds, "
    "mean word length in [3,10], ≥2 stopword hits, symbol ratio ≤ 0.1 — "
    "each rule surfaced as its own flag plus the conjunction, so "
    "downstream mixes can re-threshold without recompute. Pure Column "
    "exprs, scan-speed, zero shuffles.",
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    text_col, id_col = "text", "doc_id"
    df = load(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.col(text_col), " "))
    mwl = (
        (F.length(text_col) - (n_words - 1)).cast("double")
        / n_words
    )
    stop_hits = F.expr(
        "size(filter(split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), "
        "w -> w IN ('the','a','of','to','and','in','is','it')))"
    )
    symr = (
        (F.length(text_col)
         - F.length(F.regexp_replace(F.col(text_col), "[^a-zA-Z ]", ""))
         ).cast("double") / F.length(text_col)
    )

    def _r6(c):
        return F.floor(c * 1000000.0 + F.lit(0.5)) / 1000000.0

    f_wc = (n_words >= 50) & (n_words <= 100000)
    f_mwl = (mwl >= 3.0) & (mwl <= 10.0)
    f_stop = stop_hits >= 2
    f_sym = symr <= 0.1
    return df.where(F.length(text_col) > 0).select(
        F.col(id_col),
        n_words.alias("n_words"),
        _r6(mwl).alias("mean_word_len"),
        stop_hits.alias("stop_hits"),
        _r6(symr).alias("symbol_ratio"),
        f_wc.alias("flag_word_count"),
        f_mwl.alias("flag_mean_word_len"),
        f_stop.alias("flag_stopwords"),
        f_sym.alias("flag_symbol_ratio"),
        (f_wc & f_mwl & f_stop & f_sym).alias("passes"),
    )


@query(
    "cooccurrence_pmi",
    oracle=f"""
        WITH d AS (
            SELECT string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ') AS w FROM documents
        ),
        i1 AS (
            SELECT w, unnest(range(1, len(w))) AS i
            FROM d WHERE len(w) >= 2
        ),
        i2 AS (
            SELECT w, unnest(range(1, len(w) - 1)) AS i
            FROM d WHERE len(w) >= 3
        ),
        p AS (
            SELECT least(w[CAST(i AS INT)], w[CAST(i + 1 AS INT)]) AS w1,
                   greatest(w[CAST(i AS INT)], w[CAST(i + 1 AS INT)]) AS w2
            FROM i1
            UNION ALL
            SELECT least(w[CAST(i AS INT)], w[CAST(i + 2 AS INT)]),
                   greatest(w[CAST(i AS INT)], w[CAST(i + 2 AS INT)])
            FROM i2
        ),
        pc AS (
            SELECT w1, w2, count(*) AS n_pair
            FROM p GROUP BY w1, w2 HAVING count(*) >= 5
        ),
        uc AS (
            SELECT unnest(w) AS wd FROM d
        ),
        ucc AS (SELECT wd, count(*) AS cw FROM uc GROUP BY wd),
        tp AS (SELECT CAST(sum(n_pair) AS DOUBLE) AS tp FROM pc),
        tw AS (SELECT CAST(sum(cw) AS DOUBLE) AS tw FROM ucc)
        SELECT pc.w1, pc.w2,
               CAST(pc.n_pair AS BIGINT) AS n_pair,
               CAST(u1.cw AS BIGINT) AS c1,
               CAST(u2.cw AS BIGINT) AS c2,
               {_R6.format(expr="ln((CAST(n_pair AS DOUBLE) / tp)"
                                " / ((CAST(u1.cw AS DOUBLE) / tw)"
                                " * (CAST(u2.cw AS DOUBLE) / tw)))")} AS pmi
        FROM pc
        JOIN ucc u1 ON u1.wd = pc.w1
        JOIN ucc u2 ON u2.wd = pc.w2, tp, tw
        ORDER BY pmi DESC, w1, w2
        LIMIT 30
    """,
    description="PMI collocation mining over the skip-gram (±2) "
    "co-occurrence matrix: ln(p(a,b)/(p(a)p(b))) separates associated "
    "pairs from merely-frequent pairs. Pair keys generated by the "
    "zip-of-shifted-slices pattern; vocab joins unhinted (tfidf rule); "
    "two 1-row totals broadcast; top-k by PMI.",
)
def cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.cooccurrence_pmi(
        load(spark, sf_dir, "documents"), text_col="text", max_dist=2,
        min_count=5, k=30,
    )


_PCA_DIMS = 16
#: 6 iterations with G⁸ (three in-engine squarings) = 48 power steps + the
#: final G multiply — same step count as 12×G⁴, at half the chained-select
#: analysis cost (the probe's wall is plan compilation, not data).
_PCA_ITERS = 6


def _pca_mv_duckdb(mat: str) -> str:
    d = _PCA_DIMS
    return (
        f"list_transform(range(0, {d}), i -> "
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(0, {d}), j -> {mat}[i * {d} + j + 1] * v[j + 1])), "
        "(a, t) -> a + t))"
    )


def _pca_sq_duckdb(mat: str) -> str:
    d = _PCA_DIMS
    return (
        f"list_transform(range(0, {d * d}), p -> "
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(0, {d}), k -> "
        f"{mat}[(p // {d}) * {d} + k + 1] * {mat}[k * {d} + (p % {d}) + 1])), "
        "(a, t) -> a + t))"
    )


_PCA_NRM_DUCK = (
    "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(w, x -> x * x)), (a, t) -> a + t))"
)


#: Milli-unit vector quantization shared by the power-iteration CTEs and
#: the frozen projection (both engines see the same exact integers).
_PCA_Q_DUCK = (
    f"list_transform(embedding[1:{_PCA_DIMS}], "
    "x -> CAST(floor(CAST(x AS DOUBLE) * 1e3 + 5e-1) AS BIGINT))"
)


def _pca_power_ctes() -> str:
    """The shared WITH-body: quantize -> exact-integer Gram -> unrolled
    power iteration, ending at ``finv(w, v)`` — the bit-identical top
    principal direction both the probe and the frozen projection read."""
    d = _PCA_DIMS
    nrm = _PCA_NRM_DUCK
    iters = "".join(
        f"""
        it{k + 1}w AS (SELECT g, g8, {_pca_mv_duckdb("g8")} AS w FROM it{k}v),
        it{k + 1}v AS (SELECT g, g8, w,
                              list_transform(w, x -> x / {nrm}) AS v
                       FROM it{k + 1}w),"""
        for k in range(_PCA_ITERS)
    )
    n = _PCA_ITERS
    return f"""qe AS (SELECT vec_id, {_PCA_Q_DUCK} AS q FROM embeddings
                   WHERE {_BVEC}),
        grams AS (
            SELECT t.i AS i, u.j AS j,
                   CAST(sum(q[t.i + 1] * q[u.j + 1]) AS BIGINT) AS g
            FROM qe,
                 unnest(generate_series(0, {d - 1})) AS t(i),
                 unnest(generate_series(0, {d - 1})) AS u(j)
            GROUP BY 1, 2
        ),
        g1 AS (
            SELECT list(CAST(g AS DOUBLE) ORDER BY i * {d} + j) AS g
            FROM grams
        ),
        g2t AS (SELECT g, {_pca_sq_duckdb("g")} AS g2 FROM g1),
        g4t AS (SELECT g, {_pca_sq_duckdb("g2")} AS g4 FROM g2t),
        it0v AS (
            SELECT g, {_pca_sq_duckdb("g4")} AS g8,
                   list_transform(range(0, {d}), i -> 2.5e-1) AS v
            FROM g4t
        ),{iters.rstrip(",")},
        fin AS (SELECT g, {_pca_mv_duckdb("g")} AS w FROM it{n}v),
        finv AS (SELECT w, list_transform(w, x -> x / {nrm}) AS v FROM fin)"""


def _pca_probe_oracle() -> str:
    d = _PCA_DIMS
    nrm = _PCA_NRM_DUCK
    flip = "CASE WHEN v[1] < 0 THEN -1e0 ELSE 1e0 END"
    loads = ",\n               ".join(
        f"floor({flip} * v[{i + 1}] * 1e6 + 5e-1) / 1e6 AS l{i}"
        for i in range(d)
    )
    return f"""
        WITH {_pca_power_ctes()}
        SELECT floor({nrm} * 1e4 + 5e-1) / 1e4 AS eigval,
               {loads}
        FROM finv
    """


def _pca_project_oracle() -> str:
    d = _PCA_DIMS
    flip = "CASE WHEN v[1] < 0 THEN -1e0 ELSE 1e0 END"
    return f"""
        WITH {_pca_power_ctes()},
        dir AS (
            SELECT list_transform(range(0, {d}), i ->
                CAST(floor({flip} * v[i + 1] * 1e6 + 5e-1) AS BIGINT)) AS vq
            FROM finv
        )
        SELECT e.vec_id,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(0, {d}), i -> e.q[i + 1] * dir.vq[i + 1])),
                    (a, t) -> a + t) AS BIGINT) AS pc1_nano
        FROM qe e, dir
    """


@query(
    "embedding_pca_project",
    oracle=_pca_project_oracle(),
    description="Gram-matrix PCA projection with a FULL oracle (round 8, "
    "VERDICT r7 #2 — converted from rows-only): the top principal "
    "direction comes from the same bit-identical power iteration as "
    "pca_power_probe (exact milli-unit quantization, exact BIGINT Gram, "
    "driver-side iteration with identical IEEE operation order), is "
    "FROZEN to integer micro-units, and every vector's projection is "
    "then an exact integer dot product (milli x micro = nano units) — "
    "reassociation-proof, so the distributed sum hash-matches DuckDB''s "
    "sequential fold exactly. The corpus is touched twice: the Gram "
    "aggregate and one projection scan with the frozen direction inlined "
    "as a literal. pytest checks that its projection aligns with an "
    "independent numpy PCA's first component.",
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    d = _PCA_DIMS
    # bounded domain (functions/vec): milli-unit quantization is an
    # int64 lattice — a 3e38 component cannot land on it (CAST overflow,
    # embed sweep r10); out-of-domain vectors are excluded from the
    # statistic AND the projection, and reported by embedding_norm_qa
    emb = load(spark, sf_dir, "embeddings").where(
        F.expr(vecf.bounded_vector_sql("embedding"))
    )
    g = _pca_gram_ints(emb)
    if g is None:
        return spark.createDataFrame([], "vec_id long, pc1_nano long")
    _, v, flip = _pca_power_direction(g)
    vq = [int(math.floor(flip * v[i] * 1e6 + 0.5)) for i in range(d)]
    lit = "array(" + ", ".join(f"{x}L" for x in vq) + ")"
    return emb.selectExpr(
        "vec_id",
        f"aggregate(zip_with(transform(slice(embedding, 1, {d}), "
        "x -> cast(floor(cast(x as double) * 1e3 + 5e-1) as bigint)), "
        f"{lit}, (x, s) -> x * s), cast(0 as bigint), (a, t) -> a + t) "
        "AS pc1_nano",
    )


def _pca_gram_ints(emb) -> "list[float] | None":
    """The ONLY data-sized PCA stage: quantize embeddings to exact integer
    milli-units and reduce the corpus to the d*d Gram matrix as exact
    BIGINT sums, in ONE map-side-combined aggregate emitted as a single
    expr string (a struct of sums — N Column objects would cost ~N*4
    py4j round-trips of driver chatter, CLAUDE.md r7). Returns the full
    row-major matrix as Python floats (exact: integers < 2^53), or None
    for an empty corpus."""
    d = _PCA_DIMS
    qe = emb.selectExpr(
        f"transform(slice(embedding, 1, {d}), "
        "x -> cast(floor(cast(x as double) * 1e3 + 5e-1) as bigint)) AS q"
    )
    gsum = (
        "struct("
        + ", ".join(
            f"sum(element_at(q, {i + 1}) * element_at(q, {j + 1})) "
            f"AS g_{i}_{j}"
            for i in range(d)
            for j in range(i, d)
        )
        + ") AS gs"
    )
    row = qe.agg(F.expr(gsum)).first()[0]
    if row["g_0_0"] is None:
        return None
    return [
        float(row[f"g_{min(i, j)}_{max(i, j)}"])
        for i in range(d)
        for j in range(d)
    ]


def _pca_power_direction(g: list) -> "tuple[float, list, float]":
    """Top principal direction of the Gram matrix by unrolled power
    iteration ON THE DRIVER — the iteration is O(d^2) on one model-sized
    matrix however big the corpus is (r7: chained HOF selects paid
    seconds of plan ANALYSIS for 0.5 s of data work). Bit-identical to
    the DuckDB CTE chain (_pca_power_ctes) because Python floats are the
    same IEEE doubles with the same operation ORDER as both engines'
    left folds: each matvec/squaring accumulates a + m*v sequentially,
    sqrt and / are correctly rounded. Returns (norm, v, flip) — flip
    canonicalizes the first loading positive."""
    import math

    d = _PCA_DIMS

    def sq(mat: list) -> list:
        out = []
        for p_ in range(d * d):
            a = 0.0
            for k in range(d):
                a = a + mat[(p_ // d) * d + k] * mat[k * d + (p_ % d)]
            out.append(a)
        return out

    def mv(mat: list, v: list) -> list:
        out = []
        for i in range(d):
            a = 0.0
            for j in range(d):
                a = a + mat[i * d + j] * v[j]
            out.append(a)
        return out

    def nrm(w: list) -> float:
        a = 0.0
        for x in w:
            a = a + x * x
        return math.sqrt(a)

    # squared-matrix acceleration: iterating with G^8 takes 8 power steps
    # per matvec (the eigengap here is small — plain G needed many times
    # the iterations for the same convergence); the FINAL multiply uses
    # the original G so the reported eigenvalue is lambda, not lambda^8.
    g8 = sq(sq(sq(g)))
    v = [0.25] * d
    for _ in range(_PCA_ITERS):
        w = mv(g8, v)
        n_ = nrm(w)
        v = [x / n_ for x in w]
    w = mv(g, v)
    n_ = nrm(w)
    v = [x / n_ for x in w]
    flip = -1.0 if v[0] < 0 else 1.0
    return n_, v, flip


@query(
    "pca_power_probe",
    oracle=_pca_probe_oracle(),
    description="The PCA family's ORACLE-EXACT witness (the recall-probe "
    "pattern): top principal direction + eigenvalue of the 16-dim Gram "
    "matrix by UNROLLED POWER ITERATION, bit-identical across engines "
    "because every number stays deterministic — embeddings quantize to "
    "exact integer milli-units, the Gram matrix is exact BIGINT sums "
    "(partition- and engine-proof, no double accumulation), and the "
    "iterations (6 with G⁸ = 49 power steps) use only identical-order "
    "left-fold +/·, IEEE division "
    "and correctly-rounded sqrt. Sign canonicalized on the first "
    "loading. embedding_pca_project stays the production path (numpy "
    "eigh on the driver-side Gram); this proves the iteration algebra "
    "cross-engine — the same reassociation-proof discipline as "
    "cusum_drift_chunked, applied to an iterative linear-algebra "
    "operator. Loadings vs numpy's top eigenvector gated in pytest.",
)
def pca_power_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    d = _PCA_DIMS
    # bounded domain (functions/vec) — see embedding_pca_project
    emb = load(spark, sf_dir, "embeddings").where(
        F.expr(vecf.bounded_vector_sql("embedding"))
    )
    g = _pca_gram_ints(emb)
    if g is None:
        # empty corpus: both engines propagate NULL through the chain to
        # a single all-NULL row — replicate that exactly
        return spark.createDataFrame(
            [tuple([None] * (d + 1))],
            "eigval double, " + ", ".join(f"l{i} double" for i in range(d)),
        )
    n_, v, flip = _pca_power_direction(g)
    out = (math.floor(n_ * 1e4 + 0.5) / 1e4,) + tuple(
        math.floor(flip * v[i] * 1e6 + 0.5) / 1e6 for i in range(d)
    )
    return spark.createDataFrame(
        [out],
        "eigval double, " + ", ".join(f"l{i} double" for i in range(d)),
    )


@query(
    "approx_top_words",
    # Bounded-witness FULL oracle (round 7, VERDICT r6 #3): WHICH words
    # the space-saving sketch returns (and their estimates) is
    # engine-specific under ties, but three consequences of its
    # published guarantee are not: the item count, the one-sided
    # overestimate bound, and heavy-hitter coverage. DuckDB replays the
    # deterministic count and literal TRUE for the two booleans.
    oracle="""
        WITH w AS (
            SELECT unnest(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS word
            FROM documents
        )
        SELECT CAST(least(20, count(DISTINCT word)) AS BIGINT) AS n_items,
               TRUE AS all_within_bound,
               TRUE AS heavy_hitters_covered
        FROM w
    """,
    description="Heavy-hitter words via Spark 4's approx_top_k sketch "
    "(space-saving family, capacity 10000): one map-side-mergeable "
    "aggregate replaces the vocab-wide count shuffle — at 100 TB the "
    "sketch is O(k*log) memory per partition and merges associatively. "
    "Converted from rows-only to a bounded-witness FULL oracle via the "
    "space-saving CONTRACT, checked in-row against exact counts: "
    "(1) n_items = min(20, |vocab|); (2) every returned estimate "
    "overestimates its exact count by at most floor(N/capacity); "
    "(3) every word with exact count > c20 + floor(N/capacity) is "
    "returned, where c20 is the 20th-largest exact count — provable "
    "because estimates are lower-bounded by exact counts and the 20th "
    "estimate is upper-bounded by c20 + err. The sketch stays "
    "Spark-native; the GUARANTEE is what both engines agree on. "
    "Accuracy vs exact counts additionally gated in tests/test_text.py.",
)
def approx_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    cap = 10000  # Spark's default maxItemsTracked
    docs = load(spark, sf_dir, "documents")
    # words feeds the sketch AND the exact counts; exact feeds the join,
    # the totals, the top-20 floor and the coverage scan; items feeds
    # the bound check and the anti-join (consumed-≥2× rule: checkpoint)
    words = docs.select(
        F.explode(F.split(ascii_lower(F.col("text")), " ")).alias("word")
    ).localCheckpoint(eager=False)
    exact = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    items = (
        words.agg(F.expr(f"approx_top_k(word, 20, {cap})").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("word"),
            F.col("e.count").cast("long").alias("approx_count"),
        )
        .localCheckpoint(eager=False)
    )
    totals = exact.agg(
        F.floor(F.coalesce(F.sum("c"), F.lit(0)) / cap).alias("err")
    )
    c20 = (
        exact.orderBy(F.col("c").desc(), "word")
        .limit(20)
        .agg(F.min("c").alias("c20"))
    )
    within = (
        items.join(exact, "word", "inner")
        .crossJoin(F.broadcast(totals))
        .select(
            (
                (F.col("approx_count") >= F.col("c"))
                & (F.col("approx_count") - F.col("c") <= F.col("err"))
            ).alias("ok")
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.coalesce(
                F.min(F.col("ok").cast("int")) == 1, F.lit(True)
            ).alias("all_within_bound"),
        )
    )
    covered = (
        exact.crossJoin(F.broadcast(c20))
        .crossJoin(F.broadcast(totals))
        .where(F.col("c") > F.col("c20") + F.col("err"))
        .join(items, "word", "left_anti")
        .agg((F.count(F.lit(1)) == 0).alias("heavy_hitters_covered"))
    )
    return within.crossJoin(F.broadcast(covered)).select(
        "n_items", "all_within_bound", "heavy_hitters_covered"
    )


def _le_hex_sql(v: str, nbytes: int) -> str:
    """Hex string of ``v`` in little-endian byte order (RIFF fields) as
    SQL text — the r11 py4j-batching class: the Column spelling of the
    9-field WAV synthesis built ~150 Column objects per construction."""
    return "concat(" + ", ".join(
        f"lpad(hex(CAST(CAST(({v}) AS BIGINT) / {1 << (8 * i)} AS BIGINT)"
        " % 256), 2, '0')"
        for i in range(nbytes)
    ) + ")"


@query(
    "multimodal_audio_meta",
    oracle="""
        WITH params AS (
            SELECT doc_id,
                   doc_id % 5 <> 0 AS w,
                   1 + doc_id % 2 AS c,
                   CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                        WHEN 2 THEN 44100 ELSE 48000 END AS r,
                   1000 + (doc_id * 37) % 100000 AS ds
            FROM documents
        )
        SELECT doc_id, w AS is_wav,
               CASE WHEN w THEN CAST(c AS BIGINT) END AS channels,
               CASE WHEN w THEN CAST(r AS BIGINT) END AS sample_rate,
               CASE WHEN w THEN CAST(16 AS BIGINT) END AS bits_per_sample,
               CASE WHEN w THEN CAST(ds AS BIGINT) END AS data_size,
               CASE WHEN w THEN CAST(floor(CAST(ds AS DOUBLE) * 8000
                    / (r * c * 16)) AS BIGINT) END AS duration_ms
        FROM params
    """,
    description="WAV header metadata, round-trip checked: a canonical "
    "44-byte PCM header is SYNTHESIZED per doc from deterministic "
    "formulas (every 5th doc gets a PNG payload instead), then PARSED "
    "back with little-endian Column byte arithmetic (channels@23, "
    "rate@25, bits@35, data@41; magic anchors gate the NULL branch) — "
    "the oracle recomputes the generating formulas, so a parse that "
    "reads any field wrong hash-fails. duration = data·8000/(rate·ch·"
    "bits) in exact integer-in-double arithmetic. Codec-free, zero "
    "shuffles, same decoder seam as multimodal_image_dims.",
)
def multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    c = "CAST(1 + doc_id % 2 AS BIGINT)"
    r = (
        "CAST(CASE WHEN doc_id % 4 = 0 THEN 8000"
        " WHEN doc_id % 4 = 1 THEN 16000"
        " WHEN doc_id % 4 = 2 THEN 44100"
        " ELSE 48000 END AS BIGINT)"
    )
    ds = "CAST(1000 + (doc_id * 37) % 100000 AS BIGINT)"
    wav_hex = "concat(" + ", ".join([
        "'52494646'", _le_hex_sql(f"{ds} + 36", 4),   # RIFF + chunk size
        "'57415645'",                                 # WAVE
        "'666D7420'", _le_hex_sql("16", 4),           # 'fmt ' + size 16
        _le_hex_sql("1", 2),                          # PCM
        _le_hex_sql(c, 2), _le_hex_sql(r, 4),         # channels, rate
        _le_hex_sql(f"{r} * {c} * 2", 4),             # byte rate
        _le_hex_sql(f"{c} * 2", 2), _le_hex_sql("16", 2),  # align, bits
        "'64617461'", _le_hex_sql(ds, 4),             # data + size
    ]) + ")"
    payload = (
        "unhex(CASE WHEN doc_id % 5 = 0 THEN '89504E470D0A1A0A'"
        f" ELSE {wav_hex} END)"
    )
    return multimodal.audio_meta(
        docs.selectExpr("doc_id", f"{payload} AS payload"),
        payload_col="payload", id_col="doc_id",
    )


def _feature_hash_oracle(n_buckets: int = 64) -> str:
    from node_mongo2influx_spark.functions.phash import fnv1a32_duckdb_sql

    h = fnv1a32_duckdb_sql("w")
    return f"""
        WITH words AS (
            SELECT doc_id, unnest(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS w
            FROM documents
        )
        SELECT doc_id,
               CAST(({h}) % {n_buckets} AS BIGINT) AS bucket,
               count(*) AS cnt
        FROM words
        GROUP BY doc_id, bucket
    """


@query(
    "feature_hashing_vectors",
    oracle=_feature_hash_oracle(),
    description="Hashing-trick vectorizer: words land in "
    "fnv1a32(w) mod 64 buckets, per-doc bucket counts in sparse long "
    "format (doc_id, bucket, cnt) — the fixed-width featurization that "
    "needs NO vocabulary table, no fitting pass, no broadcast: the "
    "feature space is defined by the hash, so streaming and batch "
    "featurize identically and new words never resize anything. One "
    "map-side-combined shuffle keyed on (doc, bucket).",
)
def feature_hashing_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from node_mongo2influx_spark.functions.phash import fnv1a32_spark_sql

    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(F.split(ascii_lower(F.col("text")), " ")).alias("w"),
    )
    bucket = (F.expr(fnv1a32_spark_sql("w")) % 64).cast("bigint")
    return (
        words.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _hybrid_oracle() -> str:
    bm25 = _bm25_oracle(top_n=50).strip()
    return f"""
        WITH lex AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lrank
            FROM ({bm25})
        ),
        q AS (
            SELECT list_transform(CAST(embedding AS DOUBLE[]), x -> coalesce(x, 'NaN'::DOUBLE)) AS qe FROM embeddings
            WHERE vec_id = 0 AND {_UVEC}
        ),
        sem0 AS (
            SELECT e.vec_id AS doc_id,
                   round(list_dot_product(list_transform(CAST(e.embedding AS DOUBLE[]), x -> coalesce(x, 'NaN'::DOUBLE)), q.qe)
                         / (sqrt(list_dot_product(list_transform(CAST(e.embedding AS DOUBLE[]), x -> coalesce(x, 'NaN'::DOUBLE)),
                                                  list_transform(CAST(e.embedding AS DOUBLE[]), x -> coalesce(x, 'NaN'::DOUBLE))))
                            * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cosine
            FROM embeddings e, q
            WHERE e.vec_id <> 0 AND {vecf.usable_vector_duckdb_sql("e.embedding")}
        ),
        sem AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY cosine DESC, doc_id) AS srank
            FROM sem0
            ORDER BY cosine DESC, doc_id
            LIMIT 50
        )
        SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
               floor((coalesce(1.0 / (60 + l.lrank), 0.0)
                      + coalesce(1.0 / (60 + s.srank), 0.0))
                     * 1000000.0 + 0.5) / 1000000.0 AS rrf,
               l.lrank AS lex_rank,
               s.srank AS sem_rank
        FROM lex l FULL OUTER JOIN sem s USING (doc_id)
        ORDER BY rrf DESC, doc_id
        LIMIT 20
    """


@query(
    "hybrid_retrieval_rrf",
    oracle=_hybrid_oracle(),
    description="Hybrid retrieval: BM25 lexical top-50 and exact-cosine "
    "semantic top-50 (query = embedding 0) fused by reciprocal-rank "
    "fusion Σ 1/(60+rank) — the standard score-free combiner (scores "
    "from different retrievers aren't calibrated against each other; "
    "ranks are). Rank windows run over the BOUNDED top-k sets, never "
    "the corpus; in production the semantic leg swaps to the LSH/IVFPQ "
    "tier with identical downstream shape.",
)
def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    lex = text.bm25_topk(
        docs, terms=_BM25_TERMS, text_col="text", id_col="doc_id",
        k1=1.2, b=0.75, top_n=50,
    ).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), "doc_id"))
        .alias("lex_rank"),
    )
    sem = (
        similarity.knn_cosine(emb, emb.where("vec_id = 0"), k=50)
        .select(
            F.col("neighbor_id").alias("doc_id"),
            F.row_number()
            .over(Window.orderBy(F.col("cosine").desc(), "neighbor_id"))
            .alias("sem_rank"),
        )
    )
    rrf = F.coalesce(1.0 / (60 + F.col("lex_rank")), F.lit(0.0)) + F.coalesce(
        1.0 / (60 + F.col("sem_rank")), F.lit(0.0)
    )
    return (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            (F.floor(rrf * 1000000.0 + F.lit(0.5)) / 1000000.0).alias("rrf"),
            "lex_rank",
            "sem_rank",
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Fixed-merge BPE tokenization, curriculum order, sampled embedding
# calibration (round 5)
# ---------------------------------------------------------------------------
#: Fixed BPE merge table for the oracle-checked tokenizer face. Trained
#: once, reproducibly, by ``text.bpe_train(documents, n_merges=40)`` over
#: the sf0.01 fixture (deterministic: tie-break is lexicographic), then
#: frozen as a literal — exactly how a production tokenizer ships (the
#: merge table is an artifact, not recomputed per run). Creation-ordered
#: by construction, which is what makes the replace-chain encoding
#: equivalent to rank-greedy (see operators/text.py:bpe_replace_chain).
_BPE_FIXED_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("er", "</w>"), ("o", "w"),
    ("ow", "</w>"), ("o", "r"), ("s", "t"), ("h", "</w>"), ("a", "t"),
    ("l", "u"), ("i", "n"), ("a", "</w>"), ("g", "</w>"), ("y", "</w>"),
    ("a", "r"), ("p", "ar"), ("t", "</w>"), ("i", "n</w>"), ("j", "o"),
    ("jo", "in</w>"), ("a", "s"), ("as", "h</w>"), ("h", "ash</w>"),
    ("r", "ow</w>"), ("at", "c"), ("atc", "h</w>"), ("b", "atch</w>"),
    ("a", "n</w>"), ("c", "an</w>"), ("s", "can</w>"), ("c", "o"),
    ("c", "u"), ("co", "lu"), ("colu", "m"), ("colum", "n</w>"),
    ("cu", "st"), ("cust", "o"), ("custo", "m"), ("custom", "er</w>"),
]


def _bpe_fixed_oracle() -> str:
    chain = "s0"
    for a, b in _BPE_FIXED_MERGES:
        chain = f"replace({chain}, '§{a}§§{b}§', '§{a}{b}§')"
    return f"""
        WITH w AS (
            SELECT doc_id,
                   list_filter(
                       string_split_regex(replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '§', ''),
                                          '\\s+'),
                       x -> x != '') AS words
            FROM documents
        ),
        g AS (
            SELECT doc_id,
                   CASE WHEN len(words) = 0 THEN '§§'
                        ELSE '§§' || array_to_string(
                                 list_transform(words,
                                     x -> array_to_string(
                                              string_split(x, ''), '§§')
                                          || '§§</w>'),
                                 '§§') || '§§'
                   END AS s0
            FROM w
        ),
        m AS (SELECT doc_id, {chain} AS s FROM g)
        SELECT doc_id,
               CAST((length(s) - length(replace(s, '§', ''))) // 2 - 1
                    AS INT) AS n_tokens,
               md5(trim(replace(s, '§§', ' '))) AS tokens_md5
        FROM m
    """


@query(
    "bpe_tokenize_fixed",
    oracle=_bpe_fixed_oracle(),
    description="BPE tokenization with a FROZEN merge table as a pure "
    "Column replace chain — the deployment face of a shipped tokenizer. "
    "Each merge is one replace() over a guard-flanked symbol string, so "
    "the whole tokenizer runs inside whole-stage codegen at scan speed: "
    "no join, no broadcast, no Python worker, zero shuffle. Equivalence "
    "with the rank-greedy mapInPandas encoder (bpe_tokenize) is pinned "
    "corpus-wide in tests/test_text.py; here the SAME chain is the "
    "DuckDB oracle, so tokenization is bit-for-bit cross-engine.",
)
def bpe_tokenize_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bpe_replace_chain(
        load(spark, sf_dir, "documents"),
        merges=_BPE_FIXED_MERGES,
        text_col="text",
        id_col="doc_id",
    )


def _curriculum_oracle() -> str:
    h = _ph.fnv1a32_duckdb_sql(
        "concat(CAST(doc_id AS VARCHAR), ':curriculum-v1')"
    )
    return f"""
        WITH d AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS DOUBLE) AS s
            FROM documents
            WHERE text IS NOT NULL
        ),
        cuts AS (
            SELECT quantile_cont(s, [0.25, 0.5, 0.75]) AS c FROM d
        ),
        st AS (
            SELECT doc_id,
                   len(list_filter((SELECT c FROM cuts), q -> s > q))
                       AS stage,
                   {h} AS h
            FROM d
        )
        SELECT doc_id,
               CAST(stage AS INT) AS stage,
               CAST(row_number() OVER (ORDER BY stage, h, doc_id) - 1
                    AS BIGINT) AS pos
        FROM st
    """


@query(
    "curriculum_training_order",
    oracle=_curriculum_oracle(),
    description="Curriculum training order over a length-difficulty "
    "proxy: 4 score-quantile stages (easy first), each stage internally "
    "hash-shuffled, pos = contiguous global position — WITHOUT a global "
    "sort. Stage cutoffs are one 1-row exact-percentile aggregate "
    "broadcast back; in-stage order reuses the bucketed prefix-sum "
    "layout ((stage, bucket) windows, stage×64-way parallel; the offset "
    "table is stage×64 rows). The oracle's row_number() OVER (ORDER BY "
    "stage, hash) is the single-threaded semantic spec that the layout "
    "avoids. Exact integer scores + binary-fraction quantiles make the "
    "interpolated cutoffs bit-identical across engines.",
)
def curriculum_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("__nw")
    )
    return sampling.curriculum_order(
        docs, score_col="__nw", id_col="doc_id", n_stages=4,
        salt="curriculum-v1", n_buckets=64,
    )


#: Hash-sample rate for the sampled embedding-calibration tier (same
#: reasoning as _MODALITY_SAMPLE_RATE: both endpoints survive with
#: prob r², so the surviving pair set is an unbiased sample of the
#: exact all-pairs result — the only calibration shape runnable at
#: 100 TB, where the unsampled cross product does not exist).
_NEARDUP_SAMPLE_RATE = 0.5
_NEARDUP_CUT = _ph.cutoff32(_NEARDUP_SAMPLE_RATE)


@query(
    "embedding_neardup_sampled",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> coalesce(x, 'NaN'::DOUBLE)) AS emb
            FROM embeddings
            WHERE {_ph.fnv1a32_duckdb_sql("CAST(vec_id AS VARCHAR)")}
                  < {_NEARDUP_CUT}
              AND {_UVEC}
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_dot_product(a.emb, b.emb)
                     / (sqrt(list_dot_product(a.emb, a.emb))
                        * sqrt(list_dot_product(b.emb, b.emb))), 4) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.emb, b.emb)
              / (sqrt(list_dot_product(a.emb, a.emb))
                 * sqrt(list_dot_product(b.emb, b.emb))) >= 0.4
    """,
    description="Sampled exact-cosine calibration tier: the scale path "
    "of embedding_neardup_pairs. Both sides of the all-pairs join are "
    "restricted to the SAME portable FNV-1a hash cut of the id space "
    f"(rate {_NEARDUP_SAMPLE_RATE}), turning the O(n²) yardstick into "
    "O((rn)²) while the surviving pairs remain an unbiased sample of "
    "the full pair set (endpoint survival is independent of similarity). "
    "The oracle replays the identical integer-cutoff hash cut. Together "
    "with dedup_modality_agreement_sampled this closes the class: every "
    "exact quadratic calibration tier now has a rate-tunable sampled "
    "variant runnable at any corpus size.",
)
def embedding_neardup_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").where(
        F.expr(_ph.fnv1a32_spark_sql("cast(vec_id as string)"))
        < F.lit(_NEARDUP_CUT)
    )
    return similarity.cosine_pairs(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.4
    )
