"""Deduplication operators (SURVEY.md §2.12) — designed for 100 TB.

Four tiers, in increasing tolerance / decreasing cost-per-candidate:

* :func:`exact` — content-hash groupBy. One shuffle on the hash; the hash
  (not the document) is the shuffle key, so payload bytes move once.
* :func:`ngram_jaccard_pairs` — exact shingle-set Jaccard via explode +
  self-equi-join on shingle. Quadratic in per-shingle document frequency;
  correct and oracle-checkable, used as ground truth for the approximate
  tiers. At 100 TB use the MinHash tier and verify only its candidates.
* :func:`minhash_lsh_pairs` — MinHash signatures (one groupBy with k min
  aggregates — no signature-width row explosion) + LSH banding (candidate
  generation is a band-bucket equi-join, never all-pairs).
* :func:`simhash` — 64-bit SimHash per document + band columns for
  hamming-distance bucketing.

Everything is Column expressions over xxhash64 — JVM-side, codegen-friendly;
no Python UDFs anywhere in the hot path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from node_mongo2influx_spark.functions.fold import ascii_lower

__all__ = [
    "exact",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash",
]

#: Mersenne prime 2^31-1: the modulus for the (a*h+b) mod p permutation
#: family. Keeping a, b, h < 2^31 bounds a*h+b < 2^62 — no 64-bit overflow,
#: which matters because Spark 4's ANSI mode makes overflow an error, not a
#: wrap.
_MERSENNE31 = (1 << 31) - 1


def shingles_from_words(words_col: str, n: int = 3) -> Column:
    """Distinct n-gram shingles from a pre-split words array column.

    Formulation matters at corpus scale: the words array is zipped
    against its own 1..n-1-shifted slices (``arrays_zip``) and each
    zipped struct concatenated — codegen walks n arrays in lockstep.
    The per-index alternatives re-enter the subscript machinery per
    element: ``slice(words, i, n)`` per position measured 2-3× slower
    and ``element_at`` per position 8× slower at sf0.1.

    Callers should still stage the words array in its own select (see
    :func:`_with_words`): referencing ``split()`` inline multiplies the
    split cost by the n+1 references here when the optimizer declines to
    collapse it.

    Short documents (< n words) yield an empty array: every slice is
    empty, so the zip is empty — no guard needed.
    """
    w = F.expr(words_col)
    ln = F.greatest(F.size(w) - (n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(w, j + 1, ln) for j in range(n)])
    return F.array_distinct(
        F.transform(
            z, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)])
        )
    )


def _with_words(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Stage the lower-cased word split as a real column (one evaluation)."""
    return df.select(
        F.col(id_col), F.split(ascii_lower(F.col(text_col)), " ").alias("__words")
    )


def exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup groups: md5 content hash → (fingerprint, keep_doc_id,
    n_copies). Keeps the lowest id as canonical — deterministic, unlike
    ``dropDuplicates`` whose survivor is partition-order dependent."""
    return (
        df.groupBy(F.md5(F.col(text_col).cast("binary")).alias("fingerprint"))
        .agg(
            F.min(id_col).alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )



def _spread_heavy_scan(df: DataFrame) -> DataFrame:
    """Give a HEAVY per-row chain / explode the cluster's parallelism.

    Bench/test-sized corpora arrive as ONE parquet split, so a
    zero-shuffle chain (CDC rolling hash, segment chop, shingle explode)
    runs on a single core while the rest idle (r11 optimization round).
    Scale-adaptive: multi-split scans at real scale pass through
    untouched (ensure_min_partitions probes the plan, no job); the
    target is defaultParallelism, never a constant.
    """
    from node_mongo2influx_spark.functions.skew import ensure_min_partitions

    return ensure_min_partitions(
        df, df.sparkSession.sparkContext.defaultParallelism
    )


def _shingle_table(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    # NOT spread (r11 optimization round, measured): consumers are
    # join/collect-dominated (shingle self-join, components collect) and
    # the extra exchange cost more than the explode parallelism bought
    # (dedup_filtered_corpus construct +0.5-1 s with the spread; the
    # exec-bound 5-gram build in split_contamination_audit, which IS
    # spread at the plan level, won 0.76x).
    return _with_words(df, text_col, id_col).select(
        F.col(id_col), F.explode(shingles_from_words("__words", n)).alias("sh")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact near-dup pairs: Jaccard over n-gram shingle sets ≥ threshold.

    explode → equi-join on shingle → |A∩B| per pair → |A∪B| by
    inclusion-exclusion. The join key is the shingle, so only documents
    sharing a shingle ever meet — no cross join. Returns
    (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    # Persisted: sizes and both join sides consume the shingle table — three
    # scans of an explode'd lineage without it.
    sh = _shingle_table(df, text_col, id_col, n).persist()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    # Spread the PROBE side of the self-join: a single-split corpus caches
    # sh as ONE partition, and a broadcast/hash join parallelizes over the
    # STREAMED side's partitions only — the whole pair explosion + partial
    # aggregation ran as one 1.2 s task while 31 cores idled (r11, measured
    # via the stage API). Scale-adaptive: multi-split corpora pass through
    # untouched (plan-probed, no job).
    a = _spread_heavy_scan(sh.select(F.col(id_col).alias("doc_a"), "sh"))
    b = sh.select(F.col(id_col).alias("doc_b"), "sh")
    inter = (
        a.join(b, ["sh"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric near-dup pairs: containment(A in B) = |A∩B| / |A|.

    Catches SUBSET duplicates — a short doc fully embedded in a longer one
    scores containment ≈ 1.0 while its Jaccard can be arbitrarily low
    (union dominated by the long doc), so threshold-Jaccard dedup misses
    exactly the quote/excerpt/boilerplate-inclusion class this exists for.
    Ordered pairs: (doc_a contained-in doc_b), a ≠ b, both directions
    evaluated from one symmetric intersection. Same shuffle shape as
    :func:`ngram_jaccard_pairs` — the equi-join on shingle is the only
    pair generator.
    """
    sh = _shingle_table(df, text_col, id_col, n).persist()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    # Probe-side spread: same single-task-join fix as ngram_jaccard_pairs.
    a = _spread_heavy_scan(sh.select(F.col(id_col).alias("doc_a"), "sh"))
    b = sh.select(F.col(id_col).alias("doc_b"), "sh")
    inter = (
        a.join(b, ["sh"])
        .where(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    cont = F.col("inter") / F.col("n_a")
    return (
        inter.join(sa, "doc_a")
        .where(cont >= threshold)
        .select("doc_a", "doc_b", F.round(cont, 6).alias("containment"))
    )


def _perm_coeffs(num_perm: int, seed: int) -> tuple[list[int], list[int]]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE31, size=num_perm).tolist()
    b = rng.randint(0, _MERSENNE31, size=num_perm).tolist()
    return a, b


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_perm: int = 128,
    seed: int = 42,
) -> DataFrame:
    """(id, sig: array<bigint>) MinHash signatures.

    Shape matters at scale: shingle base-hashes are computed JVM-side
    (xxhash64 inside a transform — codegen), then the num_perm permutation
    mins are one Arrow-vectorized kernel: per document a single numpy
    broadcast ``(a ⊗ h + b) mod p → min`` over the (num_perm × n_shingles)
    grid. This is a narrow per-row transformation — NO explode, NO shuffle,
    no num_perm aggregate columns; each partition produces its signatures
    independently. (A pure-Column formulation with 128 min() aggregates
    measured ~10× slower: >64 expressions per row falls out of whole-stage
    codegen into interpreted evaluation.)

    Documents with fewer than ``shingle_n`` words have no shingle set and
    are OMITTED from the output (Jaccard is undefined for them; a sentinel
    signature would spuriously match every other short doc).
    """
    a, b = _perm_coeffs(num_perm, seed)
    a_arr = np.asarray(a, dtype=np.int64).reshape(-1, 1)
    b_arr = np.asarray(b, dtype=np.int64).reshape(-1, 1)

    # JVM computes ONE xxhash64 per word (cheap, flat transform); the kernel
    # forms shingle hashes by mixing n consecutive word hashes in numpy —
    # avoids building n-gram strings at all (the slice+join+hash expression
    # was the dominant cost: interpreted HOF doing O(words·n) string work).
    hashed = _with_words(df, text_col, id_col).select(
        F.col(id_col),
        F.transform(F.col("__words"), lambda w: F.xxhash64(w)).alias("hw"),
    )

    # Odd multipliers for position mixing (wrapping int64 mul is the mixer).
    mix = np.array(
        [0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
         0x27D4EB2F165667C5, 0x85EBCA77C2B2AE63, 0xFF51AFD7ED558CCD,
         0xC4CEB9FE1A85EC53, 0x2545F4914F6CDD1D][:shingle_n],
        dtype=np.uint64,
    )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            ids, sigs = [], []
            for doc_id, hw in zip(pdf[id_col], pdf["hw"]):
                if hw is None:
                    # NULL text → NULL word array: no shingle set, same
                    # omission rule as too-short docs below.
                    continue
                w = np.asarray(hw, dtype=np.int64).view(np.uint64)
                n = w.size - shingle_n + 1
                if n <= 0:
                    # No shingles → no Jaccard similarity is defined; emit
                    # nothing. (A shared constant "empty signature" would
                    # make every short doc an LSH candidate of every other
                    # short doc with est_jaccard = 1.0.)
                    continue
                sh = np.zeros(n, dtype=np.uint64)
                for j in range(shingle_n):
                    sh ^= w[j : j + n] * mix[j]
                h = np.unique(sh).view(np.int64).__mod__(_MERSENNE31)
                ids.append(doc_id)
                sigs.append((a_arr * h + b_arr).__mod__(_MERSENNE31).min(axis=1))
            # explicit dtypes: an all-skipped batch would otherwise yield a
            # float64 'sig' column Arrow can't convert to list<int64>
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype=np.int64),
                    "sig": pd.Series(sigs, dtype=object),
                }
            )

    # Narrow sources (one parquet split) would run the signature kernel
    # in a single Python worker; wide scans pass through shuffle-free.
    from node_mongo2influx_spark.functions.skew import ensure_min_partitions

    n_shuffle = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions") or "200"
    )
    return ensure_min_partitions(hashed, n_shuffle).mapInPandas(
        kernel, schema=f"{id_col} long, sig array<long>"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Near-dup candidate pairs via MinHash + LSH banding.

    Candidates = documents agreeing on ALL rows of at least one band
    (bands × rows = num_perm). Candidate generation is an equi-join on
    (band, bucket-hash) — the only all-pairs work happens inside a bucket,
    which banding keeps tiny. Pairs are then scored by signature agreement
    (unbiased Jaccard estimate) and filtered to ``threshold``.

    Returns (doc_a, doc_b, est_jaccard), doc_a < doc_b.
    """
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    r = num_perm // bands
    # Persisted: the banding self-join consumes the signature lineage twice
    # (and the pair-scoring join again) — signatures are ~1 KB/doc, cheap to
    # keep, expensive to recompute.
    sigs = minhash_signatures(df, text_col, id_col, shingle_n, num_perm, seed).persist()

    # Band with ids only: carrying the 128-long signature through the
    # 32-band explode would shuffle ~num_perm×8 B per band row (measured:
    # the dominant cost). Signatures rejoin the (small) candidate set below.
    # The band index is PACKED INTO the bucket hash (xxhash64(band, slice))
    # so the candidate self-join runs on one 8-byte key instead of a
    # (band, bucket) composite — same collision semantics (two docs agree
    # on a band iff their packed hashes agree), one column less through the
    # exchange and a single-key hash compare.
    banded = sigs.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.xxhash64(i, F.slice("sig", i * r + 1, r)),
            )
        ).alias("bucket"),
    )

    a = banded.select(F.col(id_col).alias("doc_a"), "bucket")
    b = banded.select(F.col(id_col).alias("doc_b"), "bucket")
    cand = (
        a.join(b, ["bucket"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    cand = (
        cand.join(
            sigs.select(F.col(id_col).alias("doc_a"), F.col("sig").alias("sig_a")),
            "doc_a",
        )
        .join(
            sigs.select(F.col(id_col).alias("doc_b"), F.col("sig").alias("sig_b")),
            "doc_b",
        )
    )
    est = (
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        ).cast("double")
        / num_perm
    )
    return (
        cand.withColumn("est_jaccard", F.round(est, 6))
        .where(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def components_from_pairs(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 20,
    driver_finish_edges: int = 1 << 16,
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, component_id),
    component_id = the smallest doc id in the component.

    Iterated partition-local contraction. Each round runs ONE bulk
    union-find kernel per partition of the (residual) edge list: the
    kernel maps every node it sees to the smallest id of its
    PARTITION-LOCAL component (array-backed union-find over
    ``np.unique``-compacted ids — memory is O(nodes-in-partition),
    bounded by the shuffle partition size, never the graph). The
    per-node min across partitions is a label map; because partitions
    can disagree, the map is transitively CLOSED by pointer doubling on
    the mapping table itself (label ← label's label until fixpoint —
    labels strictly decrease within a component, so this is monotone;
    doubling makes it O(log chain), and the union-find already closed
    everything intra-partition, so real graphs need 0-2 doubling
    steps of one self-join each). Closed labels are always
    in-component, so relabeling edges through the map preserves
    components exactly; intra-component edges become self-loops and
    drop out — a cross-partition CHAIN collapses in one round (the
    closure resolves it), not one node per round. Residual rounds
    shrink geometrically, so real dedup graphs finish in 1-2 rounds and
    ``max_iterations=20`` is a deep safety margin. This is the
    map-reduce star-contraction family (Kiveris et al., "Connected
    Components in MapReduce and Beyond") with the per-round work done
    by a bulk kernel + mapping-table doubling instead of O(log d)
    edge-join rounds: total cost is ~2× one pass over the edges, vs. a
    fixed 3-join + action round PER pointer-jumping iteration.

    **Driver endgame**: once the residual shrinks to at most
    ``driver_finish_edges`` edges (a bounded ≤ 1 MB collect at the
    default 2^16 — the same driver-holds-model budget as a centroid
    matrix), the remaining graph is resolved by ONE in-driver union-find
    instead of further distributed rounds. Contraction shrinks the
    residual geometrically, so at ANY corpus size the last rounds are
    tiny — the endgame removes their fixed per-round job overhead
    (measured: the sf0.1 dedup pipelines skip every distributed round
    but the implicit round-0 union-find... the candidate pair sets fit
    the bound outright). Set ``driver_finish_edges=0`` to force the
    all-distributed path (the property tests exercise both).

    Raises RuntimeError if the budget is exhausted before the residual
    empties (silent mis-clustering is worse than failing). The returned
    frame is lineage-truncated via ``localCheckpoint`` — the iterative
    plan is not replayed on reuse, and no persist outlives the returned
    reference.

    This is the 'keep one canonical doc per duplicate cluster' step that
    turns pairwise candidates into an actual dedup decision.

    Ids need not be integral: the contraction kernel itself runs on
    int64, so non-integral (e.g. string) ids are dense-ranked to int64
    first and mapped back at the end. The dictionary rank follows the
    natural ordering of the original type, so ``component_id`` is still
    the smallest member id of the component under that ordering. The
    generic path costs one global sort over the DISTINCT node ids (the
    dictionary) plus two relabel joins on each side — prefer native
    integer ids at scale.
    """
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    ta = pairs.schema[a_col].dataType
    tb = pairs.schema[b_col].dataType
    integral = (ByteType, ShortType, IntegerType, LongType)
    if not (isinstance(ta, integral) and isinstance(tb, integral)):
        from pyspark.sql import Window

        nodes = (
            pairs.select(F.col(a_col).alias("orig"))
            .union(pairs.select(F.col(b_col).alias("orig")))
            .distinct()
        )
        dic = nodes.withColumn(
            "nid", F.row_number().over(Window.orderBy("orig")).cast("long")
        ).localCheckpoint(eager=True)
        enc = (
            pairs.join(
                dic.select(F.col("orig").alias(a_col), F.col("nid").alias("__na")),
                a_col,
            )
            .join(
                dic.select(F.col("orig").alias(b_col), F.col("nid").alias("__nb")),
                b_col,
            )
            .select(F.col("__na").alias(a_col), F.col("__nb").alias(b_col))
        )
        comp = components_from_pairs(
            enc, a_col, b_col, max_iterations, driver_finish_edges
        )
        return (
            comp.join(
                dic.select(F.col("nid").alias("doc_id"), F.col("orig").alias("__d")),
                "doc_id",
            )
            .join(
                dic.select(
                    F.col("nid").alias("component_id"), F.col("orig").alias("__c")
                ),
                "component_id",
            )
            .select(
                F.col("__d").alias("doc_id"), F.col("__c").alias("component_id")
            )
        )

    def _uf_labels(a: np.ndarray, b: np.ndarray):
        """Array-backed union-find over one edge list: (ids, labels),
        labels fully closed, each label the component's minimum id."""
        ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
        ia, ib = inv[: len(a)], inv[len(a) :]
        parent = np.arange(len(ids), dtype=np.int64)

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for x, y in zip(ia, ib):
            rx, ry = find(x), find(y)
            if rx != ry:
                # union toward the smaller index: ids is sorted, so every
                # root is the minimum member of its tree by construction
                if rx < ry:
                    parent[ry] = rx
                else:
                    parent[rx] = ry
        roots = np.asarray([find(i) for i in range(len(ids))], dtype=np.int64)
        return ids, ids[roots]

    def uf_kernel(batches):
        import pandas as pd

        srcs: list[np.ndarray] = []
        dsts: list[np.ndarray] = []
        for pdf in batches:
            if len(pdf):
                srcs.append(pdf["src"].to_numpy(dtype=np.int64))
                dsts.append(pdf["dst"].to_numpy(dtype=np.int64))
        if not srcs:
            return
        ids, labels = _uf_labels(np.concatenate(srcs), np.concatenate(dsts))
        yield pd.DataFrame({"node": ids, "label": labels})

    from pyspark.sql import Observation

    robs0 = Observation()
    residual = (
        # Both edge directions from ONE scan of pairs: a union of two
        # projections of the same subtree materializes the (possibly
        # expensive) candidate pipeline once per branch — AQE plans the
        # branches as separate jobs and does not reuse the join stages
        # (measured r11: dedup_filtered_corpus ran its 1.2 s shingle
        # self-join twice, back to back). The explode doubles rows after
        # the pipeline instead.
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
                    ),
                    F.struct(
                        F.col(b_col).alias("src"), F.col(a_col).alias("dst")
                    ),
                )
            ).alias("__e")
        )
        .select(F.col("__e.src").alias("src"), F.col("__e.dst").alias("dst"))
        # NO first-round distinct: every producer in this repo emits one
        # row per unordered pair (fused kernel ends in dropDuplicates,
        # shingle pairs in a groupBy), so the a<b / b>a directions cannot
        # collide and a distinct here was a pure extra shuffle of the edge
        # list (measured r11). Duplicate edges from an outside caller stay
        # CORRECT regardless: union-find and the min-label closure are
        # duplicate-insensitive; dups only inflate n_res (a conservative,
        # later driver-endgame trigger) and the round-1 checkpoint. The
        # per-round residual keeps ITS distinct — relabeled edges
        # genuinely collapse there.
        # consumed twice per round (contraction kernel + relabel join);
        # checkpointing truncates the candidate-pipeline lineage so it
        # never replays, and blocks free on GC of the reference. The edge
        # count rides the same job as an observe metric (free) to arm
        # the driver-endgame check below.
        .observe(robs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_res = int(robs0.get["n"] or 0)
    def close_mapping(d: DataFrame, budget: int = 30) -> DataFrame:
        # Pointer doubling to fixpoint: label ← label-of-label while any
        # label is itself a mapped node with a smaller label. Labels
        # strictly decrease inside a component, so this terminates; the
        # convergence count rides the checkpoint job as an observe
        # metric (one Spark job per doubling step, no extra action).
        from pyspark.sql import Observation

        for _ in range(budget):
            lk = d.select(
                F.col("node").alias("l_node"), F.col("label").alias("l_label")
            )
            obs = Observation()
            d = (
                d.join(lk, d.label == lk.l_node, "left")
                .select(
                    "node",
                    F.col("label").alias("prev"),
                    F.coalesce(F.col("l_label"), F.col("label")).alias("label"),
                )
                .observe(
                    obs,
                    F.sum(
                        (F.col("label") != F.col("prev")).cast("long")
                    ).alias("changed"),
                )
                .select("node", "label")
                .localCheckpoint(eager=True)
            )
            if (obs.get["changed"] or 0) == 0:
                return d
        raise RuntimeError(
            "components_from_pairs: mapping closure did not converge "
            f"in {budget} doubling steps"
        )

    def _chase(mapping: DataFrame, d: DataFrame) -> DataFrame:
        # Chase one level: a mapping label that was merged this round
        # appears as a node of d (residual edges run between current
        # labels, and d is transitively closed). Labels d never saw
        # belong to already-resolved components and stay put. Shared by
        # the distributed rounds and the driver endgame — the two paths
        # must stay join-identical.
        upd = d.select(
            F.col("node").alias("u_node"), F.col("label").alias("u_label")
        )
        return (
            mapping.join(upd, mapping.label == upd.u_node, "left")
            .select(
                "node",
                F.coalesce(F.col("u_label"), F.col("label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )

    mapping = None  # node -> current best (in-component) label
    converged = False
    for _ in range(max_iterations):
        if 0 < n_res <= driver_finish_edges:
            # Driver endgame: the residual is BOUNDED-small (≤ 16 bytes ×
            # driver_finish_edges — the same driver-holds-model budget as
            # a centroid matrix), so one collect + in-driver union-find
            # resolves it completely, replacing the remaining distributed
            # rounds (each ~4 fixed-overhead jobs). At scale this is the
            # normal ENDGAME, not a small-data special case: contraction
            # shrinks the residual geometrically, so whatever the corpus
            # size, the last rounds are tiny — finishing them driver-side
            # removes the per-round job floor from every dedup pipeline.
            rows = residual.collect()
            a = np.asarray([r["src"] for r in rows], dtype=np.int64)
            b = np.asarray([r["dst"] for r in rows], dtype=np.int64)
            ids, labels = _uf_labels(a, b)
            d = residual.sparkSession.createDataFrame(
                [(int(n), int(lb)) for n, lb in zip(ids, labels)],
                "node long, label long",
            )
            mapping = d if mapping is None else _chase(mapping, d)
            converged = True
            break
        # d: residual-node -> smallest in-component id seen in any
        # partition this round, transitively closed. The groupBy-min
        # reconciles nodes whose edges straddle partitions.
        d = close_mapping(
            residual.mapInPandas(uf_kernel, schema="node long, label long")
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        if mapping is None:
            mapping = d
        else:
            mapping = _chase(mapping, d)
        da = d.select(F.col("node").alias("d_src"), F.col("label").alias("la"))
        db = d.select(F.col("node").alias("d_dst"), F.col("label").alias("lb"))
        # The row count rides the checkpoint job as an observe metric —
        # one Spark job materializes the residual AND answers "done?".
        robs = Observation()
        residual = (
            residual.join(da, residual.src == da.d_src)
            .join(db, residual.dst == db.d_dst)
            .where(F.col("la") != F.col("lb"))
            .select(F.col("la").alias("src"), F.col("lb").alias("dst"))
            .distinct()
            .observe(robs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        n_res = int(robs.get["n"] or 0)
        if n_res == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"components_from_pairs did not converge in {max_iterations} "
            "iterations; raise max_iterations"
        )
    # Checkpoint blocks are released when the returned DataFrame is GC'd.
    return mapping.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component_id")
    )


# Portable token hash for the oracle-checkable tier: xxhash64 exists only
# on the Spark side, so bit-for-bit DuckDB comparison needs a hash both
# engines compute identically — FNV-1a from functions/phash.
from node_mongo2influx_spark.functions.phash import fnv1a32_spark_sql as _fnv1a32_sql


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bands: int = 4,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document + hamming bands.

    Token hashes vote per bit position (+1/-1, weighted by term frequency);
    the sign of each bit-sum is the fingerprint bit. Implemented as one
    explode + one groupBy with 64 conditional sums — no UDFs. The
    ``band{i}`` columns are 16-bit chunks: two documents within hamming
    distance 3 of each other agree on at least one band (pigeonhole), so
    banding gives the candidate join key at scale.

    ``token_hash`` picks the 64 vote bits per token:

    * ``"xxhash64"`` (default) — Spark's JVM-intrinsic hash; the scale path.
    * ``"fnv1a32x2"`` — two portable 32-bit FNV-1a hashes (word, word+'#'),
      low/high halves. Same plan shape, hash arithmetic that DuckDB can
      replicate exactly — the oracle-checkable tier. The voting/packing
      logic downstream of the leaf hash is identical for both.

    Returns (id, simhash, band0..band{n_bands-1}).
    """
    if 64 % n_bands != 0:
        raise ValueError("n_bands must divide 64")
    width = 64 // n_bands
    # Heavy per-row chain (split + explode + 64 conditional sums): a
    # single-split scan would run the whole explode + partial aggregation
    # on one core (r11 guide §2.5 class; no-op on multi-split inputs).
    tok = _spread_heavy_scan(df).select(
        F.col(id_col),
        F.explode(F.split(ascii_lower(F.col(text_col)), " ")).alias("w"),
    ).where(F.col("w") != "")
    # Normalize both hash choices to (lo, hi) 32-bit halves so the voting
    # code below is hash-agnostic: bit j comes from lo for j<32, hi-(j-32)
    # otherwise.
    if token_hash == "xxhash64":
        tok = tok.select(
            id_col,
            F.xxhash64("w").bitwiseAND(F.lit(0xFFFFFFFF)).alias("lo"),
            F.shiftrightunsigned(F.xxhash64("w"), 32).alias("hi"),
        )
    elif token_hash == "fnv1a32x2":
        tok = tok.select(
            F.col(id_col),
            F.expr(_fnv1a32_sql("w")).alias("lo"),
            F.expr(_fnv1a32_sql("concat(w, '#')")).alias("hi"),
        )
    else:
        raise ValueError(f"unknown token_hash {token_hash!r}")
    # Vote per bit (sum of +1/-1 over tokens) and the sign→bit packing,
    # emitted as ONE aggregate-expression STRING: built from 64+64
    # Column objects this cost ~400 py4j round trips and a 5 s plan
    # analysis per construction (the r7 wide-aggregate lesson, measured
    # again r11). Arithmetic is unchanged — per bit, sum(CASE token bit
    # THEN 1 ELSE -1) > 0 contributes 2^j; shiftleft(1L, 63) IS the
    # two's-complement sign term the old -(1<<63) literal spelled.
    vote = (
        "sum(CASE WHEN (shiftright({src}, {sh}) & 1) = 1 "
        "THEN 1 ELSE -1 END)"
    )
    terms = " + ".join(
        "(CASE WHEN "
        + vote.format(src="lo" if j < 32 else "hi", sh=j % 32)
        + f" > 0 THEN shiftleft(CAST(1 AS BIGINT), {j}) "
        "ELSE CAST(0 AS BIGINT) END)"
        for j in range(64)
    )
    out = tok.groupBy(id_col).agg(F.expr(terms).alias("simhash"))
    bands = {
        f"band{i}": F.shiftrightunsigned(F.col("simhash"), i * width)
        .bitwiseAND(F.lit((1 << width) - 1))
        .cast("long")
        for i in range(n_bands)
    }
    return out.withColumns(bands)


def segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 10,
    max_docs: int = 1,
) -> DataFrame:
    """Cross-corpus segment-level dedup (the CCNet/C4 boilerplate-removal
    shape): chop every document into non-overlapping ``seg_words``-word
    segments, count how many DISTINCT documents each exact segment occurs
    in corpus-wide, drop segments that appear in more than ``max_docs``
    documents (boilerplate — headers, footers, license blocks), and
    reassemble each document from its surviving segments in order.

    Scale shape: the only data-sized shuffles are (a) the segment
    frequency groupBy and (b) the join back — both keyed on the segment.
    At 100 TB key the two on ``xxhash64(seg)`` instead of the raw 10-word
    text (8-byte exchange keys; 64-bit collisions are negligible) — the
    oracle tier here joins on the raw segment so DuckDB can replay it
    exactly. Reassembly is a per-document groupBy (collect surviving
    (seg_no, seg), sort in-array, join) — state is one document's worth,
    never a corpus-sized window.

    Returns (id, n_segs, n_kept, clean_md5) — md5('') for documents that
    were pure boilerplate.
    """
    # NOT spread (r11, measured 1.28x WORSE with it: the segment groupBy
    # + reassembly join dominate and the extra exchange only added cost)
    # split materialized in its OWN projection: inlined into the HOF
    # lambda it re-evaluates O(len) per segment — O(segs · len) on one
    # row, wedging on megabyte documents (longdoc sweep, round 9; same
    # class as sampling.chunk_windows)
    staged = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__ws")
    )
    ws = F.col("__ws")
    n_segs_c = F.ceil(F.size(ws).cast("double") / seg_words).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs_c - 1),
        lambda i: F.struct(
            i.alias("seg_no"),
            F.array_join(
                F.slice(ws, i * seg_words + 1, seg_words), " "
            ).alias("seg"),
        ),
    )
    ex = (
        staged.select(F.col(id_col), F.explode(segs).alias("s"))
        .select(id_col, F.col("s.seg_no").alias("seg_no"), F.col("s.seg").alias("seg"))
    )
    counts = ex.groupBy("seg").agg(
        F.count_distinct(F.col(id_col)).alias("nd")
    )
    kept = ex.join(counts.where(F.col("nd") <= max_docs), "seg")
    agg = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg_no", "seg"))),
                    lambda x: x.seg,
                ),
                " ",
            )
        ).alias("clean_md5"),
    )
    tot = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_segs"))
    return tot.join(agg, id_col, "left").select(
        id_col,
        "n_segs",
        F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        F.coalesce("clean_md5", F.md5(F.lit(""))).alias("clean_md5"),
    )


def incremental_exact(
    df: DataFrame,
    is_delta: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprint: Column | None = None,
) -> DataFrame:
    """Incremental-ingest exact dedup: classify each NEW (delta) document
    against the already-ingested base corpus — the shape every periodic
    crawl refresh runs, where re-deduplicating 100 TB of history per
    batch is off the table.

    A delta document is ``dup_base`` if its content hash already exists
    in the base, else ``dup_delta`` if another delta document with the
    same hash has a smaller id (first occurrence wins inside the batch),
    else ``new``. Cost is O(|delta| + |base fingerprints|): the base side
    is reduced to DISTINCT 16-byte hashes before the join, the join and
    the within-batch window both key on the hash, and nothing rescans
    base text. The base-fingerprint table is what you'd persist between
    ingests (bucketed by fp) so each increment joins co-located.

    ``fingerprint`` overrides the dedup key (default: md5 of the full
    text). Real pipelines usually hash a CANONICAL form — lowercased,
    whitespace-collapsed, or just the normalized head of the document —
    so trivially-perturbed copies still collide; pass that expression
    here and the classification logic is unchanged.
    """
    from pyspark.sql import Window

    fp = fingerprint if fingerprint is not None else F.md5(F.col(text_col))
    base_fps = (
        df.where(~is_delta).select(fp.alias("fp")).distinct()
        .withColumn("in_base", F.lit(1))
    )
    delta = df.where(is_delta).select(F.col(id_col), fp.alias("fp"))
    min_id = F.min(id_col).over(Window.partitionBy("fp"))
    out = delta.withColumn("min_id", min_id).join(base_fps, "fp", "left")
    status = (
        F.when(F.col("in_base").isNotNull(), F.lit("dup_base"))
        .when(F.col("min_id") != F.col(id_col), F.lit("dup_delta"))
        .otherwise(F.lit("new"))
    )
    return out.select(F.col(id_col), status.alias("status"))


# ---------------------------------------------------------------------------
# Content-defined chunking (round 4)
# ---------------------------------------------------------------------------
def _cdc_hash_nested(parts: list[str]) -> str:
    """Nested FNV-1a fold over a fixed window of char codes — the SAME
    string structure is emitted for Spark and DuckDB (only the xor
    spelling differs), so both engines run identical integer arithmetic.
    """
    acc = "2166136261"
    for p in parts:
        acc = f"((XOR({acc}, {p}) * 16777619) & 4294967295)"
    return acc


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 4,
    divisor: int = 64,
) -> DataFrame:
    """Content-defined chunking: split each document where a rolling hash
    of the last ``window`` characters hits ``h % divisor == 0``.

    The storage-dedup primitive (FastCDC/rsync family): because chunk
    boundaries depend only on LOCAL content, an insertion early in a
    document shifts at most one chunk's boundary — fixed-size chunking
    would shift every subsequent chunk and defeat chunk-level dedup.
    Expected chunk length ≈ ``divisor`` characters.

    Execution shape: the rolling hash is computed by zipping the
    char-code array against its own shifted slices (the round-4 n-gram
    pattern — codegen walks the arrays in lockstep; a per-position
    ``transform(sequence(...))`` would re-enter subscript machinery per
    element). Everything is per-row Column work: ZERO shuffles, chunks
    at scan speed. Output stays narrow: chunk spans + md5 fingerprints,
    not chunk text.

    ASCII corpora only as written (boundary positions index CHARACTERS;
    ``length(text)`` == char-array size only for 1-byte code points —
    true of the fixtures and asserted cheap via the n_chars column).
    """
    df = _spread_heavy_scan(df)
    w = window
    n = "length(__t)"
    cs = "transform(__chars, c -> ascii(c))"
    slices = [f"slice(__cs, {i + 1}, greatest(__n - {w - 1}, 0))" for i in range(w)]
    # zip chain over the window's shifted slices: the first zip folds the
    # basis + two chars, each further zip folds in the next slice.
    expr = f"zip_with({slices[0]}, {slices[1]}, (x, y) -> " + (
        "((((2166136261 ^ x) * 16777619) & 4294967295) ^ y))"
    )
    for i in range(2, w):
        expr = (
            f"zip_with({expr}, {slices[i]}, (a, y) -> "
            "(((a * 16777619) & 4294967295) ^ y))"
        )
    hs = f"transform({expr}, a -> (a * 16777619) & 4294967295)"
    bounds = (
        f"CASE WHEN __n >= {w} THEN "
        f"filter(zip_with({hs}, sequence({w}, greatest(__n, {w})), "
        f"(h, p) -> IF(h % {divisor} = 0 AND p < __n, p, -1)), x -> x > 0) "
        "ELSE array() END"
    )
    base = df.select(
        F.col(id_col),
        F.col(text_col).alias("__t"),
        # the char ARRAY, materialized in its OWN projection (r5
        # CollapseProject trap) and carried to the md5 extraction:
        # array slices are O(1)-offset where substring(__t, s, ...)
        # walks s characters from the string head — O(len²/chunk_size)
        # on a single 10 MB document, a multi-hour one-core task
        # (longdoc sweep, round 10)
        F.split(F.col(text_col), "").alias("__chars"),
    ).selectExpr(id_col, "__t", "__chars", f"{n} AS __n").selectExpr(
        id_col, "__chars", "__n", f"{cs} AS __cs"
    )
    spans = base.selectExpr(
        id_col,
        "__chars",
        "__n",
        f"{bounds} AS __bounds",
    ).selectExpr(
        id_col,
        "__chars",
        "concat(array(1), transform(__bounds, b -> b + 1)) AS __starts",
        "concat(__bounds, array(__n)) AS __ends",
    )
    ex = spans.select(
        F.col(id_col),
        F.col("__chars"),
        F.posexplode(
            F.arrays_zip(F.col("__starts").alias("s"), F.col("__ends").alias("e"))
        ).alias("__i", "__se"),
    )
    return ex.select(
        F.col(id_col),
        (F.col("__i") + 1).cast("int").alias("chunk_no"),
        F.col("__se.s").cast("bigint").alias("chunk_start"),
        (F.col("__se.e") - F.col("__se.s") + 1).cast("bigint").alias("chunk_len"),
        F.md5(
            F.expr(
                "array_join(slice(__chars, __se.s, "
                "__se.e - __se.s + 1), '')"
            )
        ).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# Bloom membership filter with data-sized geometry (round 7)
# ---------------------------------------------------------------------------
#: Golden-ratio odd constant stepping the k hash functions apart.
BLOOM_SEED = 0x9E3779B1


def bloom_geometry(
    n_keys: int, bits_per_key: int = 16, k: int = 4, floor: int = 2048
) -> dict:
    """Derive Bloom geometry FROM the data: ``m = max(bits_per_key * n,
    floor)`` bit positions, ``k`` hashes. With the default 16 bits/key
    and k=4 the projected fill is 1-exp(-4/16) ~= 0.22 and the FP rate
    ~= 0.25% — and both stay constant however large ``n`` is, because m
    scales with it. (A STATIC m saturates at some growth factor and then
    classifies every probe as a member — the failure mode this function
    exists to remove.) Exact integers only, so the same rule is
    replayable bit-identically by any engine."""
    m = max(bits_per_key * max(int(n_keys), 0), floor)
    return {
        "m": m,
        "k": int(k),
        "bits_per_key": int(bits_per_key),
        "n_keys": max(int(n_keys), 0),
        "seed": BLOOM_SEED,
    }


def bloom_fill(geom: dict, n_keys: int | None = None) -> float:
    """Projected fill fraction 1 - exp(-k*n/m) for ``n_keys`` keys
    (default: the geometry's recorded count) under ``geom``."""
    import math

    n = geom["n_keys"] if n_keys is None else n_keys
    return 1.0 - math.exp(-geom["k"] * n / geom["m"])


def _bloom_hashes(df: DataFrame, fp_col: str) -> DataFrame:
    """Distinct portable 32-bit hashes of ``df[fp_col]`` — the
    membership-effective key set (positions and classification depend
    only on ``__h``, so two fingerprints that collide in FNV-1a are ONE
    key to the filter)."""
    from node_mongo2influx_spark.functions.phash import fnv1a32_spark_sql

    return df.select(F.expr(fnv1a32_spark_sql(fp_col)).alias("__h")).distinct()


def _bloom_positions_from_hashes(hs: DataFrame, geom: dict) -> DataFrame:
    from node_mongo2influx_spark.functions.phash import fmix32_spark_inline

    pos = F.expr(
        fmix32_spark_inline(f"(__h + i * {BLOOM_SEED}) % 4294967296")
        + f" % {geom['m']}"
    )
    ks = F.array([F.lit(i) for i in range(geom["k"])])
    return (
        hs.select("__h", F.explode(ks).alias("i"))
        .select(pos.alias("pos"))
        .distinct()
    )


def _bloom_geom_path(path: str):
    import pathlib

    return pathlib.Path(path) / "geometry.json"


def _bloom_write_geom(path: str, geom: dict) -> None:
    import json
    import os
    import pathlib

    p = _bloom_geom_path(path)
    pathlib.Path(path).mkdir(parents=True, exist_ok=True)
    tmp = p.with_suffix(".json.tmp")
    tmp.write_text(json.dumps(geom))
    os.replace(tmp, p)  # atomic swap: readers never see a torn file


def bloom_read_geometry(path: str) -> dict:
    import json

    return json.loads(_bloom_geom_path(path).read_text())


def bloom_build(
    df: DataFrame,
    fp_col: str,
    path: str,
    bits_per_key: int = 16,
    k: int = 4,
    floor: int = 2048,
) -> dict:
    """Build and persist a Bloom filter of the DISTINCT fingerprints in
    ``df[fp_col]``: geometry is derived from the measured key count (one
    count over the distinct-fp frame — the only data-sized action, and
    it returns a scalar), the position set lands at ``path/positions``
    and the geometry (m, k, seed, n_keys) rides along in
    ``path/geometry.json`` so every later classify replays against the
    SAME m. Returns the geometry dict."""
    hs = _bloom_hashes(df, fp_col)
    hs = hs.localCheckpoint(eager=False)  # counted AND expanded below
    geom = bloom_geometry(hs.count(), bits_per_key=bits_per_key, k=k, floor=floor)
    _bloom_positions_from_hashes(hs, geom).write.mode("overwrite").parquet(
        f"{path}/positions"
    )
    _bloom_write_geom(path, geom)
    return geom


def bloom_classify(
    df: DataFrame, fp_col: str, path: str, id_col: str = "doc_id"
) -> DataFrame:
    """Membership-check ``df`` against the persisted filter: per id,
    ``bloom_hit`` = every distinct fingerprint carried by that id has
    all k positions set. One-sided by construction — a fingerprint that
    was inserted ALWAYS hits (no false negatives), including when the
    same (id, fp) row arrives duplicated: classification groups per
    distinct (id, hash), never per id alone, so duplicate rows can't
    inflate a group to 2k positions and flip an inserted key to false
    (ADVICE r7). An id carrying MULTIPLE distinct fingerprints hits only
    if all of them are members (bool_and — the conservative reading for
    "is this document already ingested"). The join moves only (id, pos)
    pairs against the ≤ m-row position set — the base corpus is never
    rescanned, however large it has grown."""
    geom = bloom_read_geometry(path)
    spark = df.sparkSession
    bloom = spark.read.parquet(f"{path}/positions").distinct().withColumn(
        "__marked", F.lit(1)
    )
    from node_mongo2influx_spark.functions.phash import (
        fmix32_spark_inline,
        fnv1a32_spark_sql,
    )

    pos = F.expr(
        fmix32_spark_inline(f"(__h + i * {BLOOM_SEED}) % 4294967296")
        + f" % {geom['m']}"
    )
    ks = F.array([F.lit(i) for i in range(geom["k"])])
    dpos = (
        df.select(F.col(id_col), F.expr(fnv1a32_spark_sql(fp_col)).alias("__h"))
        .dropDuplicates([id_col, "__h"])  # exactly k exploded rows/group
        .select(id_col, "__h", F.explode(ks).alias("i"))
        .select(id_col, "__h", pos.alias("pos"))
    )
    per_fp = (
        dpos.join(bloom, "pos", "left")
        .groupBy(id_col, "__h")
        .agg(F.sum(F.coalesce(F.col("__marked"), F.lit(0))).alias("n_hit"))
        .select(id_col, (F.col("n_hit") == geom["k"]).alias("fp_hit"))
    )
    return per_fp.groupBy(id_col).agg(
        F.expr("bool_and(fp_hit)").alias("bloom_hit")
    )
