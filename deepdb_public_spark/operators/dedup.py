"""Deduplication operators for document corpora (extension surface).

Five dedup families, each with an explicit scale story:

- exact:      hash-groupBy on a normalized fingerprint. One shuffle on
              the fingerprint key; linear in corpus size.
- n-gram Jaccard (exact pairs): the *baseline/oracle* path — all-pairs
              join. Quadratic; only for candidate verification or
              small corpora. At scale, use MinHash-LSH to generate
              candidates and THIS verifier only on the candidates.
- MinHash+LSH: shingle -> signature (per-row, JVM) -> band keys ->
              explode -> groupBy band bucket -> pairs within buckets
              -> exact-Jaccard verify. The only shuffle is on band
              keys; candidate count ~ true-duplicate count, not N².
- SimHash:    64-bit signature; block-pigeonhole banding gives a
              COMPLETE candidate filter for Hamming distance <= 3.
- Embedding near-dup: cosine >= threshold pairs via random-hyperplane
              LSH buckets (or brute force as baseline).
"""

from __future__ import annotations

import math as _math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import (
    band_keys,
    hamming64,
    minhash_signature,
    simhash64,
    simhash_block_keys,
)
from ..functions.text import char_ngrams, fingerprint_md5, word_tokens
from ..functions.vectors import hyperplane_sign_bits
from .partitioning import (
    spread_small_input,
    tiny_literal_frame,
    track_local_checkpoint,
)

# DataFrames persisted by dedup operators. A long-lived session that
# runs many corpora should call release_cached() between them —
# Spark's CacheManager holds persisted plans until explicitly
# unpersisted (round-1 leak).
_CACHED: list = []


def _persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    _CACHED.append(df)
    return df


def release_cached() -> None:
    """Unpersist every intermediate cached by dedup operators, plus
    any localCheckpoint blocks left by spread_small_input / pointer
    jumping (call only after results are materialized — checkpoint
    lineage is truncated, so pending consumers cannot recompute)."""
    while _CACHED:
        df = _CACHED.pop()
        try:
            df.unpersist()
        except Exception:
            pass
    from .partitioning import release_local_checkpoints

    release_local_checkpoints()


def capped_bucket_pairs(
    members: DataFrame,
    bucket_cols: list[str],
    max_bucket_size: int = 256,
    chain_width: int = 4,
    distinct: bool = True,
) -> DataFrame:
    """Candidate (id_a < id_b) pairs within buckets, BOUNDED per
    bucket.

    Buckets up to ``max_bucket_size`` emit all within-bucket pairs.
    A degenerate bucket (boilerplate corpus, empty strings) would
    alone re-create the O(B²) blowup LSH exists to avoid, so larger
    buckets emit a STAR instead: every member pairs with the bucket's
    first ``chain_width`` members (id order) — O(B·w) pairs whose
    component has diameter <= 2, so downstream min-label propagation
    converges in two rounds regardless of bucket size (a next-
    neighbor chain needs O(B/w) rounds — the silent-non-convergence
    trap). Pairs beyond the star are intentionally not generated; for
    near- (not exact-) dups colliding in a degenerate bucket this
    trades recall for a bounded plan, the right call at 100 TB.

    Shuffle profile: one window count per bucket (same key as the
    bucket join) + the bucket equi-joins; never an uncapped B². The
    star branch (a row_number window, a sequence explode and a join)
    is planned only when some bucket actually exceeds the cap.

    ``distinct=False`` skips the cross-bucket pair dedup: a pair
    agreeing on several buckets is emitted once per bucket. Callers
    whose next step FILTERS the pairs cheaply (signature prefilter,
    hamming verify) dedup after that filter instead — at sf0.1 the
    minhash candidate distinct removed only 4k of 226k rows while
    costing a full exchange of all of them (round 14, measured).
    """
    pairs, _n = _sized_bucket_pairs(
        members, bucket_cols, max_bucket_size, chain_width
    )
    return pairs.distinct() if distinct else pairs


def _sized_bucket_pairs(
    members: DataFrame,
    bucket_cols: list[str],
    max_bucket_size: int,
    chain_width: int,
) -> tuple[DataFrame, int]:
    """capped_bucket_pairs without the final distinct, plus the exact
    number of pairs it emits: Σ C(B, 2) over buckets within the cap
    and Σ_{r=1}^{B-1} min(w, r) over oversized ones (the member of id
    rank r+1 points at min(w, r) hubs).

    The sized table is persisted and filled EAGERLY: the pair
    self-joins reference it in independent exchange branches of one
    action, and with a lazy plan each branch re-evaluated the window
    + the upstream signature subtree (round-14 profile: 4 stages x
    9-16s executor time at sf0.1). The fill is ONE aggregate that
    also returns the largest bucket and the pair count, so callers
    gate on the candidate volume without counting the candidates
    (another action over the join plan). Registered with
    release_cached() like every dedup intermediate.
    """
    from pyspark.sql.window import Window

    wb = Window.partitionBy(*bucket_cols)
    sized = _persist(
        members.select(
            "*",
            F.count(F.lit(1)).over(wb).alias("__bsz"),
            F.min("id").over(wb).alias("__bmin"),
        )
    )
    bsz = F.col("__bsz")
    oversized = bsz > max_bucket_size
    # star size: ranks 2..h+1 point at 1..h hubs, the rest at h each
    h = F.least(F.lit(chain_width), bsz - 1)
    star_size = (h * (h + 1) / 2).cast("long") + (bsz - 1 - h) * h
    largest, small_twice, star = sized.agg(
        F.max(bsz),
        # C(B, 2) = B·(B-1)/2: every member adds B-1, halved once below
        F.sum(F.when(~oversized, bsz - 1)),
        # one row per oversized bucket (its min id) adds the star size
        F.sum(F.when(oversized & (F.col("id") == F.col("__bmin")), star_size)),
    ).first()
    n_pairs = (small_twice or 0) // 2 + (star or 0)
    small = sized.filter(~oversized)
    pairs = (
        small.alias("x")
        .join(small.alias("y"), bucket_cols)
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
    )
    if (largest or 0) <= max_bucket_size:
        return pairs, n_pairs
    big = sized.filter(oversized).withColumn(
        "__rn", F.row_number().over(wb.orderBy("id"))
    )
    # every member (rank > 1) points at hub ranks 1..min(w, rn-1); the
    # hub's id is smaller by construction (rank order == id order), so
    # (id_a, id_b) = (hub, member) keeps the id_a < id_b convention.
    # (sequence() reverses when start > stop — the rn-1 ceiling keeps
    # it ascending and self-pair-free.)
    fanned = (
        big.filter(F.col("__rn") > 1)
        .select(
            *bucket_cols,
            F.col("id").alias("id_b"),
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(chain_width), F.col("__rn") - 1),
                )
            ).alias("__target"),
        )
    )
    pairs_big = fanned.join(
        big.select(
            *bucket_cols,
            F.col("id").alias("id_a"),
            F.col("__rn").alias("__target"),
        ),
        bucket_cols + ["__target"],
    ).select("id_a", "id_b")
    return pairs.unionByName(pairs_big), n_pairs


def duplicate_clusters(
    pairs: DataFrame,
    max_iter: int = 30,
    driver_max_edges: int = 2_000_000,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over near-duplicate pairs: (id, cluster)
    with cluster = MIN id in the component — the step that turns
    pairwise dedup output into deletable groups.

    Hybrid strategy (the shape GraphFrames' connectedComponents also
    uses): the edge list is the *output* of dedup-pair generation, so
    its size is proportional to the duplicate mass, not the corpus.
    Up to ``driver_max_edges`` edges (tens of MB) a driver-side
    union-find labels the graph in one collect + one parallelize —
    O(E α(E)) with zero iterative Spark jobs. Above the threshold, a
    distributed min-label-propagation loop runs: every round each
    vertex takes the minimum label among itself and its neighbors
    (edge-join + groupBy-min), with ``localCheckpoint`` truncating
    the logical plan so round N's analysis cost does not grow with N.
    Converges in O(component diameter) rounds — near-dup graphs are
    star/clique-like, so typically 2-3.

    ``stats`` (optional, observability — round 9): filled with
    {"branch": "driver"|"distributed", "n_edges": E, "rounds": k}
    where k is the number of propagation rounds the distributed
    branch ran (0 on the driver branch). The scale harness
    (tools/scale_stress.py) and tests assert the round count stays
    at the star-topology bound instead of trusting the prose.
    """
    if max_iter < 1:
        # max_iter <= 0 would skip the propagation loop while the
        # changed==0 initialization sails past the convergence check —
        # all-singleton labels reported as success
        raise ValueError(f"max_iter must be >= 1 (got {max_iter})")
    # pairs is typically the output of a multi-stage dedup pipeline;
    # it is scanned several times below, so materialize it once up
    # front instead of recomputing upstream per scan
    pairs = pairs.persist()
    n_edges = pairs.count()
    if stats is not None:
        stats["n_edges"] = n_edges
        stats["branch"] = (
            "driver" if n_edges <= driver_max_edges else "distributed"
        )
        stats["rounds"] = 0
    try:
        if n_edges <= driver_max_edges:
            rows = pairs.select("id_a", "id_b").collect()
            parent: dict = {}

            def find(x):
                root = x
                while parent.get(root, root) != root:
                    root = parent[root]
                while parent.get(x, x) != x:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for a, b in rows:
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by min keeps the root the component MIN
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
            out = [(x, find(x)) for x in parent]
            spark = pairs.sparkSession
            id_type = dict(pairs.dtypes)["id_a"]
            if len(out) <= 10_000 and id_type in (
                "bigint", "int", "smallint", "tinyint", "string", "double"
            ):
                # KB-scale label set: emit as a pure-JVM VALUES plan.
                # The classic createDataFrame path backs the frame with
                # a pickled Python RDD, so EVERY downstream action
                # launches Python workers (~0.2s each per rep, guide
                # §4 — the same boundary cost as the round-13
                # tiny-result-frame rewrite in __spark_entry__).
                return tiny_literal_frame(
                    spark, out, f"id {id_type}, cluster {id_type}"
                )
            schema = pairs.select(
                F.col("id_a").alias("id"), F.col("id_a").alias("cluster")
            ).schema
            return spark.createDataFrame(out, schema)

        ids = (
            pairs.select(F.col("id_a").alias("id"))
            .unionByName(pairs.select(F.col("id_b").alias("id")))
            .distinct()
        )
        edges = (
            pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
            .unionByName(
                pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
            )
            .persist()
        )
        labels = track_local_checkpoint(
            ids.withColumn("cluster", F.col("id")).localCheckpoint()
        )
        try:
            changed = 0
            for _round in range(max_iter):
                if stats is not None:
                    stats["rounds"] = _round + 1
                nbr = (
                    edges.join(labels.withColumnRenamed("id", "src"), "src")
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.min("cluster").alias("nmin"))
                )
                stepped = labels.join(nbr, "id", "left").select(
                    "id",
                    F.col("cluster").alias("old"),
                    F.least(
                        F.col("cluster"), F.coalesce(F.col("nmin"), F.col("cluster"))
                    ).alias("cluster"),
                )
                stepped = track_local_checkpoint(
                    stepped.localCheckpoint()  # eager; truncates lineage
                )
                changed = stepped.filter(F.col("old") != F.col("cluster")).count()
                labels = stepped.select("id", "cluster")
                if changed == 0:
                    break
            if changed != 0:
                # silent non-convergence would return wrong cluster ids
                # (capped_bucket_pairs' star topology keeps diameters
                # <= 2, so hitting this means an adversarial graph —
                # fail loudly instead of under-deduplicating)
                raise RuntimeError(
                    f"duplicate_clusters: min-label propagation did not "
                    f"converge in {max_iter} rounds ({changed} labels "
                    "still moving); raise max_iter"
                )
            return labels
        finally:
            edges.unpersist()
    finally:
        pairs.unpersist()


def deduplicate_corpus(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    score_col: str | None = None,
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """Drop every duplicate except each cluster's representative: the
    end-to-end dedup a training-data pipeline applies after pair
    generation. Rows never mentioned in ``pairs`` pass through.

    Representative rule: MIN id by default; with ``score_col``, the
    member with the HIGHEST score (ties: min id) — the
    RefinedWeb/FineWeb-style "keep the best copy" selection (longest
    text, highest quality score). One extra broadcast-scale join of
    the cluster labels against the scores plus a per-cluster window —
    both keyed on cluster ids, never on data rows.
    ``driver_max_edges`` forwards to duplicate_clusters (the
    driver-union-find vs distributed-label-propagation switch);
    survivor selection is branch-independent — the labels are the
    same either way (tests/test_round8_fixes.py pins equivalence)."""
    clusters = duplicate_clusters(pairs, driver_max_edges=driver_max_edges)
    if score_col is None:
        losers = clusters.filter(F.col("id") != F.col("cluster")).select("id")
    else:
        from pyspark.sql.window import Window

        scored = clusters.join(
            df.select(
                F.col(id_col).alias("id"), F.col(score_col).alias("__score")
            ),
            "id",
        )
        w = Window.partitionBy("cluster").orderBy(
            F.desc("__score"), F.asc("id")
        )
        losers = (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") > 1)
            .select("id")
        )
    return df.join(
        losers, df[id_col] == losers["id"], "left_anti"
    )


def dedup_paragraphs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    sep: str = "\n\n",
    keep_empty_docs: bool = False,
) -> DataFrame:
    """Corpus-wide exact PARAGRAPH dedup (the C4/RefinedWeb line-level
    cleanup): every paragraph that occurs more than once across the
    corpus is kept only at its first occurrence (ordered by doc id,
    then position); documents are reassembled from their surviving
    paragraphs in original order -> (id, clean text). Documents whose
    every paragraph was seen earlier are dropped (pass
    ``keep_empty_docs`` to keep them with empty text).

    Scale shape: one posexplode, one window keyed on the paragraph
    hash (shuffle ~corpus size, state one row per distinct
    paragraph), one groupBy(id) to reassemble — linear, no pairwise
    comparisons anywhere."""
    paras = df.select(
        F.col(id_col).alias("__id"),
        # F.split takes a JAVA REGEX: quote the separator (\Q...\E)
        # so '.' or '||' split literally instead of as patterns
        F.posexplode(
            F.split(F.col(text_col), "\\Q" + sep + "\\E")
        ).alias("__pos", "__para"),
    ).filter(F.trim("__para") != "")
    from pyspark.sql.window import Window

    # partition by (hash, paragraph): comparing the string only on
    # 64-bit hash ties makes a birthday collision perturb nothing —
    # at 10^10 paragraphs a pure-hash key silently deletes the ~2-3
    # distinct paragraphs that collide
    w = Window.partitionBy(F.xxhash64("__para"), "__para").orderBy(
        "__id", "__pos"
    )
    kept = paras.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    rebuilt = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__para"))),
                lambda s: s["__para"],
            ),
            sep,
        ).alias(text_col)
    )
    if keep_empty_docs:
        rebuilt = (
            df.select(F.col(id_col).alias("__id"))
            .join(rebuilt, "__id", "left")
            .fillna({text_col: ""})
        )
    return rebuilt.withColumnRenamed("__id", id_col)


def exact_duplicate_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Groups of byte-identical (normalized) documents:
    (fingerprint, n_docs, doc_ids). One shuffle on the md5 key."""
    return (
        df.select(F.col(id_col), fingerprint_md5(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
        .filter(F.col("n_docs") > 1)
    )


def _jaccard(a, b):
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - inter)


# verify-step strategy gate: with at most this many distinct shingles
# corpus-wide, sets are re-encoded as fixed-width bitmaps (<= 64 longs)
# and intersections become AND+popcount on plain columns — whole-stage
# codegen instead of per-pair hash-set builds. Above it, the general
# array_intersect path runs (the 100 TB default: 5-gram vocabularies
# are effectively unbounded).
_DENSE_VOCAB_MAX = 4096

# all-pairs SIZE bound for the dense-bitmap path: up to this many
# collapsed representatives the bitmap side is broadcast and every
# (a < b) pair verifies in one codegen AND+popcount pass with NO
# shuffle at all (the broadcast side at the bound is ~8192 x
# (n_words+2) x 8 B ~ 2 MB — trivially broadcastable at any corpus
# scale, and the branch only triggers when the corpus-wide vocab is
# dense-boundable anyway). This is a broadcast/memory BOUND, not a
# tuning knob: WHETHER all-pairs beats the prefix plan under the
# bound is decided per corpus by _allpairs_beats_prefix below.
# Crossover history (what motivated the cost gate): on the round-11
# data generation ~5k reps (25M pair evals) had the prefix+positional
# plan ~40% faster; the round-13 data regeneration made the sf0.1 doc
# slice shingle-dense enough that prefix filtering degenerated toward
# all-pairs WITH a 20M-row candidate-distinct shuffle on top
# (interleaved A/B: all-pairs 9.55s vs prefix 12.35s). Two hand
# re-pins in two generations -> round-14 VERDICT item 7 replaced the
# constant with the measured-density gate. Both branches are exact,
# so the gate is purely a cost choice.
_DENSE_ALLPAIRS_BROADCAST_CAP = 8192

# prefix-vs-all-pairs crossover ratio for _allpairs_beats_prefix: the
# prefix plan pays MORE per candidate row (inverted-index join +
# cross-band DISTINCT shuffle + bitmap pickup) than the all-pairs plan
# pays per broadcast-codegen pair evaluation, so prefix only wins when
# its candidate set is well under all-pairs. 0.25 reproduces both
# recorded generations: round-13/14 data has est/allpairs ~1.6 (->
# all-pairs, measured 26% faster) and the round-11 generation's prefix
# win implies its ratio sat far below 1. A wrong pick is bounded: the
# gate only runs under _DENSE_ALLPAIRS_BROADCAST_CAP reps, where the
# all-pairs fallback is <= 33M cheap codegen pair evals.
_ALLPAIRS_DENSITY_CROSSOVER = 0.25


def _allpairs_beats_prefix(
    s: DataFrame, n_reps: int, threshold: float
) -> bool:
    """Corpus-measured branch choice for jaccard_pairs_exact's dense
    path (round 14): ONE cheap aggregate over the would-be prefix
    lists estimates the prefix plan's candidate volume
    sum_t C(plist_t, 2) — an upper bound on its candidate pairs
    (length/positional filters only shrink it, and pairs sharing
    several prefix tokens are counted once per token, i.e. at their
    true join fan-out). All-pairs wins when that volume is not well
    under n_reps^2 / 2. Only called when n_reps is under the
    broadcast cap, so the prefix table this aggregates is tiny."""
    plen = (
        F.size("sh") - F.ceil(F.lit(threshold) * F.size("sh")) + 1
    ).cast("int")
    row = (
        s.select(F.explode(F.slice(F.col("sh"), F.lit(1), plen)).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(
                F.col("c").cast("double") * (F.col("c") - 1) / 2.0
            ).alias("cand")
        )
        .collect()[0]
    )
    est_cand = float(row["cand"] or 0.0)
    allpairs = n_reps * (n_reps - 1) / 2.0
    return allpairs <= 0 or est_cand >= _ALLPAIRS_DENSITY_CROSSOVER * allpairs

# bitmap-table broadcast gate for the prefix-filtered dense-verify
# path: a bitmap row is ~8*(n_words+2) bytes, so 100k representatives
# is ~26 MB — comfortably broadcastable, and the (much larger)
# candidate pair set then never shuffles to pick up its bitmaps.
_DENSE_BROADCAST_MAX = 100_000


def _dense_bitmaps(
    s: DataFrame, vocab: DataFrame, n_words: int, size_from_array: bool = False
) -> DataFrame:
    """(id, sh: array<bigint>) -> (id, sz, w0..w{n_words-1}): each
    set as a bitmap over the dense vocab positions. One broadcast
    join + one hash aggregate, all codegen.

    ``size_from_array`` (round 9): take ``sz`` from the ORIGINAL set
    size instead of the mapped-token count — required when ``vocab``
    may not cover every shingle of ``s`` (dedup_against_index probes
    encode new batches over the INDEX's vocab: unmapped shingles
    cannot intersect any index set, so dropping their bits is exact
    as long as the denominator keeps the true |A|). Docs with ZERO
    mapped shingles drop out entirely — their jaccard against any
    index set is 0, below any positive threshold."""
    tok = s.select("id", F.explode("sh").alias("t")).join(F.broadcast(vocab), "t")
    word = (F.col("pos") / 64).cast("int")
    # pyspark's shiftleft binding takes only literal shift amounts
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))")
    aggs = [
        F.bit_or(F.when(word == j, bit).otherwise(F.lit(0).cast("long"))).alias(
            f"w{j}"
        )
        for j in range(n_words)
    ] + [F.count(F.lit(1)).alias("sz")]  # sh is distinct -> count == |sh|
    bm = tok.groupBy("id").agg(*aggs)
    if size_from_array:
        bm = bm.drop("sz").join(
            s.select("id", F.size("sh").alias("sz")), "id"
        )
    return bm


def _bitmap_verify(
    cand: DataFrame,
    bm: DataFrame,
    n_words: int,
    broadcast_bm: bool = False,
    bm_b: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b) candidates -> (id_a, id_b, jaccard) via bitmap
    AND+popcount; exact, no false positives. ``broadcast_bm`` joins
    the bitmap table via broadcast — the candidate set (the big side
    on self-similar corpora: measured 3.6M pairs from 5k reps) then
    never shuffles to pick up its 2x33 bitmap columns; callers enable
    it when the rep count is bounded (the bitmap row is ~8*(n_words+2)
    bytes, so 100k reps is ~26 MB). ``bm_b`` supplies a SEPARATE
    bitmap table for the id_b side (round 9: dedup_against_index's
    new-batch vs corpus-index verify — the two id spaces need not be
    disjoint, so one shared table could alias rows).

    When ``bm_b`` is supplied, ``broadcast_bm`` broadcasts ONLY the
    id_b side: in the index-probe shape the id_b table is the gated
    corpus index (bounded by build_dense_index_verifier's caps) while
    the id_a table is the NEW batch, whose size the operator does not
    control — broadcasting an arbitrarily large crawl batch could
    blow the broadcast limit or executor memory, whereas a batch-keyed
    shuffle join on id_a is linear in the batch and scale-safe."""
    maybe_b = F.broadcast if broadcast_bm else (lambda df: df)
    maybe_b_left = maybe_b if bm_b is None else (lambda df: df)
    left = maybe_b_left(
        bm.select(
            F.col("id").alias("id_a"),
            F.col("sz").alias("sz_a"),
            *[F.col(f"w{j}").alias(f"a{j}") for j in range(n_words)],
        )
    )
    right = maybe_b(
        (bm if bm_b is None else bm_b).select(
            F.col("id").alias("id_b"),
            F.col("sz").alias("sz_b"),
            *[F.col(f"w{j}").alias(f"b{j}") for j in range(n_words)],
        )
    )
    inter = None
    for j in range(n_words):
        term = F.bit_count(F.col(f"a{j}").bitwiseAND(F.col(f"b{j}")))
        inter = term if inter is None else inter + term
    return (
        cand.join(left, "id_a")
        .join(right, "id_b")
        .withColumn("__i", inter.cast("double"))
        .select(
            "id_a",
            "id_b",
            (F.col("__i") / (F.col("sz_a") + F.col("sz_b") - F.col("__i"))).alias(
                "jaccard"
            ),
        )
    )


def prepare_jaccard_corpus(
    df: DataFrame,
    text_col: str,
    id_col: str,
    use_char_ngrams: bool = False,
    ngram: int = 5,
    checkpoint: bool = False,
) -> dict:
    """Build the reusable corpus-side state for jaccard_pairs_exact:
    hashed shingle-set groups, the dense-vocab gate decision, and
    (when the vocabulary is dense-boundable) the bitmap encoding.

    This is a pure function of (corpus, shingling) — the THRESHOLD
    plays no part — so callers that pair the same corpus repeatedly
    (threshold sweeps, bench reps) build it once and pass it back via
    ``prepared=``; same memoization shape as the x35 incremental-dedup
    index. ``checkpoint=True`` materializes the tables via eager
    localCheckpoint so the state survives release_cached() and never
    recomputes shingle arrays (callers own the lifetime; blocks free
    when the returned refs drop).

    Keys: groups (sh, ids), n_vocab, and — only when
    n_vocab <= _DENSE_VOCAB_MAX — vocab (t, pos), n_words, bm
    (per-rep bitmaps), n_reps; None/0 otherwise."""
    df = spread_small_input(df)
    shingle = (
        char_ngrams(F.col(text_col), ngram)
        if use_char_ngrams
        else F.array_distinct(word_tokens(F.col(text_col)))
    )
    # shingles are carried as 64-bit hashes: set cardinalities (and so
    # Jaccard) are preserved (collision odds ~2^-64 per pair) while
    # intersections run on longs instead of strings — the verify step
    # is the hot loop and gets ~5x cheaper.
    # persist: without a materialization barrier Catalyst collapses the
    # projection into downstream joins and recomputes shingle arrays
    # per use instead of once per row
    hashed = F.array_sort(
        F.array_distinct(F.transform(shingle, lambda t: F.xxhash64(t)))
    )
    # empty/blank docs are excluded, matching minhash_lsh_pairs:
    # Jaccard of empty sets is 0/0-undefined, and grouping them would
    # emit bogus jaccard-1.0 "pairs". The explicit blank-text filter
    # matters for the char-ngram path: char_ngrams('') yields ['']
    # (one shingle), so F.size > 0 alone would NOT exclude blanks
    docs = (
        df.filter(
            F.col(text_col).isNotNull()
            & (F.length(F.trim(F.col(text_col))) > 0)
        )
        .select(F.col(id_col).alias("id"), hashed.alias("sh"))
        .filter(F.size("sh") > 0)
    )
    # collapse identical shingle sets: representatives carry the group
    groups = docs.groupBy("sh").agg(
        F.sort_array(F.collect_list("id")).alias("ids")
    )
    # checkpoint pins the tables at whatever partition count the last
    # AQE-coalesced exchange produced (measured 6 at sf0.1) — every
    # downstream probe's heavy self-join then runs underparallelized
    # (12.4s vs 8.2s full recompute on 32 cores). Re-widen to the
    # cluster's parallelism BEFORE materializing: a one-time shuffle
    # priced into the recorded build cost, not the probes.
    if checkpoint:
        par = df.sparkSession.sparkContext.defaultParallelism
        groups = groups.repartition(par).localCheckpoint()
    else:
        groups = _persist(groups)
    s = groups.select(F.col("ids")[0].alias("id"), "sh")
    # corpus-adaptive strategy choice (two cheap aggregates over the
    # persisted groups): dense vocab -> bitmap encoding; dense vocab
    # AND bounded rep count -> skip candidate generation entirely.
    # The distinct is persisted so the gate count doubles as the cache
    # fill — the vocab subtree otherwise re-runs once per downstream
    # broadcast build (round 14, profiled on x05: 3 x 8-16s executor
    # time for the same 60k-row distinct chain).
    vocab = s.select(F.explode("sh").alias("t")).distinct()
    if not checkpoint:
        vocab = _persist(vocab)
    n_vocab = vocab.count()
    prepared: dict = {
        "groups": groups, "n_vocab": n_vocab,
        "vocab": None, "n_words": 0, "bm": None, "n_reps": None,
    }
    if n_vocab <= _DENSE_VOCAB_MAX:
        from pyspark.sql.window import Window

        n_words = max(1, (n_vocab + 63) // 64)
        # dense 0..V-1 positions: single-partition sort is fine at
        # V <= _DENSE_VOCAB_MAX by construction
        vocab = vocab.withColumn(
            "pos", F.row_number().over(Window.orderBy("t")) - 1
        )
        bm = _dense_bitmaps(s, vocab, n_words)
        if checkpoint:
            # vocab is <= _DENSE_VOCAB_MAX rows (broadcast-sized, fine
            # at 1 partition); bm is representative-sized and feeds
            # the per-probe verify join — re-widen like groups above
            vocab = vocab.localCheckpoint()
            bm = bm.repartition(
                df.sparkSession.sparkContext.defaultParallelism
            ).localCheckpoint()
        # bm stays LAZY deliberately: persisting it was measured
        # twice to be slower — round 13 (lazy persist, 3.93 -> 4.89
        # on x20) and round 14 (eager persist+count: the all-pairs
        # verify's BNLJ loses whole-stage codegen over the columnar
        # cache and the 33-word popcount evaluates interpreted per
        # pair, 3.5s -> 1023s executor at sf0.1). Re-fusing the
        # bitmap encode into each side's codegen pipeline is the
        # cheap option; its vocab input reads the cache above.
        prepared.update(
            vocab=vocab, n_words=n_words, bm=bm, n_reps=groups.count()
        )
    return prepared


def jaccard_pairs_exact(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.6,
    use_char_ngrams: bool = False,
    ngram: int = 5,
    frequency_order: bool = False,
    prepared: dict | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs >= threshold via prefix filtering
    (PPJoin-style). Columns: id_a < id_b, jaccard.

    Scale story: a naive cross join is O(N²) array intersections and
    dies at corpus scale. Prefix filtering is exact with no cross
    join: two sets with Jaccard >= t MUST share a shingle within the
    first (|s| - ceil(t*|s|) + 1) shingles under ANY consistent
    global shingle order — candidates come from an inverted-index
    self-join on prefix shingles only, then one exact intersection
    each verifies.

    Default order = the shingle's own 64-bit hash: the prefix is
    array_sort + slice PER ROW, so the whole plan is one explode of
    prefix shingles + one equi-join + one verify join (no global
    frequency pass). ``frequency_order=True`` switches to the classic
    ascending-global-frequency order, which can shrink inverted lists
    on some corpora at the cost of a corpus-wide groupBy + per-doc
    window. Both paths apply the PPJoin POSITIONAL filter before
    verification: a match at prefix positions (px, py) bounds the
    possible overlap by 1 + min(|x|-px, |y|-py), which must reach
    ceil(t/(1+t)·(|x|+|y|)) — on self-similar corpora this prunes
    the candidate set severalfold before the expensive intersections.

    Before any pairing, documents with IDENTICAL shingle sets are
    collapsed to one representative (groupBy on the hashed set — one
    shuffle, strictly reduces the join input on any corpus): the
    pipeline pairs representatives only, then expands back to doc
    pairs — intra-group pairs have Jaccard exactly 1. On dup-heavy
    corpora this removes the dominant share of the inverted-index
    join.

    Verification adapts to the corpus: when the corpus-wide shingle
    vocabulary fits _DENSE_VOCAB_MAX, sets are bitmap-encoded over a
    dense vocab index and each candidate verifies with AND+popcount
    over <= 64 long columns (whole-stage codegen) instead of an
    array_intersect hash-set build per pair — decisive when prefix
    filtering degenerates toward all-pairs on self-similar corpora.

    ``prepared`` accepts a prepare_jaccard_corpus() result for the
    same (corpus, shingling) so repeated pairings (threshold sweeps,
    bench reps) skip the shingle hash + group + vocab + bitmap work.
    """
    if prepared is None:
        prepared = prepare_jaccard_corpus(
            df, text_col, id_col, use_char_ngrams, ngram
        )
    groups = prepared["groups"]
    s = groups.select(F.col("ids")[0].alias("id"), "sh")
    n_vocab = prepared["n_vocab"]
    if n_vocab <= _DENSE_VOCAB_MAX:
        vocab = prepared["vocab"]
        n_words = prepared["n_words"]
        bm = prepared["bm"]
        n_reps = prepared["n_reps"]
        if n_reps <= _DENSE_ALLPAIRS_BROADCAST_CAP and _allpairs_beats_prefix(
            s, n_reps, threshold
        ):
            left = bm.select(
                F.col("id").alias("id_a"),
                F.col("sz").alias("sz_a"),
                *[F.col(f"w{j}").alias(f"a{j}") for j in range(n_words)],
            )
            right = bm.select(
                F.col("id").alias("id_b"),
                F.col("sz").alias("sz_b"),
                *[F.col(f"w{j}").alias(f"b{j}") for j in range(n_words)],
            )
            inter = None
            for j in range(n_words):
                term = F.bit_count(F.col(f"a{j}").bitwiseAND(F.col(f"b{j}")))
                inter = term if inter is None else inter + term
            rep_pairs = (
                left.join(
                    F.broadcast(right),
                    (F.col("id_a") < F.col("id_b"))
                    # cheap length filter short-circuits most pairs
                    & (F.col("sz_a") >= F.lit(threshold) * F.col("sz_b"))
                    & (F.col("sz_b") >= F.lit(threshold) * F.col("sz_a")),
                )
                .withColumn("__i", inter.cast("double"))
                .select(
                    "id_a",
                    "id_b",
                    (
                        F.col("__i")
                        / (F.col("sz_a") + F.col("sz_b") - F.col("__i"))
                    ).alias("jaccard"),
                )
                .filter(F.col("jaccard") >= threshold)
            )
            return _expand_rep_pairs(groups, rep_pairs)
        dense_verify = (bm, n_words, n_reps <= _DENSE_BROADCAST_MAX)
    else:
        dense_verify = None
    plen = F.size("sh") - F.ceil(F.lit(threshold) * F.size("sh")) + 1
    if frequency_order:
        from pyspark.sql.window import Window

        tok = s.select("id", F.size("sh").alias("sz"), F.explode("sh").alias("t"))
        freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("f"))
        w = Window.partitionBy("id").orderBy(F.asc("f"), F.asc("t"))
        prefix = (
            tok.join(freq, "t")
            .withColumn("rn", F.row_number().over(w))
            .filter(
                F.col("rn")
                <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
            )
            .select("id", "sz", "t", "rn")
        )
    else:
        prefix = s.select(
            "id",
            F.size("sh").alias("sz"),
            F.posexplode(F.slice(F.col("sh"), F.lit(1), plen.cast("int"))),
        ).select(
            "id", "sz", F.col("col").alias("t"), (F.col("pos") + 1).alias("rn")
        )
    # length filter (|a| >= t*|b| is necessary for Jaccard >= t) and
    # PPJoin positional filter prune before the expensive verification
    required = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("x.sz") + F.col("y.sz"))
    )
    overlap_bound = 1 + F.least(
        F.col("x.sz") - F.col("x.rn"), F.col("y.sz") - F.col("y.rn")
    )
    cand = (
        prefix.alias("x")
        .join(prefix.alias("y"), "t")
        .filter(
            (F.col("x.id") < F.col("y.id"))
            & (F.col("x.sz") >= F.lit(threshold) * F.col("y.sz"))
            & (F.col("y.sz") >= F.lit(threshold) * F.col("x.sz"))
            & (overlap_bound >= required)
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    # verification: the candidate set can approach all-pairs on
    # self-similar corpora, so per-pair cost decides the wall time.
    # Small vocab -> bitmap AND+popcount (codegen); else array verify.
    if dense_verify is not None:
        bm, n_words, bcast = dense_verify
        rep_pairs = _bitmap_verify(cand, bm, n_words, broadcast_bm=bcast).filter(
            F.col("jaccard") >= threshold
        )
    else:
        sh = s
        rep_pairs = (
            cand.join(
                sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
                "id_a",
            )
            .join(
                sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                _jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )
    return _expand_rep_pairs(groups, rep_pairs)


def _expand_rep_pairs(
    groups: DataFrame,
    rep_pairs: DataFrame,
    value_col: str = "jaccard",
    identical_value: float = 1.0,
) -> DataFrame:
    """Expand representative pairs back to doc pairs and add
    intra-group pairs (identical sets: ``value_col`` is
    ``identical_value`` — Jaccard 1.0 / Hamming 0)."""
    ga = groups.select(F.col("ids")[0].alias("id_a"), F.col("ids").alias("ids_a"))
    gb = groups.select(F.col("ids")[0].alias("id_b"), F.col("ids").alias("ids_b"))
    cross = (
        rep_pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            F.explode("ids_a").alias("ea"), F.col("ids_b").alias("ids_b"), value_col
        )
        .select(
            "ea", F.explode("ids_b").alias("eb"), value_col
        )
        .select(
            F.least("ea", "eb").alias("id_a"),
            F.greatest("ea", "eb").alias("id_b"),
            value_col,
        )
    )
    intra = (
        groups.filter(F.size("ids") > 1)
        .select("ids", F.posexplode("ids").alias("i", "id_a"))
        .select(
            "id_a",
            F.explode(
                F.slice(F.col("ids"), F.col("i") + 2, F.size("ids"))
            ).alias("id_b"),
        )
        .withColumn(value_col, F.lit(identical_value))
    )
    # match rep_pairs' value type (hamming is int, jaccard double)
    vtype = dict(rep_pairs.dtypes)[value_col]
    intra = intra.withColumn(value_col, F.col(value_col).cast(vtype))
    return cross.unionByName(intra)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.6,
    n_hashes: int = 32,
    n_bands: int = 8,
    use_char_ngrams: bool = False,
    ngram: int = 5,
    max_bucket_size: int = 256,
    chain_width: int = 4,
    prefilter: bool | None = None,
    prefilter_min_candidates: int = 20000,
) -> DataFrame:
    """Scale path: MinHash signatures -> LSH band buckets ->
    signature-prefiltered candidate pairs -> exact-Jaccard
    verification. Returns (id_a, id_b, jaccard) with jaccard >=
    threshold (verified exactly, so no false positives; recall is the
    LSH S-curve in n_bands/rows times the prefilter's negligible
    additional miss term, below).

    ``prefilter`` controls the signature-agreement prefilter:
    ``None`` (default) is ADAPTIVE — the prefilter only runs when the
    candidate count (derived from the bucket sizes, no extra job) is
    >= ``prefilter_min_candidates`` (below that, the exact verify on the
    raw candidates is cheaper than the two signature joins the
    prefilter costs — the regime a small corpus sits in). ``False``
    disables it entirely, restoring the strict no-probabilistic-
    prefilter recall guarantee (every band-bucket candidate is
    exact-verified); ``True`` forces it regardless of size.

    Shuffle profile: one explode+groupBy on band keys (candidate
    generation) and one join back for verification — never O(N²).
    Degenerate band buckets are bounded by ``max_bucket_size`` /
    ``chain_width`` (see capped_bucket_pairs).

    Identical shingle sets are collapsed to one representative before
    signatures (one groupBy): duplicate-heavy corpora compute one
    signature per distinct set, buckets hold representatives, and
    exact-duplicate pairs (Jaccard 1) are emitted directly — recall
    on identical documents is 1.0 regardless of banding.
    """
    df = spread_small_input(df)
    if n_bands <= 0 or n_hashes % n_bands != 0:
        # indivisible settings would silently drop hashes (changing
        # the documented S-curve) or hash zero rows per band (every
        # doc in one bucket)
        raise ValueError(
            f"n_hashes ({n_hashes}) must be a positive multiple of "
            f"n_bands ({n_bands})"
        )
    rows_per_band = n_hashes // n_bands
    shingle = (
        char_ngrams(F.col(text_col), ngram)
        if use_char_ngrams
        else F.array_distinct(word_tokens(F.col(text_col)))
    )
    # carry shingles as 64-bit hashes (Jaccard-preserving, cheaper to
    # re-hash per MinHash permutation and to intersect at verify time)
    hashed = F.array_sort(
        F.array_distinct(F.transform(shingle, lambda t: F.xxhash64(t)))
    )
    # blank-text filter: char_ngrams('') yields [''], so F.size alone
    # would group all blank docs into one bogus jaccard-1.0 cluster
    docs = (
        df.filter(
            F.col(text_col).isNotNull()
            & (F.length(F.trim(F.col(text_col))) > 0)
        )
        .select(F.col(id_col).alias("id"), hashed.alias("sh"))
        .filter(F.size("sh") > 0)
    )
    groups = _persist(
        docs.groupBy("sh").agg(F.sort_array(F.collect_list("id")).alias("ids"))
    )
    sigs = _persist(
        groups.select(F.col("ids")[0].alias("id"), "sh").withColumn(
            "sig", minhash_signature(F.col("sh"), n_hashes)
        )
    )  # reused by banding AND verification joins
    banded = sigs.select(
        "id", F.explode(band_keys(F.col("sig"), n_bands, rows_per_band)).alias("bk")
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    # no distinct here: a pair agreeing on several bands is emitted once
    # per band; the dedup moves BELOW the prefilter (or the verify) —
    # at sf0.1 the up-front distinct exchanged 226k rows to remove 4k
    # duplicates, while the post-prefilter set is ~1k rows (round 14).
    # The eager sized fill also materializes the groups/sigs caches in
    # one linear chain, so every later consumer is a cache read, and
    # its aggregate returns the candidate count the adaptive gate
    # below needs.
    cand, n_cand = _sized_bucket_pairs(
        banded, ["band", "key"], max_bucket_size, chain_width
    )
    # Signature prefilter before the exact verify: band buckets admit
    # any pair agreeing on ONE band, so on shingle-dense corpora the
    # candidate set can be orders of magnitude larger than the true
    # pair set (measured 221k candidates for 238 true pairs at sf0.1).
    # The full signatures are already joined-sized data, and the
    # fraction of agreeing minhashes is an unbiased Jaccard estimate,
    # so requiring agreement >= threshold - margin drops ~all junk
    # while losing a TRUE pair only on a >= margin downward estimate
    # deviation. The margin scales with the signature length so the
    # miss rate stays negligible at ANY n_hashes: the estimate's
    # worst-case sd is sqrt(0.25/n), and margin = max(0.3, 6*sd) keeps
    # misses at the ~6-sigma level (~1e-9 at 64 hashes; at short
    # signatures the margin widens until the filter is effectively
    # off) — far below the banding miss rate the verify step already
    # tolerates. The surviving candidates are ~true-pair count, so the
    # exact verify joins shingle sets directly — no bitmap
    # construction (jaccard_pairs_exact keeps the dense-bitmap
    # machinery for its all-pairs oracle path).
    margin = max(0.3, 6.0 * _math.sqrt(0.25 / n_hashes))
    min_match = int(_math.ceil(max(0.0, threshold - margin) * n_hashes))
    apply_prefilter = prefilter is not False and min_match > 0
    if apply_prefilter and prefilter is None:
        # Adaptive: the prefilter's two signature joins only amortize
        # when the candidate set dwarfs the true-pair set. The sizing
        # aggregate already counted the candidates, so the gate costs
        # no Spark job.
        apply_prefilter = n_cand >= prefilter_min_candidates
    if apply_prefilter:
        sg = sigs.select("id", "sig")
        cand = (
            cand.join(
                sg.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")),
                "id_a",
            )
            .join(
                sg.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")),
                "id_b",
            )
            .withColumn(
                "__match",
                F.aggregate(
                    F.zip_with(
                        "sig_a",
                        "sig_b",
                        lambda a, b: F.when(a == b, 1).otherwise(0),
                    ),
                    F.lit(0),
                    lambda acc, x: acc + x,
                ),
            )
            .filter(F.col("__match") >= min_match)
            .select("id_a", "id_b")
            .distinct()
        )
    else:
        # no prefilter ran: dedup the per-band duplicates before the
        # array verify (the verify emits one row per input pair, and
        # _expand_rep_pairs must see each rep pair exactly once)
        cand = cand.distinct()
    sh = sigs.select("id", "sh")
    rep_pairs = (
        cand.join(
            sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"),
            "id_a",
        )
        .join(
            sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"),
            "id_b",
        )
        .select(
            "id_a", "id_b", _jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return _expand_rep_pairs(groups, rep_pairs)


def build_minhash_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 64,
    n_bands: int = 16,
    use_char_ngrams: bool = False,
    ngram: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """Persistent dedup index over a corpus: returns
    ``(bands, sets)`` — ``bands`` = (id, band, key) LSH bucket rows,
    ``sets`` = (id, sh) hashed shingle sets for exact verification.
    Write both as parquet (partition ``bands`` by ``band``, bucket by
    ``key`` for shuffle-free lookups) and new crawl batches dedup
    against the corpus WITHOUT re-pairing it (`dedup_against_index`).

    This is the production shape at 100 TB: the corpus index is built
    once (linear scan), and each incoming batch costs
    O(batch + matched buckets), never O(corpus).
    """
    if n_bands <= 0 or n_hashes % n_bands != 0:
        # indivisible settings would silently drop hashes (changing
        # the documented S-curve) or hash zero rows per band (every
        # doc in one bucket)
        raise ValueError(
            f"n_hashes ({n_hashes}) must be a positive multiple of "
            f"n_bands ({n_bands})"
        )
    rows_per_band = n_hashes // n_bands
    shingle = (
        char_ngrams(F.col(text_col), ngram)
        if use_char_ngrams
        else F.array_distinct(word_tokens(F.col(text_col)))
    )
    hashed = F.array_sort(
        F.array_distinct(F.transform(shingle, lambda t: F.xxhash64(t)))
    )
    docs = _persist(
        spread_small_input(df)
        .select(F.col(id_col).alias("id"), hashed.alias("sh"))
        .filter(F.size("sh") > 0)
    )
    sigs = docs.withColumn("sig", minhash_signature(F.col("sh"), n_hashes))
    bands = sigs.select(
        "id", F.explode(band_keys(F.col("sig"), n_bands, rows_per_band)).alias("bk")
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    return bands, docs.select("id", "sh")


def append_to_minhash_index(
    index_bands: DataFrame,
    index_sets: DataFrame,
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 64,
    n_bands: int = 16,
    use_char_ngrams: bool = False,
    ngram: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """Grow the corpus index with a new (already-deduplicated) batch:
    returns the unioned ``(bands, sets)``. The ingestion loop is
    probe -> drop matches -> append survivors; parameters MUST match
    the ones the index was built with (band keys are a function of
    n_hashes/n_bands/shingling). Cost: one scan of the new batch —
    the existing index DataFrames are reused untouched (append the
    delta to the same parquet locations in production).
    """
    new_bands, new_sets = build_minhash_index(
        new_df, text_col, id_col, n_hashes, n_bands, use_char_ngrams, ngram
    )
    return (
        index_bands.unionByName(new_bands),
        index_sets.unionByName(new_sets),
    )


def build_dense_index_verifier(
    index_sets: DataFrame,
) -> tuple[DataFrame, int, DataFrame] | None:
    """Precompute dedup_against_index's dense-verify structures ONCE
    per corpus index (round 9): ``(vocab_positions, n_words,
    index_bitmaps)``, or None when the index's shingle vocabulary is
    not dense-boundable (the 100 TB default — callers then use the
    array verify). dedup_against_index never builds it itself: code
    that probes an index repeatedly (streaming foreachBatch, bench
    reps) builds it next to the index — localCheckpoint the two
    DataFrames — and passes it to every probe.

    The vocab covers the INDEX side only; new batches encode over it
    with true-|A| sizes (_dense_bitmaps size_from_array), which keeps
    the verified jaccard exact — an unmapped probe shingle cannot
    intersect any index set.

    Gate cost (round 13, measured): an approx_count_distinct pre-gate
    (one scan, no shuffle) to short-circuit the too-big case was
    tried and REVERTED — on the bench corpus the char-5-gram vocab is
    ~2k (dense path taken), so the HLL scan became pure extra work on
    top of the exact counts it was meant to avoid (x35/x42 builds
    3.9s -> 5.0/5.6s). The exact gate below is a one-job distinct
    count; at a truly 100 TB vocab the caller should skip the dense
    verifier outright rather than gate-probe it."""
    vocab = index_sets.select(F.explode("sh").alias("t")).distinct()
    n_vocab = vocab.count()
    if n_vocab > _DENSE_VOCAB_MAX:
        return None
    if index_sets.count() > _DENSE_BROADCAST_MAX:
        return None
    from pyspark.sql.window import Window as _W

    n_words = max(1, (n_vocab + 63) // 64)
    vocab = vocab.withColumn("pos", F.row_number().over(_W.orderBy("t")) - 1)
    bm_idx = _dense_bitmaps(index_sets.select("id", "sh"), vocab, n_words)
    return vocab, n_words, bm_idx


def dedup_against_index(
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    index_bands: DataFrame,
    index_sets: DataFrame,
    threshold: float = 0.8,
    n_hashes: int = 64,
    n_bands: int = 16,
    use_char_ngrams: bool = False,
    ngram: int = 5,
    max_bucket_size: int = 256,
    dense_index: "tuple[DataFrame, int, DataFrame] | bool | None" = None,
) -> DataFrame:
    """Incremental dedup: match a NEW batch against an existing corpus
    index (`build_minhash_index`) -> (new_id, index_id, jaccard) with
    jaccard >= threshold, verified exactly (no false positives;
    recall = the LSH S-curve, ~1 at the default 16x4 banding for
    J >= 0.8 — and exactly 1 for byte-identical documents, whose
    signatures agree on every band).

    Scale shape: the new batch is scanned once (signatures, JVM-side),
    then ONE equi-join on (band, key) against the index's band table
    — with the index bucketed by key on disk this is shuffle-free on
    the corpus side; only matched buckets are read for verification.
    Oversized index buckets (boilerplate) are truncated to
    ``max_bucket_size`` members per (band, key) — same bounding policy
    as capped_bucket_pairs.

    ``dense_index`` selects the verify path. The default (``None``,
    or ``False``) verifies each candidate by intersecting its two
    shingle arrays, and adds no Spark job of its own. A tuple from
    ``build_dense_index_verifier`` switches to the broadcast bitmap
    verify. Build that tuple ONCE per index, next to the index itself,
    and pass it to every probe: building it costs a vocab distinct
    count, an index count, a global row_number and a bitmap encode of
    the index, which at batch scale cost more than the array verify
    it replaces (x35's split of the sf0.01 corpus on 4 vCPUs: 24 Spark
    jobs and 5.0 s per probe with a per-call build, 13 jobs and 2.2 s
    on the array path, the same rows). The bitmap path pays off when
    self-similar corpora make banding admit far more candidates than
    true pairs (measured 95k candidates -> 89 pairs at sf0.1) and the
    array-fetch joins would move GBs of shingle arrays.
    """
    new_bands, new_sets = build_minhash_index(
        new_df, text_col, id_col, n_hashes, n_bands, use_char_ngrams, ngram
    )
    # the batch band table feeds TWO consumers (the probe-key
    # broadcast and the candidate join); without a persist the batch
    # is re-shingled and re-signed once per consumer
    new_bands = _persist(new_bands)
    from pyspark.sql.window import Window

    # restrict the index to buckets the batch actually probes BEFORE
    # any window: the probe-key set is batch-sized (broadcastable), so
    # the corpus index is never globally shuffled — only matched
    # buckets flow into the size-cap window and the candidate join.
    # (With the band table bucketed by key on disk the semi-join scan
    # prunes too.) This is what keeps the operator O(batch + hit
    # buckets) instead of O(corpus) per call / per micro-batch.
    probe_keys = new_bands.select("band", "key").distinct()
    hit = index_bands.join(F.broadcast(probe_keys), ["band", "key"], "left_semi")
    wb = Window.partitionBy("band", "key").orderBy("id")
    idx = hit.withColumn("__rn", F.row_number().over(wb)).filter(
        F.col("__rn") <= max_bucket_size
    )
    cand = (
        new_bands.withColumnRenamed("id", "new_id")
        .join(idx.withColumnRenamed("id", "index_id"), ["band", "key"])
        .select("new_id", "index_id")
        .distinct()
    )
    # verify-step strategy: with a verifier the caller built once per
    # index (build_dense_index_verifier), both sides bitmap-encode over
    # the index's vocab (new-batch bitmaps keep their TRUE set size, so
    # unmapped probe shingles only shrink the intersection they could
    # never join — exact) and every candidate verifies via broadcast
    # AND+popcount: the candidate set never shuffles to pick up arrays.
    # Without one (None, or its alias False) the candidates fetch
    # their shingle arrays through two joins.
    if dense_index:
        vocab, n_words, bm_idx = dense_index
        bm_new = _dense_bitmaps(new_sets, vocab, n_words, size_from_array=True)
        return (
            _bitmap_verify(
                cand.select(
                    F.col("new_id").alias("id_a"),
                    F.col("index_id").alias("id_b"),
                ),
                bm_new,
                n_words,
                broadcast_bm=True,
                bm_b=bm_idx,
            )
            .filter(F.col("jaccard") >= threshold)
            .select(
                F.col("id_a").alias("new_id"),
                F.col("id_b").alias("index_id"),
                "jaccard",
            )
        )
    pairs = (
        cand.join(
            new_sets.select(F.col("id").alias("new_id"), F.col("sh").alias("sh_a")),
            "new_id",
        )
        .join(
            index_sets.select(
                F.col("id").alias("index_id"), F.col("sh").alias("sh_b")
            ),
            "index_id",
        )
        .select(
            "new_id",
            "index_id",
            _jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return pairs


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    max_bucket_size: int = 256,
    chain_width: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance <= max_hamming.
    Complete (no false negatives) via the (max_hamming + 1)-block
    pigeonhole filter — max_hamming differing bits cannot touch all
    max_hamming + 1 blocks, so every qualifying pair agrees on at
    least one block key — up to the max_bucket_size bound on
    degenerate blocks (capped_bucket_pairs); returns
    (id_a, id_b, hamming). Wider radii mean narrower blocks and so
    busier buckets: the candidate filter stays complete, but expect
    more verification work per pair as max_hamming grows.

    Documents with IDENTICAL signatures (hamming 0 — the dominant
    mass on duplicate-heavy corpora) are collapsed to one
    representative by a groupBy on the signature before blocking, so
    block buckets hold distinct signatures only and equal-signature
    pairs are emitted directly — the bucket cap can no longer drop
    exact duplicates.

    Blank/NULL-text documents are excluded (all hash to signature 0
    and would collapse into one fake hamming-0 cluster, taking any
    real signature-0 document with them — same exclusion as the
    jaccard/minhash operators)."""
    if not 0 <= max_hamming <= 31:
        # completeness needs max_hamming + 1 pigeonhole blocks; past 32
        # blocks each key is under 2 bits wide and the filter degenerates
        # to (nearly) all-pairs — reject loudly instead of running an
        # accidental cartesian
        raise ValueError(
            f"max_hamming={max_hamming} outside the supported pigeonhole "
            "range [0, 31]: the filter needs max_hamming + 1 blocks and "
            "64-bit signatures leave blocks with no selectivity past that"
        )
    # pigeonhole: r differing bits cannot touch all r + 1 blocks (floor
    # of 2 keeps the key width a sane long even at radius 0/1)
    n_blocks = max(2, max_hamming + 1)
    df = spread_small_input(df)
    groups = _persist(
        df.filter(
            F.col(text_col).isNotNull()
            & (F.length(F.trim(F.col(text_col))) > 0)
        )
        .select(
            F.col(id_col).alias("id"),
            simhash64(word_tokens(F.col(text_col))).alias("sig"),
        )
        .groupBy("sig")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
    )
    sigs = groups.select(F.col("ids")[0].alias("id"), "sig")
    blocked = sigs.select(
        "id", F.explode(simhash_block_keys(F.col("sig"), n_blocks)).alias("bk")
    ).select("id", F.col("bk.block").alias("block"), F.col("bk.key").alias("key"))
    # distinct=False: the hamming verify is a cheap per-row popcount
    # through two broadcast-sized joins, so per-block duplicate pairs
    # dedup AFTER the <= max_hamming filter (the surviving set), not
    # before it (round 14 — same shave as minhash_lsh_pairs; the
    # eager sized fill in capped_bucket_pairs materializes groups in
    # one linear chain too)
    cand = capped_bucket_pairs(
        blocked, ["block", "key"], max_bucket_size, chain_width, distinct=False
    )
    rep_pairs = (
        cand.join(sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a")
        .join(sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            hamming64(F.col("sig_a"), F.col("sig_b")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return _expand_rep_pairs(groups, rep_pairs, "hamming", 0)


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    brute_force: bool = False,
    max_bucket_size: int = 256,
    chain_width: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= threshold).

    Scale path: random-hyperplane LSH bucket key (n_planes sign bits),
    pairs generated within buckets only, cosine verified exactly.
    ``brute_force=True`` switches to the all-pairs baseline (for
    recall measurement / tiny inputs)."""
    from ..functions.vectors import dot as _dot
    from ..functions.vectors import l2_norm

    # precompute the norm once per row; the pair loop then does ONE
    # array aggregate (the dot product) instead of three. Zero-norm
    # vectors (empty/failed-encode rows) are EXCLUDED: cosine is
    # undefined for them, and dot/(0 * nb) throws DIVIDE_BY_ZERO
    # under Spark's default ANSI mode (or silently NULLs the pair
    # with ANSI off)
    base = _persist(
        spread_small_input(df)
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            l2_norm(F.col(vec_col)).alias("nrm"),
        )
        .filter(F.col("nrm") > 0)
    )
    if brute_force:
        pairs = base.alias("a").join(base.alias("b"), F.col("a.id") < F.col("b.id"))
        pairs = pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (_dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))).alias("cos"),
        )
    else:
        probe = base.select("v").filter(F.col("v").isNotNull()).first()
        if probe is None:  # empty batch: zero pairs, not a crash
            return base.sparkSession.createDataFrame(
                [], "id_a long, id_b long, cos double"
            )
        dim = len(probe["v"])
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((n_planes, dim)).tolist()
        bucketed = _persist(
            base.withColumn("bucket", hyperplane_sign_bits(F.col("v"), planes))
        )
        cand = capped_bucket_pairs(
            bucketed.select("id", "bucket"), ["bucket"], max_bucket_size, chain_width
        )
        pairs = (
            cand.join(
                base.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                            F.col("nrm").alias("na")), "id_a")
            .join(
                base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                            F.col("nrm").alias("nb")), "id_b")
            .select(
                "id_a",
                "id_b",
                (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cos"),
            )
        )
    return pairs.distinct().filter(F.col("cos") >= threshold)


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.8,
    n_planes: int = 8,
    seed: int = 42,
    brute_force: bool = False,
    max_bucket_size: int = 256,
    chain_width: int = 4,
    resolve_reps: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic pruning over an embedding column ->
    (id, kept, rep_id): drop every item that is cosine-similar
    (>= ``threshold``) to an EARLIER item (smaller id); survivors are
    their own representative.

    With ``resolve_reps=True`` (default) a pruned item's ``rep_id`` is
    resolved along the predecessor chain to a KEPT survivor (chain
    a~b~c: c's raw pointer is b, but b was itself pruned to a — the
    resolved rep is a), so callers substituting pruned rows with their
    representative always reference retained data. Resolution is
    pointer-doubling over the rep table: O(log chain-depth) self-joins,
    each a single equi-join shuffle on id. ``resolve_reps=False``
    returns the raw smallest-similar-predecessor pointer, which may
    itself be pruned.

    The keep rule ("no earlier neighbor") is deliberately local and
    deterministic: it needs only the near-dup pair list — one
    aggregation + one left anti-style join past ``embedding_neardup_
    pairs`` — so it scales exactly as the pair generation does and any
    engine reproduces it from the same pairs. (Greedy one-per-cluster
    selection in id order differs on chains a~b, b~c, !a~c: greedy
    keeps {a, c}, this rule keeps {a}. For training-data pruning the
    stricter rule errs toward dropping more near-duplicates.)

    Scale shape: pair generation is LSH-bucketed (``brute_force=True``
    only for oracle baselines); the keep decision adds one groupBy on
    the pruned id and one outer join back to the id universe.
    """
    pairs = embedding_neardup_pairs(
        df,
        vec_col,
        id_col,
        threshold=threshold,
        n_planes=n_planes,
        seed=seed,
        brute_force=brute_force,
        max_bucket_size=max_bucket_size,
        chain_width=chain_width,
    )
    # pairs have id_a < id_b: id_b always has an earlier neighbor
    reps = pairs.groupBy(F.col("id_b").alias("id")).agg(
        F.min("id_a").alias("rep")
    )
    if resolve_reps:
        # Pointer doubling: rep <- rep's rep while rep is itself pruned.
        # Chain depth halves per round, so rounds = O(log depth); each
        # round is one equi-join. localCheckpoint truncates the lineage
        # so the plan doesn't grow exponentially with rounds.
        reps = track_local_checkpoint(reps.localCheckpoint(eager=True))
        while True:
            parent = reps.select(
                F.col("id").alias("p_id"), F.col("rep").alias("p_rep")
            )
            stepped = (
                reps.join(parent, reps["rep"] == parent["p_id"], "left")
                .select(
                    "id",
                    F.coalesce("p_rep", "rep").alias("rep"),
                    F.col("p_rep").isNotNull().alias("moved"),
                )
            )
            stepped = track_local_checkpoint(
                stepped.localCheckpoint(eager=True)
            )
            moved = stepped.filter("moved").count()
            reps = stepped.drop("moved")
            if moved == 0:
                break
    return (
        df.select(F.col(id_col).alias("id"))
        .join(reps, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("rep").isNull().alias("kept"),
            F.coalesce("rep", "id").alias("rep_id"),
        )
    )
