"""Similarity search over an embedding column (extension surface).

- brute_force_topk: exact top-k by cosine. One full scan, per-row JVM
  dot product, TakeOrdered (no full sort, no shuffle of the data —
  each partition keeps k rows, driver merges). The 100 TB story: scan
  cost is the floor for exact search; everything below cuts the scan.
- ivf_topk: IVF-style index — KMeans (pyspark.ml) coarse quantizer,
  embeddings partitioned by nearest-centroid cell; queries probe only
  the ``nprobe`` nearest cells. Classic FAISS-IVF layout re-expressed
  as a partitioned parquet table + pruned scan.
- lsh_topk: random-hyperplane bucket prefilter (multi-probe over
  nearby buckets), exact rerank inside the probed buckets.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine, hyperplane_sign_bits  # noqa: F401 (sign_bits used by lsh_topk)


from .partitioning import (
    spread_small_input,
    tiny_literal_frame,
    track_local_checkpoint,
)


import weakref

# sketch tables whose word-width already matched their planes (see
# similarity_selectivity: the check is a Spark job, run once per table)
_VALIDATED_SKETCHES: "weakref.WeakSet" = weakref.WeakSet()


def _query_vec_col(query_vec: list[float]):
    # one expr() round-trip instead of dim F.lit calls (see
    # _nearest_struct_sql on why that matters)
    return F.expr(_arr_sql(query_vec))


def _valid_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Exclude NULL and zero-norm vectors: cosine is undefined for
    them, the division throws DIVIDE_BY_ZERO under Spark's default
    ANSI mode (silently NULLs with ANSI off), NULL rows NPE inside
    MLlib KMeans, and a NULL vector's hyperplane bucket is the
    deterministic all-zero key — junk rows in every LSH probe. One
    row-local filter shared by every cosine operator here (the same
    guard dedup.py's embedding path grew in round 7)."""
    from ..functions.vectors import l2_norm

    return df.filter(
        F.col(vec_col).isNotNull() & (l2_norm(F.col(vec_col)) > 0)
    )


def brute_force_topk(
    df: DataFrame, vec_col: str, id_col: str, query_vec: list[float], k: int = 10
) -> DataFrame:
    """Exact cosine top-k: (id, cos), best first. orderBy+limit compiles
    to TakeOrderedAndProject — per-partition heaps, no global sort."""
    q = _query_vec_col(query_vec)
    return (
        _valid_vectors(spread_small_input(df), vec_col).select(
            F.col(id_col).alias("id"), cosine(F.col(vec_col), q).alias("cos")
        )
        .orderBy(F.desc("cos"), F.asc("id"))
        .limit(k)
    )


def batch_cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries: DataFrame,
    qvec_col: str = "qvec",
    qid_col: str = "qid",
    k: int = 10,
) -> DataFrame:
    """Cosine top-k for a BATCH of query vectors in ONE corpus scan:
    the (small) query batch broadcasts, every (row, query) pair is
    scored JVM-side (functions.vectors.cosine — zip_with/aggregate,
    no UDF), and a window keeps k per query. (qid, id, cos, rnk).

    Scale shape: cost is one corpus scan × |batch| row-local dot
    products — queries-per-batch scales freely because the corpus is
    never re-scanned per query; the only shuffle is the per-query
    top-k window over ≤ |batch| × partitions candidate rows."""
    from pyspark.sql.window import Window

    pairs = (
        _valid_vectors(spread_small_input(df), vec_col)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("__v"))
        .crossJoin(
            F.broadcast(
                queries.select(
                    F.col(qid_col).alias("__qid"), F.col(qvec_col).alias("__qv")
                )
            )
        )
    )
    scored = pairs.select(
        "__qid", "id", cosine(F.col("__v"), F.col("__qv")).alias("cos")
    )
    w = Window.partitionBy("__qid").orderBy(F.desc("cos"), F.asc("id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("__qid").alias(qid_col),
            "id",
            F.round("cos", 6).alias("cos"),
            "rnk",
        )
    )


def hybrid_rrf_topk(
    docs: DataFrame,
    queries_text: DataFrame,
    vecs: DataFrame,
    queries_vec: DataFrame,
    *,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    vec_col: str = "embedding",
    vec_id_col: str = "vec_id",
    qid_col: str = "qid",
    qtext_col: str = "qtext",
    qvec_col: str = "qvec",
    k: int = 5,
    k_lex: int = 20,
    k_vec: int = 20,
    rrf_k: int = 60,
) -> DataFrame:
    """Hybrid retrieval: BM25 (lexical) and cosine (vector) top-k
    lists fused by reciprocal-rank fusion,

        RRF(q, d) = Σ_channels 1 / (rrf_k + rank_channel(q, d)),

    the standard zero-tuning fusion rule (Cormack et al., SIGIR'09) a
    training-data pipeline uses for decontamination probes and
    retrieval-based dedup where neither channel alone is reliable.
    ``docs``/``vecs`` must share an id space (doc_id = vec_id).
    Output (qid, doc_id, rrf_score, rnk), best first, ties broken on
    doc id — fully deterministic given the two channel rankings.

    Scale shape: each channel is its own batch-scored corpus pass
    (bm25_topk: three bounded shuffles; batch_cosine_topk: one scan);
    the fusion is a full-outer join of two ≤ |batch|·k_channel row
    lists — driver never sees data, channels never re-scan per
    query."""
    from pyspark.sql.window import Window

    from .textstats import bm25_topk

    lex = bm25_topk(
        docs, queries_text, text_col, doc_id_col,
        qid_col=qid_col, qtext_col=qtext_col, k=k_lex,
    ).select(
        F.col(qid_col).alias("__qid"),
        F.col(doc_id_col).alias("__doc"),
        F.col("rnk").alias("lex_rnk"),
    )
    vec = batch_cosine_topk(
        vecs, vec_col, vec_id_col, queries_vec, qvec_col, qid_col, k=k_vec
    ).select(
        F.col(qid_col).alias("__qid"),
        F.col("id").alias("__doc"),
        F.col("rnk").alias("vec_rnk"),
    )
    fused = lex.join(vec, ["__qid", "__doc"], "full_outer").select(
        "__qid",
        "__doc",
        (
            F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("lex_rnk")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("vec_rnk")), F.lit(0.0))
        ).alias("rrf"),
    )
    w = Window.partitionBy("__qid").orderBy(F.desc("rrf"), F.asc("__doc"))
    return (
        fused.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("__qid").alias(qid_col),
            F.col("__doc").alias(doc_id_col),
            F.round("rrf", 6).alias("rrf_score"),
            "rnk",
        )
    )


class IvfIndex:
    """IVF coarse-quantizer index over an embedding DataFrame.

    ``build`` runs pyspark.ml KMeans to learn ``n_cells`` centroids,
    then materializes the corpus with a ``cell`` column — at scale you
    would ``.write.partitionBy('cell').parquet(...)`` so a probe scans
    only nprobe/n_cells of the data (partition pruning)."""

    def __init__(self, assigned: DataFrame, centroids: np.ndarray):
        # assigned is always normalized to (id, v, cell) by build/load;
        # the old vec_col/id_col fields were dead state no method read
        self.assigned = assigned
        self.centroids = centroids

    @classmethod
    def build(
        cls,
        df: DataFrame,
        vec_col: str,
        id_col: str,
        n_cells: int = 16,
        seed: int = 42,
    ) -> "IvfIndex":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        # NULL vectors NPE inside KMeans.fit; zero-norm rows have no
        # cosine direction for the rerank — both excluded up front
        feat = _valid_vectors(df, vec_col).select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
        )
        model = KMeans(k=n_cells, seed=seed, maxIter=20).fit(feat)
        centroids = np.array(model.clusterCenters())
        assigned = model.transform(feat).select(
            "id", "v", F.col("prediction").alias("cell")
        )
        return cls(assigned.cache(), centroids)

    def release(self) -> None:
        """Unpersist the materialized index. The cache's lifetime is
        the index object's — long-lived sessions call this when the
        index is retired (Spark's CacheManager never auto-evicts)."""
        self.assigned.unpersist()

    def save(self, path: str) -> None:
        """Persist the index: corpus rows partitioned BY CELL (so a
        probe's ``cell IN (...)`` filter becomes partition pruning —
        the scan reads nprobe/n_cells of the files, the FAISS-IVF
        cost model re-expressed as a parquet layout) plus the
        MB-scale centroid matrix as its own parquet table."""
        self.assigned.write.partitionBy("cell").mode("overwrite").parquet(
            f"{path}/cells"
        )
        spark = self.assigned.sparkSession
        rows = [
            (int(i), [float(x) for x in c]) for i, c in enumerate(self.centroids)
        ]
        tiny_literal_frame(
            spark, rows, "cell int, centroid array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")

    def assign(self, df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
        """Route new vectors to their nearest EXISTING centroid (the
        standard IVF insert: no retrain, cells drift only as much as
        the data does) -> (id, v, cell).

        JVM-side: centroids broadcast as a tiny (cell, centroid)
        table, squared-L2 per (vector, centroid) via one zip_with
        aggregate, argmin via the min_by aggregate — one narrow
        crossJoin with an n_cells-row broadcast, no Python."""
        spark = df.sparkSession
        df = _valid_vectors(df, vec_col)
        cent_rows = [
            (int(i), [float(x) for x in c]) for i, c in enumerate(self.centroids)
        ]
        # pure-JVM literal frame: the probe/append job that consumes
        # this broadcast no longer launches Python workers for it
        cent = F.broadcast(
            tiny_literal_frame(
                spark, cent_rows, "cell int, centroid array<double>"
            )
        )
        dist = F.aggregate(
            F.zip_with(
                F.col("v").cast("array<double>"),
                F.col("centroid"),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        # min_by over the (v, cell) STRUCT keeps vector and cell from
        # the same candidate row; duplicate ids (at-least-once
        # ingestion retries) therefore collapse to ONE self-consistent
        # (vector, nearest-cell) pair instead of pairing one row's
        # vector with another row's cell
        return (
            spread_small_input(df)
            .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
            .crossJoin(cent)
            .withColumn("__d", dist)
            .groupBy("id")
            .agg(F.min_by(F.struct("v", "cell"), "__d").alias("__s"))
            .select("id", F.col("__s.v").alias("v"), F.col("__s.cell").alias("cell"))
        )

    def append_to_saved(
        self, path: str, df: DataFrame, vec_col: str, id_col: str
    ) -> None:
        """Append a new batch to a SAVED index: nearest-centroid
        assignment + partition-append into the cell layout. Probes
        pick the rows up with no index rebuild — the ingestion loop
        shape (mirrors dedup's append_to_minhash_index)."""
        self.assign(df, vec_col, id_col).write.mode("append").partitionBy(
            "cell"
        ).parquet(f"{path}/cells")

    @classmethod
    def maintain_saved(
        cls,
        spark,
        path: str,
        max_cell_rows: int,
        split_k: int = 2,
        seed: int = 42,
    ) -> dict:
        """Drift handling for a saved index (the FAISS re-train story
        re-expressed as partition surgery): ingestion appends route to
        the NEAREST EXISTING centroid, so a drifting corpus piles into
        a few hot cells and probe cost degrades toward a full scan.
        Any cell over ``max_cell_rows`` is re-clustered with KMeans
        (k=``split_k``) on ITS ROWS ONLY; sub-cluster 0 keeps the old
        cell id (its partition is rewritten via dynamic partition
        overwrite), the rest get fresh ids appended — untouched cells'
        files are never rewritten, so maintenance is O(hot cells), not
        O(index). The centroid table is overwritten in place
        (MB-scale). Returns {"split_cells", "n_cells"}.

        Recall after 3x drifted appends + maintain stays within the
        fresh-rebuild budget (tests/test_round5_fixes.py)."""
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        idx = cls.load(spark, path)
        sizes = idx.assigned.groupBy("cell").count().collect()
        hot = sorted(r["cell"] for r in sizes if r["count"] > max_cell_rows)
        centroids = [[float(x) for x in c] for c in idx.centroids]
        if not hot:
            return {"split_cells": [], "n_cells": len(centroids)}
        next_id = len(centroids)
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            for cell in hot:
                rows = (
                    idx.assigned.filter(F.col("cell") == cell)
                    .select("id", "v")
                    .withColumn(
                        "features",
                        array_to_vector(F.col("v").cast("array<double>")),
                    )
                )
                km = KMeans(k=split_k, seed=seed, maxIter=20).fit(rows)
                subc = km.clusterCenters()
                # eager localCheckpoint materializes the assignment so
                # the write below isn't "overwriting a path being read
                # from"; one hot cell is bounded (that's why it's
                # being split)
                pred = track_local_checkpoint(
                    km.transform(rows)
                    .select("id", "v", "prediction")
                    .localCheckpoint()
                )
                counts = {
                    r["prediction"]: r["count"]
                    for r in pred.groupBy("prediction").count().collect()
                }
                # KMeans can leave a sub-cluster EMPTY (duplicate /
                # degenerate vectors). The dynamic overwrite only
                # replaces partitions present in the output, so the
                # old cell id MUST map to a non-empty sub-cluster or
                # its stale partition survives alongside the re-written
                # rows (duplicated vectors + a stale centroid — round-5
                # advice). Largest non-empty sub-cluster keeps the old
                # id; only the other NON-EMPTY ones get fresh ids.
                present = sorted(
                    (p for p in range(split_k) if counts.get(p, 0) > 0),
                    key=lambda p: (-counts[p], p),
                )
                if len(present) <= 1:
                    # all rows landed in one sub-cluster: no split is
                    # possible — rewrite the cell under its OLD id with
                    # the refit centroid and move on
                    pred.select(
                        "id", "v", F.lit(int(cell)).cast("int").alias("cell")
                    ).write.mode("overwrite").partitionBy("cell").parquet(
                        f"{path}/cells"
                    )
                    centroids[cell] = [
                        float(x) for x in subc[present[0] if present else 0]
                    ]
                    continue
                ids = [cell] + list(
                    range(next_id, next_id + len(present) - 1)
                )
                next_id += len(present) - 1
                cell_of = None
                for p, cid in zip(present, ids):
                    cond = F.col("prediction") == int(p)
                    cell_of = (
                        F.when(cond, int(cid))
                        if cell_of is None
                        else cell_of.when(cond, int(cid))
                    )
                pred.select(
                    "id", "v", cell_of.cast("int").alias("cell")
                ).write.mode("overwrite").partitionBy("cell").parquet(
                    f"{path}/cells"
                )
                centroids[cell] = [float(x) for x in subc[present[0]]]
                for p in present[1:]:
                    centroids.append([float(x) for x in subc[p]])
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        tiny_literal_frame(
            spark,
            [(i, c) for i, c in enumerate(centroids)],
            "cell int, centroid array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
        return {"split_cells": hot, "n_cells": len(centroids)}

    @classmethod
    def load(cls, spark, path: str) -> "IvfIndex":
        """Open a saved index WITHOUT materializing it: the cells
        table stays a lazy parquet scan, so each probe plans a fresh
        partition-pruned read (verified in
        tests/test_round4_ops.py::test_ivf_saved_probe_prunes)."""
        cent = (
            spark.read.parquet(f"{path}/centroids")
            .orderBy("cell")
            .collect()
        )
        centroids = np.array([r["centroid"] for r in cent])
        assigned = spark.read.parquet(f"{path}/cells").select("id", "v", "cell")
        return cls(assigned, centroids)

    def topk(self, query_vec: list[float], k: int = 10, nprobe: int = 4) -> DataFrame:
        """Probe the nprobe cells whose centroids are most cosine-
        similar to the query; exact rerank inside them. The cell list
        is computed on the driver from MB-scale centroids — the big
        scan is pruned to the probed cells."""
        qv = np.asarray(query_vec, dtype=float)
        sims = self.centroids @ qv / (
            np.linalg.norm(self.centroids, axis=1) * np.linalg.norm(qv) + 1e-12
        )
        cells = [int(c) for c in np.argsort(-sims)[:nprobe]]
        q = _query_vec_col(query_vec)
        return (
            self.assigned.filter(F.col("cell").isin(cells))
            .select(F.col("id"), cosine(F.col("v"), q).alias("cos"))
            .orderBy(F.desc("cos"), F.asc("id"))
            .limit(k)
        )


def lsh_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Hyperplane-LSH top-k: restrict the exact rerank to buckets whose
    key is within ``multiprobe_hamming`` bit flips of the query's
    bucket (multi-probe raises recall without more tables)."""
    dim = len(query_vec)
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    qv = np.asarray(query_vec, dtype=float)
    qkey = 0
    for p in planes:
        qkey = qkey * 2 + (1 if float(p @ qv) >= 0 else 0)
    from itertools import combinations

    probe = {qkey}
    for r in range(1, multiprobe_hamming + 1):
        for bits in combinations(range(n_planes), r):
            flipped = qkey
            for b in bits:
                flipped ^= 1 << b
            probe.add(flipped)
    q = _query_vec_col(query_vec)
    return (
        _valid_vectors(df, vec_col)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("bucket", hyperplane_sign_bits(F.col("v"), planes.tolist()))
        .filter(F.col("bucket").isin([int(x) for x in probe]))
        .select("id", cosine(F.col("v"), q).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("id"))
        .limit(k)
    )


def knn_join_lsh(
    left: DataFrame,
    right: DataFrame,
    vec_col: str,
    left_id: str,
    right_id: str,
    k: int = 5,
    n_planes: int = 6,
    multiprobe_hamming: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Bucketed kNN join — the scale path for ``knn_join`` (which
    stays as its correctness oracle). Both sides are hashed with the
    SAME random hyperplanes; each left row probes its own bucket plus
    every bucket within ``multiprobe_hamming`` bit flips, joins only
    those right rows, and reranks exactly (cosine) with a per-left
    top-k window. Work is linear in (left x probed-bucket occupancy)
    instead of |left| x |right|; recall follows the LSH S-curve and
    rises with n_planes/multiprobe (recall-tested vs the exact join).
    """
    from itertools import combinations

    from pyspark.sql.window import Window

    rng = np.random.default_rng(seed)
    left = _valid_vectors(left, vec_col)
    right = _valid_vectors(right, vec_col)
    probe = left.select(vec_col).first()
    if probe is None:  # empty left side: zero matches, not a crash
        # derive the empty frame's id types from the INPUTS — a
        # hardcoded "lid long" diverged from string-id callers exactly
        # on the empty-batch edge this fallback exists for
        from pyspark.sql.types import (
            DoubleType,
            IntegerType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                StructField("lid", left.schema[left_id].dataType),
                StructField("rid", right.schema[right_id].dataType),
                StructField("cos", DoubleType()),
                StructField("rnk", IntegerType()),
            ]
        )
        return left.sparkSession.createDataFrame([], schema)
    dim = len(probe[vec_col])
    planes = rng.standard_normal((n_planes, dim)).tolist()

    flips = [0]
    for r in range(1, multiprobe_hamming + 1):
        for bits in combinations(range(n_planes), r):
            m = 0
            for b in bits:
                m |= 1 << b
            flips.append(m)

    lbl = left.select(
        F.col(left_id).alias("lid"),
        F.col(vec_col).alias("lv"),
        hyperplane_sign_bits(F.col(vec_col), planes).alias("lb"),
    )
    probed = lbl.select(
        "lid",
        "lv",
        F.explode(
            F.array(*[F.col("lb").bitwiseXOR(F.lit(m)) for m in flips])
        ).alias("bucket"),
    )
    rbl = right.select(
        F.col(right_id).alias("rid"),
        F.col(vec_col).alias("rv"),
        hyperplane_sign_bits(F.col(vec_col), planes).alias("bucket"),
    )
    scored = probed.join(rbl, "bucket").select(
        "lid", "rid", cosine(F.col("lv"), F.col("rv")).alias("cos")
    )
    w = Window.partitionBy("lid").orderBy(F.desc("cos"), F.asc("rid"))
    return (
        scored.dropDuplicates(["lid", "rid"])
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def knn_join(
    left: DataFrame,
    right: DataFrame,
    vec_col: str,
    left_id: str,
    right_id: str,
    k: int = 5,
) -> DataFrame:
    """Batch kNN join (every left row -> its k nearest right rows) via
    cross join + per-left-id window top-k. Quadratic baseline — the
    LSH/IVF bucket variants above are the scale path; kept as the
    correctness oracle for them."""
    from pyspark.sql.window import Window

    scored = (
        _valid_vectors(spread_small_input(left), vec_col)
        .select(F.col(left_id).alias("lid"), F.col(vec_col).alias("lv"))
        .crossJoin(
            _valid_vectors(right, vec_col).select(
                F.col(right_id).alias("rid"), F.col(vec_col).alias("rv")
            )
        )
        .select(
            "lid", "rid", cosine(F.col("lv"), F.col("rv")).alias("cos")
        )
    )
    w = Window.partitionBy("lid").orderBy(F.desc("cos"), F.asc("rid"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def build_sim_sketches(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_bits: int = 256,
    seed: int = 42,
) -> tuple[DataFrame, np.ndarray]:
    """Offline side of sketch-based similarity selectivity: per-vector
    multi-word hyperplane sketches (n_bits/8 bytes each — a 64-dim
    float vector compresses 8x at 256 bits). Returns (sketch frame,
    planes); persist the frame (or write it as parquet) and reuse it
    for every query. The planes matrix is MB-scale driver state, like
    an SPN model."""
    if n_bits % 64 != 0:
        raise ValueError(f"n_bits ({n_bits}) must be a multiple of 64")
    probe = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    if probe is None:
        # empty corpus: zero-column planes — the sketch query path
        # guards on planes.size and returns estimate 0 without a matmul
        empty = df.sparkSession.createDataFrame([], "id long, sk array<bigint>")
        return empty, np.zeros((n_bits, 0))
    dim = len(probe[vec_col])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_bits, dim))
    # Arrow-batched pandas UDF, not a literal-expression projection:
    # at 256 bits x 64 dims the
    # expression tree carries ~16k literals — plan compile time alone
    # dominated the operator (measured ~20s at sf0.1). One numpy
    # matmul per Arrow batch + packbits is the textbook vectorized-UDF
    # case; packing is MSB-first per 64-bit word, matching the
    # query-side packing in similarity_selectivity.
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    bc = df.sparkSession.sparkContext.broadcast(planes)

    def _sketch_fn(vs):
        P = bc.value
        M = np.stack([np.asarray(v, dtype=float) for v in vs])
        bits = (M @ P.T) > 0  # (n, n_bits)
        words = (
            np.packbits(bits, axis=1).reshape(len(M), -1, 8).view(">i8")
        )
        return pd.Series([w.ravel().tolist() for w in words])

    # real class annotations (the module-wide `from __future__ import
    # annotations` would stringify inline hints, which pandas_udf's
    # signature inference rejects)
    _sketch_fn.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    _sketch = pandas_udf(_sketch_fn, "array<long>")

    # NULL vectors would reach the UDF as None and break np.stack —
    # drop them here, matching the exact/sample methods (cosine of
    # NULL is NULL and never passes the threshold)
    sk = (
        spread_small_input(df)
        .filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"), _sketch(F.col(vec_col)).alias("sk"))
    )
    return sk, planes


def similarity_selectivity(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    threshold: float,
    method: str = "exact",
    sample_fraction: float = 0.25,
    seed: int = 42,
    sketches: DataFrame | None = None,
    planes: np.ndarray | None = None,
    confidence: float = 0.95,
) -> dict:
    """Cardinality of a similarity predicate — |{x : cos(x, q) >=
    t}| — the estimation problem of the learned-similarity-cardinality
    line of work (SIGMOD'20/'21, ICDE'23), served with three honest
    Spark-native methods instead of a learned model:

    - ``exact``: one columnar scan-aggregate (cosine is a zip_with
      fold, no shuffle). At 100 TB this reads every vector once —
      the truth, at full-scan cost.
    - ``sample``: exact cosine over a seeded Bernoulli sample,
      Horvitz-Thompson scale-up, Binomial normal-approx CI at
      ``confidence`` (the DeepDB-style bounded answer). Reads
      ``sample_fraction`` of the data.
    - ``sketch``: Hamming histogram against precomputed hyperplane
      sketches (``build_sim_sketches``), angle-threshold indicator
      cos(pi*h/n_bits) >= t. Reads ~n_bits/8 bytes per vector
      (8-30x less I/O); accuracy depends on how much corpus mass
      sits near the query's threshold ring — on the spread fixture,
      measured median q-error ~3 at 256 bits (tests/test_round4_ops
      records the budget). No false guarantees: use exact/sample
      when the answer feeds a decision, sketch when triaging many
      queries cheaply.

    Returns {"estimate": float, "lo": float, "hi": float} (lo == hi ==
    estimate for exact; sketch CIs are the indicator count, no bound).
    """
    from ..functions.vectors import cosine as _cosine
    from ..functions.vectors import sketch_hamming

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    if method == "exact":
        n = (
            spread_small_input(df)
            .filter(_cosine(F.col(vec_col), q) >= threshold)
            .count()
        )
        return {"estimate": float(n), "lo": float(n), "hi": float(n)}
    if method == "sample":
        from math import sqrt

        hits = (
            spread_small_input(df)
            .sample(fraction=sample_fraction, seed=seed)
            .filter(_cosine(F.col(vec_col), q) >= threshold)
            .count()
        )
        est = hits / sample_fraction
        # Binomial CI on the sampled hit count, scaled up. The
        # (1 - fraction) factor is the finite-sampling correction: at
        # fraction→1 the estimate is exact and the interval collapses
        # (the Poisson sqrt(hits)/f approximation over-covers ~41% at
        # f=0.5).
        z = {0.9: 1.645, 0.95: 1.96, 0.99: 2.576}.get(round(confidence, 2))
        if z is None:
            from statistics import NormalDist

            z = NormalDist().inv_cdf(0.5 + confidence / 2.0)
        sd = sqrt(max(hits, 1.0) * (1.0 - sample_fraction)) / sample_fraction
        return {
            "estimate": est,
            "lo": max(0.0, est - z * sd),
            "hi": est + z * sd,
        }
    if method == "sketch":
        if sketches is None or planes is None:
            raise ValueError("sketch method needs build_sim_sketches output")
        n_bits = planes.shape[0]
        if planes.size == 0:  # empty-corpus index
            return {"estimate": 0.0, "lo": 0.0, "hi": 0.0}
        # width check ONCE per sketch table: this is a Spark job, and
        # the sketch method exists to triage MANY queries cheaply —
        # re-validating a build-time invariant per query scheduled one
        # redundant job per call
        if sketches not in _VALIDATED_SKETCHES:
            row = sketches.select(F.size("sk").alias("n")).first()
            if row is not None and row["n"] * 64 != n_bits:
                raise ValueError(
                    f"sketches carry {row['n'] * 64} bits but planes "
                    f"define {n_bits} — mixed build_sim_sketches outputs"
                )
            _VALIDATED_SKETCHES.add(sketches)
        qv = np.asarray(query_vec, dtype=float)
        qbits = (planes @ qv) > 0
        qwords = []
        for w in range(0, n_bits, 64):
            key = 0
            for b in qbits[w : w + 64]:
                key = ((key << 1) | int(b)) & 0xFFFFFFFFFFFFFFFF
            # reinterpret as signed 64-bit (Spark bigint)
            qwords.append(key - (1 << 64) if key >= (1 << 63) else key)
        qsk = F.array(*[F.lit(w).cast("long") for w in qwords])
        # cos(pi*h/n_bits) >= t  <=>  h <= n_bits*arccos(t)/pi: the
        # indicator is one filter-count over the sketch table, no
        # histogram shuffle or driver-side loop
        h_max = int(np.floor(n_bits * np.arccos(threshold) / np.pi + 1e-9))
        est = float(
            sketches.filter(sketch_hamming(F.col("sk"), qsk) <= h_max).count()
        )
        return {"estimate": est, "lo": est, "hi": est}
    raise ValueError(f"unknown method {method!r}")


def _pack_query_sketch(planes: np.ndarray, query_vec: list[float]) -> list[int]:
    """Driver-side hyperplane sketch of one query vector as signed
    64-bit words — the packing `similarity_selectivity` inlines,
    factored for the batch variant."""
    n_bits = planes.shape[0]
    qbits = (planes @ np.asarray(query_vec, dtype=float)) > 0
    qwords = []
    for w in range(0, n_bits, 64):
        key = 0
        for b in qbits[w : w + 64]:
            key = ((key << 1) | int(b)) & 0xFFFFFFFFFFFFFFFF
        qwords.append(key - (1 << 64) if key >= (1 << 63) else key)
    return qwords


def similarity_selectivity_many(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vecs: dict,
    threshold: float,
    method: str = "exact",
    sketches: DataFrame | None = None,
    planes: np.ndarray | None = None,
) -> dict:
    """Batch form of :func:`similarity_selectivity` for the exact and
    sketch methods: ALL queries answered in ONE scan-aggregate
    (round 13, guide §1.2/§2.4 — the per-query loop scheduled one
    full-scan count job per query per method; the conditional-sum
    fusion reads the corpus once for the whole batch, which is also
    the 100 TB shape: selectivity probes are cheap, scans are not).

    ``query_vecs`` maps key -> query vector. Returns key ->
    {"estimate", "lo", "hi"}, each entry numerically identical to the
    single-query method (a conditional SUM over the same predicate is
    the same count as filter+count; NULL cosines fall into the
    otherwise(0) branch exactly as filter() drops them)."""
    from ..functions.vectors import cosine as _cosine
    from ..functions.vectors import sketch_hamming

    keys = list(query_vecs)
    if not keys:
        return {}
    if method == "exact":
        aggs = [
            F.sum(
                F.when(
                    _cosine(F.col(vec_col), F.expr(_arr_sql(query_vecs[k])))
                    >= threshold,
                    1,
                ).otherwise(0)
            ).alias(f"__c{i}")
            for i, k in enumerate(keys)
        ]
        row = spread_small_input(df).agg(*aggs).collect()[0]
        return {
            k: {
                "estimate": float(row[f"__c{i}"] or 0),
                "lo": float(row[f"__c{i}"] or 0),
                "hi": float(row[f"__c{i}"] or 0),
            }
            for i, k in enumerate(keys)
        }
    if method == "sketch":
        if sketches is None or planes is None:
            raise ValueError("sketch method needs build_sim_sketches output")
        n_bits = planes.shape[0]
        if planes.size == 0:
            return {k: {"estimate": 0.0, "lo": 0.0, "hi": 0.0} for k in keys}
        if sketches not in _VALIDATED_SKETCHES:
            row = sketches.select(F.size("sk").alias("n")).first()
            if row is not None and row["n"] * 64 != n_bits:
                raise ValueError(
                    f"sketches carry {row['n'] * 64} bits but planes "
                    f"define {n_bits} — mixed build_sim_sketches outputs"
                )
            _VALIDATED_SKETCHES.add(sketches)
        h_max = int(np.floor(n_bits * np.arccos(threshold) / np.pi + 1e-9))
        aggs = []
        for i, k in enumerate(keys):
            qsk = F.expr(
                "array("
                + ",".join(
                    f"{w}L" for w in _pack_query_sketch(planes, query_vecs[k])
                )
                + ")"
            )
            aggs.append(
                F.sum(
                    F.when(
                        sketch_hamming(F.col("sk"), qsk) <= h_max, 1
                    ).otherwise(0)
                ).alias(f"__c{i}")
            )
        row = sketches.agg(*aggs).collect()[0]
        return {
            k: {
                "estimate": float(row[f"__c{i}"] or 0),
                "lo": float(row[f"__c{i}"] or 0),
                "hi": float(row[f"__c{i}"] or 0),
            }
            for i, k in enumerate(keys)
        }
    raise ValueError(f"unknown method {method!r} (batch supports exact/sketch)")


def kmeans_refine(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Deterministic, engine-portable Lloyd refinement — the
    clustering primitive behind cluster-based data curation
    (SemDeDup-style per-cluster dedup, density/diversity sampling,
    per-cluster quotas). Unlike MLlib KMeans (seeded random init,
    non-portable tie handling), every step here is reproducible
    bit-for-bit in another engine, so the assignment itself is
    oracle-checkable:

    - init: the ``k`` vectors with smallest id, components cast to
      double and rounded to 6 decimals;
    - assign: argmin squared-L2 distance, distances rounded to 6
      decimals BEFORE the argmin, ties broken on the lower centroid
      index (array_min over (dist, idx) structs);
    - update: component-wise mean of the assigned vectors, rounded to
      6 decimals; a cluster that loses all members keeps its previous
      centroid (no respawn — deterministic).

    Rounding to 6 decimals at every centroid/distance boundary makes
    float summation-order differences (Spark's ordered fold vs
    another engine's unordered SUM, ~1e-12 relative) invisible, so
    the argmin is stable across engines.

    Returns (id, cluster, dist) — the assignment under the FINAL
    centroids, dist = rounded squared L2.

    Scale shape: per iteration, centroids are k*dim literals compiled
    into a single narrow projection (no join, no shuffle to assign),
    then ONE map-side-combined groupBy(cluster, dim) aggregate whose
    result is k*dim rows — the driver collect is model-sized, never
    data-sized (the bpe_learn pattern). ``iters`` bounds the loop;
    each iteration is one linear scan of the corpus.
    """
    # NULL vectors only: unlike the cosine operators' _valid_vectors,
    # a ZERO vector is a perfectly good point under squared-L2 (it has
    # no direction, but it has a position) — and the DuckDB oracle
    # twin filters exactly "embedding IS NOT NULL", so dropping
    # zero-norm rows here would silently diverge on corpora that
    # contain them
    vecs = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    centroids = _lloyd_fit(vecs, k, iters, op_name="kmeans_refine")
    return _lloyd_assign(vecs, centroids).select(
        "id", F.col("cluster").cast("int").alias("cluster"), "dist"
    )


def _dlit(x: float) -> str:
    """Shortest round-trip SQL double literal for a Python float.
    ``repr`` emits the shortest decimal that parses back to the same
    IEEE double, and Spark's double-literal parser is correctly
    rounding, so ``expr(_dlit(x))`` reproduces ``F.lit(float(x))``
    bit-for-bit. Non-finite values need the string-cast spelling —
    bare 'nanD'/'infD' tokens do not parse (round-14 advice; the
    F.lit path this replaced accepted NaN/Inf)."""
    x = float(x)
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return repr(x) + "D"


def _arr_sql(vals) -> str:
    """SQL text for an array<double> literal."""
    return "array(" + ",".join(_dlit(v) for v in vals) + ")"


def _sqdist_sql(subv_sql: str, cent: list[float]) -> str:
    """SQL text for the rounded squared-L2 distance of a (sub)vector
    column expression to one literal centroid — the exact zip_with /
    ordered-fold / round-to-6 chain the Column-based builder used
    (``0.0D + t1 == t1`` exactly, so the fold order matches)."""
    return (
        f"round(aggregate(zip_with({subv_sql}, {_arr_sql(cent)}, "
        f"(a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x), 6)"
    )


def _nearest_struct_sql(subv_sql: str, cents: list[list[float]]) -> str:
    """SQL text for the nearest-centroid (dist, index) struct:
    distances rounded to 6 decimals BEFORE the argmin, ties to the
    lower index — array_min over (d, j) structs, the engine-portable
    rule everywhere here.

    Why SQL text instead of Column objects (round 13, guide §4 — the
    Python/JVM boundary applies to PLAN CONSTRUCTION too): building
    these k*dim-literal trees out of F.lit/F.array/F.aggregate costs
    one Py4J round-trip per node (~16,700 round-trips ≈ 4.3s of a
    5.6s pq_encode rep, cProfile-measured); one expr() string is a
    single round-trip and the JVM parses it in milliseconds. The
    parsed plan is identical."""
    structs = ",".join(
        f"named_struct('d', {_sqdist_sql(subv_sql, c)}, 'j', {j})"
        for j, c in enumerate(cents)
    )
    return f"array_min(array({structs}))"


def _nearest_code_sql(subv_sql: str, cents: list[list[float]]) -> str:
    """SQL text for the nearest-codeword INDEX (the argmin of
    :func:`_nearest_struct_sql`)."""
    return f"{_nearest_struct_sql(subv_sql, cents)}.j"


def _lloyd_assign(vecs: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Assign each (id, v) row to its nearest centroid — the centroids
    are compiled to literals, so assignment is one narrow projection
    (no join, no shuffle). Distances rounded to 6 decimals BEFORE the
    argmin, ties to the lower index (kmeans_refine's portable rule).
    Returns (id, v, cluster, dist)."""
    best = F.expr(_nearest_struct_sql("v", centroids))
    return vecs.select(
        "id", "v", best["j"].alias("cluster"), best["d"].alias("dist")
    )


def _lloyd_fit(
    vecs: DataFrame, k: int, iters: int, op_name: str = "lloyd"
) -> list[list[float]]:
    """The deterministic Lloyd loop of :func:`kmeans_refine`, factored
    out so product quantization can fit per-subspace codebooks with
    the exact same engine-portable math (seeds = k smallest ids
    rounded to 6; per-iteration means rounded to 6; empty clusters
    keep their previous centroid). Returns the FINAL centroids; each
    iteration is one linear scan + one model-sized collect.

    Since round 13 this is a single-spec wrapper over
    :func:`_lloyd_fit_multi` (one fused job per iteration instead of
    the posexplode + groupBy(cluster, i) shuffle per fit)."""
    return _lloyd_fit_multi(vecs, [(None, None, int(k))], iters, op_name)[0]


# Fusion gate for _lloyd_fit_multi: a fused batch groups by the JOINT
# key of its specs, so its per-iteration collect is <= prod(k_s) rows.
# 64k groups x (dim sums + count) is comfortably model-sized; above it
# the joint key degenerates toward row-uniqueness (m=8, k=256 would be
# 2^64) and fusion must split (round-14 advice).
_FUSE_MAX_GROUPS = 65536


def _lloyd_fit_multi(
    vecs: DataFrame,
    specs: list[tuple[int | None, int | None, int]],
    iters: int,
    op_name: str = "lloyd",
    seed_rows: list | None = None,
) -> list[list[list[float]]]:
    """Fit SEVERAL deterministic Lloyd codebooks over the same (id, v)
    relation in ONE pass per iteration (round-13 optimization, guide
    §1.2/§2.4: the PQ family used to run m+1 independent fit chains —
    m+1 seed collects plus m+1 scan+shuffle jobs per iteration — over
    the same vectors; at corpus scale each chain is a redundant full
    scan, and at bench scale each action pays full plan/analysis
    overhead).

    ``specs`` is a list of ``(start, width, k)``: fit a ``k``-codeword
    codebook over ``v[start : start+width]`` (0-based start; ``None``
    start/width = the full vector). Returns codebooks aligned with
    ``specs``.

    The math is bit-compatible with the per-fit loop it replaces:

    - seeds: the ``max(k)`` smallest-id rows are collected ONCE; each
      spec slices its subspace out of those rows and rounds to 6
      decimals (slice-then-round == round-then-slice, elementwise);
    - assignment: each spec's argmin over its own centroids with
      distances rounded to 6 BEFORE the argmin, ties to the lower
      index — the exact :func:`_lloyd_assign` rule, computed as S
      parallel key columns in one projection;
    - update: ONE groupBy over the joint (c_0..c_{S-1}) key with a
      COUNT plus per-dimension SUMs (at most prod(k_s) groups — model
      -sized), marginalized driver-side per spec and rounded to 6.
      ``sum/count`` equals the old per-fit ``avg`` up to float
      summation order, which the established round-to-6 contract
      absorbs (same tolerance the DuckDB oracles rely on); empty
      clusters keep their previous centroid.

    Scale shape: per iteration exactly ONE linear scan, no explode
    fan-out (the old path shuffled n*dim posexploded rows; this
    aggregates dim sum columns into <= prod(k_s) groups map-side).
    The joint-key group count is capped: specs are fused greedily
    into batches whose prod(k_s) stays <= ``_FUSE_MAX_GROUPS`` (64k)
    and each batch runs its own fused chain (round-14 advice — at
    documented-range params like m=8, k=256 an uncapped joint key is
    near row-unique and the per-iteration collect corpus-sized; the
    ANN regimes here, 8^3 = 512, always fuse into one batch, so the
    bench plans are unchanged). Seeds are still collected ONCE and
    shared across batches."""
    specs = [
        (None if s is None else int(s), None if w is None else int(w), int(k))
        for s, w, k in specs
    ]
    max_k = max(k for _s, _w, k in specs)
    if seed_rows is None:
        seed_rows = vecs.orderBy("id").limit(max_k).collect()
    if len(seed_rows) < max_k:
        raise ValueError(
            f"{op_name}: need >= {max_k} vectors, got {len(seed_rows)}"
        )
    dim = len(seed_rows[0]["v"])
    # greedy fusion batches: each batch's joint-key cardinality
    # prod(k_s) stays under the cap (a single spec is always its own
    # lower bound — one spec alone is the classic per-fit chain)
    batches: list[list[int]] = []
    cur: list[int] = []
    prod = 1
    for idx, (_s, _w, k) in enumerate(specs):
        if cur and prod * k > _FUSE_MAX_GROUPS:
            batches.append(cur)
            cur, prod = [], 1
        cur.append(idx)
        prod *= k
    if cur:
        batches.append(cur)
    if len(batches) > 1:
        out: list = [None] * len(specs)
        for batch in batches:
            fitted = _lloyd_fit_multi(
                vecs,
                [specs[i] for i in batch],
                iters,
                op_name=op_name,
                seed_rows=seed_rows,
            )
            for i, c in zip(batch, fitted):
                out[i] = c
        return out
    cents: list[list[list[float]]] = []
    for start, width, k in specs:
        s0 = 0 if start is None else start
        w = dim if width is None else width
        cents.append(
            [
                [round(float(x), 6) for x in r["v"][s0 : s0 + w]]
                for r in seed_rows[:k]
            ]
        )
    n_specs = len(specs)
    for _ in range(int(iters)):
        keys = []
        for s, (start, width, k) in enumerate(specs):
            subv_sql = (
                "v" if start is None else f"slice(v, {start + 1}, {width})"
            )
            keys.append(
                F.expr(_nearest_code_sql(subv_sql, cents[s])).alias(f"__c{s}")
            )
        aggs = [F.count(F.lit(1)).alias("__n")] + [
            F.expr(f"sum(element_at(v, {i + 1})) AS __s{i}")
            for i in range(dim)
        ]
        tbl = (
            vecs.select(*keys, "v")
            .groupBy(*[f"__c{s}" for s in range(n_specs)])
            .agg(*aggs)
            .toArrow()
        )
        # numpy marginalization (round 14): the per-spec Python loop
        # over (groups x dims) Row fields cost ~0.15-0.2s per
        # iteration rep in the x68 profile. np.add.at accumulates in
        # table order exactly like the row loop did; the table order
        # itself is arbitrary shuffle order either way, which the
        # round-to-6 contract absorbs (same tolerance the oracles
        # rely on).
        import numpy as np

        grp_n = tbl["__n"].combine_chunks().to_numpy(zero_copy_only=False)
        grp_sums = np.stack(
            [
                tbl[f"__s{i}"]
                .combine_chunks()
                .to_numpy(zero_copy_only=False)
                for i in range(dim)
            ],
            axis=1,
        )
        if not np.isfinite(grp_sums).all():
            # a NULL sum (vectors shorter than dim) or a NaN/inf
            # element would spread NaN into every centroid it touches
            raise ValueError(
                f"{op_name}: non-finite vector sums — every vector must "
                f"hold {dim} finite values"
            )
        new_cents: list[list[list[float]]] = []
        for s, (start, width, k) in enumerate(specs):
            s0 = 0 if start is None else start
            w = dim if width is None else width
            codes = (
                tbl[f"__c{s}"].combine_chunks().to_numpy(zero_copy_only=False)
            )
            cnt = np.bincount(codes, weights=grp_n, minlength=k)
            sums = np.zeros((k, w), dtype=np.float64)
            np.add.at(sums, codes, grp_sums[:, s0 : s0 + w])
            new_cents.append(
                [
                    (
                        [
                            round(float(sums[j][i] / cnt[j]), 6)
                            for i in range(w)
                        ]
                        if cnt[j]
                        else cents[s][j]
                    )
                    for j in range(k)
                ]
            )
        cents = new_cents
    return cents


def cluster_balanced_sample(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    per_cluster: int,
    k: int = 8,
    iters: int = 2,
    salt: int = 16,
) -> DataFrame:
    """Cluster-then-curate: the diversity-preserving sampling loop of
    modern data curation (cluster the corpus in embedding space, then
    take a bounded quota from EVERY cluster so rare modes survive the
    downsample — the balancing step SemDeDup/DSIR-style pipelines run
    after dedup). Clusters come from :func:`kmeans_refine`
    (deterministic, engine-portable); the within-cluster quota is
    chosen by md5-of-id order — uniform-pseudorandom but fixed across
    runs, partitionings, and engines (the sampling.stratified_sample
    rule, applied to LEARNED strata instead of a label column).

    Returns (id, cluster, selected) for EVERY clustered row — the
    kept set is the ``selected`` rows, and the flag itself is
    oracle-checkable.

    Scale shape: kmeans_refine's literal-centroid assignment (no join,
    no shuffle) + a TWO-PHASE quota. A single window partitioned by
    ``cluster`` would shuffle the whole corpus into at most k tasks
    and fully sort each cluster in one reducer — a straggler/OOM
    shape at scale (k is small by construction). Instead phase 1
    windows over ``(cluster, hash(id) % salt)`` — k*salt balanced
    partitions, each keeping its local top-``per_cluster`` by the md5
    order — and phase 2 merges the bounded survivors (at most
    k*salt*per_cluster rows) with the per-cluster window. The global
    top-N of each cluster under a fixed total order is contained in
    the union of per-salt top-Ns, so the selected set is IDENTICAL to
    the single-window plan; the winner set (k*per_cluster rows) is
    broadcast back onto the assignment. ``salt=0`` keeps the
    single-window plan for small inputs.
    """
    from pyspark.sql.window import Window

    if salt < 0:
        raise ValueError(f"salt must be >= 0 (got {salt})")
    assigned = kmeans_refine(df, vec_col, id_col, k=k, iters=iters)
    order = [F.md5(F.col("id").cast("string")), F.col("id")]
    if salt > 0:
        w1 = Window.partitionBy(
            "cluster", F.pmod(F.xxhash64(F.col("id")), F.lit(salt))
        ).orderBy(*order)
        cands = (
            assigned.select("id", "cluster")
            .withColumn("__rn1", F.row_number().over(w1))
            .filter(F.col("__rn1") <= per_cluster)
        )
        w2 = Window.partitionBy("cluster").orderBy(*order)
        winners = (
            cands.withColumn("__rn", F.row_number().over(w2))
            .filter(F.col("__rn") <= per_cluster)
            .select("id", F.lit(True).alias("__sel"))
        )
        return (
            assigned.join(F.broadcast(winners), "id", "left")
            .select(
                "id",
                "cluster",
                F.coalesce("__sel", F.lit(False)).alias("selected"),
            )
        )
    w = Window.partitionBy("cluster").orderBy(*order)
    return (
        assigned.withColumn("__rn", F.row_number().over(w))
        .select(
            "id", "cluster", (F.col("__rn") <= per_cluster).alias("selected")
        )
    )


def prototype_select(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    per_cluster: int,
    k: int = 8,
    iters: int = 2,
    salt: int = 16,
) -> DataFrame:
    """Prototypicality pruning (Sorscher et al. 2022, "Beyond neural
    scaling laws": rank examples by distance to their cluster
    prototype and keep the informative ones): per learned cluster,
    keep the ``per_cluster`` vectors CLOSEST to the centroid —
    deterministic ties on id. The complement of
    :func:`cluster_balanced_sample`'s uniform quota: same strata, but
    the within-cluster order is the geometry (rounded squared-L2 to
    the final centroid, already engine-portable from
    :func:`kmeans_refine`) instead of the md5 shuffle order.

    Returns (id, cluster, dist, selected) for every clustered row.

    Scale shape: identical to cluster_balanced_sample — literal-
    centroid assignment (no join, no shuffle), then the TWO-PHASE
    quota so no reducer ever sorts a whole cluster: phase 1 takes the
    local top-``per_cluster`` within ``(cluster, hash(id) % salt)``
    sub-windows, phase 2 merges the bounded survivors (<= k * salt *
    per_cluster rows); the winner set broadcasts back onto the
    assignment. The global per-cluster top-N under the fixed
    (dist, id) order is contained in the union of per-salt top-Ns, so
    the selection is identical to the single-window plan. ``salt=0``
    keeps the single-window plan for small inputs.
    """
    from pyspark.sql.window import Window

    if salt < 0:
        raise ValueError(f"salt must be >= 0 (got {salt})")
    assigned = kmeans_refine(df, vec_col, id_col, k=k, iters=iters)
    order = [F.col("dist"), F.col("id")]
    if salt > 0:
        w1 = Window.partitionBy(
            "cluster", F.pmod(F.xxhash64(F.col("id")), F.lit(salt))
        ).orderBy(*order)
        cands = (
            assigned.select("id", "cluster", "dist")
            .withColumn("__rn1", F.row_number().over(w1))
            .filter(F.col("__rn1") <= per_cluster)
        )
        w2 = Window.partitionBy("cluster").orderBy(*order)
        winners = (
            cands.withColumn("__rn", F.row_number().over(w2))
            .filter(F.col("__rn") <= per_cluster)
            .select("id", F.lit(True).alias("__sel"))
        )
        return assigned.join(F.broadcast(winners), "id", "left").select(
            "id",
            "cluster",
            "dist",
            F.coalesce("__sel", F.lit(False)).alias("selected"),
        )
    w = Window.partitionBy("cluster").orderBy(*order)
    return assigned.withColumn("__rn", F.row_number().over(w)).select(
        "id", "cluster", "dist", (F.col("__rn") <= per_cluster).alias("selected")
    )


def pq_encode(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 2,
    k: int = 8,
    iters: int = 2,
) -> tuple[DataFrame, list[list[list[float]]]]:
    """Product quantization (Jégou et al. 2011, the workhorse of
    billion-vector ANN): split the vector into ``m`` contiguous
    subspaces, learn a ``k``-codeword codebook per subspace with the
    deterministic Lloyd of :func:`kmeans_refine` (seeds = smallest
    ids, everything rounded to 6 decimals — so the codebooks AND the
    codes reproduce bit-for-bit in another engine), and encode every
    vector as its per-subspace nearest-codeword index. Returns
    (codes DataFrame (id, code_0..code_{m-1}), codebooks[m][k][w]).

    Scale shape: fitting is m small Lloyd loops (each one linear scan
    + model-sized collect per iteration); encoding compiles all m*k
    codewords to literals in ONE narrow projection — no join, no
    shuffle, the x54 trick per subspace. At 100 TB the codes are
    m bytes per vector (k <= 256) versus 4*dim for the raw floats —
    the compression that makes exhaustive candidate scoring feasible.
    """
    if m < 1:
        raise ValueError(f"m must be >= 1 (got {m})")
    vecs = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    # one seed collect serves dim-derivation AND every subspace fit
    # (round 13: was a separate size() probe plus one seed collect per
    # subspace — the k smallest ids are the same rows for all of them)
    seed_rows = vecs.orderBy("id").limit(int(k)).collect()
    if not seed_rows:
        raise ValueError("pq_encode: empty input")
    dim = len(seed_rows[0]["v"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    w = dim // m
    codebooks = _lloyd_fit_multi(
        vecs,
        [(j * w, w, k) for j in range(m)],
        iters,
        op_name="pq_encode",
        seed_rows=seed_rows,
    )
    cols = [F.col("id")] + [
        F.expr(
            f"CAST({_nearest_code_sql(f'slice(v, {j * w + 1}, {w})', codebooks[j])}"
            f" AS INT) AS code_{j}"
        )
        for j in range(m)
    ]
    return vecs.select(*cols), codebooks


def pq_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_id,
    top_k: int = 10,
    m: int = 2,
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Asymmetric-distance PQ search (the ADC of Jégou et al. 2011):
    score every encoded vector against the query whose id is
    ``query_id`` using the lookup table ||q_j - codeword||^2 per
    subspace, and return the ``top_k`` by approximate distance
    (ties on id; the query itself participates and scores ~0).
    Output (id, adc_dist).

    Scale shape: the lookup table is m*k doubles computed DRIVER-side
    from the collected query row (model-sized, never data-sized) and
    compiled to literal arrays; scoring is element_at(lut_j, code_j+1)
    summed — a pure projection over the m-byte codes, no join — and
    selection is a distributed TakeOrderedAndProject. Per-subspace
    LUT entries are rounded to 6 decimals and the total re-rounded,
    so DuckDB reproduces distance AND the selected set exactly."""
    codes, codebooks = pq_encode(df, vec_col, id_col, m=m, k=k, iters=iters)
    qrow = (
        df.filter(F.col(id_col) == query_id)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .first()
    )
    if qrow is None:
        raise ValueError(f"pq_topk: query id {query_id!r} not found")
    q = [float(x) for x in qrow["v"]]
    w = len(q) // m
    luts: list[list[float]] = []
    for j in range(m):
        qj = q[j * w : (j + 1) * w]
        luts.append(
            [
                round(sum((a - b) * (a - b) for a, b in zip(qj, c)), 6)
                for c in codebooks[j]
            ]
        )
    total = " + ".join(
        f"element_at({_arr_sql(luts[j])}, code_{j} + 1)" for j in range(m)
    )
    return (
        codes.select("id", F.expr(f"round({total}, 6) AS adc_dist"))
        .orderBy("adc_dist", "id")
        .limit(int(top_k))
    )


def ivfpq_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_id,
    top_k: int = 10,
    nc: int = 8,
    nprobe: int = 2,
    m: int = 2,
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """IVF-PQ search (Jégou et al. 2011 §V — the IVFADC layout that is
    the billion-vector default in practice, here in its
    ``by_residual=false`` variant: codes quantize the raw vectors, not
    the cell residuals, so the PQ codebooks are shared with
    :func:`pq_encode` unchanged): a coarse quantizer of ``nc``
    centroids (the :func:`kmeans_refine` deterministic Lloyd on the
    FULL vectors) partitions the corpus into inverted lists, and a
    query scores by asymmetric distance ONLY the rows in its
    ``nprobe`` nearest lists. Output (id, cell, adc_dist) — the
    ``top_k`` by (adc_dist, id) among probed cells.

    Scale shape: the probe set is chosen DRIVER-side from the nc
    coarse centroids (model-sized); cell assignment, per-subspace
    codes, and the LUT-summed ADC distance are ONE literal-compiled
    narrow projection over the vectors — no join, no shuffle — and
    the ``cell IN probed`` filter sits directly on that projection.
    At warehouse scale cell and codes are precomputed index columns
    with the table partitioned by ``cell``, so the probe filter is
    partition PRUNING: a query touches nprobe/nc of the corpus and
    reads m bytes per candidate instead of 4*dim. Selection is a
    distributed TakeOrderedAndProject. Same rounding discipline as
    :func:`pq_topk` (every distance rounded to 6 before any argmin
    or sum), so DuckDB replays cells, probes, and distances exactly.
    """
    if not 0 < nprobe <= nc:
        raise ValueError(f"need 0 < nprobe <= nc (got {nprobe}, {nc})")
    vecs = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    # fuse the coarse fit and the m subspace fits into ONE Lloyd chain
    # (round 13): all m+1 codebooks iterate over the same vectors, so
    # one seed collect + one scan/aggregate per iteration replaces the
    # previous m+1 independent chains (each a redundant full scan at
    # corpus scale). Seeds, assignment rule and rounded means are
    # bit-compatible — the DuckDB oracle replays the same chain.
    seed_rows = vecs.orderBy("id").limit(max(int(nc), int(k))).collect()
    if len(seed_rows) < nc:
        raise ValueError(
            f"ivfpq_topk: need >= {nc} vectors, got {len(seed_rows)}"
        )
    dim = len(seed_rows[0]["v"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if len(seed_rows) < k:
        # the subspace-fit precondition, raised with the same message
        # as the pre-fusion pq_encode call site
        raise ValueError(
            f"pq_encode: need >= {k} vectors, got {len(seed_rows)}"
        )
    w_sub = dim // m
    fitted = _lloyd_fit_multi(
        vecs,
        [(None, None, int(nc))]
        + [(j * w_sub, w_sub, int(k)) for j in range(m)],
        iters,
        op_name="ivfpq_topk",
        seed_rows=seed_rows,
    )
    coarse, codebooks = fitted[0], fitted[1:]
    qrow = (
        df.filter(F.col(id_col) == query_id)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .first()
    )
    if qrow is None:
        raise ValueError(f"ivfpq_topk: query id {query_id!r} not found")
    q = [float(x) for x in qrow["v"]]
    w = len(q) // m
    # probe selection: nprobe nearest coarse cells, rounded-at-6
    # distances with low-index ties — the _lloyd_assign rule, replayed
    # driver-side over the model-sized centroid list
    cell_d = sorted(
        (round(sum((a - b) * (a - b) for a, b in zip(q, c)), 6), j)
        for j, c in enumerate(coarse)
    )
    probed = sorted(j for _, j in cell_d[:nprobe])
    luts = [
        [
            round(
                sum(
                    (a - b) * (a - b)
                    for a, b in zip(q[j * w : (j + 1) * w], c)
                ),
                6,
            )
            for c in codebooks[j]
        ]
        for j in range(m)
    ]

    total = " + ".join(
        f"element_at({_arr_sql(luts[j])}, "
        f"({_nearest_code_sql(f'slice(v, {j * w + 1}, {w})', codebooks[j])}) + 1)"
        for j in range(m)
    )
    scored = vecs.select(
        "id",
        F.expr(f"CAST({_nearest_code_sql('v', coarse)} AS INT) AS cell"),
        F.expr(f"round({total}, 6) AS adc_dist"),
    )
    return (
        scored.filter(F.col("cell").isin(*[int(j) for j in probed]))
        .orderBy("adc_dist", "id")
        .limit(int(top_k))
    )


def brute_force_l2_topk(
    df: DataFrame, vec_col: str, id_col: str, query_vec: list[float], k: int = 10
) -> DataFrame:
    """Exact squared-L2 top-k: (id, l2_dist), nearest first, ties on
    id. The ground truth the PQ/IVF-PQ family approximates (ADC
    estimates squared L2, not cosine, so recall is measured against
    THIS — the Jégou et al. evaluation protocol). Same
    TakeOrderedAndProject shape as :func:`brute_force_topk`."""
    q = _query_vec_col(query_vec)
    d = F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"), q, lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.round(d, 6).alias("l2_dist"))
        .orderBy("l2_dist", "id")
        .limit(k)
    )


class IvfPqIndex:
    """IVF-PQ index LIFECYCLE (build once / probe many — the round-13
    deployment shape for :func:`ivfpq_topk`, which refits all m+1
    Lloyd chains per call; a real deployment pays the fits once).

    Mirrors faiss's IndexIVFPQ (Jégou et al. 2011 §V) re-expressed as
    a parquet layout: ``build`` runs the deterministic Lloyd of
    :func:`kmeans_refine` for the ``nc``-cell coarse quantizer plus m
    per-subspace codebooks, and encodes the corpus as
    ``(id, cell, code_0..code_{m-1})`` in ONE literal-compiled
    projection (no join, no shuffle). ``save`` persists the codes
    parquet **partitioned by cell**, so a probe's ``cell IN (...)``
    filter is partition PRUNING — a query reads nprobe/nc of the
    files and m bytes per candidate instead of 4*dim (the FAISS
    inverted-list cost model as a directory layout); the model side
    (coarse centroids + codebooks + params) is KB-scale parquet.
    ``load`` keeps the codes as a LAZY scan (each probe plans a fresh
    pruned read); ``topk`` computes probe set + ADC lookup tables
    driver-side from the model (model-sized work) and scores the
    pruned codes with an element_at projection — no Lloyd refits, no
    data-scale collect.

    ``by_residual=True`` is the actual IVFADC default of Jégou §V:
    the product quantizer encodes the RESIDUAL v - centroid(cell)
    instead of the raw vector, so codewords spend their precision on
    the within-cell displacement (better recall at the same m, k —
    measured on the embeddings fixture in
    tests/test_round13_ops.py). The residual is one literal
    projection (element_at over the nc compiled centroids), and at
    query time the lookup tables become per-probed-cell:
    ||(q - centroid(cell))_j - codeword||^2, still model-sized.

    Same rounding discipline as :func:`ivfpq_topk` (distances rounded
    to 6 decimals before every argmin/sum), so a DuckDB oracle
    replays cells, codes, probes and ADC distances exactly.

    Reference: deepdb-public builds its models once and serves many
    estimates (ensemble_creation/ -> persisted ensemble); this class
    is that lifecycle applied to the ANN surface."""

    def __init__(
        self,
        codes: DataFrame,
        coarse: list[list[float]],
        codebooks: list[list[list[float]]],
        by_residual: bool,
        iters: int = 2,
    ):
        self.codes = codes
        self.coarse = coarse
        self.codebooks = codebooks
        self.by_residual = bool(by_residual)
        self.iters = int(iters)
        self.m = len(codebooks)
        self.k = len(codebooks[0]) if codebooks else 0
        self.nc = len(coarse)

    # -- build ---------------------------------------------------------
    @staticmethod
    def _residual_sql(v_sql: str, cell_sql: str, coarse: list[list[float]]) -> str:
        """SQL text for v - centroid(cell) as one literal projection:
        the nc centroids compile to an array-of-arrays literal indexed
        by the (computed) cell expression."""
        cents = "array(" + ",".join(_arr_sql(c) for c in coarse) + ")"
        return (
            f"zip_with({v_sql}, element_at({cents}, ({cell_sql}) + 1), "
            f"(a, b) -> a - b)"
        )

    @classmethod
    def build(
        cls,
        df: DataFrame,
        vec_col: str,
        id_col: str,
        nc: int = 8,
        m: int = 2,
        k: int = 8,
        iters: int = 2,
        by_residual: bool = False,
    ) -> "IvfPqIndex":
        if not nc >= 1:
            raise ValueError(f"nc must be >= 1 (got {nc})")
        vecs = df.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        # one seed collect serves dim-derivation, the coarse fit and
        # (raw-vector mode) every subspace fit — round 13, the
        # ivfpq_topk fusion applied to the build path
        seed_rows = vecs.orderBy("id").limit(max(int(nc), int(k))).collect()
        if not seed_rows:
            raise ValueError("IvfPqIndex.build: empty input")
        dim = len(seed_rows[0]["v"])
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        w = dim // m
        if by_residual:
            # the subspace codebooks fit over RESIDUALS, which need the
            # finished coarse quantizer first — two fused chains
            coarse = _lloyd_fit_multi(
                vecs,
                [(None, None, int(nc))],
                iters,
                op_name="IvfPqIndex",
                seed_rows=seed_rows,
            )[0]
            cell_sql = f"CAST({_nearest_code_sql('v', coarse)} AS INT)"
            base = vecs.select(
                "id",
                F.expr(cls._residual_sql("v", cell_sql, coarse) + " AS v"),
            )
            codebooks = _lloyd_fit_multi(
                base,
                [(j * w, w, int(k)) for j in range(m)],
                iters,
                op_name="IvfPqIndex",
            )
        else:
            fitted = _lloyd_fit_multi(
                vecs,
                [(None, None, int(nc))]
                + [(j * w, w, int(k)) for j in range(m)],
                iters,
                op_name="IvfPqIndex",
                seed_rows=seed_rows,
            )
            coarse, codebooks = fitted[0], fitted[1:]
        idx = cls(None, coarse, codebooks, by_residual, iters)
        idx.codes = idx.encode(df, vec_col, id_col)
        return idx

    def encode(self, df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
        """Encode vectors with the EXISTING model: cell + all m codes
        (residual included when enabled) in ONE literal-compiled
        projection — no join, no shuffle, the x66/x68 encode shape.
        Used by build for the initial corpus and by append_to_saved
        for ingestion batches (the standard IVF insert: no retrain)."""
        vecs = df.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        w = len(self.coarse[0]) // self.m
        # two-step select: the cell argmin is computed once as a named
        # column and the (possibly residual) code columns reference it
        # by name — both projections collapse into one codegen stage
        base = vecs.select(
            "id",
            "v",
            F.expr(
                f"CAST({_nearest_code_sql('v', self.coarse)} AS INT) AS cell"
            ),
        )
        enc_v_sql = (
            self._residual_sql("v", "cell", self.coarse)
            if self.by_residual
            else "v"
        )
        cols = [F.col("id"), F.col("cell")] + [
            F.expr(
                f"CAST({_nearest_code_sql(f'slice({enc_v_sql}, {j * w + 1}, {w})', self.codebooks[j])}"
                f" AS INT) AS code_{j}"
            )
            for j in range(self.m)
        ]
        return base.select(*cols)

    def append_to_saved(
        self, path: str, df: DataFrame, vec_col: str, id_col: str
    ) -> None:
        """Append a new batch to a SAVED index: encode with the
        existing model + partition-append into the cell layout
        (mirrors IvfIndex.append_to_saved — the ingestion loop).
        Probes pick the rows up with no rebuild; drift handling at
        scale follows IvfIndex.maintain_saved's partition-surgery
        pattern."""
        self.encode(df, vec_col, id_col).write.mode("append").partitionBy(
            "cell"
        ).parquet(f"{path}/codes")

    # -- persistence ---------------------------------------------------
    def save(self, path: str) -> None:
        """codes partitioned BY CELL (probe filter -> partition
        pruning); model side as KB-scale parquet tables."""
        self.codes.write.partitionBy("cell").mode("overwrite").parquet(
            f"{path}/codes"
        )
        spark = self.codes.sparkSession
        # tiny_literal_frame: the classic createDataFrame path made
        # each of these KB-scale writes launch Python workers —
        # 4.3-4.6s apiece, ~13s of every save (round 13, measured)
        tiny_literal_frame(
            spark,
            [(int(i), [float(x) for x in c]) for i, c in enumerate(self.coarse)],
            "cell int, centroid array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/coarse")
        tiny_literal_frame(
            spark,
            [
                (int(j), int(c_i), [float(x) for x in cw])
                for j, cb in enumerate(self.codebooks)
                for c_i, cw in enumerate(cb)
            ],
            "j int, c int, codeword array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
        tiny_literal_frame(
            spark,
            [(self.m, self.k, self.nc, self.by_residual, self.iters)],
            "m int, k int, nc int, by_residual boolean, iters int",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")

    @classmethod
    def load(cls, spark, path: str) -> "IvfPqIndex":
        """Open a saved index WITHOUT materializing it: codes stay a
        lazy parquet scan so each probe plans a fresh partition-pruned
        read (plan-asserted in tests/test_round13_ops.py)."""
        p = spark.read.parquet(f"{path}/params").first()
        coarse_rows = (
            spark.read.parquet(f"{path}/coarse").orderBy("cell").collect()
        )
        coarse = [[float(x) for x in r["centroid"]] for r in coarse_rows]
        cb_rows = spark.read.parquet(f"{path}/codebooks").collect()
        codebooks: list[list[list[float]]] = [
            [None] * int(p["k"]) for _ in range(int(p["m"]))
        ]
        for r in cb_rows:
            codebooks[int(r["j"])][int(r["c"])] = [
                float(x) for x in r["codeword"]
            ]
        code_cols = ["id", "cell"] + [f"code_{j}" for j in range(int(p["m"]))]
        codes = spark.read.parquet(f"{path}/codes").select(*code_cols)
        return cls(codes, coarse, codebooks, bool(p["by_residual"]), int(p["iters"]))

    # -- query ---------------------------------------------------------
    def _probe_cells(self, q: list[float], nprobe: int) -> list[int]:
        """nprobe nearest coarse cells — rounded-at-6 squared L2 with
        low-index ties, replayed driver-side over the model-sized
        centroid list (the ivfpq_topk rule)."""
        cell_d = sorted(
            (round(sum((a - b) * (a - b) for a, b in zip(q, c)), 6), j)
            for j, c in enumerate(self.coarse)
        )
        return sorted(j for _, j in cell_d[:nprobe])

    def topk(
        self, query_vec: list[float], top_k: int = 10, nprobe: int = 2
    ) -> DataFrame:
        """ADC top-k from the PREBUILT codes: (id, cell, adc_dist) —
        the ``top_k`` by (adc_dist, id) among the probed cells. All
        per-query work above the pruned scan is model-sized."""
        if not 0 < nprobe <= self.nc:
            raise ValueError(f"need 0 < nprobe <= {self.nc} (got {nprobe})")
        q = [float(x) for x in query_vec]
        w = len(q) // self.m
        probed = self._probe_cells(q, nprobe)

        def lut_for(qv: list[float]) -> list[list[float]]:
            return [
                [
                    round(
                        sum(
                            (a - b) * (a - b)
                            for a, b in zip(qv[j * w : (j + 1) * w], c)
                        ),
                        6,
                    )
                    for c in self.codebooks[j]
                ]
                for j in range(self.m)
            ]

        if self.by_residual:
            # per-probed-cell LUTs over the query RESIDUAL — still
            # model-sized (nprobe * m * k doubles)
            luts_by_cell = {
                cell: lut_for(
                    [a - b for a, b in zip(q, self.coarse[cell])]
                )
                for cell in probed
            }
            total = " + ".join(
                "CASE "
                + " ".join(
                    f"WHEN cell = {int(cell)} THEN "
                    f"element_at({_arr_sql(luts_by_cell[cell][j])}, code_{j} + 1)"
                    for cell in probed
                )
                + " END"
                for j in range(self.m)
            )
        else:
            luts = lut_for(q)
            total = " + ".join(
                f"element_at({_arr_sql(luts[j])}, code_{j} + 1)"
                for j in range(self.m)
            )
        return (
            self.codes.filter(F.col("cell").isin(*[int(c) for c in probed]))
            .select("id", "cell", F.expr(f"round({total}, 6) AS adc_dist"))
            .orderBy("adc_dist", "id")
            .limit(int(top_k))
        )
