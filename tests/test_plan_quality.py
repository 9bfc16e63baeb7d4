"""Physical-plan quality gates: the properties we claim in README
("Designed for 100 TB") asserted on real executed plans so perf
regressions fail loudly, not silently.

- filters/projections reach the parquet scan (PushedFilters)
- dimension joins broadcast (no shuffle of the small side)
- no CartesianProduct anywhere in the 70-query corpus
- dedup pair generation never plans a cross join
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from deepdb_public_spark.benchmarks import load_fixture_light
from deepdb_public_spark.engine import Engine
from tests.conftest import SF_CORRECT


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark, SF_CORRECT)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(engine):
    plan = _plan(
        engine.query(
            "SELECT COUNT(*) AS c FROM lineitem WHERE lineitem.l_quantity < 25"
        )
    )
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_quantity)" in plan or "LessThan(l_quantity" in plan


def test_column_pruning_reaches_scan(engine):
    plan = _plan(
        engine.query(
            "SELECT COUNT(*) AS c FROM lineitem WHERE lineitem.l_quantity < 25"
        )
    )
    # a COUNT over one predicate column must not read the wide columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[-1]


def test_dimension_join_broadcasts(engine):
    plan = _plan(
        engine.query(
            "SELECT COUNT(*) AS c FROM orders, lineitem "
            "WHERE orders.o_orderkey = lineitem.l_orderkey "
            "AND orders.o_orderstatus = 'F'"
        )
    )
    assert "BroadcastHashJoin" in plan


def test_corpus_has_no_cartesian_products(engine):
    for sql, _true in load_fixture_light():
        plan = _plan(engine.query(sql))
        assert "CartesianProduct" not in plan, sql
        assert "BroadcastNestedLoopJoin" not in plan, sql


def test_dedup_pair_generation_is_not_cross_join(engine):
    from deepdb_public_spark.operators.dedup import minhash_lsh_pairs

    docs = engine.catalog["documents"]
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", threshold=0.8, n_hashes=64, n_bands=16,
        use_char_ngrams=True, ngram=5,
    )
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan
    from deepdb_public_spark.operators.dedup import release_cached

    release_cached()


def test_corpus_filters_are_pure_projections(engine):
    """Gopher flags and PII redaction must plan with NO Exchange at
    all — one scan, zero shuffle (the claim in operators/filters.py)."""
    from deepdb_public_spark.operators.filters import (
        gopher_quality_flags,
        redact_pii,
    )

    docs = engine.catalog["documents"]
    for df in (
        gopher_quality_flags(docs, "text", "doc_id"),
        redact_pii(docs, "text", "doc_id"),
    ):
        plan = _plan(df)
        assert "Exchange" not in plan, plan


def test_sequence_packing_avoids_global_sort(engine):
    """pack_sequences windows per shard: the plan must hash-partition
    on the shard column, never collapse to a single partition."""
    from deepdb_public_spark.functions.text import token_count
    from deepdb_public_spark.operators.sampling import pack_sequences

    docs = engine.catalog["documents"].select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    plan = _plan(pack_sequences(docs, "doc_id", F.col("n_tokens"), 512, "source"))
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(source" in plan, plan


def test_index_dedup_probe_has_no_cross_join(engine):
    """dedup_against_index must plan the band-key probe as an
    equi-join (hash/sort-merge), never a cartesian/nested-loop."""
    from deepdb_public_spark.operators.dedup import (
        build_minhash_index,
        dedup_against_index,
        release_cached,
    )

    docs = engine.catalog["documents"]
    bands, sets = build_minhash_index(
        docs.filter(F.col("doc_id") % 5 != 0), "text", "doc_id",
        use_char_ngrams=True, ngram=5,
    )
    pairs = dedup_against_index(
        docs.filter(F.col("doc_id") % 5 == 0), "text", "doc_id", bands, sets,
        threshold=0.8, use_char_ngrams=True, ngram=5,
    )
    plan = _plan(pairs)
    release_cached()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_whole_stage_codegen_covers_exact_plane(engine):
    df = engine.query(
        "SELECT COUNT(*) AS c FROM lineitem WHERE lineitem.l_discount BETWEEN 0.02 AND 0.06"
    )
    df.collect()  # AQE only shows codegen spans in the FINAL plan
    # "*(n)" prefixes are the WholeStageCodegen stage markers in the
    # simple plan string; the filter+partial-agg must be inside one
    plan = _plan(df)
    assert "*(1)" in plan and "isFinalPlan=true" in plan


def test_bucketed_staging_join_skips_shuffle(engine, spark, tmp_path):
    """The 100 TB staging story: orders and lineitem bucketed on the
    join key join WITHOUT an Exchange on either side (co-located
    sort-merge join), unlike the plain parquet join."""
    import shutil

    from deepdb_public_spark.sources.writers import write_bucketed_table

    for t in ("t_orders_b", "t_lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    write_bucketed_table(
        engine.catalog["orders"].select("o_orderkey", "o_totalprice"),
        "t_orders_b", "o_orderkey", n_buckets=8,
    )
    write_bucketed_table(
        engine.catalog["lineitem"].select("l_orderkey", "l_quantity"),
        "t_lineitem_b", "l_orderkey", n_buckets=8,
    )
    # at fixture scale the planner prefers broadcasting the small
    # side; disable it so the test exercises the (100 TB-realistic)
    # shuffle-join path where bucketing is what removes the Exchange
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("t_orders_b").join(
            spark.table("t_lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        joined.collect()
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in ("t_orders_b", "t_lineitem_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_estimate_driven_join_order(engine):
    """With a cardinality estimator wired in, the compiler attaches
    the most selective table first (DeepDB's optimizer integration:
    learned cardinalities drive the join tree)."""
    order: list[str] = []
    comp = engine.compiler
    orig_scan = comp._scan

    def spy(table, query, joined_tables):
        order.append(table)
        return orig_scan(table, query, joined_tables)

    sql = (
        "SELECT COUNT(*) AS c FROM part, lineitem, orders "
        "WHERE lineitem.l_partkey = part.p_partkey "
        "AND orders.o_orderkey = lineitem.l_orderkey"
    )
    try:
        comp._scan = spy
        # estimator says part is tiny and orders huge -> part joins first
        comp.cardinality_estimator = lambda t, q: {"part": 10.0, "orders": 1e9}.get(t)
        engine.query(sql)
        with_est = list(order)
    finally:
        comp._scan = orig_scan
        comp.cardinality_estimator = None
    anchor = with_est[0]
    rest = with_est[1:]
    assert rest.index("part") < rest.index("orders") or anchor == "part"


def test_chunking_is_narrow_pipeline(engine):
    """chunk_documents: scan -> explode -> project, ZERO Exchange in
    the executing pipeline. The small-input spread barrier is a lazy
    persist, and the tree string inlines the cached plan (whose
    round-robin repartition Exchange runs ONCE at fill) — only the
    plan ABOVE the InMemoryRelation executes per action, so the
    narrow-pipeline invariant is asserted on that slice."""
    from deepdb_public_spark.operators.chunking import chunk_documents

    plan = _plan(
        chunk_documents(engine.catalog["documents"], "text", "doc_id")
    )
    outer, cached = plan.split("InMemoryRelation", 1)
    assert "Exchange" not in outer
    assert "Generate" in plan  # the posexplode
    # the cached plan holds the spread barrier's shuffle and nothing
    # else (once the cache has run, AQE prints its tree a second time
    # under "== Initial Plan ==")
    cached = cached.split("== Initial Plan ==", 1)[0]
    assert cached.count("Exchange") == 1, cached
    assert "Exchange RoundRobinPartitioning" in cached, cached


def test_tfidf_has_no_global_sort(engine):
    """tfidf_top_terms: window partitions by doc id — a SinglePartition
    global sort would serialize the whole corpus through one task."""
    from deepdb_public_spark.operators.textstats import tfidf_top_terms

    plan = _plan(tfidf_top_terms(engine.catalog["documents"], "text", "doc_id"))
    # the top-k window shuffles on the doc id, not a global sort (the
    # plan's only SinglePartition exchange is the one-row corpus-count
    # aggregate feeding the broadcast, which is fine)
    assert "hashpartitioning(__id" in plan
    assert "CartesianProduct" not in plan
    # the scalar corpus-size side joins as a broadcast
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_semantic_dedup_scale_path_no_cross_join(engine):
    """semantic_dedup's LSH path: bucketed candidates only — the
    quadratic join exists solely behind brute_force=True."""
    from deepdb_public_spark.operators.dedup import release_cached, semantic_dedup

    plan = _plan(
        semantic_dedup(engine.catalog["embeddings"], "embedding", "vec_id")
    )
    release_cached()
    assert "CartesianProduct" not in plan


def test_hybrid_rrf_plan_shape(engine, spark):
    """hybrid_rrf_topk (round 7): the cosine channel's only
    nested-loop join is against the broadcast 2-row query batch (a
    batch-size side, never data x data); fusion windows partition by
    qid; no CartesianProduct."""
    from deepdb_public_spark.operators.similarity import hybrid_rrf_topk

    docs = engine.catalog["documents"]
    vecs = engine.catalog["embeddings"]
    qtext = spark.createDataFrame(
        [(1, "hash join"), (2, "stream batch")], "qid int, qtext string"
    )
    qvec = vecs.filter(F.col("vec_id").isin([0, 7])).select(
        F.when(F.col("vec_id") == 0, 1).otherwise(2).alias("qid"),
        F.col("embedding").alias("qvec"),
    )
    plan = _plan(hybrid_rrf_topk(docs, qtext, vecs, qvec))
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(__qid" in plan  # per-query top-k windows


def test_ngram_contamination_plan_shape(engine):
    """ngram_contamination (round 7): one gram-level explode; the
    train/test sides meet through exchanges on the md5 gram key —
    never a doc-to-doc join."""
    from deepdb_public_spark.operators.sampling import hash_split
    from deepdb_public_spark.operators.textstats import ngram_contamination

    tagged = hash_split(
        engine.catalog["documents"], "doc_id", {"train": 0.9, "test": 0.1}
    )
    plan = _plan(ngram_contamination(tagged, "text", "doc_id", "split"))
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(gram" in plan


def test_bpe_pair_counts_plan_shape(engine):
    """bpe_pair_counts (round 8): corpus rows cross exactly one
    word-key exchange (the vocabulary collapse) before the pair
    explosion; the pair aggregate exchanges on the pair key; no
    cartesian anywhere."""
    from deepdb_public_spark.operators.textstats import bpe_pair_counts

    plan = _plan(bpe_pair_counts(engine.catalog["documents"], "text"))
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(w" in plan
    assert "hashpartitioning(pair" in plan


def test_dense_index_probe_plan_shape(engine, spark):
    """dedup_against_index with a dense-boundable index (round 9): the
    verify step must be the broadcast bitmap AND+popcount — candidates
    pick up their bitmap columns through BroadcastHashJoins (never a
    shuffle of shingle arrays) — and no cartesian anywhere."""
    from pyspark.sql import functions as F

    from deepdb_public_spark.operators.dedup import (
        build_dense_index_verifier,
        build_minhash_index,
        dedup_against_index,
        release_cached,
    )

    docs = engine.catalog["documents"]
    index = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    bands, sets = build_minhash_index(
        index, "text", "doc_id", n_hashes=64, n_bands=16,
        use_char_ngrams=True, ngram=5,
    )
    dense = build_dense_index_verifier(sets)
    assert dense is not None  # the fixture corpus is dense-boundable
    out = dedup_against_index(
        new, "text", "doc_id", bands, sets, threshold=0.8,
        n_hashes=64, n_bands=16, use_char_ngrams=True, ngram=5,
        dense_index=dense,
    )
    out.collect()
    plan = _plan(out)
    release_cached()
    assert "CartesianProduct" not in plan
    assert "bit_count" in plan  # bitmap verify, not array_intersect
    assert "array_intersect" not in plan
    assert "BroadcastHashJoin" in plan


def test_repeated_span_coverage_plan_shape(engine):
    """repeated_span_coverage (round 9): gram hashing stays JVM-side
    (no Python in the row path), grams shuffle as 64-bit hashes on the
    gram key and docs on the id key; no cartesian."""
    from deepdb_public_spark.operators.textstats import (
        repeated_span_coverage,
    )

    out = repeated_span_coverage(
        engine.catalog["documents"], "text", "doc_id", k=20
    )
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "hashpartitioning(g" in plan
    assert "xxhash64" in plan.lower()


def test_repeated_span_skew_resilience(spark):
    """The x52 gram join's skew story at 100 TB (round-9 review item
    3), asserted in two layers:

    1. STRUCTURAL: intra-document runs (whitespace padding — the
       dominant hot-key pathology: a 1 MB run is ~1M identical gram
       keys from ONE doc) are collapsed to one (doc, gram, cnt) row in
       the MAP-SIDE partial aggregate, so they never reach any shuffle.
       Planted single-char runs must contribute exactly one join-input
       row per doc. (AQE's skew-join split cannot fire on this plan —
       its rule only matches an SMJ whose both inputs are bare shuffle
       stages, and the occurrence side arrives pre-partitioned from
       its aggregate — so the operator handles skew itself.)
    2. SALTING: the residual cross-doc hot gram (a license header
       shared by millions of docs) is spread over `salt` sub-keys —
       the join key becomes (g, __salt), visible in the executed
       plan's hashpartitioning, and results are identical to the
       un-salted plan."""
    from deepdb_public_spark.operators.textstats import (
        repeated_span_coverage,
    )

    docs = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.concat(
            # half the docs: a 3000-char run (2981 identical grams)
            F.when(F.col("id") < 200, F.lit("a" * 3000)).otherwise(F.lit("")),
            # every doc: one shared 20-char span (cross-doc hot gram)
            F.lit("Z" * 20),
            F.sha2(F.col("id").cast("string"), 256),
        ).alias("text"),
    )
    base = repeated_span_coverage(docs, "text", "doc_id", k=20)
    rows = {r["doc_id"]: r for r in base.collect()}
    assert len(rows) == 400
    # layer 1 — collapse semantics: run positions + shared-span
    # positions are duplicated, sha tails are not
    for i in (0, 199):
        assert rows[i]["n_dup"] >= 2981, rows[i]  # the run repeats
    for r in rows.values():
        assert 0.0 < r["dup_frac"] < 1.0
    # layer 1 — collapse plan shape: the join input aggregates by
    # (doc, gram) BEFORE any gram-keyed exchange, so the planted runs
    # shuffle as one row per doc
    plan = base._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"HashAggregate\(keys=\[__id#\d+L?, g#", plan), plan[:2000]

    # layer 2 — salting: identical results, salted join key in plan
    # (broadcast disabled: at 100 TB the vocabulary side never fits a
    # broadcast, and the salted SHUFFLE key is what this asserts)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        salted = repeated_span_coverage(docs, "text", "doc_id", k=20, salt=8)
        srows = {r["doc_id"]: r for r in salted.collect()}
        assert srows == rows
        splan = salted._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"hashpartitioning\(g#\d+L, __salt", splan), (
            splan[:3000]
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
