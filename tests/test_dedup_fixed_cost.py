"""The dedup layer's fixed per-call Spark work: capped_bucket_pairs
sizes its buckets with ONE aggregate (and plans the star branch only
when a bucket is oversized), minhash_lsh_pairs gates its prefilter on
that aggregate's candidate count, and dedup_against_index verifies on
the array path unless the caller hands it a pre-built dense verifier.
Every output must match what the heavier plans produced."""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import functions as F

from deepdb_public_spark.operators.dedup import (
    _sized_bucket_pairs,
    build_dense_index_verifier,
    build_minhash_index,
    capped_bucket_pairs,
    dedup_against_index,
    minhash_lsh_pairs,
    release_cached,
)
from tests.conftest import SF_CORRECT


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _members(spark, buckets: dict):
    return spark.createDataFrame(
        [(i, band, key) for (band, key), ids in buckets.items() for i in ids],
        "id long, band int, key long",
    )


def _star_size(b: int, w: int) -> int:
    return sum(min(w, r) for r in range(1, b))


# ids repeat across bands, as band keys do for one document
SMALL = {
    (0, 1): [1, 2, 3],
    (0, 2): [4, 5],
    (0, 3): [6],
    (1, 1): [1, 2, 4, 6],
    (1, 9): [3, 5, 7, 8, 9],
}


def test_no_oversized_bucket_pairs_and_plan(spark):
    """All within-bucket pairs, deduplicated across buckets, and no
    star machinery (row_number window, sequence explode) in the plan."""
    out = capped_bucket_pairs(
        _members(spark, SMALL), ["band", "key"], max_bucket_size=8
    )
    plan = _plan(out)
    got = sorted((r.id_a, r.id_b) for r in out.collect())
    release_cached()
    want = sorted(
        {p for ids in SMALL.values() for p in combinations(sorted(ids), 2)}
    )
    assert got == want
    assert "row_number" not in plan
    assert "Generate" not in plan


def test_derived_count_equals_candidate_count(spark):
    """The sizing aggregate's pair count is exactly the pre-distinct
    candidate count, with and without oversized buckets (including
    one whose star is wider than the bucket: B - 1 < chain_width)."""
    big = dict(SMALL)
    big[(2, 5)] = list(range(100, 140))  # 40 members
    big[(2, 6)] = list(range(200, 213))  # 13 members
    big[(3, 7)] = [300, 301, 302, 303, 304, 305, 306]  # 7 members
    cases = [
        (SMALL, 8, 4),
        (big, 8, 4),
        (big, 6, 3),
        (big, 6, 8),  # the 7-member bucket is oversized with w > B - 1
    ]
    for buckets, cap, w in cases:
        pairs, n = _sized_bucket_pairs(
            _members(spark, buckets), ["band", "key"], cap, w
        )
        counted = pairs.count()
        release_cached()
        want = sum(
            len(ids) * (len(ids) - 1) // 2 if len(ids) <= cap
            else _star_size(len(ids), w)
            for ids in buckets.values()
        )
        assert n == counted == want, (cap, w, n, counted, want)


def test_minhash_pairs_submit_fewer_jobs(spark):
    """One minhash_lsh_pairs call on the fixture corpus, counted by
    job group: the sizing aggregate replaces the eager sized count and
    the prefilter gate's persist + count. The previous plans submitted
    20 jobs for this call (the same setting as the x06 entry)."""
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    sc = spark.sparkContext
    group = "test_minhash_pairs_submit_fewer_jobs"
    sc.setJobGroup(group, group)
    try:
        rows = minhash_lsh_pairs(
            docs, "text", "doc_id", threshold=0.8, n_hashes=64,
            n_bands=16, use_char_ngrams=True, ngram=5,
        ).collect()
    finally:
        sc.setJobGroup("", "")
        release_cached()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert rows  # the fixture corpus holds near-duplicates
    assert n_jobs <= 16, n_jobs


def test_index_probe_default_matches_dense_verifier(spark):
    """The default probe (array verify, no per-call gate) returns the
    rows of a probe given a pre-built dense verifier."""
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    kw = dict(n_hashes=64, n_bands=16, use_char_ngrams=True, ngram=5)
    bands, sets = build_minhash_index(
        docs.filter(F.col("doc_id") % 5 != 0), "text", "doc_id", **kw
    )
    bands, sets = bands.localCheckpoint(), sets.localCheckpoint()
    dense = build_dense_index_verifier(sets)
    assert dense is not None  # the fixture index is dense-boundable
    new = docs.filter(F.col("doc_id") % 5 == 0)

    def probe(dense_index):
        out = dedup_against_index(
            new, "text", "doc_id", bands, sets, threshold=0.8,
            dense_index=dense_index, **kw,
        )
        plan = _plan(out)
        rows = sorted(
            (r.new_id, r.index_id, round(r.jaccard, 9)) for r in out.collect()
        )
        release_cached()
        return rows, plan

    default_rows, default_plan = probe(None)
    dense_rows, dense_plan = probe(dense)
    false_rows, _ = probe(False)
    assert default_rows  # the fixture batch matches the index
    assert default_rows == dense_rows == false_rows
    assert "bit_count" not in default_plan  # array verify
    assert "bit_count" in dense_plan
