"""Incremental dedup: batch-vs-corpus-index semantics, NULL-band
safety, and the broadcast (zero-corpus-shuffle) join shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from hrtech_etl_spark.functions import dedup as dd

CORPUS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "spark structured streaming handles late data with watermarks and windows"),
    (4, "completely unrelated corpus text about parquet footer statistics"),
]
BATCH = [
    # near-identical to corpus doc 0 → contaminated
    (101, "the quick brown fox jumps over the lazy dog near the river"),
    # internal near-dup pair → within-batch dedup keeps 103
    (103, "minhash banding groups similar documents into shared buckets fast"),
    (105, "minhash banding groups similar documents into shared buckets quickly"),
    # unique → kept
    (107, "a totally novel batch document with fresh content and no twin"),
    # empty text → no shingles, NULL bands: must never match, always kept
    (109, ""),
]


def _dfs(spark):
    c = spark.createDataFrame(CORPUS, "doc_id long, text string")
    b = spark.createDataFrame(BATCH, "doc_id long, text string")
    return c, b


def test_incremental_drop(spark):
    corpus, batch = _dfs(spark)
    idx = dd.lsh_index(corpus, "text", "doc_id")
    out = dd.drop_near_duplicates_incremental(
        batch, idx, "text", "doc_id", threshold=0.5
    )
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [103, 107, 109]


def test_matches_union_dedup(spark):
    """Invariant vs the batch-free path: when corpus ids < batch ids,
    drop_near_duplicates over corpus ∪ batch keeps exactly corpus ∪
    incremental-survivors (min-id keep always prefers the corpus copy)."""
    corpus, batch = _dfs(spark)
    idx = dd.lsh_index(corpus, "text", "doc_id")
    inc = dd.drop_near_duplicates_incremental(
        batch, idx, "text", "doc_id", threshold=0.5
    )
    union_kept = dd.drop_near_duplicates(
        corpus.unionByName(batch), "text", "doc_id", threshold=0.5
    )
    want = sorted(
        [r["doc_id"] for r in corpus.collect()]
        + [r["doc_id"] for r in inc.collect()]
    )
    got = sorted(r["doc_id"] for r in union_kept.collect())
    assert got == want


def test_verified_pairs_values(spark):
    corpus, batch = _dfs(spark)
    idx = dd.lsh_index(corpus, "text", "doc_id")
    bi = dd.lsh_index(batch, "text", "doc_id")
    ver = dd.incremental_verified_pairs(bi, idx, "doc_id", threshold=0.5)
    rows = ver.collect()
    assert [(r["__cid"], r["__bid"]) for r in rows] == [(0, 101)]
    assert 0.5 <= rows[0]["jaccard"] <= 1.0


def test_broadcast_join_shape(spark):
    """The candidate join must broadcast the batch side — the corpus
    index streams map-side, never shuffles."""
    corpus, batch = _dfs(spark)
    idx = dd.lsh_index(corpus, "text", "doc_id")
    bi = dd.lsh_index(batch, "text", "doc_id")
    plan = (
        dd.incremental_verified_pairs(bi, idx, "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_index_single_barrier(spark):
    """lsh_index materializes (id, sh, sig) behind exactly ONE keyed
    barrier; with the conditional narrow-scan widen that is at most two
    keyed exchanges end to end — a third back-to-back exchange of the
    shingle-bearing rows is a regression (r6 plan audit)."""
    corpus, _ = _dfs(spark)
    plan = (
        dd.lsh_index(corpus, "text", "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("REPARTITION_BY_NUM") <= 2


def test_index_null_bands_for_empty(spark):
    _, batch = _dfs(spark)
    idx = dd.lsh_index(batch, "text", "doc_id")
    row = {r["doc_id"]: r for r in idx.collect()}
    assert row[109]["bands"] is None
    assert row[101]["bands"] is not None and len(row[101]["bands"]) == 4


def test_bucket_cap_sheds_corpus_mega_bucket(spark):
    """With max_bucket_size set, an overflowing CORPUS band bucket is
    shed before the band join; a genuine near-dup still surfaces when
    any NON-overflowing shared band remains (several shared bands is
    exactly what near-identical docs have)."""
    corpus, batch = _dfs(spark)
    idx = dd.lsh_index(corpus, "text", "doc_id")
    bi = dd.lsh_index(batch, "text", "doc_id")
    # cap=1: corpus buckets here hold one doc each (3 distinct corpus
    # docs), so nothing overflows and the exact pair is unchanged
    ver = dd.incremental_verified_pairs(
        bi, idx, "doc_id", threshold=0.5, max_bucket_size=1
    )
    assert [(r["__cid"], r["__bid"]) for r in ver.collect()] == [(0, 101)]
    # cap=0: every corpus bucket overflows -> zero candidates, by design
    none = dd.incremental_verified_pairs(
        bi, idx, "doc_id", threshold=0.5, max_bucket_size=0
    )
    assert none.count() == 0
