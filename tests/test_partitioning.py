"""Scale-conditional partitioning: the CPU-spread exchanges must fire
on narrow (single-file) scans and VANISH on already-wide inputs — at
cluster scale an unconditional round-robin repartition is a full extra
pass over the corpus (round-2/4 verdict item #1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hrtech_etl_spark.core.partitioning import keyed_barrier, num_partitions, spread
from hrtech_etl_spark.functions import dedup as dd
from hrtech_etl_spark.functions import similarity as sim

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _roundrobins(df) -> int:
    return _plan(df).count("RoundRobinPartitioning")


def _hashparts(df) -> int:
    return _plan(df).count("Exchange hashpartitioning")


@pytest.fixture(scope="module")
def wide_emb(spark, tmp_path_factory):
    """Embeddings written as many files → the scan itself is wide, with
    no repartition node inside the test DataFrame's plan."""
    out = str(tmp_path_factory.mktemp("wide") / "emb.parquet")
    spark.read.parquet(f"{SF_DIR}/embeddings.parquet").repartition(
        16
    ).write.parquet(out)
    df = spark.read.parquet(out)
    assert num_partitions(df) >= spark.sparkContext.defaultParallelism
    return df


@pytest.fixture(scope="module")
def wide_docs(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("wide") / "docs.parquet")
    spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(
        16
    ).write.parquet(out)
    return spark.read.parquet(out)


def test_spread_identity_on_wide_input(spark):
    wide = spark.range(0, 1000).repartition(16)
    assert spread(wide) is wide


def test_spread_widens_narrow_input(spark):
    narrow = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assert num_partitions(narrow) < spark.sparkContext.defaultParallelism
    assert num_partitions(spread(narrow)) == spark.sparkContext.defaultParallelism


def test_keyed_barrier_never_narrows(spark):
    wide = spark.range(0, 1000).repartition(24)
    assert num_partitions(keyed_barrier(wide, "id")) >= 24
    narrow = spark.range(0, 1000).coalesce(1)
    # narrow branch = factor*base EXACTLY: an even multiple of the
    # core count keeps CPU-heavy stages in full waves (an off-by-factor
    # count costs a straggler wave; collision-freedom comes from
    # num_partitions reading the inner barrier's declared count)
    assert (
        num_partitions(keyed_barrier(narrow, "id", factor=2))
        == 2 * spark.sparkContext.defaultParallelism
    )


def test_keyed_barrier_factors_stay_distinct_on_wide_input(spark):
    """With the same key, adjacent barriers of different factors must
    get DIFFERENT counts even when the input width dominates — same
    key + same count lets EnsureRequirements drop the second exchange
    and re-inline the expensive projection into every consumer."""
    wide = spark.range(0, 1000).repartition(64)
    c2 = num_partitions(keyed_barrier(wide, "id", factor=2))
    c3 = num_partitions(keyed_barrier(keyed_barrier(wide, "id", factor=2), "id", factor=3))
    assert c2 != c3 and c3 > c2 >= 64


def test_minhash_wide_input_keeps_both_barriers(spark, wide_docs):
    """End-to-end: on a wide scan, the shingle barrier and the
    signature barrier must BOTH survive in the physical plan (distinct
    counts), so the signature fold is computed once and reused by both
    self-join sides."""
    sh = dd.shingle_table(wide_docs, "text", "doc_id", hashed=True)
    pairs = dd.minhash_lsh_pairs(wide_docs, "text", "doc_id", shingles=sh)
    pairs.collect()  # ReusedExchange only appears in the FINAL adaptive plan
    plan = _plan(pairs).split("+- == Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") >= 2 or plan.count("ShuffleQueryStage") >= 2
    assert "ReusedExchange" in plan


def test_num_partitions_reads_declared_count_through_projections(spark):
    """A chained barrier is Project(Filter(Repartition(...))) — the
    width estimate must be the inner DECLARED count, not the session
    shuffle conf (the old top-node-only check fell back to the conf,
    which could collide two same-key barriers when conf = width - 1)."""
    inner = spark.range(0, 1000).repartition(37, F.col("id"))
    shaped = inner.where(F.col("id") > 2).select((F.col("id") * 2).alias("id"))
    assert num_partitions(shaped) == 37
    # the adjacent-barrier counts stay distinct and increasing even
    # when the session conf equals width - 1 (the ADVICE collision)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "36")
    try:
        b2 = keyed_barrier(shaped, "id", factor=2)
        b3 = keyed_barrier(b2.select("id"), "id", factor=3)
        c2, c3 = num_partitions(b2), num_partitions(b3)
        assert c2 != c3 and c3 > c2 >= 37
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_broadcast_exchange_does_not_flag_shuffle_width(spark, wide_emb):
    """A broadcast-only plan must not be width-estimated via .rdd
    (materializing the broadcast runs a job); it falls back to the
    conf estimate WITHOUT launching anything."""
    small = spark.range(0, 10).withColumnRenamed("id", "vec_id")
    joined = wide_emb.join(F.broadcast(small), "vec_id")
    before = spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None)
    width = num_partitions(joined)
    after = spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None)
    assert width >= 1
    assert len(after) == len(before), "num_partitions launched a job"


def test_num_partitions_does_not_execute_shuffles(spark):
    """num_partitions on an exchange-bearing plan must not run jobs
    (df.rdd under AQE executes every intermediate stage): it reports
    the session shuffle width from the static plan instead."""
    before = spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None)
    agg = spark.range(0, 10000).groupBy((F.col("id") % 7).alias("k")).count()
    width = num_partitions(agg)
    after = spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None)
    assert width == int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert len(after) == len(before), "num_partitions launched a job"


def test_cosine_topk_no_exchange_above_wide_scan(spark, wide_emb):
    q = wide_emb.where(F.col("vec_id") == 0)
    df = sim.cosine_topk(wide_emb, q, k=10)
    assert _roundrobins(df) == 0
    assert _hashparts(df) == 0  # broadcast-only plan


def test_cosine_topk_still_spreads_narrow_scan(spark):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.where(F.col("vec_id") == 0)
    assert _roundrobins(sim.cosine_topk(e, q, k=10)) == 1


def test_lsh_topk_no_roundrobin_on_wide_scan(spark, wide_emb):
    q = wide_emb.where(F.col("vec_id") == 0)
    assert _roundrobins(sim.lsh_cosine_topk(wide_emb, q, k=10)) == 0


def test_ivf_topk_no_roundrobin_on_wide_scan(spark, wide_emb):
    q = wide_emb.where(F.col("vec_id") == 0)
    assert _roundrobins(sim.ivf_cosine_topk(wide_emb, q, k=10)) == 0


def test_simhash_pairs_no_roundrobin_on_wide_scan(spark, wide_docs):
    df = dd.simhash_pairs(wide_docs, "text", "doc_id")
    assert _roundrobins(df) == 0


def test_shingle_table_skips_raw_exchange_on_wide_scan(spark, wide_docs):
    # hashed path on a wide scan: exactly ONE keyed exchange (the
    # hashed-set materialization barrier), not raw-text + hashed.
    hashed = dd.shingle_table(wide_docs, "text", "doc_id", hashed=True)
    assert _hashparts(hashed) == 1
    # unhashed path on a wide scan: no exchange at all.
    raw = dd.shingle_table(wide_docs, "text", "doc_id", hashed=False)
    assert _hashparts(raw) == 0 and _roundrobins(raw) == 0


def test_tfidf_single_corpus_pass(spark, wide_docs):
    """tf_idf must tokenize the corpus ONCE: the tf aggregation's
    exchange is read by both the probe side and the idf build
    (ReusedExchange). Regression-locks the count_if pruning guard —
    with count(1) the idf copy's subtree gets column-pruned, the
    copies canonicalize differently, and the explode runs twice."""
    from hrtech_etl_spark.functions import text as tx

    scored = tx.tf_idf(wide_docs, "text", "doc_id", carry_cols=("lang",))
    agg = scored.groupBy("lang").agg(F.max("tf_idf").alias("m"))
    agg.collect()  # ReusedExchange only appears in the FINAL adaptive plan
    plan = _plan(agg).split("+- == Initial Plan ==")[0]
    assert plan.count("Generate explode") == 1
    assert "ReusedExchange" in plan


def test_declared_tfidf_query_single_pass(spark):
    """The declared text_token_stats query keeps the single-pass plan
    even under its outer lang join (the isnotnull pre-filter guard)."""
    import __spark_entry__ as entry

    df = entry.queries()["text_token_stats"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    assert plan.count("Generate explode") == 1
    assert "ReusedExchange" in plan


def test_wide_and_narrow_agree(spark, wide_emb):
    """Partitioning must never change results: top-k over the wide
    corpus equals top-k over the narrow single-file corpus."""
    narrow = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qn = narrow.where(F.col("vec_id") == 0)
    qw = wide_emb.where(F.col("vec_id") == 0)
    a = [(r["vec_id"], r["score"]) for r in sim.cosine_topk(narrow, qn, k=10).collect()]
    b = [(r["vec_id"], r["score"]) for r in sim.cosine_topk(wide_emb, qw, k=10).collect()]
    assert a == b
    pa = sorted(
        (r["id_a"], r["id_b"])
        for r in dd.minhash_lsh_pairs(
            spark.read.parquet(f"{SF_DIR}/documents.parquet"), "text", "doc_id"
        ).collect()
    )
    wide_docs = wide_emb.sparkSession.read.parquet(f"{SF_DIR}/documents.parquet").repartition(16)
    pb = sorted(
        (r["id_a"], r["id_b"])
        for r in dd.minhash_lsh_pairs(wide_docs, "text", "doc_id").collect()
    )
    assert pa == pb
