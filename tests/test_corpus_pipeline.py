"""Integration test of prepare_training_corpus: the full dedup →
decontaminate → quality → redact → chunk → pack composition on real
documents plus planted hazards."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hrtech_etl_spark.operators.corpus import prepare_training_corpus
from hrtech_etl_spark.sources.testdata import load_table

GOOD = (
    "The quarterly report shows steady growth in the engineering team, "
    "with hiring on track and the platform migration nearly complete. "
    "Management expects the next phase to start in early spring and has "
    "asked every group to prepare detailed staffing plans for review."
)


@pytest.fixture(scope="module")
def prepared(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    planted = spark.createDataFrame(
        [
            # exact duplicate pair → one survives
            (90_001, GOOD),
            (90_002, GOOD),
            # near duplicate of the pair → removed by LSH stage
            (90_003, GOOD.replace("steady", "strong")),
            # PII carrier (distinct content so dedup keeps it) →
            # redacted, not dropped
            (90_004, "Security review notes for the payments service: the "
                     "rotation schedule was approved last week and the new "
                     "keys ship with the container image on Friday. Contact "
                     "alice@example.com for any questions about the rollout "
                     "process or the audit timeline and remaining work."),
            # contaminated: shares a 13-gram with the test set
            (90_005, GOOD + " the quick brown fox jumps over the lazy dog "
                            "and then runs far away from the river"),
        ],
        "doc_id long, text string",
    )
    test_set = spark.createDataFrame(
        [(1, "a benchmark question: the quick brown fox jumps over the "
             "lazy dog and then runs far away from home")],
        "doc_id long, text string",
    )
    out = prepare_training_corpus(
        docs.unionByName(planted),
        "text",
        "doc_id",
        test_set=test_set,
        quality_min=0.3,
        chunk_chars=400,
        chunk_overlap=50,
        pack_max_len=128,
    ).persist()
    yield out
    out.unpersist()


def test_dedup_and_decontamination(prepared):
    out = prepared
    ids = {r["doc_id"] for r in out.select("doc_id").distinct().collect()}
    assert 90_001 in ids          # canonical copy kept (min id)
    assert 90_002 not in ids      # exact duplicate dropped
    assert 90_003 not in ids      # near duplicate dropped
    assert 90_005 not in ids      # 13-gram contamination dropped


def test_redaction_and_chunk_bounds(prepared):
    out = prepared
    pii_chunks = out.where(F.col("doc_id") == 90_004).collect()
    assert pii_chunks  # quality doc with PII survives...
    joined = " ".join(r["chunk_text"] for r in pii_chunks)
    assert "alice@example.com" not in joined  # ...but redacted
    assert "[EMAIL]" in joined
    too_long = out.where(F.length("chunk_text") > 400).count()
    assert too_long == 0


def test_packing_capacity(prepared):
    out = prepared
    per_pack = (
        out.where(~F.col("oversize"))
        .groupBy("pack_id")
        .agg(F.sum("n_tokens").alias("total"))
    )
    assert per_pack.where(F.col("total") > 128).count() == 0
    # oversize chunks are singleton packs, never silently truncated
    oversize = out.where(F.col("oversize"))
    if oversize.count():
        counts = oversize.groupBy("pack_id").count()
        assert counts.where(F.col("count") > 1).count() == 0


def test_boilerplate_stage_runs_before_dedup(spark):
    """With boilerplate_frac set, a banner line shared by most docs is
    stripped BEFORE dedup — two docs identical except for their banner
    placement collapse to one, and no surviving chunk contains it."""
    banner = "SUBSCRIBE TO OUR NEWSLETTER TODAY"
    body_a = ("An analysis of partition pruning strategies for columnar "
              "storage engines, with measurements over synthetic workloads "
              "and a discussion of footer metadata layouts in practice.")
    body_b = ("Operational notes from the streaming migration: watermark "
              "tuning, state store sizing, and the checkpoint layout the "
              "team settled on after the incident review last quarter.")
    docs = spark.createDataFrame(
        [
            (1, banner + "\n" + body_a),
            (2, body_a + "\n" + banner),          # same body, banner moved
            (3, banner + "\n" + body_b),
            (4, body_b),
        ],
        "doc_id long, text string",
    )
    out = prepare_training_corpus(
        docs,
        "text",
        "doc_id",
        quality_min=0.0,
        chunk_chars=400,
        chunk_overlap=50,
        pack_max_len=512,
        boilerplate_frac=0.5,
    ).collect()
    ids = {r["doc_id"] for r in out}
    assert ids == {1, 3}  # doc 2 deduped against 1; doc 4 deduped against 3
    assert all(banner not in r["chunk_text"] for r in out)


def test_concat_split_and_shuffle_shard_modes(spark, sf_dir):
    """packing='concat_split' + shuffle_seed: the capstone's
    training-file tail — offsets are a contiguous token stream over
    the chunk set, every chunk gets a shard, and a new seed is a new
    permutation of the same rows."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    out = prepare_training_corpus(
        docs,
        "text",
        "doc_id",
        quality_min=0.0,
        chunk_chars=400,
        chunk_overlap=50,
        pack_max_len=128,
        packing="concat_split",
        shuffle_seed=11,
        n_shards=4,
    ).persist()
    rows = out.collect()
    assert rows, "pipeline produced no chunks"
    cols = set(out.columns)
    assert {"tok_offset", "block_first", "n_blocks", "shard", "shuffle_key"} <= cols
    assert "pack_id" not in cols
    # contiguous stream: sorted offsets step by each chunk's n_tokens
    ordered = sorted(rows, key=lambda r: r["tok_offset"])
    running = 0
    for r in ordered:
        assert r["tok_offset"] == running
        running += r["n_tokens"]
    assert {r["shard"] for r in rows} <= set(range(4))
    # same inputs, different seed -> same chunk set, different order
    out2 = prepare_training_corpus(
        docs,
        "text",
        "doc_id",
        quality_min=0.0,
        chunk_chars=400,
        chunk_overlap=50,
        pack_max_len=128,
        packing="concat_split",
        shuffle_seed=12,
        n_shards=4,
    )
    ids = lambda df: sorted(
        (r["doc_id"], r["chunk_idx"]) for r in df.select("doc_id", "chunk_idx").collect()
    )
    assert ids(out) == ids(out2)
    out.unpersist()


def test_packing_mode_validation(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    with pytest.raises(ValueError, match="packing"):
        prepare_training_corpus(docs, "text", "doc_id", packing="zip")


# ---------------------------------------------------------------------------
# DSIR + SemDeDup stages (round 14): planted off-domain doc and planted
# semantic twin must be dropped by their stage, and ONLY by their stage
# ---------------------------------------------------------------------------

STEM = (
    "the quarterly engineering report shows steady growth and hiring "
    "on track across the platform with detailed staffing plans"
)


def _modern_corpus(spark):
    base = [
        (i, f"{STEM} for unit{i} sector{i} zone{i} theme{i}")
        for i in range(10)
    ]
    # off-domain hazards: repeated alien bigrams, zero target overlap →
    # most-negative DSIR importance weights, must rank dead last
    aliens = [
        (10, "zxq wvu qpz xkj " * 12),
        (13, "qqj wxz jjq zzx " * 12),  # also the semantic KEEPER of 14
    ]
    # semantic-twin hazards: lexically DISTINCT paraphrases (MinHash
    # can't see them) with near-identical embeddings. Pair (11, 12):
    # keeper 11 survives DSIR → 12 must drop. Pair (13, 14): keeper 13
    # is DSIR-rejected → the keeper-present rule must KEEP 14.
    twins = [
        (11, f"{STEM} while management expects strong momentum by spring"),
        (12, f"{STEM} and leadership anticipates robust acceleration soon"),
        (14, f"{STEM} because the committee projects remarkable traction"),
    ]
    docs = spark.createDataFrame(
        base + aliens + twins, "doc_id long, text string"
    )
    # one-hot-ish dim-16 embeddings: everything mutually orthogonal
    # except the twin pairs; centroid seed = doc 0's basis vector; in
    # each pair the lower id sits exactly orthogonal to the centroid,
    # its twin a hair closer — keep-farthest keeps 11 and 13
    def onehot(i, eps=0.0):
        v = [0.0] * 16
        v[i % 16] = 1.0
        v[0] += eps
        return v

    emb = spark.createDataFrame(
        [(i, onehot(i)) for i in range(12)]
        + [(12, onehot(11, eps=0.001))]
        + [(13, onehot(13)), (14, onehot(13, eps=0.001))],
        "vec_id long, embedding array<float>",
    )
    return docs, emb


def test_dsir_and_semantic_stages(spark):
    docs, emb = _modern_corpus(spark)
    knobs = dict(
        quality_min=0.0,
        near_dup_threshold=0.9,
        chunk_chars=400,
        chunk_overlap=50,
        pack_max_len=128,
    )
    out = prepare_training_corpus(
        docs,
        "text",
        "doc_id",
        dsir_target=F.col("doc_id") <= 5,
        dsir_frac=0.86,  # ceil(0.86 * 15) = 13 → exactly the two worst drop
        embeddings=emb,
        semantic_knobs=dict(n_centroids=1, threshold=0.9),
        **knobs,
    )
    ids = {r["doc_id"] for r in out.select("doc_id").distinct().collect()}
    assert 10 not in ids and 13 not in ids, "off-domain doc survived DSIR"
    assert 11 in ids and 12 not in ids, "semantic twin not pruned to keeper"
    assert 14 in ids, (
        "keeper-present rule violated: 14's keeper (13) was DSIR-dropped, "
        "so 14 must survive as its content's only representative"
    )
    assert set(range(10)) <= ids, "an on-domain doc was lost"


def test_dsir_and_semantic_stage_ablations(spark):
    """Attribution: without its stage, each hazard SURVIVES — the drops
    in the composed run come from the stage under test, not a
    side-effect of another filter."""
    docs, emb = _modern_corpus(spark)
    knobs = dict(
        quality_min=0.0,
        near_dup_threshold=0.9,
        chunk_chars=400,
        chunk_overlap=50,
        pack_max_len=128,
    )
    no_dsir = prepare_training_corpus(
        docs, "text", "doc_id",
        embeddings=emb, semantic_knobs=dict(n_centroids=1, threshold=0.9),
        **knobs,
    )
    ids = {r["doc_id"] for r in no_dsir.select("doc_id").distinct().collect()}
    # with DSIR off both keepers are present, so BOTH twins drop
    assert 10 in ids and 13 in ids
    assert 11 in ids and 12 not in ids
    assert 14 not in ids

    no_sem = prepare_training_corpus(
        docs, "text", "doc_id",
        dsir_target=F.col("doc_id") <= 5, dsir_frac=0.86,
        **knobs,
    )
    ids = {r["doc_id"] for r in no_sem.select("doc_id").distinct().collect()}
    assert 10 not in ids and 13 not in ids
    assert 11 in ids and 12 in ids and 14 in ids


@pytest.mark.parametrize(
    "knob, enabler",
    [
        ("dsir_knobs", "dsir_target"),
        ("semantic_knobs", "embeddings"),
        ("decon_knobs", "test_set"),
    ],
)
def test_knobs_without_their_stage_raise(spark, knob, enabler):
    """Knobs whose enabling argument is None would silently skip the
    stage they configure; the guard raises before any plan is built."""
    docs = spark.createDataFrame([(1, GOOD)], "doc_id long, text string")
    with pytest.raises(ValueError, match=f"{enabler} is None"):
        prepare_training_corpus(docs, "text", "doc_id", **{knob: {"k": 1}})
