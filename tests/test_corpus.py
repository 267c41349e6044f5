"""Corpus-assembly operators: exact stratified sampling, greedy
sequence packing, and batched cosine top-k."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hrtech_etl_spark.operators.corpus import (
    pack_sequences,
    stratified_sample_exact,
)

SF_DIR = "/root/testdata/sf0.001"


def test_stratified_sample_exact_counts_and_determinism(spark):
    rows = [(i, ["en", "fr", "de"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    s1 = stratified_sample_exact(df, ["lang"], 20, id_col="doc_id", seed=42)
    got = {r["lang"]: r["n"] for r in s1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got == {"en": 20, "fr": 20, "de": 20}
    # deterministic: same seed -> same rows, regardless of partitioning
    a = {r["doc_id"] for r in s1.collect()}
    b = {
        r["doc_id"]
        for r in stratified_sample_exact(
            df.repartition(7), ["lang"], 20, id_col="doc_id", seed=42
        ).collect()
    }
    assert a == b
    # a different seed draws a different sample
    c = {
        r["doc_id"]
        for r in stratified_sample_exact(
            df, ["lang"], 20, id_col="doc_id", seed=43
        ).collect()
    }
    assert a != c
    # small stratum: returns the whole stratum, never errors
    tiny = spark.createDataFrame([(1, "zh"), (2, "zh")], ["doc_id", "lang"])
    assert stratified_sample_exact(tiny, ["lang"], 20, id_col="doc_id").count() == 2


def test_mixture_sample(spark):
    from hrtech_etl_spark.operators.corpus import mixture_sample

    rows = [(i, ["en", "fr", "de", "zh"][i % 4]) for i in range(400)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    got = mixture_sample(
        df, "lang", {"en": 50, "fr": 30, "de": 5}, id_col="doc_id", seed=9
    )
    counts = {r["lang"]: r["n"] for r in got.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # exact recipe; zh (absent from counts) contributes nothing
    assert counts == {"en": 50, "fr": 30, "de": 5}
    # nested-sample property: raising a stratum's count keeps every
    # previously drawn row (same seed => same ranking)
    en_small = {r["doc_id"] for r in mixture_sample(df, "lang", {"en": 20}, id_col="doc_id", seed=9).collect()}
    en_big = {
        r["doc_id"]
        for r in got.where(F.col("lang") == "en").collect()
    }
    assert en_small <= en_big
    # undersized stratum: contributes all its rows, no redistribution
    tiny = mixture_sample(df, "lang", {"en": 100, "fr": 10_000}, id_col="doc_id", seed=9)
    c2 = {r["lang"]: r["n"] for r in tiny.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert c2 == {"en": 100, "fr": 100}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-empty"):
        mixture_sample(df, "lang", {}, id_col="doc_id")


def test_ngram_counts(spark):
    from hrtech_etl_spark.functions.text import ngram_counts

    rows = [
        (1, "to be or not to be"),
        (2, "to be is to do"),
        (3, "x"),  # shorter than n -> contributes nothing
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["gram"]: r["count"] for r in ngram_counts(df, "text", n=2, min_count=2).collect()}
    # "to be" appears 3x (twice in doc1, once in doc2); everything else < 2
    assert got == {"to be": 3}
    all_grams = {r["gram"]: r["count"] for r in ngram_counts(df, "text", n=2, min_count=1).collect()}
    assert all_grams["be or"] == 1 and all_grams["not to"] == 1


def test_ngram_counts_unigrams_skip_empty_docs(spark):
    """n=1 over empty/whitespace-only docs must NOT report a bogus ''
    unigram (split of trimmed empty text yields ['']); real tokens
    still count."""
    from hrtech_etl_spark.functions.text import ngram_counts

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "word word"), (4, "\t\n")],
        ["doc_id", "text"],
    )
    got = {r["gram"]: r["count"] for r in ngram_counts(df, "text", n=1, min_count=1).collect()}
    assert got == {"word": 2}


def test_mixture_sample_uses_window_group_limit(spark):
    """The redundant literal max(counts) conjunct is load-bearing:
    InferWindowGroupLimit only fires on integer-literal limits, and
    without it every retained stratum gets fully sorted through the
    window at corpus scale."""
    from hrtech_etl_spark.operators.corpus import mixture_sample

    df = spark.createDataFrame(
        [(i, ["en", "fr"][i % 2]) for i in range(100)], ["doc_id", "lang"]
    )
    out = mixture_sample(df, "lang", {"en": 5, "fr": 3}, id_col="doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_pack_sequences_respects_capacity(spark):
    rows = [(i, 100 + (i * 37) % 900) for i in range(500)]  # lengths 100..999
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    packed = pack_sequences(df, "doc_id", "n_tokens", max_len=2048)
    out = packed.collect()
    # every row preserved exactly once
    assert sorted(r["doc_id"] for r in out) == list(range(500))
    assert not any(r["oversize"] for r in out)
    # no pack exceeds the context window
    sums = {}
    for r in out:
        sums[r["pack_id"]] = sums.get(r["pack_id"], 0) + r["n_tokens"]
    assert max(sums.values()) <= 2048
    # FFD actually packs: mean utilization well above half-full
    total = sum(r["n_tokens"] for r in out)
    assert total / (len(sums) * 2048) > 0.7


def test_pack_sequences_oversize_and_validation(spark):
    df = spark.createDataFrame(
        [(1, 100), (2, 5000), (3, 120)], ["doc_id", "n_tokens"]
    )
    out = {r["doc_id"]: r for r in pack_sequences(df, "doc_id", "n_tokens", max_len=1024).collect()}
    assert out[2]["oversize"] is True
    # the oversize doc sits alone in its pack
    packs = [r["pack_id"] for r in out.values()]
    assert packs.count(out[2]["pack_id"]) == 1
    assert out[1]["oversize"] is False and out[3]["oversize"] is False
    with pytest.raises(ValueError, match="max_len"):
        pack_sequences(df, "doc_id", "n_tokens", max_len=0)
    # non-integral token counts are rejected up front, not silently
    # truncated inside the executor kernel
    floats = spark.createDataFrame([(1, 100.7)], ["doc_id", "n_tokens"])
    with pytest.raises(ValueError, match="integral"):
        pack_sequences(floats, "doc_id", "n_tokens", max_len=1024)


def test_pack_sequences_string_ids(spark):
    """Doc ids need not be numeric: the output schema mirrors the
    input id type."""
    df = spark.createDataFrame(
        [("doc-a", 300), ("doc-b", 400), ("doc-c", 900)],
        ["doc_id", "n_tokens"],
    )
    out = pack_sequences(df, "doc_id", "n_tokens", max_len=1024).collect()
    assert sorted(r["doc_id"] for r in out) == ["doc-a", "doc-b", "doc-c"]
    sums: dict = {}
    for r in out:
        sums[r["pack_id"]] = sums.get(r["pack_id"], 0) + r["n_tokens"]
    assert max(sums.values()) <= 1024


def test_pack_sequences_property(spark):
    """Randomized invariants: every row appears exactly once, no
    non-oversize pack exceeds max_len, every oversize doc is a
    singleton, and pack count is within 2x of the LP lower bound
    (ceil(total/max_len)) on packable docs."""
    import random

    rng = random.Random(7)
    for trial in range(3):
        max_len = rng.choice([512, 1024, 4096])
        rows = [
            (i, rng.randint(1, int(max_len * 1.3)))
            for i in range(rng.randint(50, 400))
        ]
        df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
        out = pack_sequences(df, "doc_id", "n_tokens", max_len=max_len).collect()
        assert sorted(r["doc_id"] for r in out) == sorted(i for i, _ in rows)
        sums: dict = {}
        members: dict = {}
        for r in out:
            sums[r["pack_id"]] = sums.get(r["pack_id"], 0) + r["n_tokens"]
            members.setdefault(r["pack_id"], []).append(r)
        for pid, rs in members.items():
            if any(r["oversize"] for r in rs):
                assert len(rs) == 1, f"oversize pack {pid} not a singleton"
            else:
                assert sums[pid] <= max_len, f"pack {pid} overflows"
        packable = [ln for _, ln in rows if ln <= max_len]
        n_packs = sum(1 for rs in members.values() if not rs[0]["oversize"])
        import math

        if packable:
            assert n_packs <= 2 * math.ceil(sum(packable) / max_len) + \
                df.sparkSession.sparkContext.defaultParallelism


def test_chunk_documents_reconstruction_property(spark):
    """Randomized: chunks rebuild the document exactly (chunk 0 whole,
    later chunks minus their leading overlap), every chunk fits
    max_chars, no chunk is a pure suffix of its predecessor, and
    empty docs keep one (empty) chunk."""
    import random

    from hrtech_etl_spark.operators.corpus import chunk_documents

    rng = random.Random(31)
    alphabet = "abcdef "
    rows = [(i, "".join(rng.choices(alphabet, k=rng.randint(0, 700)))) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = chunk_documents(df, "text", "doc_id", max_chars=100, overlap=20)
    by_doc: dict = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk_text"]))
    texts = dict(rows)
    assert set(by_doc) == set(texts)  # every doc chunked, none dropped
    for doc_id, chunks in by_doc.items():
        chunks.sort()
        assert [i for i, _ in chunks] == list(range(len(chunks)))
        assert all(len(c) <= 100 for _, c in chunks)
        rebuilt = chunks[0][1] + "".join(c[20:] for _, c in chunks[1:])
        assert rebuilt == texts[doc_id], doc_id
        # overlap really overlaps: chunk i+1 starts with chunk i's tail
        for (_, a), (_, b) in zip(chunks, chunks[1:]):
            assert a.endswith(b[:20])


def test_chunk_documents_validation(spark):
    from hrtech_etl_spark.operators.corpus import chunk_documents

    df = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_chars"):
        chunk_documents(df, "text", "doc_id", max_chars=0)
    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, "text", "doc_id", max_chars=100, overlap=100)
    # boundary: len == max_chars -> exactly one chunk
    one = spark.createDataFrame([(1, "x" * 100)], ["doc_id", "text"])
    got = chunk_documents(one, "text", "doc_id", max_chars=100, overlap=20).collect()
    assert len(got) == 1 and got[0]["chunk_text"] == "x" * 100


def test_cosine_topk_batch_matches_single_query(spark):
    from hrtech_etl_spark.functions.similarity import cosine_topk, cosine_topk_batch

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    probe_ids = [0, 1, 2]
    queries = emb.where(F.col("vec_id").isin(probe_ids))
    batched = cosine_topk_batch(emb, queries, k=5)
    got = {}
    for r in batched.collect():
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["score"]))
    assert set(got) == set(probe_ids)
    for qid in probe_ids:
        single = [
            (r["vec_id"], r["score"])
            for r in cosine_topk(
                emb, emb.where(F.col("vec_id") == qid), k=5
            ).collect()
        ]
        assert sorted(got[qid], key=lambda t: (-t[1], t[0])) == single


def test_cosine_topk_batch_uses_window_group_limit(spark):
    """The per-query top-k must run as WindowGroupLimit (partial
    per-partition top-k), not a full sort of the scored corpus."""
    from hrtech_etl_spark.functions.similarity import cosine_topk_batch

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 3)
    plan = (
        cosine_topk_batch(emb, queries, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan


def test_pack_sequences_null_length_raises(spark):
    """A NULL token count has no meaningful bin: the kernel must raise
    a named error, not a bare int(NaN) ValueError."""
    from pyspark.sql.utils import PythonException

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 5)], "doc_id long, n_tokens int"
    )
    with pytest.raises(PythonException, match="NULL n_tokens"):
        pack_sequences(df, "doc_id", "n_tokens", max_len=16).collect()


def test_shuffled_shards_reproducible_and_balanced(spark):
    from hrtech_etl_spark.operators.corpus import shuffled_shards

    df = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    a = shuffled_shards(df, "doc_id", seed=1, n_shards=8)
    rows = a.collect()
    # same (data, seed) → identical permutation
    again = {r["doc_id"]: (r["shard"], r["shuffle_key"])
             for r in shuffled_shards(df, "doc_id", seed=1, n_shards=8).collect()}
    assert all(again[r["doc_id"]] == (r["shard"], r["shuffle_key"]) for r in rows)
    # different seed → a genuinely different permutation
    other = {r["doc_id"]: r["shuffle_key"]
             for r in shuffled_shards(df, "doc_id", seed=2, n_shards=8).collect()}
    assert sum(other[r["doc_id"]] != r["shuffle_key"] for r in rows) > 1900
    # shards balanced in expectation (2000/8 = 250 ± 40%)
    from collections import Counter
    sizes = Counter(r["shard"] for r in rows)
    assert set(sizes) == set(range(8))
    assert all(150 <= n <= 350 for n in sizes.values())
    # shuffle breaks insertion order: the first 10 by shuffle_key are
    # not simply doc_ids 0..9
    first = [r["doc_id"] for r in sorted(rows, key=lambda r: (r["shuffle_key"], r["doc_id"]))[:10]]
    assert first != list(range(10))


def test_concat_split_packing_is_an_exact_prefix_sum(spark):
    """The two-phase distributed prefix sum must equal the sequential
    cumsum over the same (shard, shuffle_key, id) total order: offsets
    are contiguous (each equals the running total before the doc), and
    block spans follow from plain arithmetic."""
    from hrtech_etl_spark.operators.corpus import concat_split_packing

    rows = [(i, 10 + (i * 13) % 90) for i in range(400)] + [(400, 0)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    out = concat_split_packing(
        df, "doc_id", "n_tokens", 256, seed=3, n_shards=8
    ).collect()
    assert sorted(r["doc_id"] for r in out) == list(range(401))
    ordered = sorted(out, key=lambda r: r["offset"])
    running = 0
    for r in ordered:
        assert r["offset"] == running, (r, running)
        running += r["n_tokens"]
        first = r["offset"] // 256
        assert r["block_first"] == first
        if r["n_tokens"] == 0:
            assert r["n_blocks"] == 0
        else:
            assert r["n_blocks"] == (r["offset"] + r["n_tokens"] - 1) // 256 - first + 1
    assert running == sum(n for _, n in rows)


def test_concat_split_packing_seed_and_validation(spark):
    from hrtech_etl_spark.operators.corpus import concat_split_packing

    df = spark.createDataFrame(
        [(i, 50) for i in range(100)], ["doc_id", "n_tokens"]
    )
    a = concat_split_packing(df, "doc_id", "n_tokens", 128, seed=1)
    b = concat_split_packing(df, "doc_id", "n_tokens", 128, seed=1)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    c = concat_split_packing(df, "doc_id", "n_tokens", 128, seed=2)
    ord_a = [r["doc_id"] for r in sorted(a.collect(), key=lambda r: r["offset"])]
    ord_c = [r["doc_id"] for r in sorted(c.collect(), key=lambda r: r["offset"])]
    assert ord_a != ord_c  # a new epoch is a seed change
    with pytest.raises(ValueError, match="seq_len"):
        concat_split_packing(df, "doc_id", "n_tokens", 0)
    bad = spark.createDataFrame([(1, 1.5)], ["doc_id", "n_tokens"])
    with pytest.raises(ValueError, match="integral"):
        concat_split_packing(bad, "doc_id", "n_tokens", 128)


def test_concat_split_packing_rejects_negative_lengths(spark):
    """A negative token count violates the prefix-sum contract (offsets
    would overlap) — the in-plan guard must fail the job instead of
    silently corrupting later shards' base offsets."""
    from hrtech_etl_spark.operators.corpus import concat_split_packing

    df = spark.createDataFrame(
        [(1, 10), (2, -5), (3, 7)], ["doc_id", "n_tokens"]
    )
    with pytest.raises(Exception, match="negative or NULL n_tokens|ASSERT"):
        concat_split_packing(df, "doc_id", "n_tokens", 64).collect()


def test_concat_split_packing_rejects_null_lengths(spark):
    """A NULL token count would produce NULL offsets for every later
    doc in its shard; the guard treats it like a negative length and
    fails the job with an explicit message (min() alone would skip
    NULLs, and an all-NULL shard used to fail with the misleading
    plain-'negative' wording)."""
    from pyspark.sql import types as T

    from hrtech_etl_spark.operators.corpus import concat_split_packing

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_tokens", T.LongType()),
        ]
    )
    mixed = spark.createDataFrame([(1, 10), (2, None), (3, 7)], schema)
    with pytest.raises(Exception, match="negative or NULL n_tokens|ASSERT"):
        concat_split_packing(mixed, "doc_id", "n_tokens", 64).collect()
    all_null = spark.createDataFrame([(1, None), (2, None)], schema)
    with pytest.raises(Exception, match="negative or NULL n_tokens|ASSERT"):
        concat_split_packing(all_null, "doc_id", "n_tokens", 64).collect()


def test_leakage_safe_split_invariants(spark):
    """Same cluster -> same split, ALWAYS; split values well-formed;
    a different seed reassigns clusters, never splits them."""
    from hrtech_etl_spark.operators.corpus import leakage_safe_split
    from pyspark.sql import functions as F

    labels = spark.createDataFrame(
        [(i, i % 17) for i in range(200)], "id long, cluster long"
    )
    for seed in (11, 12):
        out = leakage_safe_split(labels, seed=seed, val_frac=0.3)
        per_cluster = (
            out.groupBy("cluster")
            .agg(F.count_distinct("split").alias("n"))
            .collect()
        )
        assert all(r["n"] == 1 for r in per_cluster)
        splits = {r["split"] for r in out.select("split").distinct().collect()}
        assert splits <= {"train", "val"}
    # val_frac=0 -> everything train; val_frac=1 -> everything val
    assert (
        leakage_safe_split(labels, val_frac=0.0)
        .where(F.col("split") == "val")
        .count()
        == 0
    )
    assert (
        leakage_safe_split(labels, val_frac=1.0)
        .where(F.col("split") == "train")
        .count()
        == 0
    )


def test_weighted_sample_topk(spark):
    from hrtech_etl_spark.operators.corpus import weighted_sample_topk

    rows = [(i, "en" if i % 2 == 0 else "fr", float(10 + i)) for i in range(40)]
    rows += [(100, "en", None), (101, "en", 0.0), (102, "en", -3.0)]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "w"])

    out = weighted_sample_topk(
        df, "w", 3, id_col="doc_id", strata_cols=("lang",), seed=7
    )
    got = out.collect()
    # exactly k per stratum, ranks 1..k, never a null/zero/negative weight
    by_lang = {}
    for r in got:
        by_lang.setdefault(r["lang"], []).append(r)
        assert r["w"] is not None and r["w"] > 0
    for lang, picked in by_lang.items():
        assert len(picked) == 3
        assert sorted(p["sample_rank"] for p in picked) == [1, 2, 3]
    # deterministic: same seed -> same set; new seed -> valid resample
    again = {
        (r["doc_id"], r["sample_rank"])
        for r in weighted_sample_topk(
            df, "w", 3, id_col="doc_id", strata_cols=("lang",), seed=7
        ).collect()
    }
    assert again == {(r["doc_id"], r["sample_rank"]) for r in got}
    other = weighted_sample_topk(
        df, "w", 3, id_col="doc_id", strata_cols=("lang",), seed=8
    )
    assert other.count() == 6


def test_weighted_sample_topk_weight_bias(spark):
    """A-ES correctness signal: a row with overwhelming weight is
    (near-)always selected; under uniform weights the sample follows
    the hash order, not the input order."""
    from hrtech_etl_spark.operators.corpus import weighted_sample_topk

    # one heavy row among 50 light ones; heavy should be picked for
    # every seed tried (P(miss) ~ (k misses) astronomically small)
    rows = [(i, 1.0) for i in range(50)] + [(999, 1e9)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    for seed in range(5):
        picked = {
            r["doc_id"]
            for r in weighted_sample_topk(df, "w", 5, seed=seed).collect()
        }
        assert 999 in picked, f"heavy row missed at seed={seed}"


def test_weighted_sample_topk_uses_window_group_limit(spark):
    from hrtech_etl_spark.operators.corpus import weighted_sample_topk

    df = spark.createDataFrame(
        [(i, "g", float(i + 1)) for i in range(10)], ["doc_id", "lang", "w"]
    )
    out = weighted_sample_topk(df, "w", 2, strata_cols=("lang",))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_temperature_mixture_targets_and_caps(spark):
    import math

    from hrtech_etl_spark.operators.corpus import temperature_mixture

    # 80 en / 15 fr / 5 de
    rows = (
        [(i, "en") for i in range(80)]
        + [(100 + i, "fr") for i in range(15)]
        + [(200 + i, "de") for i in range(5)]
        + [(999, None)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_mixture(df, "lang", total=50, alpha=0.5, seed=1)
    got = (
        out.groupBy("lang").count().collect()
    )
    counts = {r["lang"]: r["count"] for r in got}
    q = {s: math.sqrt(c / 100) for s, c in {"en": 80, "fr": 15, "de": 5}.items()}
    z = sum(q[s] for s in sorted(q))
    expect = {
        s: min(int(math.floor(50 * q[s] / z + 0.5)), c)
        for s, c in {"en": 80, "fr": 15, "de": 5}.items()
    }
    assert counts == {s: t for s, t in expect.items() if t > 0}
    # flattening: de's share of the sample exceeds its corpus share
    assert counts["de"] / 50 > 5 / 100
    # cap engages when total exceeds a stratum's population
    capped = temperature_mixture(df, "lang", total=1000, alpha=0.5, seed=1)
    by = {r["lang"]: r["count"] for r in capped.groupBy("lang").count().collect()}
    assert by["de"] == 5 and by["fr"] == 15

    with pytest.raises(ValueError):
        temperature_mixture(df, "lang", total=0)
    with pytest.raises(ValueError):
        temperature_mixture(df, "lang", total=10, alpha=1.5)


def test_temperature_targets_properties():
    """Pure-recipe invariants over random histograms (no Spark)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from hrtech_etl_spark.operators.corpus import temperature_targets

    @settings(max_examples=200, deadline=None)
    @given(
        counts=st.lists(st.integers(1, 10_000), min_size=1, max_size=8),
        total=st.integers(1, 5_000),
        alpha=st.sampled_from([0.2, 0.3, 0.5, 0.7, 1.0]),
    )
    def check(counts, total, alpha):
        n = {f"s{i}": c for i, c in enumerate(counts)}
        t = temperature_targets(n, total=total, alpha=alpha)
        # rounding keeps the total within half a unit per stratum
        assert abs(sum(t.values()) - total) <= max(1, len(n) // 2 + 1)
        # monotone: a larger stratum never gets a smaller target
        items = sorted(n.items(), key=lambda kv: kv[1])
        for (s1, c1), (s2, c2) in zip(items, items[1:]):
            if c1 < c2:
                assert t.get(s1, 0) <= t.get(s2, 0)
        # alpha=1 reproduces natural proportions (+-1 rounding)
        if alpha == 1.0:
            tot = sum(n.values())
            for s, c in n.items():
                assert abs(t.get(s, 0) - total * c / tot) <= 1
        # the clamp to stratum populations is temperature_mixture's,
        # checked by test_temperature_mixture_targets_and_caps

    check()


# ---------------------------------------------------------------------------
# span_corruption
# ---------------------------------------------------------------------------

def test_span_corruption_reconstruction_invariants(spark):
    """Masked + surviving tokens partition the document: replacing
    each sentinel in the input with its target span rebuilds the
    normalized text exactly."""
    from hrtech_etl_spark.operators.corpus import span_corruption

    rows = [(i, " ".join(f"w{j}" for j in range(1, 20 + i))) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = span_corruption(df, "text", "doc_id", span_len=3, mask_pct=40)
    for r in out.collect():
        orig = dict(rows)[r["doc_id"]]
        # target: sentinel followed by its span tokens
        spans = {}
        cur = None
        for tok in r["target_text"].split():
            if tok.startswith("<extra_id_"):
                cur = tok
                spans[cur] = []
            else:
                spans[cur].append(tok)
        rebuilt = []
        for tok in r["input_text"].split():
            rebuilt.extend(spans[tok] if tok in spans else [tok])
        assert " ".join(rebuilt) == orig
        assert r["n_masked"] == sum(len(v) for v in spans.values())
        assert r["n_tokens"] == len(orig.split())


def test_span_corruption_deterministic_and_zero_pct(spark):
    from hrtech_etl_spark.operators.corpus import span_corruption

    df = spark.createDataFrame(
        [(7, "a b c d e f g h i j")], "doc_id long, text string"
    )
    a = span_corruption(df, "text", "doc_id").collect()[0]
    b = span_corruption(df, "text", "doc_id").collect()[0]
    assert tuple(a) == tuple(b)
    none = span_corruption(df, "text", "doc_id", mask_pct=0).collect()[0]
    assert none["n_masked"] == 0 and none["target_text"] == ""
    assert none["input_text"] == "a b c d e f g h i j"


def test_dsir_select_prefers_target_profile(spark):
    """Docs sharing the target domain's bigram profile must outscore
    off-domain docs; short docs (no bigrams) score 0; the selection
    cut is exactly ceil(frac * N) by (logw DESC, id)."""
    from pyspark.sql import functions as F

    from hrtech_etl_spark.operators.corpus import dsir_select

    rows = [
        # target domain: "alpha beta" profile
        (0, "alpha beta alpha beta alpha beta", "en"),
        (1, "alpha beta gamma alpha beta", "en"),
        # raw-only docs: one matches the target profile, one does not
        (2, "alpha beta alpha beta", "de"),
        (3, "zeta eta theta zeta eta", "de"),
        (4, "solo", "de"),  # < 2 tokens -> no features
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r["doc_id"]: r
        for r in dsir_select(
            d, "text", "doc_id", F.col("lang") == "en", select_frac=0.4
        ).collect()
    }
    assert got[4]["n_feats"] == 0 and got[4]["logw"] == 0.0
    # featureless docs rank LAST — a 0.0 weight must never beat the
    # negative-on-average weights of real documents
    assert got[4]["sel_rank"] == 5 and not got[4]["selected"]
    # target-profile doc 2 must outscore off-profile doc 3
    assert got[2]["logw"] > got[3]["logw"]
    # ceil(0.4 * 5) = 2 selected, and they are the top-2 ranks
    sel = {i for i, r in got.items() if r["selected"]}
    assert len(sel) == 2 and 4 not in sel
    ranks = sorted(r["sel_rank"] for r in got.values())
    assert ranks == [1, 2, 3, 4, 5]
    assert all(got[i]["sel_rank"] <= 2 for i in sel)


def test_dsir_select_matches_bruteforce(spark):
    """Property-style sweep: dsir_select == a pure-Python reference
    (same md5 bucket hash, same HALF_UP round-6 ratios, same DECIMAL
    sums, same featureless-last rank, same DECIMAL ceil threshold)
    across seeded random corpora."""
    import hashlib
    import math
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import functions as F

    from hrtech_etl_spark.operators.corpus import dsir_select

    def r6(x):
        return Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)

    def bucket(g, B):
        return int(hashlib.md5(f"0:{g}".encode()).hexdigest()[:8], 16) % B

    words = ["aa", "bb", "cc", "dd", "ee"]
    for trial in range(4):
        rng = random.Random(100 + trial)
        n_docs = rng.randint(4, 25)
        B = rng.choice([16, 64])
        frac = rng.choice([0.2, 0.25, 0.5])
        docs = {
            i: " ".join(
                rng.choice(words) for _ in range(rng.randint(0, 8))
            )
            for i in range(n_docs)
        }
        d = spark.createDataFrame(
            [(i, t) for i, t in docs.items()], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["n_feats"], r["logw"], r["sel_rank"], r["selected"])
            for r in dsir_select(
                d, "text", "doc_id", F.col("doc_id") % 2 == 0,
                n_buckets=B, select_frac=frac,
            ).collect()
        }

        # reference
        feats = {}  # doc -> list of buckets
        for i, t in docs.items():
            ws = t.split()
            feats[i] = [
                bucket(f"{ws[j]} {ws[j+1]}", B) for j in range(len(ws) - 1)
            ]
        cr, ct = {}, {}
        for i, bs in feats.items():
            for b in bs:
                cr[b] = cr.get(b, 0) + 1
                if i % 2 == 0:
                    ct[b] = ct.get(b, 0) + 1
        nr, nt = sum(cr.values()), sum(ct.get(b, 0) for b in cr)
        lam = {
            b: r6(
                math.log((ct.get(b, 0) + 1) / (nt + B))
                - math.log((cr[b] + 1) / (nr + B))
            )
            for b in cr
        }
        logw = {
            i: float(sum((lam[b] for b in bs), Decimal(0))) if bs else 0.0
            for i, bs in feats.items()
        }
        order = sorted(
            docs,
            key=lambda i: (
                not feats[i] and 1 or 0,
                -logw[i] if feats[i] else 0.0,
                i,
            ),
        )
        rank = {i: r + 1 for r, i in enumerate(order)}
        k = math.ceil(Decimal(n_docs) * Decimal(str(frac)))
        want = {
            i: (len(feats[i]), logw[i], rank[i], rank[i] <= k) for i in docs
        }
        assert got == want, f"trial {trial}"
