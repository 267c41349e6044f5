"""Bloom prefilter: zero false negatives, bounded false positives,
serialization roundtrip, and semi-join equivalence."""

from __future__ import annotations

from pyspark.sql import functions as F

from hrtech_etl_spark.operators.bloom import (
    BloomFilter,
    bloom_build,
    bloom_prefilter,
    bloom_semi_join,
)


def test_no_false_negatives(spark):
    keys = spark.range(0, 2000).select(F.col("id").alias("k"))
    bloom = bloom_build(keys, "k", n_keys=2000, fpp=0.01)
    kept = bloom_prefilter(keys, bloom, "k").count()
    assert kept == 2000  # every built key must pass


def test_false_positive_rate_bounded(spark):
    keys = spark.range(0, 2000).select(F.col("id").alias("k"))
    bloom = bloom_build(keys, "k", n_keys=2000, fpp=0.01)
    probe = spark.range(1_000_000, 1_020_000).select(F.col("id").alias("k"))
    fp = bloom_prefilter(probe, bloom, "k").count()
    # target 1%; allow 3x slack on 20k probes
    assert fp / 20_000 <= 0.03


def test_null_keys_never_pass(spark):
    keys = spark.range(0, 100).select(F.col("id").alias("k"))
    bloom = bloom_build(keys, "k", n_keys=100)
    probe = spark.createDataFrame([(None,), (5,)], "k long")
    kept = [r["k"] for r in bloom_prefilter(probe, bloom, "k").collect()]
    assert kept == [5]


def test_bitmap_roundtrip(spark):
    """The persisted form is plain (bytes, m, k) — reconstructing the
    dataclass gives identical probes (the cross-job reuse contract)."""
    keys = spark.range(0, 300).select(F.col("id").alias("k"))
    b1 = bloom_build(keys, "k", n_keys=300)
    b2 = BloomFilter(bits=bytes(b1.bits), m_bits=b1.m_bits, k=b1.k)
    probe = spark.range(0, 600).select(F.col("id").alias("k"))
    r1 = {r["k"] for r in bloom_prefilter(probe, b1, "k").collect()}
    r2 = {r["k"] for r in bloom_prefilter(probe, b2, "k").collect()}
    assert r1 == r2


def test_semi_join_equivalence(spark):
    big = spark.range(0, 5000).select((F.col("id") % 700).alias("k"), "id")
    small = spark.range(0, 100).select((F.col("id") * 3).alias("k"))
    got = {
        (r["k"], r["id"])
        for r in bloom_semi_join(big, small, "k").collect()
    }
    want = {
        (r["k"], r["id"])
        for r in big.join(small.distinct(), "k", "left_semi").collect()
    }
    assert got == want


def test_size_for_sanity():
    m, k = BloomFilter.size_for(1_000_000, 0.01)
    assert 9_000_000 < m < 10_500_000  # ~9.6 bits/key at 1% fpp
    assert k in (6, 7)


def test_probe_broadcast_cached_and_released(spark):
    """Repeated probes of ONE filter must reuse ONE bitmap broadcast
    (the per-ingest-batch loop would otherwise accumulate broadcasts
    for the session lifetime); release() drops it."""
    keys = spark.range(0, 100).select(F.col("id").alias("k"))
    bloom = bloom_build(keys, "k", n_keys=100, fpp=0.01)
    bloom_prefilter(keys, bloom, "k").count()
    first = getattr(bloom, "_bc")[spark.sparkContext.applicationId]
    bloom_prefilter(keys, bloom, "k").count()
    again = getattr(bloom, "_bc")[spark.sparkContext.applicationId]
    assert first is again
    bloom.release(spark)
    assert spark.sparkContext.applicationId not in getattr(bloom, "_bc")
    # probing after release rebuilds transparently
    assert bloom_prefilter(keys, bloom, "k").count() == 100
