"""Distributed exact global ranking (operators/ranking.py): values must
be bit-identical to Spark's native unpartitioned window functions —
the rewrite is a PLAN change (no move-everything WindowExec), never a
semantics change."""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from hrtech_etl_spark.operators.ranking import with_global_ranks
from tests.test_window_contract import unpartitioned_windows


@pytest.fixture(scope="module")
def skewed(spark):
    """937 rows, heavy value ties (50 distinct + NULLs), spread over 7
    input partitions so bucket boundaries actually matter."""
    rng = random.Random(42)
    rows = [
        (i, rng.choice([None] * 2 + list(range(50))), f"u{i:04d}")
        for i in range(937)
    ]
    return spark.createDataFrame(rows, "id INT, val INT, name STRING").repartition(7)


def test_matches_native_windows_with_ties_and_nulls(spark, skewed):
    got = with_global_ranks(
        skewed,
        "val",
        ("id",),
        row_number="rn",
        rank="rk",
        dense_rank="dr",
        percent_rank="pr",
        cume_dist="cd",
        ntile={"q4": 4, "q5": 5},
    ).orderBy("id")
    wt = W.orderBy("val")
    w = W.orderBy("val", "id")
    exp = skewed.select(
        "id",
        "val",
        "name",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(wt).cast("long").alias("rk"),
        F.dense_rank().over(wt).cast("long").alias("dr"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.ntile(4).over(w).alias("q4"),
        F.ntile(5).over(w).alias("q5"),
    ).orderBy("id")
    assert got.collect() == exp.collect()


def test_no_unpartitioned_window_in_plan(spark, skewed):
    df = with_global_ranks(
        skewed, "val", ("id",), rank="rk", ntile={"q4": 4}
    )
    assert unpartitioned_windows(df) == 0


def test_single_row_and_fewer_rows_than_tiles(spark):
    one = spark.createDataFrame([(1, 5, "x")], "id INT, val INT, name STRING")
    r = with_global_ranks(
        one,
        "val",
        ("id",),
        row_number="rn",
        percent_rank="pr",
        cume_dist="cd",
        ntile={"q4": 4},
    ).collect()[0]
    # percent_rank of a single row is 0.0 by definition (N-1 == 0 guard)
    assert (r["rn"], r["pr"], r["cd"], r["q4"]) == (1, 0.0, 1.0, 1)

    three = spark.createDataFrame(
        [(i, i, "x") for i in range(3)], "id INT, val INT, name STRING"
    )
    got = {
        r["id"]: r["q5"]
        for r in with_global_ranks(three, "val", ("id",), ntile={"q5": 5}).collect()
    }
    # SQL ntile with N < k: one row per tile, tiles k..N stay empty
    assert got == {0: 1, 1: 2, 2: 3}


def test_requires_total_order_for_row_number_family(spark):
    df = spark.range(5).select(F.col("id"), F.col("id").alias("v"))
    with pytest.raises(ValueError, match="TOTAL order"):
        with_global_ranks(df, "v", (), ntile={"q": 2})
    # rank/dense_rank alone are tie-tolerant: no tiebreak needed
    assert with_global_ranks(df, "v", (), rank="rk").count() == 5


def test_rejects_unorderable_column_and_empty_request(spark):
    df = spark.createDataFrame([("a", 1)], "s STRING, v INT")
    with pytest.raises(ValueError, match="range bucketing"):
        with_global_ranks(df, "s", ("v",), ntile={"q": 2})
    with pytest.raises(ValueError, match="no output columns"):
        with_global_ranks(df, "v", ("s",))


def test_output_name_collision_raises(spark):
    df = spark.createDataFrame([(1.0, 1)], "v double, id long")
    with pytest.raises(ValueError, match="collide"):
        with_global_ranks(df, "v", ("id",), rank="v")
    with pytest.raises(ValueError, match="collide"):
        with_global_ranks(
            df.withColumn("__rb", F.lit(1)), "v", ("id",), rank="r"
        )
    with pytest.raises(ValueError, match="collide"):
        with_global_ranks(df, "v", ("id",), rank="same", dense_rank="same")


def test_bucket_overflow_guard_raises(spark, monkeypatch):
    """A bucket past the int32 local-window range must fail LOUDLY (the
    un-guarded plan would wrap and return corrupt ranks); the threshold
    is patched down so the test doesn't need 2^31 rows."""
    from hrtech_etl_spark.operators import ranking

    monkeypatch.setattr(ranking, "_MAX_BUCKET_ROWS", 10)
    df = spark.range(64).select(
        F.lit(1.0).alias("v"), F.col("id")
    )  # one value -> one hot bucket of 64 > 10
    ranked = ranking.with_global_ranks(df, "v", ("id",), row_number="rn")
    with pytest.raises(Exception, match="int32 local-window range"):
        ranked.collect()


@settings(max_examples=12, deadline=None)
@given(
    vals=st.lists(
        st.one_of(
            st.none(),
            st.integers(min_value=-3, max_value=3),
            st.floats(
                allow_nan=False,
                allow_infinity=False,
                min_value=-2.0,
                max_value=2.0,
            ),
        ),
        min_size=1,
        max_size=60,
    ),
    n_buckets=st.integers(min_value=1, max_value=9),
    k=st.integers(min_value=1, max_value=7),
)
def test_property_matches_native_windows(spark, vals, n_buckets, k):
    """Hypothesis: for ARBITRARY value multisets (NULL-heavy, ±0.0,
    adversarial tie shapes), arbitrary bucket counts, and arbitrary
    ntile k, every rank column is bit-identical to the native
    unpartitioned window — the rewrite may only ever change the PLAN."""
    rows = [(i, float(v) if v is not None else None) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id INT, val DOUBLE").repartition(3)
    got = with_global_ranks(
        df,
        "val",
        ("id",),
        row_number="rn",
        rank="rk",
        dense_rank="dr",
        percent_rank="pr",
        cume_dist="cd",
        ntile={"nt": k},
        n_buckets=n_buckets,
    )
    w = W.orderBy("val", "id")
    wv = W.orderBy("val")
    want = df.select(
        "id",
        F.row_number().over(w).alias("rn"),
        F.rank().over(wv).alias("rk").cast("long"),
        F.dense_rank().over(wv).alias("dr").cast("long"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.ntile(k).over(w).alias("nt"),
    )
    g = {r["id"]: (r["rn"], r["rk"], r["dr"], r["pr"], r["cd"], r["nt"])
         for r in got.collect()}
    e = {r["id"]: (r["rn"], r["rk"], r["dr"], r["pr"], r["cd"], r["nt"])
         for r in want.collect()}
    assert g == e


def test_null_boundary_array_single_bucket(spark):
    """An all-NULL order column makes percentile_approx yield a NULL
    boundary array, which coalesces to one bucket on both the fold and
    the binary-search path — values still match native windows."""
    df = spark.createDataFrame(
        [(i, None) for i in range(40)], "id INT, val INT"
    ).repartition(3)
    w = W.orderBy("val", "id")
    wv = W.orderBy("val")
    ref = df.select(
        "*",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(wv).cast("long").alias("rk"),
        F.dense_rank().over(wv).cast("long").alias("dr"),
        F.ntile(3).over(w).alias("t3"),
    )
    want = sorted(map(tuple, ref.collect()))
    for n_buckets in (4, 128):
        got = with_global_ranks(
            df, "val", ("id",), row_number="rn", rank="rk",
            dense_rank="dr", ntile={"t3": 3}, n_buckets=n_buckets,
        )
        assert sorted(map(tuple, got.collect())) == want, n_buckets


def test_bsearch_path_matches_native_windows(spark, skewed):
    """n_buckets above _FOLD_MAX_BUCKETS takes the binary-search bucket
    expression — the path production clusters (parallelism > 64)
    actually run; most other tests sit on the fold path. Values must
    still be bit-identical to native windows."""
    got = with_global_ranks(
        skewed, "val", ("id",), row_number="rn", rank="rk",
        dense_rank="dr", ntile={"t5": 5}, n_buckets=128,
    )
    w = W.orderBy("val", "id")
    wv = W.orderBy("val")
    ref = skewed.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.rank().over(wv).alias("rk"),
        F.dense_rank().over(wv).alias("dr"),
        F.ntile(5).over(w).alias("t5"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        (*r[:3], int(r["rn"]), int(r["rk"]), int(r["dr"]), r["t5"])
        for r in ref.collect()
    )
