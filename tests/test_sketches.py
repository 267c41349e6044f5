"""HLL sketch tooling: partial/rollup estimates vs exact distinct
counts, and the merge-equals-rebuild property that makes the blobs
reusable across jobs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hrtech_etl_spark.operators.sketches import hll_partial, hll_rollup
from hrtech_etl_spark.sources.testdata import load_table


@pytest.fixture(scope="module")
def events(spark, sf_medium):
    return load_table(spark, "events", sf_medium).withColumn(
        "day", F.to_date("ts")
    )


def test_rollup_matches_exact_within_tolerance(spark, events):
    daily = hll_partial(events, ["day"], "user_id")
    total = hll_rollup(daily, []).collect()[0]["n_distinct"]
    exact = events.select("user_id").distinct().count()
    assert abs(total - exact) <= max(2, 0.05 * exact)


def test_merge_equals_direct_sketch(spark, events):
    """Unioning per-day blobs must estimate the same as sketching the
    whole table directly — the property that makes PERSISTED partials
    valid forever (no rescan on rollup)."""
    direct = hll_rollup(hll_partial(events, [], "user_id"), []).collect()[0][
        "n_distinct"
    ]
    merged = hll_rollup(hll_partial(events, ["day"], "user_id"), []).collect()[
        0
    ]["n_distinct"]
    assert direct == merged


def test_grouped_rollup(spark, events):
    weekly = hll_rollup(
        hll_partial(events, ["day", "event_type"], "user_id"),
        ["event_type"],
    )
    got = {r["event_type"]: r["n_distinct"] for r in weekly.collect()}
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for k, v in exact.items():
        assert abs(got[k] - v) <= max(2, 0.05 * v)


def test_blob_roundtrip_through_storage(spark, events, tmp_path):
    """Write the sketch table to parquet, read it back, roll up — the
    cross-job reuse path."""
    p = str(tmp_path / "daily_sketches")
    hll_partial(events, ["day"], "user_id").write.parquet(p)
    stored = spark.read.parquet(p)
    total = hll_rollup(stored, []).collect()[0]["n_distinct"]
    live = hll_rollup(hll_partial(events, ["day"], "user_id"), []).collect()[
        0
    ]["n_distinct"]
    assert total == live


def test_kll_quantiles_vs_exact(spark, events):
    from hrtech_etl_spark.operators.sketches import kll_partial, kll_quantiles

    daily = kll_partial(events, ["day"], "value")
    got = kll_quantiles(daily, [], [0.5, 0.95]).collect()[0]
    exact = events.approxQuantile("value", [0.5, 0.95], 0.0)
    # KLL rank error ~1.65% at k=200: value at a rank within ±2% of the
    # target rank — compare against the exact values at those ranks
    n = events.count()
    vals = sorted(r["value"] for r in events.select("value").collect())
    for q, g in (((0.5), got["q_50"]), ((0.95), got["q_95"])):
        lo = vals[max(0, int((q - 0.03) * n))]
        hi = vals[min(n - 1, int((q + 0.03) * n))]
        assert lo <= g <= hi


def test_kll_merge_equals_direct(spark, events):
    from hrtech_etl_spark.operators.sketches import kll_partial, kll_quantiles

    direct = kll_quantiles(kll_partial(events, [], "value"), [], [0.5]).collect()[
        0
    ]["q_50"]
    merged = kll_quantiles(
        kll_partial(events, ["day"], "value"), [], [0.5]
    ).collect()[0]["q_50"]
    # same sketch family, but insertion order differs → estimates may
    # differ within rank tolerance; both must sit near the true median
    n = events.count()
    vals = sorted(r["value"] for r in events.select("value").collect())
    lo, hi = vals[int(0.46 * n)], vals[int(0.54 * n)]
    assert lo <= direct <= hi and lo <= merged <= hi


def test_theta_overlap_vs_exact(spark, events):
    from hrtech_etl_spark.operators.sketches import theta_overlap, theta_partial

    clickers = events.where(F.col("event_type") == "click")
    buyers = events.where(F.col("event_type") == "purchase")
    got = theta_overlap(
        theta_partial(clickers, [], "user_id"),
        theta_partial(buyers, [], "user_id"),
    ).collect()[0]
    c = {r["user_id"] for r in clickers.select("user_id").distinct().collect()}
    b = {r["user_id"] for r in buyers.select("user_id").distinct().collect()}
    for key, exact in (
        ("n_a", len(c)),
        ("n_b", len(b)),
        ("n_union", len(c | b)),
        ("n_intersection", len(c & b)),
        ("n_only_a", len(c - b)),
    ):
        assert abs(got[key] - exact) <= max(2, 0.05 * exact), (key, got[key], exact)


def test_cms_frequencies(spark, events):
    from hrtech_etl_spark.operators.sketches import cms_estimate, cms_partial

    daily = cms_partial(events, ["day"], "event_type")
    got = cms_estimate(daily, ["click", "purchase", "nonexistent"])
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_total = events.count()
    # CMS never underestimates; overestimate bounded by eps * N
    for item in ("click", "purchase"):
        assert exact[item] <= got[item] <= exact[item] + 0.001 * n_total + 1
    assert got["nonexistent"] <= 0.001 * n_total + 1


def test_kll_fractional_quantile_names(spark, events):
    """Sub-percent and fractional quantiles must get distinct, exact
    column names (a percent-rounded name would collide 0.001 with
    0.005); duplicates raise instead of emitting an ambiguous frame."""
    from hrtech_etl_spark.operators.sketches import kll_partial, kll_quantiles

    daily = kll_partial(events, ["day"], "value")
    cols = kll_quantiles(daily, [], [0.001, 0.005, 0.125, 0.29, 0.5]).columns
    assert cols == ["q_0_1", "q_0_5", "q_12_5", "q_29", "q_50"]
    with pytest.raises(ValueError, match="duplicate"):
        kll_quantiles(daily, [], [0.5, 0.5])


def test_theta_rollup_exact_below_cap_and_merge_equals_direct(spark, events):
    """Theta rollup of per-day partials must (a) equal a direct sketch
    of the whole table and (b) reproduce the EXACT distinct count while
    under the nominal-entries cap (lgK=12 -> 4096; the test corpus has
    <= 1500 users) — the property the declared `sketch_theta_rollup`
    query gates against the SQL oracle."""
    from hrtech_etl_spark.operators.sketches import theta_partial, theta_rollup

    def estimate(sketches):
        return sketches.select(
            "theta_sketch",
            F.theta_sketch_estimate("theta_sketch").alias("n_distinct"),
        )

    daily = theta_partial(events, ["day"], "user_id")
    rolled = estimate(theta_rollup(daily, [])).collect()[0]
    direct = estimate(
        theta_rollup(theta_partial(events, [], "user_id"), [])
    ).collect()[0]["n_distinct"]
    exact = events.select("user_id").distinct().count()
    assert round(rolled["n_distinct"]) == exact
    assert rolled["n_distinct"] == direct
    # the merged blob is returned, so it stays usable for set algebra
    assert rolled["theta_sketch"] is not None


def test_kll_exact_regime_inclusive_rank(spark, events):
    """While total retained items stay <= k, a MERGED KLL sketch is
    exact and its quantile rule is the datasketches INCLUSIVE rank:
    the smallest retained item whose cumulative weight fraction >= q —
    i.e. min(value) FILTER (cume_dist >= q). This is the property the
    declared `sketch_kll_rollup` query states verbatim in its DuckDB
    oracle, so lock it against a direct computation here."""
    from pyspark.sql import Window

    from hrtech_etl_spark.operators.sketches import kll_partial, kll_quantiles

    # ~30 distinct daily sums per month-sized slice: well under k=200
    daily = (
        events.groupBy("day")
        .agg(F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("v"))
    )
    merged = kll_quantiles(
        kll_partial(daily.withColumn("half", F.dayofmonth("day") % 2), ["half"], "v"),
        [],
        [0.25, 0.5, 0.9],
    ).collect()[0]
    cd = daily.withColumn("cd", F.cume_dist().over(Window.orderBy("v")))
    exact = cd.agg(
        *[
            F.min(F.when(F.col("cd") >= q, F.col("v"))).alias(f"e{i}")
            for i, q in enumerate((0.25, 0.5, 0.9))
        ]
    ).collect()[0]
    assert (merged["q_25"], merged["q_50"], merged["q_90"]) == tuple(exact), (
        merged,
        tuple(exact),
    )


def test_kll_exact_regime_property_random_splits(spark):
    """Property (hypothesis): for ANY small double list (n <= k) split
    arbitrarily into partial sketches, the merged KLL quantile equals
    the inclusive-rank rule min(v | cume_dist(v) >= q) — the exact
    contract the sketch_kll_rollup oracle states. Runs each case
    through real kll_sketch_agg/kll_merge_agg on one Spark session."""
    from hypothesis import given, settings, strategies as st

    from hrtech_etl_spark.operators.sketches import kll_partial, kll_quantiles

    @settings(max_examples=12, deadline=None)
    @given(
        st.lists(
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
            ),
            min_size=1,
            max_size=60,
        ),
        st.integers(min_value=1, max_value=5),
        st.floats(min_value=0.01, max_value=0.99),
    )
    def case(values, n_groups, q):
        rows = [(i % n_groups, float(v)) for i, v in enumerate(values)]
        df = spark.createDataFrame(rows, ["g", "v"])
        got = kll_quantiles(
            kll_partial(df, ["g"], "v", k=200), [], [q]
        ).collect()[0][0]
        srt = sorted(float(v) for v in values)
        n = len(srt)
        # IEEE-exact mirror of the inclusive rule: rank r/n is the same
        # double division both engines perform; no epsilon, or a rank
        # epsilon-below q would wrongly pick the smaller item
        want = next(x for r, x in enumerate(srt, start=1) if r / n >= q)
        assert got == want, (values, n_groups, q, got, want)

    case()


def test_theta_overlap_exact_regime_property(spark):
    """Property (hypothesis): below the lgK=12 cap, the five-number
    Theta overlap report equals exact set algebra for ANY pair of
    small int sets — the claim the sketch_theta_overlap oracle gates
    on real data, here hardened over adversarial shapes (disjoint,
    nested, equal, empty-ish sides)."""
    from hypothesis import given, settings, strategies as st

    from hrtech_etl_spark.operators.sketches import (
        theta_overlap,
        theta_partial,
    )

    @settings(max_examples=10, deadline=None)
    @given(
        st.sets(st.integers(min_value=0, max_value=400), min_size=1, max_size=120),
        st.sets(st.integers(min_value=0, max_value=400), min_size=1, max_size=120),
    )
    def case(sa, sb):
        a = theta_partial(
            spark.createDataFrame([(int(x),) for x in sa], ["uid"]), [], "uid"
        )
        b = theta_partial(
            spark.createDataFrame([(int(x),) for x in sb], ["uid"]), [], "uid"
        )
        got = tuple(round(x) for x in theta_overlap(a, b).collect()[0])
        want = (len(sa), len(sb), len(sa | sb), len(sa & sb), len(sa - sb))
        assert got == want, (sorted(sa)[:5], sorted(sb)[:5], got, want)

    case()
