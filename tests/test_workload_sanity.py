"""Sanity bounds for declared queries whose values the DuckDB oracle
cannot check exactly (approximate sketches get rows-only driver checks;
these tests give the estimates teeth)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hrtech_etl_spark.sources.testdata import load_table
from hrtech_etl_spark.workload import REGISTRY


@pytest.mark.parametrize("max_hamming", [2, 3, 5])
def test_simhash_multiband_exact_recall(spark, sf_dir, max_hamming):
    """Multi-band blocking (max_hamming+1 disjoint bands, of uneven
    width when they do not divide 32) must find EXACTLY the pairs the
    unblocked all-pairs join finds — pigeonhole guarantees no
    within-threshold pair is missed, and the Hamming verify removes any
    extras."""
    from hrtech_etl_spark.functions import dedup as dd

    d = load_table(spark, "documents", sf_dir)
    banded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dd.simhash_pairs(
            d, "text", "doc_id", max_hamming=max_hamming
        ).collect()
    }
    sig = d.select(F.col("doc_id"), dd.simhash(F.col("text")).alias("sh"))
    a, b = sig.alias("a"), sig.alias("b")
    brute = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            dd.hamming_distance(F.col("a.sh"), F.col("b.sh")).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .collect()
    }
    assert brute and banded == brute


def test_simhash_null_text_produces_no_pairs(spark):
    """Null-text rows get a NULL signature, whose NULL band values never
    join: they must not pair as hamming-0 duplicates."""
    from hrtech_etl_spark.functions import dedup as dd

    rows = [(0, None), (1, None), (2, "real text content here"), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert dd.simhash_pairs(df, "text", "doc_id").collect() == []


@pytest.mark.parametrize("max_hamming", [-1, 32])
def test_simhash_pairs_rejects_max_hamming_out_of_range(spark, max_hamming):
    from hrtech_etl_spark.functions import dedup as dd

    df = spark.createDataFrame([(0, "text")], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_hamming"):
        dd.simhash_pairs(df, "text", "doc_id", max_hamming=max_hamming)


def test_approx_distinct_within_tolerance(spark, sf_medium):
    """HyperLogLog++ estimate (rsd=0.02) must sit within 5% of the
    exact per-group distinct count — the rows-only oracle row for
    `agg_approx_distinct` plus this bound pins the values too."""
    approx = {
        r["returnflag"]: r["approx_parts"]
        for r in REGISTRY["agg_approx_distinct"].fn(spark, sf_medium).collect()
    }
    exact = {
        r["l_returnflag"]: r["n"]
        for r in load_table(spark, "lineitem", sf_medium)
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for flag, est in approx.items():
        assert abs(est - exact[flag]) / exact[flag] <= 0.05, (
            flag,
            est,
            exact[flag],
        )


def test_cohort_retention_single_scan_plan(spark, sf_dir):
    """Plan contract for events_cohort_retention: exactly ONE events
    FileScan in the executed plan (r8's join form scanned the pushed
    purchase slice three times), no join at all — cohort comes from a
    user_id window and cohort size from the week_offset=0 cell — and
    the event_type/value filters reach the scan."""
    df = REGISTRY["events_cohort_retention"].fn(spark, sf_dir)
    df.collect()  # finalize the adaptive plan
    # Tested against Spark 4.1 plan strings; the anchors below are
    # deliberately loose (case-insensitive node-name counts, no
    # bracket/ordering assumptions) so formatting drift across Spark
    # versions doesn't spuriously fail while the contract still holds.
    # The adaptive string repeats the tree after a 'Initial Plan'
    # marker; the contract is about the FINAL plan only.
    plan = df._jdf.queryExecution().executedPlan().toString()
    marker = plan.find("Initial Plan")
    if marker != -1:
        plan = plan[:marker]
    lower = plan.lower()
    # exactly one parquet file scan, counted by scan-node lines
    scan_lines = [
        ln
        for ln in lower.splitlines()
        if "scan" in ln and "parquet" in ln
    ]
    assert len(scan_lines) == 1, plan
    assert "join" not in lower, plan
    # the event_type filter reached the scan (pushed-filter list
    # formatting varies across versions; check the payload only)
    assert "pushedfilters" in lower, plan
    assert "isnotnull(event_type)" in lower, plan


def test_dev_vacuated_gates_return_rows(spark, sf_dir):
    """round-11 regression guard: join_anti and join_asof_forward were
    re-anchored after their round-10 gates matched on empty==empty;
    both must stay non-empty at the gate SFs (oracle_check also now
    fails any entry whose both sides return 0 rows)."""
    anti = REGISTRY["join_anti"].fn(spark, sf_dir)
    assert anti.count() > 0
    fwd = REGISTRY["join_asof_forward"].fn(spark, sf_dir)
    assert fwd.count() > 0
