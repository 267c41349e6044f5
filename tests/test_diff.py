"""table_diff: classification, null-safe changes, changed_cols order."""

from __future__ import annotations

from pyspark.sql import functions as F

from hrtech_etl_spark.operators.diff import table_diff


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k long, x string, y long")


def test_classification_and_changed_cols(spark):
    a = _mk(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)])
    b = _mk(
        spark,
        [
            (1, "a", 10),        # unchanged
            (2, "B", 20),        # changed: x
            (4, "now", 41),      # changed: x (NULL→value) and y
            (5, "new", 50),      # added
        ],                       # 3 removed
    )
    out = {r["k"]: r for r in table_diff(a, b, ["k"]).collect()}
    assert 1 not in out  # unchanged keys are not emitted
    assert out[2]["status"] == "changed" and out[2]["changed_cols"] == ["x"]
    assert out[4]["status"] == "changed"
    assert out[4]["changed_cols"] == ["x", "y"]  # compare_cols order
    assert out[5]["status"] == "added" and out[5]["changed_cols"] == []
    assert out[3]["status"] == "removed"


def test_compare_subset(spark):
    a = _mk(spark, [(1, "a", 10)])
    b = _mk(spark, [(1, "a", 99)])
    # y excluded from comparison → unchanged → no row
    assert table_diff(a, b, ["k"], compare_cols=["x"]).collect() == []
    # y compared → changed
    out = [tuple(r) for r in table_diff(a, b, ["k"], compare_cols=["y"]).collect()]
    assert out == [(1, "changed", ["y"])]


def test_single_shuffle_plan(spark):
    a = _mk(spark, [(1, "a", 10)])
    b = _mk(spark, [(1, "a", 10)])
    plan = (
        table_diff(a, b, ["k"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "FullOuter" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan

def test_presence_only_diff(spark):
    """compare_cols=[] means key-presence only: value differences are
    ignored, both-present keys are unchanged and not emitted."""
    a = _mk(spark, [(1, "a", 10), (2, "b", 20)])
    b = _mk(spark, [(1, "zzz", 99), (3, "c", 30)])
    out = {
        r["k"]: r["status"]
        for r in table_diff(a, b, ["k"], compare_cols=[]).collect()
    }
    assert out == {2: "removed", 3: "added"}
