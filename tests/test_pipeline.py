"""Pull/push pipeline tests on the driver testdata (sf0.001).

Covers the reference pull() semantics end-to-end (scan → where →
having → mapping → caller write + cursor advance) including the tie-safe
resume the reference intended but couldn't do (SURVEY.md §8.1)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hrtech_etl_spark.core.state import CursorStore
from hrtech_etl_spark.core.types import Condition, Cursor, CursorMode, Operator, SortOrder
from hrtech_etl_spark.pipeline import pull, push_resources
from hrtech_etl_spark.sources.testdata import load_table


def test_pull_full_scan(spark, sf_dir):
    orders = load_table(spark, "orders", sf_dir)
    res = pull(
        orders,
        cursor=Cursor(mode=CursorMode.UPDATED_AT),
        cursor_col="o_orderdate",
        uid_col="o_orderkey",
        dry_run=True,
    )
    assert res.rows == orders.count()
    assert res.cursor.end is not None


def test_pull_where_and_having(spark, sf_dir):
    orders = load_table(spark, "orders", sf_dir)
    res = pull(
        orders,
        cursor=Cursor(),
        cursor_col="o_orderdate",
        uid_col="o_orderkey",
        where=[Condition("o_orderstatus", Operator.EQ, "O")],
        having=[Condition("o_totalprice", Operator.GT, 100000.0)],
        dry_run=True,
    )
    expected = orders.where((F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 100000.0)).count()
    assert res.rows == expected


def test_pull_mapping_projection(spark, sf_dir):
    orders = load_table(spark, "orders", sf_dir)
    res = pull(
        orders,
        cursor=Cursor(),
        cursor_col="o_orderdate",
        uid_col="o_orderkey",
        mapping=[{"from": "o_orderkey", "to": "id"}, {"from": "o_totalprice", "to": "price"}],
        dry_run=True,
    )
    assert res.dataframe.columns == ["id", "price"]


def test_pull_incremental_resume_no_loss_no_dup(spark, sf_dir):
    """Split the scan at an arbitrary resume point with ties on the
    cursor column; the two halves must partition the table exactly."""
    orders = load_table(spark, "orders", sf_dir)
    total = orders.count()

    first = pull(
        orders,
        cursor=Cursor(mode=CursorMode.UPDATED_AT, end="1995-01-01 00:00:00"),
        cursor_col="o_orderdate",
        uid_col="o_orderkey",
        dry_run=True,
    )
    # resume from the advanced cursor (tie-safe (date, key) pair)
    resumed_cursor = Cursor(
        mode=CursorMode.UPDATED_AT,
        start=first.cursor.end,
        start_uid=first.cursor.end_uid,
    )
    second = pull(
        orders,
        cursor=resumed_cursor,
        cursor_col="o_orderdate",
        uid_col="o_orderkey",
        dry_run=True,
    )
    assert first.rows + second.rows == total
    # and no overlap:
    overlap = first.dataframe.select("o_orderkey").intersect(
        second.dataframe.select("o_orderkey")
    ).count()
    assert overlap == 0


def test_pull_desc_scan(spark, sf_dir):
    orders = load_table(spark, "orders", sf_dir)
    res = pull(
        orders,
        cursor=Cursor(sort_by=SortOrder.DESC, start="1995-06-01 00:00:00"),
        cursor_col="o_orderdate",
        uid_col="o_orderkey",
        dry_run=True,
    )
    expected = orders.where(F.col("o_orderdate") <= "1995-06-01").count()
    assert res.rows == expected
    assert res.cursor.end == orders.agg(F.min("o_orderdate")).first()[0]


def test_pull_empty_slice_keeps_cursor(spark, sf_dir):
    orders = load_table(spark, "orders", sf_dir)
    cur = Cursor(start="2999-01-01 00:00:00")
    res = pull(orders, cursor=cur, cursor_col="o_orderdate", uid_col="o_orderkey", dry_run=True)
    assert res.rows == 0
    assert res.cursor.end is None  # unchanged


def test_pull_sink_write(spark, sf_dir, tmp_path):
    """The caller writes the returned frame: every where-matching row
    lands in the target, and the cursor advanced over the slice."""
    orders = load_table(spark, "orders", sf_dir)
    out = str(tmp_path / "orders_out")
    res = pull(
        orders,
        cursor=Cursor(),
        cursor_col="o_orderdate",
        uid_col="o_orderkey",
        where=[Condition("o_orderstatus", Operator.EQ, "F")],
    )
    res.dataframe.write.parquet(out)
    written = spark.read.parquet(out)
    assert written.count() == orders.where("o_orderstatus = 'F'").count()
    assert res.cursor.end is not None


def test_cursor_store_roundtrip(tmp_path):
    store = CursorStore(str(tmp_path))
    cur = Cursor(mode=CursorMode.UPDATED_AT, start="2020-01-01", end="2021-01-01",
                 start_uid="a", end_uid="b")
    store.save("orders", cur)
    loaded = store.load("orders")
    assert loaded == cur
    assert store.load("missing") is None


def test_push_resources_metrics(spark, sf_dir):
    orders = load_table(spark, "orders", sf_dir)
    metrics = push_resources(
        orders,
        having=[Condition("o_orderstatus", Operator.EQ, "O")],
        dry_run=True,
    )
    kept = orders.where("o_orderstatus = 'O'").count()
    assert metrics["total_resources"] == orders.count()
    assert metrics["total_resources_pushed"] == kept
    assert metrics["skipped_having"] == metrics["total_resources"] - kept


def test_pull_null_cursor_rows_survive_first_pull(spark):
    """Rows whose cursor column is NULL can only ever be emitted by an
    unbounded first pull (every resume's range predicate drops them) —
    the snapshot bound must let them through, and an all-NULL slice
    must still write them while keeping the cursor unchanged."""
    from pyspark.sql import functions as F

    from hrtech_etl_spark.core.types import Cursor
    from hrtech_etl_spark.pipeline import pull

    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, None), (3, "2024-02-01"), (4, None)],
        ["uid", "updated_at"],
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))

    result = pull(df, cursor=Cursor(), cursor_col="updated_at", uid_col="uid")
    assert {r["uid"] for r in result.dataframe.collect()} == {1, 2, 3, 4}
    assert str(result.cursor.end).startswith("2024-02-01")

    # resume: only post-cursor rows, NULLs not re-emitted (no dup)
    resumed = pull(
        df,
        cursor=Cursor(start=result.cursor.end, start_uid=result.cursor.end_uid),
        cursor_col="updated_at",
        uid_col="uid",
    )
    assert resumed.dataframe.count() == 0

    # all-NULL slice: rows written once, cursor object unchanged
    nulls = df.where(F.col("updated_at").isNull())
    r2 = pull(nulls, cursor=Cursor(), cursor_col="updated_at", uid_col="uid")
    assert {r["uid"] for r in r2.dataframe.collect()} == {2, 4}
    assert r2.cursor.end is None
