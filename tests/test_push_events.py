"""EVENTS-mode push: one-job metrics via Observation, correct
accounting against directly computed counts."""

from __future__ import annotations

from pyspark.sql import functions as F

from hrtech_etl_spark.core.types import Condition, Operator
from hrtech_etl_spark.operators.events import push_events
from hrtech_etl_spark.sources.testdata import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_push_events_metrics_and_sink(spark, tmp_path):
    events = load_table(spark, "events", SF_DIR).select(
        "event_id", F.col("user_id").alias("uid"), "ts", "value"
    )
    # resources: even user ids only -> odd-id events count as missing
    resources = (
        events.select(F.col("uid").alias("user_id"))
        .distinct()
        .where(F.col("user_id") % 2 == 0)
        .withColumn("segment", F.lit("even"))
    )
    having = [Condition("value", Operator.GT, 100.0)]
    sink = str(tmp_path / "pushed")

    metrics = push_events(
        events,
        resources,
        event_key="uid",
        resource_key="user_id",
        order_cols=[F.col("ts"), F.col("event_id")],
        having=having,
        sink_writer=lambda df: df.write.parquet(sink),
    )

    deduped = (
        events.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("uid")
                .orderBy(F.col("ts").desc(), F.col("event_id").desc())
            ),
        )
        .where("rn = 1")
        .drop("rn")
    )
    n_users = deduped.count()
    n_even = deduped.where(F.col("uid") % 2 == 0).count()
    n_pushed = deduped.where((F.col("uid") % 2 == 0) & (F.col("value") > 100.0)).count()

    assert metrics["total_events"] == events.count()
    assert metrics["total_resources_fetched"] == n_even
    assert metrics["skipped_missing"] == n_users - n_even
    assert metrics["total_resources_pushed"] == n_pushed
    assert metrics["skipped_having"] == n_even - n_pushed
    assert spark.read.parquet(sink).count() == n_pushed


def test_push_events_dry_run_no_sink(spark, tmp_path):
    events = load_table(spark, "events", SF_DIR).select(
        "event_id", F.col("user_id").alias("uid"), "ts", "value"
    )
    resources = events.select(F.col("uid").alias("user_id")).distinct()
    sink = str(tmp_path / "never")
    metrics = push_events(
        events,
        resources,
        event_key="uid",
        resource_key="user_id",
        order_cols=[F.col("ts"), F.col("event_id")],
        sink_writer=lambda df: df.write.parquet(sink),
        dry_run=True,
    )
    assert metrics["skipped_missing"] == 0
    assert metrics["total_resources_pushed"] == metrics["total_resources_fetched"]
    import os

    assert not os.path.exists(sink)
