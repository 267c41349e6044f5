"""Declared queries: streaming-window operators, batch-evaluated.

Spark's ``window()`` / ``session_window()`` work identically over
batch DataFrames — the declared window queries call the engine's
aggregations in :mod:`hrtech_etl_spark.streaming.pipelines` without a
watermark, batch (so the DuckDB oracle can check values) except
``stream_session_window``, which drains a real stream; the streaming
tests drive the same functions through readStream/writeStream.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import functions as F
from pyspark.sql import Window as W

from hrtech_etl_spark.sources.testdata import load_table
from hrtech_etl_spark.workload.registry import dec, query, sql_dsum


#: Far-future event time written by the flush sentinel (2030-01-01
#: UTC). Its watermark advance closes every real window; its OWN
#: window can never close, so it is invisible in append-mode output.
FLUSH_SENTINEL_NANOS = 1_893_456_000 * 1_000_000_000


@contextlib.contextmanager
def _staged_event_stream(
    spark, sf_dir, *, flush_sentinel=False, max_files_per_trigger=None
):
    """readStream over the events parquet, ts decoded like load_table.

    events.ts is parquet TIMESTAMP(NANOS); the stream schema reads it
    as raw nanos (legacy long path) and converts. Session-scoped conf:
    saved/restored so later parquet reads decode normally. File streams
    take directories; the single file is symlink-staged into one.

    ``flush_sentinel=True`` stages ONE extra single-row parquet whose
    event time is :data:`FLUSH_SENTINEL_NANOS` (far future). For
    append-mode stateful queries, processing it advances the watermark
    past every real window, so ALL real results flush to the sink —
    while the sentinel's own window stays open forever and never
    appears in output. The file is written after the symlink (newer
    mtime), so with ``max_files_per_trigger=1`` the real data is
    micro-batch 1 and the sentinel micro-batch 2."""
    import os
    import tempfile

    from pyspark.sql import types as T

    prev_nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # State-store instances scale with shuffle partitions; a default-200
    # session would spin up 200 stores for a small drain. Pin a bounded
    # count for the run, restore after.
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        src = os.path.join(sf_dir, "events.parquet")
        raw_schema = spark.read.parquet(src).schema
        stage_dir = tempfile.mkdtemp(prefix="stream_events_")
        os.symlink(src, os.path.join(stage_dir, "events.parquet"))
        if flush_sentinel:
            import pyarrow as pa
            import pyarrow.parquet as papq

            t = papq.read_table(src).slice(0, 1)
            i = t.schema.get_field_index("ts")
            fld = t.schema.field(i)
            if pa.types.is_timestamp(fld.type):
                unit = fld.type.unit
                div = {"s": 10**9, "ms": 10**6, "us": 10**3, "ns": 1}[unit]
                arr = pa.array(
                    [FLUSH_SENTINEL_NANOS // div], type=pa.int64()
                ).cast(fld.type)
            else:
                arr = pa.array([FLUSH_SENTINEL_NANOS], type=fld.type)
            papq.write_table(
                t.set_column(i, fld, arr),
                os.path.join(stage_dir, "zz_flush_sentinel.parquet"),
            )
        reader = spark.readStream.schema(raw_schema)
        if max_files_per_trigger is not None:
            reader = reader.option(
                "maxFilesPerTrigger", str(max_files_per_trigger)
            )
        stream = reader.parquet(stage_dir)
        if isinstance(raw_schema["ts"].dataType, T.LongType):
            stream = stream.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        # NTZ (isAdjustedToUTC=false micros) → LTZ, same normalization
        # as the batch side's load_table: twins emit identical schemas.
        from hrtech_etl_spark.core.eventtime import ensure_event_time

        yield ensure_event_time(stream, "ts")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        if prev_nanos is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev_nanos)


@query(
    "stream_tumbling_window",
    sql=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           {sql_dsum("value")} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark, sf_dir):
    """1-hour tumbling windows (aligned ⇒ start == date_trunc('hour')),
    computed by the engine's :func:`~hrtech_etl_spark.streaming.
    pipelines.tumbling_counts` without a watermark. The same function
    runs as a real readStream→availableNow drain in
    tests/test_streaming.py (complete-mode parity with this batch
    result); the declared query stays batch so the oracle can hash
    values and the bench measures the aggregation, not checkpoint IO."""
    from hrtech_etl_spark.streaming.pipelines import tumbling_counts

    return tumbling_counts(load_table(spark, "events", sf_dir), watermark=None)


@query(
    "stream_sliding_window",
    sql=f"""
    SELECT window_start, count(*) AS n, {sql_dsum("value")} AS total_value
    FROM (
      SELECT make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) * 1000000) AS window_start, value
      FROM events
      UNION ALL
      SELECT make_timestamp((CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) - 1800) * 1000000) AS window_start, value
      FROM events
    )
    GROUP BY window_start
    """,
)
def stream_sliding_window(spark, sf_dir):
    """1-hour windows sliding every 30 min: each event lands in exactly
    two windows (the oracle spells out the two alignments window()
    generates). Computed by the engine's :func:`~hrtech_etl_spark.
    streaming.pipelines.sliding_counts` without a watermark, the
    function tests/test_streaming.py parity-proves as a stream drain."""
    from hrtech_etl_spark.streaming.pipelines import sliding_counts

    return sliding_counts(load_table(spark, "events", sf_dir), watermark=None)


@query(
    "stream_session_window",
    sql="""
    WITH marks AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM marks
    )
    SELECT user_id, min(ts) AS session_start, max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark, sf_dir):
    """Session windows (30-min gap) as a REAL Structured Streaming run
    under the oracle gate: readStream over the events parquet →
    session_window() merging-session aggregation (streaming state) →
    availableNow drain into a memory sink in COMPLETE mode (session
    windows without watermark are complete-mode-only; the final table
    is the full merged-session set, equal to the batch aggregation the
    gaps-and-islands oracle computes). The aggregation is the engine's
    :func:`~hrtech_etl_spark.streaming.pipelines.session_counts` without
    a watermark. session_window() merges events strictly less than one
    gap apart; session end = last event + gap."""
    import tempfile
    import uuid

    from hrtech_etl_spark.streaming.pipelines import (
        run_available_now,
        session_counts,
    )

    name = f"session_windows_{uuid.uuid4().hex[:8]}"
    with _staged_event_stream(spark, sf_dir) as stream:
        run_available_now(
            session_counts(stream, watermark=None),
            checkpoint=tempfile.mkdtemp(prefix="ck_session_"),
            output_mode="complete",
            memory_table=name,
        )
    return spark.table(name)


@query(
    "stream_dedup_first",
    sql="""
    SELECT user_id, event_type, event_id AS first_event_id, ts AS first_ts FROM (
      SELECT user_id, event_type, event_id, ts,
             row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def stream_dedup_first(spark, sf_dir):
    """Stateful dedup (first-occurrence per key) — the batch twin of
    dropDuplicatesWithinWatermark: deterministic keep-earliest rather
    than keep-arbitrary."""
    e = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("first_event_id"),
            F.col("ts").alias("first_ts"),
        )
    )


@query(
    "stream_stateful_running_stats",
    sql="""
    SELECT user_id,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           max(ts) AS last_ts
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_running_stats(spark, sf_dir):
    """A REAL Structured Streaming run under the oracle gate: readStream
    over the events parquet → applyInPandasWithState running per-user
    (count, sum, last event time) → availableNow drain into a memory
    sink. The whole input arrives as one micro-batch, so the final
    state equals the batch aggregation the oracle computes — verifying
    the custom stateful operator end-to-end, not just its batch twin."""
    import tempfile
    import uuid

    from hrtech_etl_spark.streaming.pipelines import (
        run_available_now,
        user_running_stats,
    )

    name = f"running_stats_{uuid.uuid4().hex[:8]}"
    with _staged_event_stream(spark, sf_dir) as stream:
        run_available_now(
            user_running_stats(stream),
            checkpoint=tempfile.mkdtemp(prefix="ck_running_stats_"),
            output_mode="update",
            memory_table=name,
        )
    return spark.table(name)


def chained_window_agg(e, *, watermark="2 hours"):
    """TWO chained event-time aggregations — Spark's
    multiple-stateful-operators support (append mode): 10-minute
    tumbling counts per event_type, re-aggregated into hourly
    (total, peak-10-minute, exact-decimal value sum) rows by windowing
    over the FIRST aggregation's window column. Runs identically over
    a batch frame (watermark=None) or a watermarked stream — the
    streaming drive keeps both operators' state in the same query, the
    canonical multi-level rollup a metrics pipeline runs.

    The value sum stays DECIMAL through level 1 and only rounds to
    double at the end, so batch, stream, and the DuckDB oracle agree
    bit-for-bit."""
    if watermark is not None:
        e = e.withWatermark("ts", watermark)
    l1 = e.groupBy(
        F.window("ts", "10 minutes").alias("w10"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n10"), F.sum(dec("value")).alias("dtot"))
    return (
        l1.groupBy(F.window("w10", "1 hour").alias("w"), "event_type")
        .agg(
            F.sum("n10").alias("n"),
            F.max("n10").alias("peak_10min"),
            F.round(F.sum("dtot"), 2).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "peak_10min",
            "total_value",
        )
    )
