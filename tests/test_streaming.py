"""Structured Streaming tests: batch/stream parity, watermark dedup,
stateful running stats, foreachBatch upsert with error containment.

Strategy: split the sf0.001 events table into several parquet files in
a tmp dir, stream them with Trigger.AvailableNow (so multiple
micro-batches actually execute), and compare against the identical
batch expression — window()/session_window() semantics are defined to
agree across batch and streaming.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hrtech_etl_spark.operators.upsert import merge_frames, merge_upsert
from hrtech_etl_spark.sources.testdata import load_table
from hrtech_etl_spark.streaming.pipelines import (
    StreamMetrics,
    foreach_batch_upsert,
    parse_event_stream,
    read_event_stream,
    run_available_now,
    session_counts,
    sliding_counts,
    streaming_dedup,
    tumbling_counts,
    user_running_stats,
)


@pytest.fixture(scope="module")
def event_stream_dir(spark, sf_dir, tmp_path_factory):
    """events table re-written as 4 parquet files (4 file-source
    micro-batch units), ts already normalized to TimestampType."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    events = load_table(spark, "events", sf_dir)
    events.repartition(4).write.mode("overwrite").parquet(path)
    return path


@pytest.fixture(scope="module")
def events_batch(spark, sf_dir):
    return load_table(spark, "events", sf_dir)


def _stream_events(spark, event_stream_dir, events_batch):
    return read_event_stream(
        spark, event_stream_dir, events_batch.schema, max_files_per_trigger=1
    )


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def test_tumbling_parity(spark, event_stream_dir, events_batch, tmp_path):
    # watermark=None: replayed files arrive in arbitrary event-time
    # order, so any finite watermark would drop "late" rows mid-replay;
    # complete mode needs no watermark.
    stream = _stream_events(spark, event_stream_dir, events_batch)
    q = run_available_now(
        tumbling_counts(stream, watermark=None),
        checkpoint=str(tmp_path / "ck"),
        output_mode="complete",
        memory_table="tumbling_out",
    )
    assert q.lastProgress is not None
    got = spark.table("tumbling_out")
    want = tumbling_counts(events_batch, watermark=None)
    assert _rows(got, "window_start", "event_type") == _rows(
        want, "window_start", "event_type"
    )


def test_sliding_parity(spark, event_stream_dir, events_batch, tmp_path):
    stream = _stream_events(spark, event_stream_dir, events_batch)
    run_available_now(
        sliding_counts(stream, watermark=None),
        checkpoint=str(tmp_path / "ck"),
        output_mode="complete",
        memory_table="sliding_out",
    )
    got = spark.table("sliding_out")
    want = sliding_counts(events_batch, watermark=None)
    assert _rows(got, "window_start") == _rows(want, "window_start")


def test_session_parity(spark, event_stream_dir, events_batch, tmp_path):
    stream = _stream_events(spark, event_stream_dir, events_batch)
    run_available_now(
        session_counts(stream, watermark=None),
        checkpoint=str(tmp_path / "ck"),
        output_mode="complete",
        memory_table="session_out",
    )
    got = spark.table("session_out")
    want = session_counts(events_batch, watermark=None)
    assert _rows(got, "user_id", "session_start") == _rows(
        want, "user_id", "session_start"
    )


def test_streaming_dedup_bounded_state(spark, event_stream_dir, events_batch, tmp_path):
    """dropDuplicatesWithinWatermark keeps exactly one row per key for
    keys arriving within the watermark; with a generous watermark over
    a finite replay it equals the batch distinct-key count."""
    stream = _stream_events(spark, event_stream_dir, events_batch)
    deduped = streaming_dedup(
        stream, ["user_id", "event_type"], watermark="365 days"
    ).select("user_id", "event_type")
    run_available_now(
        deduped,
        checkpoint=str(tmp_path / "ck"),
        output_mode="append",
        memory_table="dedup_out",
    )
    got = spark.table("dedup_out")
    want = events_batch.select("user_id", "event_type").distinct()
    assert got.count() == want.count()
    assert got.distinct().count() == got.count()


def test_user_running_stats_final_state(spark, event_stream_dir, events_batch, tmp_path):
    """After draining the whole stream, each user's final running stats
    must equal the batch groupBy — regardless of how many micro-batches
    the state was threaded through (update-mode memory sink keeps the
    last emission per key)."""
    stream = _stream_events(spark, event_stream_dir, events_batch)
    run_available_now(
        user_running_stats(stream),
        checkpoint=str(tmp_path / "ck"),
        output_mode="update",
        memory_table="running_out",
    )
    # update mode re-emits per batch; keep the last emission per user
    got = (
        spark.table("running_out")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
            F.max("last_ts").alias("last_ts"),
        )
    )
    want = events_batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.max("ts").alias("last_ts"),
    )
    g = {r["user_id"]: r for r in got.collect()}
    w = {r["user_id"]: r for r in want.collect()}
    assert set(g) == set(w)
    for uid in w:
        assert g[uid]["n_events"] == w[uid]["n_events"]
        assert abs(g[uid]["total_value"] - w[uid]["total_value"]) < 0.05
        assert g[uid]["last_ts"] == w[uid]["last_ts"]


def test_running_stats_all_null_ts_batch_then_real(spark, tmp_path):
    """A micro-batch whose ts column is ALL null must not poison the
    state: pandas max() over all-nulls is NaT (not None), and an
    unguarded assignment would store it — after which every later
    `real_ts > NaT` comparison is False and last_ts sticks at NaT
    forever. Also: key_col is a parameter, so a renamed key column
    must flow through to the output schema."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("account_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = str(tmp_path / "src")
    real_ts = pd.Timestamp("2024-03-01 12:00:00")
    # file 0: all-null ts; file 1: a real timestamp — one file per
    # micro-batch so the null batch is processed FIRST
    spark.createDataFrame([(7, None, 1.0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src + "/b=0")
    spark.createDataFrame([(7, real_ts.to_pydatetime(), 2.0)], schema).coalesce(
        1
    ).write.mode("append").parquet(src + "/b=1")

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src + "/*")
    run_available_now(
        user_running_stats(stream, key_col="account_id", watermark=None),
        checkpoint=str(tmp_path / "ck"),
        output_mode="update",
        memory_table="nat_out",
    )
    rows = spark.table("nat_out").orderBy("n_events").collect()
    assert rows[-1]["account_id"] == 7
    assert rows[-1]["n_events"] == 2
    # the real timestamp must win over the earlier all-null batch
    assert rows[-1]["last_ts"] == real_ts.to_pydatetime()
    # and no emitted row carries NaT-as-a-value
    assert all(r["last_ts"] is None or r["last_ts"] == real_ts for r in rows)


def test_parse_event_stream_drops_malformed(spark, tmp_path):
    """Malformed JSON payloads are dropped (reference from_payload →
    None), unknown types normalize to 'upserted'."""
    from pyspark.sql import types as T

    raw = spark.createDataFrame(
        [
            ('{"event_id": 1, "event_type": "signup"}',),
            ("not json at all",),
            ('{"event_id": 2, "event_type": "mystery"}',),
        ],
        ["payload"],
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    out = parse_event_stream(
        raw, "payload", schema, type_map={"signup": "created"}
    ).collect()
    assert {(r["event_id"], r["event_type"]) for r in out} == {
        (1, "created"),
        (2, "upserted"),
    }


# ---------------------------------------------------------------------------
# Upsert sink
# ---------------------------------------------------------------------------

def test_merge_frames_semantics(spark):
    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["id", "val"]
    )
    source = spark.createDataFrame(
        [(2, "x1"), (2, "x2"), (4, "d")], ["id", "val"]
    )
    merged = merge_frames(target, source, ["id"], order_cols=[F.col("val")])
    rows = {r["id"]: r["val"] for r in merged.collect()}
    # 2 updated last-wins (x2 > x1 > b), 4 inserted, 1/3 kept
    assert rows == {1: "a", 2: "x2", 3: "c", 4: "d"}

    # Order-aware merge: a stale source row can never regress the target.
    stale = spark.createDataFrame([(2, "a0")], ["id", "val"])
    rows2 = {
        r["id"]: r["val"]
        for r in merge_frames(merged, stale, ["id"], order_cols=[F.col("val")])
        .collect()
    }
    assert rows2[2] == "x2"


def test_merge_upsert_idempotent(spark, tmp_path):
    path = str(tmp_path / "target")
    src = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "val"])
    merge_upsert(spark, path, src, ["id"])
    merge_upsert(spark, path, src, ["id"])  # idempotency: same keys twice
    got = {r["id"]: r["val"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "b"}
    upd = spark.createDataFrame([(2, "B"), (3, "c")], ["id", "val"])
    merge_upsert(spark, path, upd, ["id"])
    got = {r["id"]: r["val"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_merge_upsert_partition_scoped(spark, tmp_path):
    """Partitioned upsert rewrites only affected partitions — the
    100 TB path. Verify by checking untouched partition files survive
    byte-identical (mtime unchanged)."""
    import os

    path = str(tmp_path / "ptarget")
    base = spark.createDataFrame(
        [(1, "2024-01-01", "a"), (2, "2024-01-02", "b")], ["id", "day", "val"]
    )
    merge_upsert(spark, path, base, ["id"], partition_col="day")
    p1 = os.path.join(path, "day=2024-01-01")
    before = {f: os.path.getmtime(os.path.join(p1, f)) for f in os.listdir(p1)}

    upd = spark.createDataFrame([(2, "2024-01-02", "B")], ["id", "day", "val"])
    merge_upsert(spark, path, upd, ["id"], partition_col="day")

    after = {f: os.path.getmtime(os.path.join(p1, f)) for f in os.listdir(p1)}
    assert before == after  # untouched partition not rewritten
    # Partition discovery infers day= as a date; compare the string form.
    got = {
        r["id"]: (r["day"], r["val"])
        for r in spark.read.parquet(path)
        .withColumn("day", F.col("day").cast("string"))
        .collect()
    }
    assert got == {1: ("2024-01-01", "a"), 2: ("2024-01-02", "B")}


@pytest.mark.parametrize("partition_col", ["day", None])
def test_merge_upsert_empty_bootstrap_then_rows(spark, tmp_path, partition_col):
    """An empty first batch must not leave a target without a schema
    (an empty partitioned write leaves only `_SUCCESS`): the next,
    non-empty merge has to succeed and land exactly its rows."""
    path = str(tmp_path / "etarget")
    schema = "id INT, day STRING, val STRING"
    empty = spark.createDataFrame([], schema)
    merge_upsert(spark, path, empty, ["id"], partition_col=partition_col)
    rows = spark.createDataFrame([(1, "2024-01-01", "a")], schema)
    merge_upsert(spark, path, rows, ["id"], partition_col=partition_col)
    got = [(r["id"], r["val"]) for r in spark.read.parquet(path).collect()]
    assert got == [(1, "a")]


def test_merge_upsert_null_partition_keeps_untouched_rows(spark, tmp_path):
    """A merge into the NULL partition must keep that partition's other
    rows: the dynamic overwrite replaces the whole NULL partition, so
    its existing rows have to reach the merge."""
    path = str(tmp_path / "ntarget")
    schema = "id INT, val STRING, p STRING"
    base = spark.createDataFrame(
        [(1, "a", None), (2, "b", None), (3, "c", "x")], schema
    )
    merge_upsert(spark, path, base, ["id"], partition_col="p")
    upd = spark.createDataFrame([(1, "a2", None)], schema)
    merge_upsert(spark, path, upd, ["id"], partition_col="p")
    got = {
        (r["id"], r["val"], r["p"]) for r in spark.read.parquet(path).collect()
    }
    assert got == {(1, "a2", None), (2, "b", None), (3, "c", "x")}


def test_merge_upsert_partition_guard(spark, tmp_path, monkeypatch):
    """A mis-keyed partition_col (high cardinality) must fail loudly
    instead of collecting millions of values onto the driver."""
    import pytest

    import hrtech_etl_spark.operators.upsert as U

    path = str(tmp_path / "gtarget")
    base = spark.createDataFrame(
        [(i, f"d{i}", "x") for i in range(6)], ["id", "day", "val"]
    )
    merge_upsert(spark, path, base, ["id"], partition_col="day")
    monkeypatch.setattr(U, "MAX_AFFECTED_PARTITIONS", 3)
    with pytest.raises(ValueError, match="distinct 'day' partitions"):
        merge_upsert(spark, path, base, ["id"], partition_col="day")


def test_merge_upsert_restores_overwrite_mode(spark, tmp_path):
    """Partitioned merge must not leak partitionOverwriteMode=dynamic
    into the session: a later plain mode('overwrite') write would
    silently switch from truncate-table to partition-merge semantics."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    path = str(tmp_path / "rtarget")
    base = spark.createDataFrame(
        [(1, "2024-01-01", "a"), (2, "2024-01-02", "b")], ["id", "day", "val"]
    )
    merge_upsert(spark, path, base, ["id"], partition_col="day")
    merge_upsert(spark, path, base, ["id"], partition_col="day")
    assert spark.conf.get(key, None) == prev


def test_foreach_batch_upsert_stream(spark, event_stream_dir, events_batch, tmp_path):
    """End-to-end EVENTS-mode streaming push: stream → last-wins per
    user → foreachBatch merge upsert. Final target = batch last-wins."""
    target = str(tmp_path / "target")
    metrics = StreamMetrics()
    stream = _stream_events(spark, event_stream_dir, events_batch).select(
        "user_id", "event_id", "event_type", "ts"
    )
    sink = foreach_batch_upsert(
        target,
        ["user_id"],
        order_cols=[F.col("ts"), F.col("event_id")],
        metrics=metrics,
    )
    run_available_now(
        stream, checkpoint=str(tmp_path / "ck"), foreach_batch=sink
    )
    assert metrics.batches >= 2  # maxFilesPerTrigger=1 over 4 files
    assert not metrics.errors

    got = spark.read.parquet(target)
    assert got.count() == events_batch.select("user_id").distinct().count()
    # spot-check: each user's row is their latest event
    w = events_batch.groupBy("user_id").agg(
        F.max_by("event_id", F.struct("ts", "event_id")).alias("event_id")
    )
    want = {r["user_id"]: r["event_id"] for r in w.collect()}
    have = {r["user_id"]: r["event_id"] for r in got.collect()}
    assert have == want


def test_foreach_batch_error_containment(spark, tmp_path):
    """Failing micro-batch contract: WITHOUT a dead-letter path the
    exception re-raises (checkpoint must not commit a failed batch —
    swallowing it would be silent data loss); WITH one, the batch is
    captured to the dead-letter dataset and the stream continues —
    reference per-chunk error capture (core/pipeline.py:130-135)."""
    import pytest

    import hrtech_etl_spark.streaming.pipelines as P

    orig = P.merge_upsert
    P.merge_upsert = lambda *a, **k: (_ for _ in ()).throw(RuntimeError("boom"))
    try:
        df = spark.createDataFrame([(1,)], ["id"])

        # no dead letter → the batch failure must propagate (retry-able)
        metrics = StreamMetrics()
        wrapped = foreach_batch_upsert(str(tmp_path / "t"), ["id"], metrics=metrics)
        with pytest.raises(RuntimeError, match="boom"):
            wrapped(df, 0)
        assert metrics.errors and "boom" in metrics.errors[0]
        assert metrics.batches == 0

        # dead letter set → contained: rows land in the dead-letter
        # dataset, nothing raises, stream would keep running
        metrics2 = StreamMetrics()
        dlq = str(tmp_path / "dead")
        wrapped2 = foreach_batch_upsert(
            str(tmp_path / "t"), ["id"], metrics=metrics2, dead_letter_path=dlq
        )
        wrapped2(df, 1)
        assert metrics2.errors and "boom" in metrics2.errors[0]
        assert metrics2.batches == 0
        # a replay of the same batch id (checkpoint never committed it)
        # rewrites that batch's dead letters instead of appending twice
        wrapped2(df, 1)
        assert spark.read.parquet(dlq).count() == 1
    finally:
        P.merge_upsert = orig


def test_checkpoint_resume_incremental_exactly_once(
    spark, events_batch, tmp_path
):
    """Two availableNow drains against ONE checkpoint: the second run
    processes only files that arrived after the first — no replay, no
    duplicates — and the merged target equals batch last-wins over
    everything seen so far."""
    src = str(tmp_path / "arrivals")
    ck = str(tmp_path / "ck")
    target = str(tmp_path / "target")
    cols = ["user_id", "event_id", "event_type", "ts"]

    first = events_batch.where("event_id % 2 = 0")
    second = events_batch.where("event_id % 2 = 1")
    first.write.mode("append").parquet(src)

    def drain():
        metrics = StreamMetrics()
        stream = read_event_stream(spark, src, events_batch.schema).select(*cols)
        sink = foreach_batch_upsert(
            target,
            ["user_id"],
            order_cols=[F.col("ts"), F.col("event_id")],
            metrics=metrics,
        )
        run_available_now(stream, checkpoint=ck, foreach_batch=sink)
        return metrics

    m1 = drain()
    assert m1.rows_written == first.count()

    second.write.mode("append").parquet(src)
    m2 = drain()
    # resume: ONLY the newly arrived rows were read from the source
    assert m2.rows_written == second.count()
    assert not m1.errors and not m2.errors

    got = spark.read.parquet(target)
    assert got.count() == events_batch.select("user_id").distinct().count()
    want = events_batch.groupBy("user_id").agg(
        F.max_by("event_id", F.struct("ts", "event_id")).alias("event_id")
    )
    w = {r["user_id"]: r["event_id"] for r in want.collect()}
    g = {r["user_id"]: r["event_id"] for r in got.collect()}
    assert g == w


def test_stream_static_enrichment_parity(
    spark, event_stream_dir, events_batch, sf_dir, tmp_path
):
    """Stream-static broadcast enrichment: the streaming frame joins a
    static dimension inside the stream (per micro-batch, no state) and
    the drained result equals the batch join."""
    customer = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = _stream_events(spark, event_stream_dir, events_batch)
    enriched = stream.join(F.broadcast(customer), "user_id", "left").select(
        "event_id", "user_id", "c_mktsegment"
    )
    run_available_now(
        enriched,
        checkpoint=str(tmp_path / "ck_enrich"),
        memory_table="enriched_events",
    )
    got = _rows(spark.table("enriched_events"), "event_id")
    want = _rows(
        events_batch.join(F.broadcast(customer), "user_id", "left").select(
            "event_id", "user_id", "c_mktsegment"
        ),
        "event_id",
    )
    assert got == want


def test_merge_frames_property_last_wins(spark):
    """Property: chaining order-aware merges over ANY batch split
    equals the single global last-wins pick. Unique order values make
    the groundtruth fully deterministic (ties across merges would be
    broken by merge order, which the global groundtruth cannot see)."""
    import random

    rng = random.Random(7)
    ords = random.Random(11).sample(range(10_000), 60)
    rows = [(rng.randrange(8), ords[n], f"v{n}") for n in range(60)]
    want = {}
    best = {}
    for k, o, v in rows:
        if k not in best or o > best[k]:
            best[k] = o
            want[k] = v

    target = spark.createDataFrame(rows[:20], ["id", "ord", "val"])
    for lo, hi in [(20, 35), (35, 50), (50, 60)]:
        batch = spark.createDataFrame(rows[lo:hi], ["id", "ord", "val"])
        target = merge_frames(target, batch, ["id"], order_cols=[F.col("ord")])
    got = {r["id"]: r["val"] for r in target.collect()}
    assert got == want


def test_merge_upsert_crash_recovery_from_old(spark, tmp_path):
    """Crash window between the two swap renames leaves data only in
    `.__old`; the next merge must restore it instead of bootstrapping a
    fresh target from the batch alone."""
    import os

    path = str(tmp_path / "ctarget")
    base = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "val"])
    merge_upsert(spark, path, base, ["id"])
    # simulate the crash: target renamed away, new data never moved in
    os.rename(path, path + ".__old")

    upd = spark.createDataFrame([(2, "B"), (3, "c")], ["id", "val"])
    merge_upsert(spark, path, upd, ["id"])
    got = {r["id"]: r["val"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}  # history restored, then merged
    assert not os.path.exists(path + ".__old")


def test_merge_upsert_killed_between_swap_renames(spark, tmp_path, monkeypatch):
    """Kill the real swap after `target → .__old` and before
    `.__tmp → target`: the retried merge restores `.__old`, merges the
    batch into it, and the leftover `.__tmp` from the killed call is
    overwritten rather than read."""
    import os

    import hrtech_etl_spark.operators.upsert as U

    path = str(tmp_path / "ktarget")
    base = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "val"])
    merge_upsert(spark, path, base, ["id"])
    upd = spark.createDataFrame([(2, "B"), (3, "c")], ["id", "val"])

    real_rename = U._rename

    def killed_rename(spark_, src, dst):
        if src.endswith(".__tmp"):
            raise IOError("killed between the swap renames")
        real_rename(spark_, src, dst)

    monkeypatch.setattr(U, "_rename", killed_rename)
    with pytest.raises(IOError, match="killed"):
        merge_upsert(spark, path, upd, ["id"])
    monkeypatch.undo()
    assert not os.path.exists(path)
    assert os.path.exists(path + ".__old") and os.path.exists(path + ".__tmp")

    merge_upsert(spark, path, upd, ["id"])
    got = {r["id"]: r["val"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    assert not os.path.exists(path + ".__old")
    assert not os.path.exists(path + ".__tmp")


def test_malformed_only_batch_leaves_partitioned_target(spark, tmp_path):
    """A micro-batch whose every payload is malformed parses to zero
    rows: the partitioned merge rewrites nothing and, since nothing
    failed, writes no dead letters."""
    import json
    import os

    from hrtech_etl_spark.operators.events import (
        CONNECTOR_EVENT_SPECS,
        parse_connector_events,
    )

    spec = CONNECTOR_EVENT_SPECS["warehouse_a.jobs"]

    def batch(*payloads):
        raw = spark.createDataFrame([(p,) for p in payloads], ["raw"])
        return parse_connector_events(raw, "raw", spec)

    def event(eid, etype, ts="2024-05-01T10:00:00"):
        return json.dumps({"id": eid, "type": etype, "timestamp": ts,
                           "data": {"job": {"id": f"j{eid}"}}})

    def parquet_files(root):
        return sorted(
            os.path.relpath(os.path.join(d, f), root)
            for d, _, files in os.walk(root)
            for f in files
            if f.endswith(".parquet")
        )

    target = str(tmp_path / "events")
    dlq = str(tmp_path / "dead")
    metrics = StreamMetrics()
    sink = foreach_batch_upsert(
        target, ["event_id"], partition_col="type", metrics=metrics,
        dead_letter_path=dlq,
    )
    sink(batch(event("e1", "job.created"), event("e2", "job.updated")), 0)
    before = sorted(map(tuple, spark.read.parquet(target).collect()))
    files_before = parquet_files(target)

    sink(batch(
        "{not json",
        json.dumps({"type": "job.created", "data": {"job": {"id": "j9"}}}),
        json.dumps({"id": "e9", "type": "job.created", "data": {}}),
        event("e10", "job.created", ts="not-a-date"),
    ), 1)

    assert sorted(map(tuple, spark.read.parquet(target).collect())) == before
    assert parquet_files(target) == files_before
    assert not os.path.exists(dlq)
    assert metrics.errors == []
    assert (metrics.batches, metrics.rows_written) == (2, 2)


# ---------------------------------------------------------------------------
# TIMESTAMP_NTZ regression (round-4 driver breakage: parquet written
# with isAdjustedToUTC=false reads as NTZ, which withWatermark rejects)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ntz_events_dir(spark, sf_dir, tmp_path_factory):
    """events re-written with an explicit TIMESTAMP_NTZ ts column, as a
    single file (so the availableNow drain is one micro-batch and the
    stateful final state equals the batch aggregation)."""
    from pyspark.sql import types as T

    path = str(tmp_path_factory.mktemp("ntz_events"))
    events = load_table(spark, "events", sf_dir).withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    events.repartition(1).write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    assert isinstance(back.schema["ts"].dataType, T.TimestampNTZType)
    return path


def test_ntz_tumbling_watermarked_matches_batch(
    spark, ntz_events_dir, events_batch, tmp_path
):
    """withWatermark over an NTZ stream must not raise (the
    ensure_watermarkable cast) and must not shift values: the complete-
    mode drain equals the batch aggregation on the LTZ original."""
    schema = spark.read.parquet(ntz_events_dir).schema
    stream = read_event_stream(spark, ntz_events_dir, schema)
    run_available_now(
        tumbling_counts(stream, watermark="2 hours"),
        checkpoint=str(tmp_path / "ck"),
        output_mode="complete",
        memory_table="ntz_tumbling",
    )
    got = spark.table("ntz_tumbling")
    want = tumbling_counts(events_batch, watermark=None)
    assert _rows(got, "window_start", "event_type") == _rows(
        want, "window_start", "event_type"
    )


def test_ntz_streaming_dedup_runs(spark, ntz_events_dir, tmp_path):
    schema = spark.read.parquet(ntz_events_dir).schema
    stream = read_event_stream(spark, ntz_events_dir, schema)
    # watermark far wider than the event-time span: no state eviction
    # mid-drain, so output = exact distinct (user_id, event_type) count
    run_available_now(
        streaming_dedup(stream, ["user_id", "event_type"], watermark="365 days"),
        checkpoint=str(tmp_path / "ck"),
        output_mode="append",
        memory_table="ntz_dedup",
    )
    got = spark.table("ntz_dedup").count()
    want = (
        spark.read.parquet(ntz_events_dir)
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert got == want


def test_ntz_running_stats_matches_batch(spark, ntz_events_dir, tmp_path):
    schema = spark.read.parquet(ntz_events_dir).schema
    stream = read_event_stream(spark, ntz_events_dir, schema)
    run_available_now(
        user_running_stats(stream),
        checkpoint=str(tmp_path / "ck"),
        output_mode="update",
        memory_table="ntz_running",
    )
    got = {
        r["user_id"]: (r["n_events"], r["total_value"], r["last_ts"])
        for r in spark.table("ntz_running").collect()
    }
    from hrtech_etl_spark.core.eventtime import ensure_event_time

    batch = ensure_event_time(spark.read.parquet(ntz_events_dir), "ts")
    want = {
        r["user_id"]: (r["n"], round(r["total"], 2), r["last_ts"])
        for r in batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    }
    assert got == want


def test_load_table_normalizes_ntz_events(spark, ntz_events_dir):
    """Batch twin schema parity (ADVICE r4): load_table applies the
    same NTZ→LTZ normalization as the streaming side, so batch and
    streaming pipelines emit identical event-time types."""
    import os

    from pyspark.sql import types as T

    # stage the NTZ parquet dir under the expected <sf>/events.parquet name
    sf_like = os.path.dirname(ntz_events_dir) + "/sf_ntz"
    os.makedirs(sf_like, exist_ok=True)
    dst = os.path.join(sf_like, "events.parquet")
    if not os.path.exists(dst):
        os.symlink(ntz_events_dir, dst)
    df = load_table(spark, "events", sf_like)
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)


def test_ensure_event_time_requires_utc(spark, ntz_events_dir):
    """The NTZ cast is only an identity under a UTC session timezone;
    any other tz must fail loudly instead of shifting event times."""
    from hrtech_etl_spark.core.eventtime import ensure_event_time

    ntz = spark.read.parquet(ntz_events_dir)
    ltz = ensure_event_time(ntz, "ts")  # UTC session: fine
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(ValueError, match="UTC"):
            ensure_event_time(ntz, "ts")
        # already-LTZ input never needs the cast -> no error, unchanged
        assert ensure_event_time(ltz, "ts") is ltz
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_declared_static_enrich_query_streams(spark, sf_dir, tmp_path):
    """The DECLARED stream_static_enrich aggregation — not a
    paraphrase — run with the events side as a real readStream (the
    customer dim stays a static batch frame, joined per micro-batch
    with no state) and drained with availableNow in complete mode must
    equal the declared batch query row-for-row."""
    from hrtech_etl_spark.workload.extensions import (
        static_enrich_agg,
        stream_static_enrich,
    )
    from hrtech_etl_spark.workload.streaming import _staged_event_stream

    customer = load_table(spark, "customer", sf_dir)
    with _staged_event_stream(spark, sf_dir) as stream:
        run_available_now(
            static_enrich_agg(stream, customer),
            checkpoint=str(tmp_path / "ck_enrich_decl"),
            output_mode="complete",
            memory_table="static_enrich_out",
        )
        got = spark.table("static_enrich_out")
        want = stream_static_enrich(spark, sf_dir)
        assert _rows(got, "window_start", "segment") == _rows(
            want, "window_start", "segment"
        )


def test_static_enrich_agg_multi_batch_parity(
    spark, event_stream_dir, events_batch, sf_dir, tmp_path
):
    """static_enrich_agg over FOUR file micro-batches (the per-batch
    dim join runs once per micro-batch; the window aggregation carries
    state across them) must equal the one-shot batch aggregation —
    the stream-static contract under real incremental arrival."""
    from hrtech_etl_spark.workload.extensions import static_enrich_agg

    customer = load_table(spark, "customer", sf_dir)
    stream = _stream_events(spark, event_stream_dir, events_batch)
    run_available_now(
        static_enrich_agg(stream, customer),
        checkpoint=str(tmp_path / "ck_enrich_mb"),
        output_mode="complete",
        memory_table="static_enrich_mb",
    )
    got = spark.table("static_enrich_mb")
    want = static_enrich_agg(events_batch, customer)
    assert _rows(got, "window_start", "segment") == _rows(
        want, "window_start", "segment"
    )


def test_chained_window_agg_stream_matches_batch(spark, sf_dir):
    """The REAL two-stateful-operator append drive (10-min counts
    re-windowed hourly) equals the batch twin; the flush sentinel
    never leaks into output."""
    import datetime

    from hrtech_etl_spark.workload import REGISTRY
    from hrtech_etl_spark.workload.streaming import chained_window_agg

    streamed = REGISTRY["stream_chained_agg"].fn(spark, sf_dir)
    want = chained_window_agg(
        load_table(spark, "events", sf_dir), watermark=None
    )
    key = ["window_start", "event_type"]
    assert _rows(streamed, *key) == _rows(want, *key)
    assert streamed.count() > 0
    # sentinel window (2030) must be withheld by append mode
    mx = streamed.agg(F.max("window_start")).collect()[0][0]
    assert mx.year < 2030


def test_foreach_batch_ewma_replay_safe(spark, tmp_path):
    """Folding is not idempotent, so the sink must skip a replayed
    batch (crash after swap, before checkpoint commit) instead of
    double-smoothing."""
    from datetime import datetime

    from hrtech_etl_spark.streaming.pipelines import foreach_batch_ewma

    sink = foreach_batch_ewma(
        str(tmp_path / "state"), "k", "ts", "v",
        alpha=0.5, order_cols=("i",),
    )
    b0 = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 10.0, 1)],
        "k long, ts timestamp, v double, i long",
    )
    b1 = spark.createDataFrame(
        [(1, datetime(2024, 1, 2), 20.0, 2)],
        "k long, ts timestamp, v double, i long",
    )
    sink(b0, 0)
    sink(b1, 1)
    after = spark.read.parquet(str(tmp_path / "state")).collect()[0]
    assert (after["n_events"], after["ewma"]) == (2, 15.0)
    # replay of the committed batch: must be a no-op
    sink(b1, 1)
    again = spark.read.parquet(str(tmp_path / "state")).collect()[0]
    assert (again["n_events"], again["ewma"]) == (2, 15.0)
    # a NEW batch still folds
    b2 = spark.createDataFrame(
        [(1, datetime(2024, 1, 3), 35.0, 3)],
        "k long, ts timestamp, v double, i long",
    )
    sink(b2, 2)
    final = spark.read.parquet(str(tmp_path / "state")).collect()[0]
    assert (final["n_events"], final["ewma"]) == (3, 25.0)
