"""Structured Streaming pipelines over the event surface.

The reference's streaming story is a batch-simulated micro-batch loop
(``core/pipeline.py:121-178``: chunk events → fetch → join → filter →
write, with per-chunk error capture). Here it is real Structured
Streaming: ``readStream`` → parse/normalize → stateful transformations
→ ``writeStream``; watermarks bound state; ``foreachBatch`` provides
the upsert sink + per-batch error containment the reference got from
its try/except loop.

Batch/stream parity: the declared window queries in
:mod:`hrtech_etl_spark.workload.streaming` call the window
aggregations below with ``watermark=None`` — ``window()`` /
``session_window()`` semantics are identical over batch and streaming
DataFrames, so tests assert a streaming run (availableNow trigger)
equals the batch result on the same input.

Scale notes: watermark + windowed aggregation keeps state bounded by
(keys × windows inside the watermark), not by stream length; dedup
state is bounded by ``dropDuplicatesWithinWatermark``; the foreachBatch
upsert is the set-based MERGE from
:mod:`hrtech_etl_spark.operators.upsert` (partition-scoped rewrite),
never per-row writes.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hrtech_etl_spark.core.eventtime import ensure_event_time
from hrtech_etl_spark.operators.events import normalize_event_type
from hrtech_etl_spark.operators.upsert import merge_upsert


def ensure_watermarkable(events: DataFrame, ts_col: str) -> DataFrame:
    """Cast a TIMESTAMP_NTZ event-time column to TIMESTAMP (LTZ) —
    ``withWatermark`` rejects NTZ, which is how parquet written without
    timezone metadata (isAdjustedToUTC=false) reads under Spark 4's
    type inference. Delegates to :func:`core.eventtime.ensure_event_time`,
    the SAME normalization ``load_table`` applies on the batch side, so
    batch and streaming twins emit identical schemas; it asserts the
    session timezone is UTC before casting (a non-UTC session would
    silently shift every window boundary)."""
    return ensure_event_time(events, ts_col)


# ---------------------------------------------------------------------------
# Sources
# ---------------------------------------------------------------------------

def read_event_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source event stream: each new file under ``path`` becomes
    (part of) a micro-batch. File sources are replayable — exactly-once
    with checkpointing, the Spark analog of the reference's resumable
    cursor. ``maxFilesPerTrigger`` is the back-pressure knob standing
    in for the reference's ``batch_size`` (``core/pipeline.py:27``)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def parse_event_stream(
    raw: DataFrame,
    json_col: str,
    event_schema: T.StructType,
    type_map: Mapping[str, str] | None = None,
) -> DataFrame:
    """Raw JSON payload stream → typed, normalized event stream.

    Permissive ``from_json`` + drop-malformed (the reference's
    ``from_payload`` → None path, ``connectors/warehouse_a/models.py:
    163-215``) and unknown-type → ``upserted`` normalization."""
    parsed = raw.select(F.from_json(F.col(json_col), event_schema).alias("e"))
    # PERMISSIVE from_json yields an all-null struct (not a null struct)
    # for malformed input — drop rows with no successfully parsed field.
    any_parsed = None
    for f in event_schema.fields:
        c = F.col("e").getField(f.name).isNotNull()
        any_parsed = c if any_parsed is None else (any_parsed | c)
    events = parsed.where(F.col("e").isNotNull() & any_parsed).select("e.*")
    if "event_type" in events.columns:
        events = events.withColumn(
            "event_type", normalize_event_type(F.col("event_type"), type_map)
        )
    return events


# ---------------------------------------------------------------------------
# Windowed aggregations (batch and streaming alike)
# ---------------------------------------------------------------------------

def tumbling_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str | None = "2 hours",
    group_cols: Sequence[str] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Tumbling-window count + decimal-exact sum. With a watermark the
    state store evicts windows older than (max event time - watermark);
    late rows beyond it are dropped — the late-data policy the
    reference lacks entirely."""
    if watermark:
        events = ensure_watermarkable(events, ts_col).withWatermark(ts_col, watermark)
    win = F.window(ts_col, window)
    return (
        events.groupBy(win.alias("w"), *[F.col(c) for c in group_cols])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col(value_col).cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), *group_cols, "n", "total_value")
    )


def sliding_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str | None = "2 hours",
    value_col: str = "value",
) -> DataFrame:
    if watermark:
        events = ensure_watermarkable(events, ts_col).withWatermark(ts_col, watermark)
    win = F.window(ts_col, window, slide)
    return (
        events.groupBy(win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col(value_col).cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "total_value")
    )


def session_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str | None = "2 hours",
    key_col: str = "user_id",
) -> DataFrame:
    """Session windows (gap-merged). Streaming requires a watermark —
    sessions can only close once the watermark passes their gap."""
    if watermark:
        events = ensure_watermarkable(events, ts_col).withWatermark(ts_col, watermark)
    sw = F.session_window(ts_col, gap)
    return (
        events.groupBy(F.col(key_col), sw.alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_dedup(
    events: DataFrame,
    keys: Sequence[str],
    *,
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stateful dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps one row per key and evicts
    key state once the watermark passes — the streaming analog of the
    batch first-occurrence dedup (workload ``stream_dedup_first``)."""
    return (
        ensure_watermarkable(events, ts_col)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(list(keys))
    )


# ---------------------------------------------------------------------------
# Custom stateful operator (applyInPandasWithState)
# ---------------------------------------------------------------------------

def _running_stats_schema(key_col: str) -> T.StructType:
    return T.StructType(
        [
            T.StructField(key_col, T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
            T.StructField("last_ts", T.TimestampType()),
        ]
    )


_RUNNING_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("last_ts", T.TimestampType()),
    ]
)


def user_running_stats(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    watermark: str | None = "2 hours",
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful operator: per-user running (count, sum, last
    event time) maintained across micro-batches via
    ``applyInPandasWithState`` — the escape hatch for operators Spark's
    built-in aggregations can't express (reference analog: none; this
    is the §2.10 'custom stateful' extension point). Emits the updated
    running stats for every user seen in each micro-batch."""
    import pandas as pd  # local import: executors only

    def update(key, pdf_iter, state):
        n, total, last_ts = 0, 0.0, None
        if state.exists:
            n, total, last_ts = state.get
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf[value_col].sum())
            # pandas max() over an all-null column is NaT, not None: an
            # unguarded `last_ts is None` check would store NaT, and
            # every later `> NaT` comparison is False — the state would
            # stick at NaT even after real timestamps arrive.
            batch_max = pdf[ts_col].max()
            if pd.notna(batch_max) and (last_ts is None or batch_max > last_ts):
                last_ts = batch_max
        state.update((n, total, last_ts))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "n_events": [n],
                "total_value": [round(total, 2)],
                "last_ts": [last_ts],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    if watermark:
        events = ensure_watermarkable(events, ts_col).withWatermark(ts_col, watermark)
    return (
        events.groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=_running_stats_schema(key_col),
            stateStructType=_RUNNING_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Sinks
# ---------------------------------------------------------------------------

@dataclass
class StreamMetrics:
    """Per-batch accounting, the streaming PushResult (reference
    ``core/types.py:74-80``): populated by the foreachBatch sink."""

    batches: int = 0
    rows_written: int = 0
    errors: list[str] = field(default_factory=list)


def foreach_batch_upsert(
    target_path: str,
    key_cols: Sequence[str],
    *,
    order_cols: Sequence[Column] | None = None,
    partition_col: str | None = None,
    metrics: StreamMetrics | None = None,
    dead_letter_path: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: set-based MERGE of each micro-batch into a
    parquet target, with the reference's per-batch error containment
    (``core/pipeline.py:130-135``): with a ``dead_letter_path``, a
    failing batch is captured to the dead-letter dataset and the stream
    continues. WITHOUT one, the exception re-raises so the checkpoint
    does NOT commit the failed batch and the restarted stream reprocesses
    it (exactly-once) — swallowing it would be silent data loss.

    The batch is persisted before the merge so the dead-letter write
    stores the rows that actually failed instead of recomputing (and
    possibly re-failing) the batch plan. Each failed batch overwrites
    its own ``<dead_letter_path>/batch=<batch_id>`` partition, so a
    replay the checkpoint did not commit rewrites that batch's dead
    letters instead of adding them twice.

    With ``partition_col``, a key's partition value must never change
    across batches (see :func:`merge_upsert`)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            n = batch_df.count()
            merge_upsert(
                batch_df.sparkSession,
                target_path,
                batch_df,
                key_cols,
                order_cols=order_cols,
                partition_col=partition_col,
            )
            if metrics is not None:
                metrics.batches += 1
                metrics.rows_written += n
        except Exception as exc:  # noqa: BLE001 — containment is the contract
            if metrics is not None:
                metrics.errors.append(f"batch {batch_id}: {exc}")
            if dead_letter_path is None:
                raise  # fail the batch → checkpoint not committed → retried
            batch_df.write.mode("overwrite").parquet(
                f"{dead_letter_path.rstrip('/')}/batch={batch_id}"
            )
        finally:
            batch_df.unpersist()

    return sink


def run_available_now(
    df: DataFrame,
    *,
    checkpoint: str,
    output_mode: str = "append",
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    memory_table: str | None = None,
    timeout_sec: int = 120,
):
    """Drain everything currently available then stop (the
    Trigger.AvailableNow pattern) — incremental batch processing with
    streaming exactly-once semantics; also how tests run streams
    deterministically."""
    writer = df.writeStream.option("checkpointLocation", checkpoint).trigger(
        availableNow=True
    )
    if foreach_batch is not None:
        q = writer.outputMode(output_mode).foreachBatch(foreach_batch).start()
    elif memory_table is not None:
        q = (
            writer.format("memory")
            .queryName(memory_table)
            .outputMode(output_mode)
            .start()
        )
    else:
        raise ValueError("need foreach_batch or memory_table")
    if not q.awaitTermination(timeout_sec):
        # fail LOUDLY: returning the still-running query let callers
        # race it (read a half-written sink, count too few batches and
        # report a misleading logic failure) while the orphan kept
        # writing into the shared session
        q.stop()
        raise TimeoutError(
            f"run_available_now: stream did not drain within "
            f"{timeout_sec}s (query stopped)"
        )
    return q


def foreach_batch_scd2(
    dim_path: str,
    key_col: str,
    attr_cols: Sequence[str],
    ts_col: str,
    *,
    tiebreak_col: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink maintaining an SCD Type-2 dimension from a
    change stream: each micro-batch folds through
    ``operators/scd.py::scd2_merge`` against the parquet dimension at
    ``dim_path`` (created on the first batch via the full rebuild).

    The CDC-to-dimension pipeline: late updates within a batch are
    versioned, cross-batch late updates (at or before the current
    version's start) are dropped by the merge's contract, and the
    batch-fold equivalence guarantees the final table equals the full
    rebuild of the whole stream — proven across REAL multi-micro-batch
    drains in tests/test_streaming_scd2.py.

    Single-writer assumption (same as ``merge_upsert``): one stream
    owns ``dim_path``. Crash safety reuses merge_upsert's hardened
    helpers: ``_dataset_exists`` distinguishes a real dimension from
    half-written ``_temporary`` debris (a failed bootstrap write must
    re-bootstrap, not route into a doomed merge), and the swap renames
    the live table to ``.__old`` BEFORE renaming the staged copy in —
    a crash mid-swap leaves the history in ``.__old``, restored by the
    recovery check on the replayed batch, never silently rebuilt from
    one micro-batch.
    """
    from hrtech_etl_spark.operators.scd import scd2_from_changes, scd2_merge
    from hrtech_etl_spark.operators.upsert import (
        _dataset_exists,
        _recover_swap,
        _swap_in,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        target = dim_path.rstrip("/")
        _recover_swap(spark, target)
        if not _dataset_exists(spark, target):
            dim = scd2_from_changes(
                batch_df, key_col, list(attr_cols), ts_col,
                tiebreak_col=tiebreak_col,
            )
            dim.write.mode("overwrite").parquet(target)
            return
        dim = spark.read.parquet(target)
        merged = scd2_merge(
            dim, batch_df, key_col, list(attr_cols), ts_col,
            tiebreak_col=tiebreak_col,
        )
        tmp = target + ".__tmp"
        merged.write.mode("overwrite").parquet(tmp)
        _swap_in(spark, tmp, target)

    return sink


def foreach_batch_ewma(
    state_path: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    alpha: float = 0.15,
    order_cols: Sequence[str] = (),
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink maintaining a per-key EWMA state table — the
    incremental-materialization form of
    ``operators/timeseries.py::ewma``: each micro-batch folds its rows
    (time-ordered within the batch) on top of the stored smoother
    value, so the state after the last batch is BIT-EQUAL to the batch
    recursion over the whole history. Per-key state is two numbers
    (ewma, n_events) — the O(keys) footprint that makes a 100 TB
    backfill resumable instead of recomputed.

    Contract: micro-batches must arrive time-ordered PER KEY (the
    FileStreamSource oldest-first feed over time-sliced files, or any
    log-ordered source) — unlike the upsert/SCD2 sinks, EWMA folding
    is order-DEPENDENT and a late row cannot be retro-folded; feed
    discipline is the price of O(1) state. Uses the same staged-swap
    crash machinery as the other sinks (a crash mid-swap recovers from
    ``.__old`` on the replayed batch).

    Replay safety: folding is NOT idempotent (a MERGE replayed on its
    own output is a no-op; a fold applied twice double-smooths), so
    the state table carries the id of the last applied batch and the
    sink SKIPS any batch at or below it — the transactional-sink
    batch-id protocol Structured Streaming expects of exactly-once
    foreachBatch writers. A batch that crashed after the swap but
    before the checkpoint commit replays as a no-op instead of
    corrupting the smoother.
    """
    import pandas as pd

    from hrtech_etl_spark.operators.upsert import (
        _dataset_exists,
        _recover_swap,
        _swap_in,
    )

    one_minus = 1.0 - alpha
    sort_cols = [ts_col, *order_cols]

    import numpy as np

    def _fold_seeded_batch(seqs, seeds):
        # pd.Series of (value array, seed double) -> pd.Series double.
        # One Arrow batch folds thousands of keys — the per-GROUP
        # applyInPandas form paid one Python kernel call per key
        # (round-11 rewrite, same as operators/timeseries.py::ewma)
        out = np.empty(len(seqs), dtype="float64")
        for i, (arr, seed) in enumerate(zip(seqs, seeds)):
            vals = np.asarray(arr, dtype="float64")
            if pd.isna(seed):
                e, rest = vals[0], vals[1:]
            else:
                e, rest = float(seed), vals
            for x in rest:
                e = one_minus * e + alpha * x
            out[i] = e
        return pd.Series(out)

    _fold_seeded = F.pandas_udf(_fold_seeded_batch, "double")

    def _fold_updates(joined: DataFrame) -> DataFrame:
        # per-key history assembled JVM-side in (ts, *order) order
        # (ties beyond the order columns break by value — the same
        # total-order contract as the batch operator), seed carried
        # as a key-functional first(); the sequential fold runs in
        # ONE Arrow-vectorized pass
        seq = joined.groupBy(key_col).agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        *[F.col(c).alias(f"__s{i}") for i, c in enumerate(sort_cols)],
                        F.col(value_col).alias("__v"),
                    )
                )
            ).alias("__seq"),
            F.first("__seed").alias("__seed"),
            F.first("__seed_n").alias("__seed_n"),
        )
        return seq.select(
            F.col(key_col),
            (
                F.coalesce(F.col("__seed_n"), F.lit(0))
                + F.size("__seq")
            ).cast("bigint").alias("n_events"),
            _fold_seeded(
                F.transform("__seq", lambda s: s["__v"]), F.col("__seed")
            ).alias("ewma"),
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        target = state_path.rstrip("/")
        _recover_swap(spark, target)
        batch = batch_df.where(
            F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
        ).select(key_col, *sort_cols, value_col)
        has_state = _dataset_exists(spark, target)
        if has_state:
            state = spark.read.parquet(target)
            # replay guard: folding is not idempotent — skip batches
            # already applied (crash after swap, before checkpoint)
            last = state.agg(F.max("__batch_id")).collect()[0][0]
            if last is not None and batch_id <= last:
                return
            seeds = state.select(
                key_col,
                F.col("ewma").alias("__seed"),
                F.col("n_events").alias("__seed_n"),
            )
            joined = batch.join(seeds, key_col, "left")
        else:
            joined = batch.withColumn(
                "__seed", F.lit(None).cast("double")
            ).withColumn("__seed_n", F.lit(None).cast("bigint"))
        updated = _fold_updates(joined).withColumn(
            "__batch_id", F.lit(batch_id).cast("bigint")
        )
        if not has_state:
            # bootstrap: no live table to swap out yet
            updated.write.mode("overwrite").parquet(target)
            return
        untouched = state.join(
            batch.select(key_col).distinct(), key_col, "left_anti"
        ).withColumn("__batch_id", F.lit(batch_id).cast("bigint"))
        updated = updated.unionByName(
            untouched.select(*updated.columns)
        )
        staged = target + ".__tmp"
        updated.write.mode("overwrite").parquet(staged)
        _swap_in(spark, staged, target)

    return sink
