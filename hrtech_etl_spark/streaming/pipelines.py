"""Structured Streaming pipelines over the event surface.

The reference's streaming story is a batch-simulated micro-batch loop
(``core/pipeline.py:121-178``: chunk events → fetch → join → filter →
write, with per-chunk error capture). Here it is real Structured
Streaming: ``readStream`` → parse/normalize → stateful transformations
→ ``writeStream``; watermarks bound state; ``foreachBatch`` provides
the upsert sink + per-batch error containment the reference got from
its try/except loop.

Batch/stream parity: the window aggregations below are the SAME
expressions as the batch-declared queries in
:mod:`hrtech_etl_spark.workload.streaming` — ``window()`` /
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
# Windowed aggregations (same expressions as the batch twins)
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


RUNNING_STATS_SCHEMA = _running_stats_schema("user_id")

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


def user_running_stats_tws(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    watermark: str | None = "2 hours",
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """The same running-stats contract as :func:`user_running_stats`,
    on Spark 4's ``transformWithStateInPandas`` — the current-generation
    arbitrary-stateful API (``StatefulProcessor`` + typed ``ValueState``,
    with timers/TTL available on the handle) that supersedes
    ``applyInPandasWithState``. Kept alongside the legacy operator so
    both stateful surfaces stay exercised.

    Requires the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass``) and the
    ``protobuf`` package (the transformWithState state protocol speaks
    protobuf between the JVM and the Python workers). This sandbox has
    neither protobuf nor pip, so the test suite skips the drive when
    ``google.protobuf`` is missing — on a real cluster both ship with
    the standard PySpark requirements.
    """
    import pandas as pd  # local import: executors only

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("stats", _RUNNING_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            n, total, last_ts = 0, 0.0, None
            if self._state.exists():
                n, total, last_ts = self._state.get()
            for pdf in rows:
                n += len(pdf)
                total += float(pdf[value_col].sum())
                # NaT guard — same rationale as user_running_stats
                batch_max = pdf[ts_col].max()
                if pd.notna(batch_max) and (last_ts is None or batch_max > last_ts):
                    last_ts = batch_max
            self._state.update((n, total, last_ts))
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 2)],
                    "last_ts": [last_ts],
                }
            )

        def close(self) -> None:
            pass

    if watermark:
        events = ensure_watermarkable(events, ts_col).withWatermark(ts_col, watermark)
    return events.groupBy(key_col).transformWithStateInPandas(
        RunningStats(),
        outputStructType=_running_stats_schema(key_col),
        outputMode="Update",
        timeMode="None",
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


def _sign_probe_dedup_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    sig_store_path: str,
    *,
    text_col: str,
    id_col: str,
    threshold: float,
    num_hashes: int,
    rows_per_band: int,
    shingle_k: int,
):
    """Shared per-micro-batch core of the signature-store ingest
    sinks (:func:`foreach_batch_signature_dedup` and
    :func:`foreach_batch_corpus_ingest`): sign the batch, probe the
    persisted store's strictly-earlier batches through the asymmetric
    :func:`~hrtech_etl_spark.functions.dedup.signature_probe_pairs`
    (store never shuffled, batch bands broadcast), then near-dedup
    the survivors among themselves (a doc drops iff it estimates
    ``>= threshold`` against a LOWER-ID store-probe survivor —
    deterministic, non-transitive by design). Returns ``(kept_docs,
    kept_sig, all_drop)``; ``all_drop`` (the dropped ids, eagerly
    checkpointed, bounded by batch size) feeds both anti-joins and
    the callers' metrics; ``kept_sig`` is the batch's SURVIVING
    signatures — what the callers append to the store, so dropped
    dups never land. ``batch_df`` must already be persisted by the
    caller."""
    from pyspark.errors import AnalysisException

    from hrtech_etl_spark.functions.dedup import (
        merged_signature_pairs,
        minhash_signature_table,
        read_signature_table,
        signature_probe_pairs,
    )

    bsig = minhash_signature_table(
        batch_df, text_col, id_col,
        num_hashes=num_hashes, shingle_k=shingle_k,
    ).localCheckpoint(eager=True)
    dropped = None
    try:
        stored = read_signature_table(
            spark, sig_store_path, id_col=id_col,
            num_hashes=num_hashes, shingle_k=shingle_k,
            extra_cols=("batch",),
        ).where(F.col("batch") < batch_id).drop("batch")
    except AnalysisException as e:
        # bootstrap: the store path is absent (PATH_NOT_FOUND),
        # OR it holds only the _temporary debris of a crashed
        # FIRST write (no committed parquet footer anywhere ->
        # UNABLE_TO_INFER_SCHEMA). Both mean "no earlier batch
        # committed" and the probe is skipped; once ANY batch
        # has committed, later-crash debris is a _-prefixed dir
        # the reader's file index hides, so this branch can
        # never swallow a store that has real data. A
        # directory-existence check here was the round-15
        # review's confirmed wedge: the debris dir counted as
        # data and every replay failed on schema inference.
        # ONLY those two conditions bootstrap — any other
        # analysis failure (permissions, a corrupted or foreign
        # schema, a mis-set extra_cols) re-raises so the batch
        # fails loudly instead of silently ingesting
        # near-duplicates with the probe skipped.
        cond = (
            getattr(e, "getCondition", None)
            or getattr(e, "getErrorClass", None)
        )
        cond = cond() if cond is not None else None
        if cond not in (
            "PATH_NOT_FOUND",
            "UNABLE_TO_INFER_SCHEMA",
        ) and not (
            cond is None
            and (
                "PATH_NOT_FOUND" in str(e)
                or "UNABLE_TO_INFER_SCHEMA" in str(e)
            )
        ):
            raise
        stored = None
    if stored is not None:
        hit = signature_probe_pairs(
            stored, bsig, id_col, threshold=threshold,
            num_hashes=num_hashes, rows_per_band=rows_per_band,
        )
        dropped = hit.select(
            F.col("batch_id").alias(id_col)
        ).distinct()
        surv = bsig.join(dropped, id_col, "left_anti")
    else:
        surv = bsig
    within = merged_signature_pairs(
        [surv], id_col, threshold=threshold,
        num_hashes=num_hashes, rows_per_band=rows_per_band,
        cross_shard_only=False,
    )
    drop2 = within.select(F.col("id_b").alias(id_col)).distinct()
    all_drop = (
        drop2 if dropped is None
        else dropped.unionByName(drop2).distinct()
    ).localCheckpoint(eager=True)  # bounded by batch size
    kept_docs = batch_df.join(all_drop, id_col, "left_anti")
    kept_sig = bsig.join(all_drop, id_col, "left_anti")
    return kept_docs, kept_sig, all_drop


def foreach_batch_signature_dedup(
    sig_store_path: str,
    clean_path: str,
    text_col: str,
    id_col: str,
    *,
    threshold: float = 0.5,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_k: int = 2,
    metrics: StreamMetrics | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: STREAMING near-dup ingest over the mergeable
    signature tables — the streaming sibling of
    ``functions/dedup.py::drop_near_duplicates_incremental``, for the
    federated regime where even hashed shingle sets are too heavy to
    keep and only the 64-byte-per-doc signature store persists.

    Per micro-batch: (1) sign the batch
    (:func:`~hrtech_etl_spark.functions.dedup.minhash_signature_table`);
    (2) probe the PERSISTED signature store through the asymmetric
    :func:`~hrtech_etl_spark.functions.dedup.signature_probe_pairs` —
    the store-side band projection stays a scan-side map and the
    batch's bands broadcast, so the store is NEVER shuffled (the
    zero-corpus-shuffle contract, per batch); any batch doc estimating
    ``>= threshold`` against a stored doc drops; (3) within-batch
    dedup among the survivors: a doc drops iff it estimates
    ``>= threshold`` against a LOWER-ID survivor (banded candidates,
    same estimator — deterministic, non-transitive by design: B
    dropping for A does not resurrect C who only matched B); (4) the
    kept docs and their signatures (via
    :func:`~hrtech_etl_spark.functions.dedup.write_signature_table`)
    land as the batch's own ``batch=<id>`` partition under
    ``clean_path`` / ``sig_store_path``, so the NEXT batch probes
    against them — the growing-index lifecycle. Docs with no shingles
    (hence no signature) can never match and are always kept.

    Batch order is the dedup order — earlier-ingested docs win keeps —
    which is exactly the file-source oldest-first feed discipline
    ``foreach_batch_ewma`` documents. Replay safety (appends are not
    idempotent, so neither naive layout survives a crash between the
    two writes): both outputs are laid out PER BATCH
    (``.../batch=<id>/``, written with overwrite — a replay rewrites
    its own subdirectories bit-identically) and the probe reads ONLY
    strictly-earlier batches through the discovered partition column,
    so a replayed batch re-sees exactly the pre-batch store no matter
    where the crash landed. Exceptions re-raise so the checkpoint does
    not commit and the batch replays.

    ``id_col`` is IDENTITY, and each micro-batch is expected to carry
    ONE row per id. Same-id rows within a batch are deliberately never
    deduped against each other (the ordered pair rule needs ``id_a <
    id_b``, so same-id rows cannot form a pair) — they are kept or
    dropped together by the store-probe/within-batch verdict on that
    id, and ``metrics.rows_written`` (physical batch rows minus
    DISTINCT dropped ids) is exact only under the one-row-per-id
    contract. A source whose ids can repeat within a batch must
    pre-aggregate to one row per id upstream — two texts under one id
    is an upstream identity bug this sink must not paper over by
    silently keeping one.
    """
    from hrtech_etl_spark.functions.dedup import write_signature_table

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df.persist()
        try:
            kept_docs, kept_sig, all_drop = _sign_probe_dedup_batch(
                spark, batch_df, batch_id, sig_store_path,
                text_col=text_col, id_col=id_col, threshold=threshold,
                num_hashes=num_hashes, rows_per_band=rows_per_band,
                shingle_k=shingle_k,
            )
            kept_docs.write.mode("overwrite").parquet(
                f"{clean_path}/batch={batch_id}"
            )
            write_signature_table(
                kept_sig, f"{sig_store_path}/batch={batch_id}",
                id_col=id_col, num_hashes=num_hashes,
                shingle_k=shingle_k, mode="overwrite",
            )
            if metrics is not None:
                metrics.batches += 1
                # kept = batch - drops, from the two already-
                # materialized frames (batch_df persisted, all_drop
                # eagerly checkpointed; all_drop is a distinct subset
                # of batch ids) — re-counting kept_docs would re-run
                # the anti-join the write just executed
                metrics.rows_written += batch_df.count() - all_drop.count()
        finally:
            batch_df.unpersist()

    return sink


def foreach_batch_corpus_ingest(
    sig_store_path: str,
    clean_path: str,
    text_col: str,
    id_col: str,
    *,
    threshold: float = 0.5,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_k: int = 2,
    quality_min: float = 0.0,
    redact: bool = True,
    chunk_chars: int = 2000,
    chunk_overlap: int = 200,
    metrics: StreamMetrics | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: a STREAMING slice of the training-corpus
    capstone (``operators/corpus.py::prepare_training_corpus``) — the
    micro-batch ingest loop a crawl feed runs continuously, where the
    batch pipeline runs once over a finished snapshot. Per micro-batch
    it composes the capstone's per-row-commutative stages around the
    growing signature store:

    1. sign → probe strictly-earlier batches → within-batch dedup —
       the :func:`foreach_batch_signature_dedup` core (shared
       ``_sign_probe_dedup_batch``: store never shuffled, batch bands
       broadcast, greedy non-transitive within-batch rule);
    2. the signature store grows with ALL dedup survivors — BEFORE
       the quality gate, matching the batch capstone's stage order
       (near-dup → external drop → … → quality): a quality-rejected
       doc's near-copies must not re-enter through a later batch;
    3. kept docs then flow through the capstone's per-doc stages:
       ``quality_score >= quality_min`` → PII redaction →
       ``chunk_documents`` windows with whitespace ``token_count``;
    4. chunks land as the batch's own ``batch=<id>`` partition under
       ``clean_path``.

    The per-row stages (quality/redact/chunk) commute with the batch
    split — running them per micro-batch yields exactly the rows the
    batch pipeline would produce over the union of kept docs — so the
    only order-dependent state is the signature store, and that is
    the part the greedy-rounds oracle locks. Packing/sharding is
    deliberately NOT here: it is a global arrangement over a finished
    corpus (an offline pass over the accumulated ``clean_path``), not
    a property of any one micro-batch.

    Replay safety is the signature sink's, unchanged: BOTH outputs
    are per-batch ``batch=<id>`` partitions written with overwrite,
    the probe reads only strictly-earlier batches, and the bootstrap
    catch is narrowed to PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA.
    ``id_col`` is identity with one row per id per batch (see
    :func:`foreach_batch_signature_dedup`); ``metrics.rows_written``
    counts CHUNKS written (the sink's actual output rows).
    """
    from hrtech_etl_spark.functions import text as tx
    from hrtech_etl_spark.functions.dedup import write_signature_table
    from hrtech_etl_spark.operators.corpus import chunk_documents

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df.persist()
        try:
            kept_docs, kept_sig, _drop = _sign_probe_dedup_batch(
                spark, batch_df, batch_id, sig_store_path,
                text_col=text_col, id_col=id_col, threshold=threshold,
                num_hashes=num_hashes, rows_per_band=rows_per_band,
                shingle_k=shingle_k,
            )
            write_signature_table(
                kept_sig, f"{sig_store_path}/batch={batch_id}",
                id_col=id_col, num_hashes=num_hashes,
                shingle_k=shingle_k, mode="overwrite",
            )
            docs = kept_docs.where(
                tx.quality_score(F.col(text_col)) >= quality_min
            )
            if redact:
                docs = docs.withColumn(
                    text_col, tx.redact_pii(F.col(text_col))
                )
            chunks = chunk_documents(
                docs, text_col, id_col,
                max_chars=chunk_chars, overlap=chunk_overlap,
            ).withColumn("n_tokens", tx.token_count(F.col("chunk_text")))
            if metrics is not None:
                # materialize ONCE (bounded by batch size x chunks/
                # doc): the write AND the rows_written count below
                # would otherwise each re-run the probe/dedup/quality/
                # chunk lineage. Without metrics the write is the only
                # consumer — skip the extra materialization.
                chunks = chunks.localCheckpoint(eager=True)
            chunks.write.mode("overwrite").parquet(
                f"{clean_path}/batch={batch_id}"
            )
            if metrics is not None:
                metrics.batches += 1
                metrics.rows_written += chunks.count()
        finally:
            batch_df.unpersist()

    return sink
