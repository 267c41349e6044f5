"""Join operators beyond plain ``df.join``: as-of, bucketed range,
interval overlap and last-wins dedup.

The reference's only join is a driver-side hash-map probe of events
against fetched resources (``core/pipeline.py:127-167``); everything
here is its distributed generalization plus the §2.10 extension set.

Scale notes
-----------
- Equi-joins shuffle both sides on the key unless one side is
  broadcast; AQE converts to broadcast at runtime when the built side
  is small.
- The as-of join is implemented as *union + window* rather than a
  range join: a range join on ``l.ts >= r.ts`` explodes to O(n·m) per
  key before aggregation, while union+window is one shuffle on
  (key, time) and a linear scan per key — the strategy that survives
  100TB with skewed keys.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_time: str,
    right_time: str,
    right_values: Sequence[str],
    direction: str = "backward",
    right_on: str | None = None,
) -> DataFrame:
    """As-of join: for each left row, attach the most recent right row
    at or before its timestamp (``backward``; ``forward`` = earliest at
    or after), matching on ``on``.

    Implemented as union + last-value window (single shuffle on
    ``(on, time)``, no row explosion — see module docstring). Right
    timestamp ties resolve to the row latest in the union order, which
    is deterministic because we tag sides and order by (time, side).

    The DuckDB oracle equivalent is ``ASOF JOIN``.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    right_on = right_on or on

    lcols = left.columns
    tagged_left = left.select(
        F.col(on).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__side"),
        F.struct(*lcols).alias("__l"),
        *[F.lit(None).cast(right.schema[v].dataType).alias(f"__r_{v}") for v in right_values],
    )
    tagged_right = right.select(
        F.col(right_on).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(
            tagged_left.schema["__l"].dataType
        ).alias("__l"),
        *[F.col(v).alias(f"__r_{v}") for v in right_values],
    )
    unioned = tagged_left.unionByName(tagged_right)

    if direction == "backward":
        # right rows sort before left rows at equal time → "at or before"
        w = W.partitionBy("__k").orderBy(F.col("__t").asc(), F.col("__side").asc())
        frame = w.rowsBetween(W.unboundedPreceding, 0)
    else:
        w = W.partitionBy("__k").orderBy(F.col("__t").desc(), F.col("__side").asc())
        frame = w.rowsBetween(W.unboundedPreceding, 0)

    filled = unioned.select(
        "__side",
        "__l",
        *[
            F.last(f"__r_{v}", ignorenulls=True).over(frame).alias(f"__rf_{v}")
            for v in right_values
        ],
    )
    out = filled.where(F.col("__side") == 1).select(
        *[F.col("__l")[c].alias(c) for c in lcols],
        *[F.col(f"__rf_{v}").alias(v) for v in right_values],
    )
    return out


def bucketed_range_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_point: Column,
    right_start: Column,
    right_end: Column,
    bucket_seconds: int,
    how_filter: Column | None = None,
) -> DataFrame:
    """Pure range join (NO equi key): left points in right intervals.

    Without an equi conjunct Catalyst can only plan
    BroadcastNestedLoopJoin — O(|L|·|R|) and a broadcast of a whole
    side. The scale rewrite: quantize time into ``bucket_seconds``
    buckets, explode each right interval to every bucket it covers,
    bucket each left point, equi-join on the bucket, then apply the
    exact range predicate. Each (l, r) pair meets in exactly ONE
    bucket (the left point's), so no post-join dedup is needed. Cost
    becomes one shuffle on bucket + per-bucket products — choose
    ``bucket_seconds`` near the median interval length so explosion
    stays O(1) per interval.
    """
    lb = F.floor(left_point.cast("long") / bucket_seconds).alias("__bucket")
    l2 = left.withColumn("__bucket", lb)
    r2 = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(right_start.cast("long") / bucket_seconds),
                F.floor(right_end.cast("long") / bucket_seconds),
            )
        ),
    )
    joined = l2.join(r2, "__bucket").where(
        (left_point >= right_start) & (left_point <= right_end)
    )
    if how_filter is not None:
        joined = joined.where(how_filter)
    return joined.drop("__bucket")


def last_wins_dedup(df: DataFrame, key: str, order_cols: Sequence[Column]) -> DataFrame:
    """Keep the last row per key under a total order — the reference's
    implicit dict-overwrite dedup (``core/pipeline.py:141-143``) made
    explicit and deterministic. ``order_cols`` must be a total order
    (include a unique id as final tiebreak)."""
    w = W.partitionBy(key).orderBy(*[c.desc() for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_start: Column,
    left_end: Column,
    right_start: Column,
    right_end: Column,
    bucket_seconds: int,
    extra_on: Column | None = None,
) -> DataFrame:
    """Interval×interval OVERLAP join (half-open semantics:
    ``l.start < r.end AND r.start < l.end``) — the temporal/genomic
    overlap join Spark has no native operator for. Same grid idea as
    :func:`bucketed_range_join`, extended to two interval sides: both
    sides explode to the grid cells they cover and equi-join on the
    cell, which bounds the pair space to per-cell products.

    The duplicate problem — an overlapping pair shares EVERY cell the
    overlap region spans — is solved without a distinct: a pair is
    accepted only in the cell containing ``greatest(l.start,
    r.start)``, a point every truly-overlapping pair covers in both
    intervals, so each pair survives in EXACTLY one cell. No post-join
    dedup exchange, one shuffle on (cell, extra key).
    """
    cell_l = F.explode(
        F.sequence(
            F.floor(left_start / bucket_seconds).cast("long"),
            F.floor(left_end / bucket_seconds).cast("long"),
        )
    )
    cell_r = F.explode(
        F.sequence(
            F.floor(right_start / bucket_seconds).cast("long"),
            F.floor(right_end / bucket_seconds).cast("long"),
        )
    )
    l2 = left.withColumn("__cell", cell_l)
    r2 = right.withColumn("__cell", cell_r)
    anchor = (
        F.floor(F.greatest(left_start, right_start) / bucket_seconds)
        .cast("long")
    )
    cond = (
        (l2["__cell"] == r2["__cell"])
        & (left_start < right_end)
        & (right_start < left_end)
        & (l2["__cell"] == anchor)
    )
    if extra_on is not None:
        cond = cond & extra_on
    return l2.join(r2, cond).drop("__cell")
