"""Pull/push pipelines as declarative DataFrame plans.

The reference's ``pull()`` (``core/pipeline.py:18-77``) is a
single-threaded batch loop: scan a page → postfilter → format → write →
advance cursor. On Spark the loop disappears — one DataFrame plan
covers the whole range, partitions replace pages, and the cursor
checkpoint is an ``agg(max(...))`` over the scanned slice:

    read source
      → where(cursor-range ∧ prefilters)      # pushed by Catalyst
      → where(having residual)
      → select(mapping)                       # returned; the caller writes it
    + max(cursor_col, uid) persisted as the next cursor.

Intended reference semantics are kept (advance start to the last
consumed cursor value — the reference's own loop cannot paginate,
SURVEY.md §8.1; we implement the *intent*). Cursors are the
lexicographic pair ``(cursor_col, uid)`` so ties on e.g. ``updated_at``
neither lose nor duplicate rows on resume (SURVEY.md §7.3).

``push()`` (``core/pipeline.py:83-210``) becomes two set-based plans:
RESOURCES mode = filter → format → write with counter metrics; EVENTS
mode = event×resource broadcast join with left-anti accounting — see
:mod:`hrtech_etl_spark.operators.events`.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hrtech_etl_spark.core.expressions import apply_conditions, conditions_to_column
from hrtech_etl_spark.core.types import Condition, Cursor, SortOrder
from hrtech_etl_spark.plans.mapping import MappingSpec, apply_mapping


@dataclass
class PullResult:
    """Outcome of a pull run: the transformed DataFrame (lazily
    evaluated — the caller's write triggers execution) plus the
    advanced cursor and row count (``-1`` unless a dry run counted
    it)."""

    dataframe: DataFrame
    cursor: Cursor
    rows: int


def cursor_range_filter(df: DataFrame, cursor: Cursor, cursor_col: str, uid_col: str) -> DataFrame:
    """Apply the incremental-scan range predicate.

    Ascending resume consumes rows strictly after ``(start, start_uid)``
    lexicographically; descending is symmetric. ``end`` (when set)
    bounds the scan inclusively — matching the reference's
    ``cursor_start_min`` / ``cursor_end_max`` param semantics
    (``core/utils.py:195-286``), tightened to tie-safe pairs.

    This predicate is a plain range filter on the cursor column, so on
    date/ingest-partitioned storage it prunes partitions at 100TB scale.
    """
    c, u = F.col(cursor_col), F.col(uid_col)
    asc = cursor.sort_by is SortOrder.ASC
    if cursor.start is not None:
        start = F.lit(cursor.start).cast(df.schema[cursor_col].dataType)
        if cursor.start_uid is not None:
            su = F.lit(cursor.start_uid)
            pred = ((c > start) | ((c == start) & (u > su))) if asc else (
                (c < start) | ((c == start) & (u < su))
            )
            # redundant coarse bound: the tie-safe OR is opaque to
            # pushdown (REST param compilation and parquet min/max
            # pruning both see only separable conjuncts), so a resume
            # scan without this would re-read the whole table at scale;
            # `c >= start` is implied by the OR and pushes as a plain
            # range filter, leaving the OR as the residual tie filter
            pred = pred & ((c >= start) if asc else (c <= start))
        else:
            pred = (c >= start) if asc else (c <= start)
        df = df.where(pred)
    if cursor.end is not None:
        end = F.lit(cursor.end).cast(df.schema[cursor_col].dataType)
        df = df.where(c <= end if asc else c >= end)
    return df


def advance_cursor(df: DataFrame, cursor: Cursor, cursor_col: str, uid_col: str) -> Cursor:
    """Compute the next resume point = lexicographic max (asc) / min
    (desc) of ``(cursor_col, uid)`` over the consumed slice.

    One tiny all-reduce aggregation (max_by is a single-pass partial
    aggregate — no sort, no shuffle of data rows)."""
    asc = cursor.sort_by is SortOrder.ASC
    agg = df.agg(
        (F.max(cursor_col) if asc else F.min(cursor_col)).alias("c"),
        (F.max_by(uid_col, F.struct(cursor_col, uid_col)) if asc
         else F.min_by(uid_col, F.struct(cursor_col, uid_col))).alias("u"),
    ).first()
    if agg is None or agg["c"] is None:
        # Empty slice: cursor unchanged (reference keeps prior cursor on
        # empty batches — core/connector.py:231-255).
        return cursor
    return Cursor(
        mode=cursor.mode,
        start=cursor.start,
        end=agg["c"],
        sort_by=cursor.sort_by,
        start_uid=cursor.start_uid,
        end_uid=agg["u"],
    )


def pull(
    source: DataFrame,
    *,
    cursor: Cursor,
    cursor_col: str,
    uid_col: str,
    where: Optional[Sequence[Condition]] = None,
    having: Optional[Sequence[Condition]] = None,
    mapping: Optional[MappingSpec] = None,
    dry_run: bool = False,
) -> PullResult:
    """Incremental pull: scan → filter → project → new cursor.

    The returned frame is bounded by the new cursor's snapshot; the
    caller writes it (the reference hands each batch to the target's
    ``write_resources_batch``). ``dry_run`` counts it instead.

    ``where`` compiles into the scan predicate (pushed down with the
    cursor range); ``having`` is the residual post-filter (the
    reference's in-memory postfilter — ``core/utils.py:102-122``).

    Contract: the advanced cursor is computed over the *where-filtered*
    slice (the reference checkpoints the last *returned* row). A resume
    is only exact under the same ``where``; changing the filter across
    resumes can re-surface or skip rows outside the old filter.
    """
    scanned = cursor_range_filter(source, cursor, cursor_col, uid_col)
    scanned = apply_conditions(scanned, where)

    # Cursor advance is computed over the *scanned* slice, before the
    # having filter — matching the reference's intent that postfiltered
    # rows still advance the cursor (core/pipeline.py:53-65): a row
    # rejected by HAVING is consumed, not re-read forever.
    next_cursor = advance_cursor(scanned, cursor, cursor_col, uid_col)

    # Snapshot bound: the advance aggregation and the caller's write are
    # separate jobs, so on a live source rows can land between them.
    # Bound the written slice by the checkpointed (end, end_uid) pair —
    # write and checkpoint then describe the SAME snapshot; later rows
    # belong to the next resume. An empty advance writes nothing that
    # has a cursor value (a late arrival would otherwise be written now
    # AND re-read next resume → duplicate in an append sink).
    #
    # NULL-cursor rows always pass the bound: they can only reach this
    # point on an unbounded first pull (any cursor.start predicate
    # already dropped them), no resume can ever re-read them (the range
    # filter fails on NULL), and they do not advance the checkpoint —
    # so writing them is both the only chance they get and duplicate-
    # free.
    asc = cursor.sort_by is SortOrder.ASC
    c, u = F.col(cursor_col), F.col(uid_col)
    if next_cursor is cursor:
        scanned = scanned.where(c.isNull())
    else:
        end = F.lit(next_cursor.end).cast(source.schema[cursor_col].dataType)
        eu = F.lit(next_cursor.end_uid)
        bound = ((c < end) | ((c == end) & (u <= eu))) if asc else (
            (c > end) | ((c == end) & (u >= eu))
        )
        scanned = scanned.where(bound | c.isNull())

    out = apply_conditions(scanned, having)
    if mapping:
        out = apply_mapping(out, mapping)

    rows = out.count() if dry_run else -1
    return PullResult(dataframe=out, cursor=next_cursor, rows=rows)


def push_resources(
    resources: DataFrame,
    *,
    having: Optional[Sequence[Condition]] = None,
    mapping: Optional[MappingSpec] = None,
    sink_writer=None,
    dry_run: bool = False,
) -> dict:
    """RESOURCES-mode push (reference ``core/pipeline.py:181-210``):
    filter → format → write. Counter metrics ride on an Observation
    node computed DURING the sink pass — one execution of the source,
    no separate metrics job. ``sink_writer`` (a ``DataFrame -> None``
    callable, e.g. a connector's ``write_resource``) is the only write:
    it receives the SAME observed pass, so the source is not re-executed
    for the write. Without it, or on a dry run, the plan still executes
    once for the counters."""
    from pyspark.sql import Observation

    obs = Observation()
    observed = resources.observe(
        obs,
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(conditions_to_column(having or []), 1)).alias("kept"),
    )
    out = apply_conditions(observed, having)
    if mapping:
        out = apply_mapping(out, mapping)
    if dry_run or sink_writer is None:
        out.count()  # dry-run still executes the plan once
    else:
        sink_writer(out)
    m = obs.get
    return {
        "total_resources": int(m["total"]),
        "total_resources_pushed": int(m["kept"]),
        "skipped_having": int(m["total"] - m["kept"]),
    }
