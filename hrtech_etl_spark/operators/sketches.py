"""Mergeable distinct-count sketches (Apache DataSketches HLL via the
Spark 3.5+ ``hll_*`` built-ins).

The 100 TB pattern this enables: distinct counts you can PRE-AGGREGATE.
``approx_count_distinct`` answers one query over one scan;
a persisted SKETCH table (one HLL blob per partition/day/key) answers
every future rollup by unioning blobs — no rescan of the data:

    daily  = hll_partial(events, ["day"], "user_id")   # scan once, store
    weekly = hll_rollup(daily_sketches, ["week"])       # merge blobs only
    total  = hll_rollup(daily_sketches, [])             # one global estimate

Sketch blobs are standard Apache DataSketches HLL bytes — mergeable
across jobs, languages, and engines that speak DataSketches. Accuracy
follows lgConfigK (default 12 → ~1.6% rsd).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hll_partial(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    *,
    lg_config_k: int = 12,
    sketch_col: str = "hll_sketch",
) -> DataFrame:
    """One HLL sketch blob per group — the storable partial aggregate.
    Map-side partial aggregation does most of the work; the shuffle
    carries one small blob per (partition, group)."""
    agg = F.hll_sketch_agg(F.col(value_col), F.lit(lg_config_k)).alias(
        sketch_col
    )
    if not group_cols:
        return df.agg(agg)
    return df.groupBy(*group_cols).agg(agg)


def hll_rollup(
    sketches: DataFrame,
    group_cols: list[str],
    *,
    sketch_col: str = "hll_sketch",
    estimate_col: str = "n_distinct",
) -> DataFrame:
    """Merge stored sketch blobs up to a coarser grouping and estimate.
    ``group_cols=[]`` → one global row. The merged blob is dropped;
    only the estimate is returned."""
    merged = F.hll_union_agg(F.col(sketch_col), F.lit(True)).alias(sketch_col)
    rolled = (
        sketches.groupBy(*group_cols).agg(merged)
        if group_cols
        else sketches.agg(merged)
    )
    return rolled.withColumn(
        estimate_col, F.hll_sketch_estimate(F.col(sketch_col))
    ).drop(sketch_col)


# ---------------------------------------------------------------------------
# KLL quantile sketches — mergeable percentiles
# ---------------------------------------------------------------------------

def kll_partial(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    *,
    k: int = 200,
    sketch_col: str = "kll_sketch",
) -> DataFrame:
    """One KLL(double) quantile sketch per group — the storable
    partial. Same contract as :func:`hll_partial` but for PERCENTILES:
    persist per-day blobs once, answer any later p50/p95/p99 rollup by
    merging blobs (``percentile_approx`` can't be pre-aggregated).
    k=200 → ~1.65% normalized rank error."""
    agg = F.kll_sketch_agg_double(
        F.col(value_col).cast("double"), F.lit(k)
    ).alias(sketch_col)
    return df.groupBy(*group_cols).agg(agg) if group_cols else df.agg(agg)


def kll_quantiles(
    sketches: DataFrame,
    group_cols: list[str],
    quantiles: list[float],
    *,
    sketch_col: str = "kll_sketch",
) -> DataFrame:
    """Merge stored KLL blobs to ``group_cols`` and extract the
    requested quantiles as ``q_<percent>`` columns (fractional percents
    keep their digits with ``_`` for the point — ``0.125 → q_12_5``,
    ``0.001 → q_0_1`` — so close quantiles can't collide on a rounded
    name; duplicate names still raise rather than emit an ambiguous
    frame)."""
    merged = F.kll_merge_agg_double(F.col(sketch_col)).alias(sketch_col)
    rolled = (
        sketches.groupBy(*group_cols).agg(merged)
        if group_cols
        else sketches.agg(merged)
    )

    def q_name(q: float) -> str:
        # fixed-then-strip, not str(q*100): float artifacts like
        # 0.29*100 == 28.999999999999996 must still name q_29
        pct = f"{q * 100:.8f}".rstrip("0").rstrip(".")
        return "q_" + pct.replace(".", "_").replace("-", "m")

    names = [q_name(q) for q in quantiles]
    if len(set(names)) != len(names):
        raise ValueError(f"kll_quantiles: duplicate quantile names {names}")
    outs = [
        F.kll_sketch_get_quantile_double(F.col(sketch_col), F.lit(q)).alias(n)
        for q, n in zip(quantiles, names)
    ]
    return rolled.select(*group_cols, *outs)


# ---------------------------------------------------------------------------
# Theta sketches — distinct-count SET ALGEBRA without joins
# ---------------------------------------------------------------------------

def theta_partial(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    *,
    sketch_col: str = "theta_sketch",
) -> DataFrame:
    """One Theta sketch per group. Unlike HLL, Theta sketches support
    INTERSECTION and DIFFERENCE — audience overlap ('distinct users
    who did A and B') from per-segment blobs, no self-join over raw
    events."""
    agg = F.theta_sketch_agg(F.col(value_col)).alias(sketch_col)
    return df.groupBy(*group_cols).agg(agg) if group_cols else df.agg(agg)


def theta_rollup(
    sketches: DataFrame,
    group_cols: list[str],
    *,
    sketch_col: str = "theta_sketch",
) -> DataFrame:
    """Merge stored Theta blobs up to a coarser grouping (day → week →
    month chains without touching raw data). Returns the merged blob,
    not an estimate: it stays usable for set algebra
    (:func:`theta_overlap`) and ``theta_sketch_estimate`` reads its
    count. A Theta sketch is EXACT below its nominal-entries cap
    (default lgK=12 → 4096 distinct): rollups over groups under the
    cap reproduce exact distinct counts, and degrade to ~2% rsd
    estimates beyond it — the declared `sketch_theta_rollup` query
    gates the exact regime against the SQL oracle."""
    merged = F.theta_union_agg(F.col(sketch_col)).alias(sketch_col)
    return (
        sketches.groupBy(*group_cols).agg(merged)
        if group_cols
        else sketches.agg(merged)
    )


def theta_overlap(
    a: DataFrame,
    b: DataFrame,
    *,
    sketch_col: str = "theta_sketch",
) -> DataFrame:
    """Set-algebra estimates from two single-row sketch tables:
    ``n_a, n_b, n_union, n_intersection, n_only_a`` — the full overlap
    report from blobs alone."""
    aa = a.select(F.col(sketch_col).alias("__sa"))
    bb = b.select(F.col(sketch_col).alias("__sb"))
    return aa.crossJoin(bb).select(
        F.theta_sketch_estimate(F.col("__sa")).alias("n_a"),
        F.theta_sketch_estimate(F.col("__sb")).alias("n_b"),
        F.theta_sketch_estimate(
            F.theta_union(F.col("__sa"), F.col("__sb"))
        ).alias("n_union"),
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("__sa"), F.col("__sb"))
        ).alias("n_intersection"),
        F.theta_sketch_estimate(
            F.theta_difference(F.col("__sa"), F.col("__sb"))
        ).alias("n_only_a"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch — mergeable frequency estimates (heavy hitters)
# ---------------------------------------------------------------------------

def cms_partial(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    *,
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 7,
    sketch_col: str = "cms_sketch",
) -> DataFrame:
    """One count-min sketch blob per group: mergeable per-item
    FREQUENCY estimates (overestimates only, by at most eps·N with the
    given confidence) — the heavy-hitter complement of the HLL/KLL
    partials. Same pattern: persist per-partition blobs, answer 'how
    often did X appear' later without rescanning."""
    agg = F.count_min_sketch(
        F.col(value_col), F.lit(eps), F.lit(confidence), F.lit(seed)
    ).alias(sketch_col)
    return df.groupBy(*group_cols).agg(agg) if group_cols else df.agg(agg)


#: cms_estimate collects one blob per input row; at eps=0.001 a blob is
#: ~50 KB, so this cap bounds the driver at ~100 MB. A frame with more
#: groups belongs pre-rolled (re-aggregate raw data to coarser groups —
#: Spark exposes no CMS blob-merge aggregate, unlike HLL/KLL/Theta).
MAX_CMS_BLOBS = 2_000


def cms_estimate(
    sketches: DataFrame,
    items: list,
    *,
    sketch_col: str = "cms_sketch",
) -> dict:
    """Merge the blobs and read item frequencies, driver-side (the
    lookup is a tiny JVM CountMinSketch op per item; use it for
    bounded heavy-hitter candidate lists, not per-row scoring).
    Returns {item: estimated_count}. Raises when the frame has more
    than ``MAX_CMS_BLOBS`` rows instead of silently collecting an
    unbounded per-group blob set onto the driver."""
    rows = sketches.select(sketch_col).limit(MAX_CMS_BLOBS + 1).collect()
    if len(rows) > MAX_CMS_BLOBS:
        raise ValueError(
            f"cms_estimate: more than {MAX_CMS_BLOBS} sketch blobs — "
            "re-aggregate to coarser groups before the driver-side merge"
        )
    spark = sketches.sparkSession
    jvm = spark.sparkContext._jvm
    merged = None
    for r in rows:
        blob = bytes(r[sketch_col])
        sk = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(blob)
        if merged is None:
            merged = sk
        else:
            merged.mergeInPlace(sk)
    if merged is None:
        return {item: 0 for item in items}
    return {item: merged.estimateCount(item) for item in items}
