"""Distributed exact global ranking — the scale-safe replacement for
unpartitioned ``Window`` specs (``rank()/ntile()/percent_rank()/
cume_dist()`` with no PARTITION BY).

Spark executes an unpartitioned window by moving EVERY row to one
partition (``WindowExec: No Partition Defined``) — one executor sorts
the whole table, which is fine at sf0.1 and fatal at 100 TB. The
classic distributed-exact-rank plan used here instead:

1. **Range-bucket** rows by the primary order value. Bucket boundaries
   come from one ``percentile_approx`` scalar aggregate (a narrow,
   map-side-partial pass over just the order column) crossJoined back
   as a broadcast literal array — no collect, no sampling job on the
   driver. Boundaries only steer LOAD BALANCE; exactness never depends
   on them. Equal values always land in the same bucket (the bucket
   expression is a pure function of the value), so tie groups never
   span buckets and rank/dense_rank offsets stay exact.
2. **Local windows per bucket** — ``row_number``/``rank``/``dense_rank``
   over ``PARTITION BY bucket``, i.e. a properly partitioned WindowExec.
3. **Two-phase prefix sum** (the same idiom as
   ``operators/corpus.py::concat_split_packing``): per-bucket totals
   aggregate over the SAME ``hashpartitioning(bucket)`` exchange the
   windows consume (ReusedExchange either way) — the row count is a
   true long ``count(1)`` (an int32 ``max(row_number)`` would wrap
   together with the overflow it is supposed to detect) and the
   distinct count is ``max(local_dense)``; the ≤``n_buckets``-row
   totals frame then gets an exclusive cumsum on a single *declared*
   partition
   (``partitionBy(lit(0))`` — bounded by the knob, never by the data)
   and broadcasts back as per-bucket base offsets.
4. Global values are ``base + local``; ``ntile``/``percent_rank``/
   ``cume_dist`` derive in closed form from the global row number and
   the broadcast total row count.

Exactness notes:

- ``global_rank = cnt_offset + local_rank`` is exact because every row
  in an earlier bucket has a strictly smaller order value (bucketing is
  monotone in the value and equal values share a bucket).
- ``global_dense_rank = dense_offset + local_dense`` is exact for the
  same reason; NULL order values bucket to ``-1`` (before everything,
  matching Spark/DuckDB ``ASC NULLS FIRST``) and the NULL group counts
  as one dense-rank group via ``max(local_dense)``.
- ``ntile(k)`` uses the SQL-standard fill (first ``N mod k`` buckets one
  row larger) computed from the exact global row number, so results
  hash-match any engine given the same total order.
- Values are bucketed through a cast to ``double`` — monotone for
  numeric/date/timestamp types (distinct values may COLLIDE in double,
  which only merges buckets, never reorders them).

Scale caveat (documented, by design): the primary order value is the
bucketing key, so a single value carrying a large fraction of all rows
makes a hot bucket — the same skew any range partitioner has. Callers
ranking over heavily-duplicated values should pre-aggregate (as the RFM
query does — it ranks the per-user aggregate, never the event table).

No reference parity — the reference engine (single-node, row-at-a-time
HTTP ETL) has no window functions; this module exists so the §2.10
window queries keep exact semantics with a plan that survives 100×.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.sql import types as T

from hrtech_etl_spark.core.partitioning import bounded_window_key

__all__ = ["with_global_ranks"]

#: local windows hand back int32; a bucket past this row count would
#: wrap before the long casts (patched down by the guard's unit test).
_MAX_BUCKET_ROWS = 2**31 - 1

#: temp columns the implementation appends (validated against the
#: input frame so a collision fails at the call, not at a downstream
#: AMBIGUOUS_REFERENCE)
_INTERNAL_COLS = ("__rb", "__lrn", "__lrk", "__ldr", "__cnt", "__ndv",
                  "__coff", "__doff", "__N", "__bnds")

#: below this bucket count the plain linear fold is at worst a wash
#: against the binary search (A/B at 5M rows,
#: ``git show 4b9511f:AB_rank_bucketing_r14.json``: fold 0.790s vs
#: bsearch 0.801s at 32 buckets — a tie; bsearch 6.17x faster at
#: 512, 10.62x at 2048) —
#: the probe bookkeeping costs about as much as ~64 straight-line
#: comparisons, so the simpler expression wins the small-n regime.
#: Both expressions are value-identical (the A/B asserts zero
#: mismatching rows), so the switch is purely a cost choice.
_FOLD_MAX_BUCKETS = 64


def _fold_bucket_expr(vd: Column, barr: Column) -> Column:
    """|{t in boundaries : t < vd}| by linear fold — O(len) per row,
    order-independent (used below _FOLD_MAX_BUCKETS)."""
    return F.aggregate(
        barr,
        F.lit(0),
        lambda acc, t: acc + F.when(vd > t, F.lit(1)).otherwise(F.lit(0)),
    )


def _bsearch_bucket_expr(vd: Column, barr: Column, n_buckets: int) -> Column:
    """|{t in boundaries : t < vd}| by bitwise lower-bound binary
    search over the ASCENDING boundary array — O(log2 n_buckets) per
    row. Runs as ONE higher-order aggregate over the descending powers
    of two so the accumulator stays a lambda VARIABLE (an unrolled
    when-chain would re-expand the partial result 3^steps times).
    The array size gates every probe, so arrays shorter than the static
    bound (including the empty array a NULL boundary scan coalesces to)
    just stop early."""
    sz = F.size(barr)
    bsteps = []
    k = 1
    while k << 1 <= n_buckets - 1:
        k <<= 1
    while k >= 1:
        bsteps.append(k)
        k >>= 1
    return F.aggregate(
        F.array(*[F.lit(s) for s in bsteps]),
        F.lit(0),
        lambda p, s: F.when(
            (p + s <= sz) & (vd > F.element_at(barr, p + s)), p + s
        ).otherwise(p),
    )


_BUCKETABLE = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
    T.DateType,
    T.TimestampType,
)


def with_global_ranks(
    df: DataFrame,
    value_col: str,
    tiebreak_cols: tuple[str, ...] | list[str] = (),
    *,
    row_number: str | None = None,
    rank: str | None = None,
    dense_rank: str | None = None,
    percent_rank: str | None = None,
    cume_dist: str | None = None,
    ntile: dict[str, int] | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """Append exact global ranking columns to ``df`` without an
    unpartitioned window.

    ``rank``/``dense_rank`` rank over ``ORDER BY value_col`` (ties rank
    equally). ``row_number``/``percent_rank``/``cume_dist``/``ntile``
    use the TOTAL order ``ORDER BY value_col, *tiebreak_cols`` and
    therefore require at least one tiebreak column (a non-total order
    would make them nondeterministic — the same contract the registry
    holds every window query to).

    ``ntile`` maps output column name → bucket count, e.g.
    ``{"quartile": 4}``. All ranks are ascending, NULLS FIRST (Spark's
    ASC default).
    """
    ntile = dict(ntile or {})
    out_total = [c for c in (row_number, percent_rank, cume_dist) if c] + list(ntile)
    if out_total and not tiebreak_cols:
        raise ValueError(
            "with_global_ranks: row_number/percent_rank/cume_dist/ntile "
            "need a TOTAL order — pass tiebreak_cols completing one"
        )
    if not (out_total or rank or dense_rank):
        raise ValueError("with_global_ranks: no output columns requested")
    requested = out_total + [c for c in (rank, dense_rank) if c]
    clash = (set(requested) | set(_INTERNAL_COLS)) & set(df.columns)
    dupes = {c for c in requested if requested.count(c) > 1}
    if clash or dupes:
        raise ValueError(
            "with_global_ranks: output/internal column names collide "
            f"with the input frame (or each other): {sorted(clash | dupes)}"
        )
    vtype = df.schema[value_col].dataType
    if not isinstance(vtype, _BUCKETABLE):
        raise ValueError(
            f"with_global_ranks: {value_col!r} is {vtype.simpleString()} — "
            "range bucketing needs a numeric/date/timestamp order column"
        )

    spark = df.sparkSession
    n_buckets = n_buckets or spark.sparkContext.defaultParallelism
    v = F.col(value_col)
    vd = v.cast("double")

    # -- phase 1: broadcast boundary array (load balance only) ---------
    if n_buckets >= 2:
        # n_buckets - 1 equally-spaced approximate quantiles
        qs = F.lit([i / n_buckets for i in range(1, n_buckets)])
        bnd = df.agg(F.percentile_approx(vd, qs, F.lit(1000)).alias("__bnds"))
        b = df.crossJoin(F.broadcast(bnd))
        # bucket = |{t in boundaries : t < v}|. Two value-identical
        # expressions, chosen by cost (_FOLD_MAX_BUCKETS, A/B'd): the
        # linear fold wins at local-scale bucket counts; on a cluster
        # where n_buckets tracks parallelism (thousands) the BINARY
        # SEARCH does ~11 probes where the fold does thousands of
        # per-row comparisons. An all-NULL column yields a NULL
        # boundary array; coalesce to empty → every probe/fold step
        # gated off → single bucket 0 on both paths.
        barr = F.coalesce("__bnds", F.array())
        if n_buckets <= _FOLD_MAX_BUCKETS:
            counted = _fold_bucket_expr(vd, barr)
        else:
            counted = _bsearch_bucket_expr(vd, barr, n_buckets)
        bucket = (
            F.when(v.isNull(), F.lit(-1)).otherwise(counted).alias("__rb")
        )
        b = b.withColumn("__rb", bucket).drop("__bnds")
    else:
        b = df.withColumn("__rb", F.when(v.isNull(), F.lit(-1)).otherwise(F.lit(0)))

    # -- phase 2: bucket-local windows (properly partitioned) ----------
    order_cols = [value_col, *tiebreak_cols]
    w_total = W.partitionBy("__rb").orderBy(*order_cols)
    w_value = W.partitionBy("__rb").orderBy(value_col)
    b = b.withColumn("__lrn", F.row_number().over(w_total))
    need_dense = bool(dense_rank)
    if rank:
        b = b.withColumn("__lrk", F.rank().over(w_value))
    if need_dense:
        b = b.withColumn("__ldr", F.dense_rank().over(w_value))

    # -- phase 3: two-phase prefix sum over the ≤n_buckets totals ------
    # Totals read the window columns (max local row_number == bucket
    # count), so Catalyst cannot push the aggregate below the window —
    # both consumers share one bucket exchange (ReusedExchange).
    # bucket count is a TRUE long count(1) — NOT max(local row_number):
    # row_number is int32, so on a >2^31-row bucket max(__lrn) would
    # itself wrap (or saturate at exactly 2^31-1), making any guard on
    # it unreachable; count(1) cannot wrap and detects the overflow
    # BEFORE the wrapped local ranks are trusted
    aggs = [F.count(F.lit(1)).cast("long").alias("__cnt")]
    if need_dense:
        aggs.append(F.max("__ldr").alias("__ndv"))
    totals = b.groupBy("__rb").agg(*aggs)
    # overflow guard: local window functions return int32, so a bucket
    # beyond 2^31-1 rows (one value holding billions of rows — the
    # documented hot-bucket skew case) would WRAP silently before the
    # long casts below. Route the count through a raise_error branch —
    # it feeds the offset sums, so pruning can never drop the check —
    # making the failure loud instead of corrupt.
    totals = totals.withColumn(
        "__cnt",
        F.when(F.col("__cnt") <= F.lit(_MAX_BUCKET_ROWS), F.col("__cnt"))
        .otherwise(
            F.raise_error(
                F.format_string(
                    "with_global_ranks: bucket %s holds %s rows — beyond "
                    "the int32 local-window range; pre-aggregate the "
                    "heavy value (see module skew caveat)",
                    F.col("__rb"),
                    F.col("__cnt"),
                )
            ).cast("long")
        ),
    )
    # bounded_window_key: a DECLARED single partition over a frame
    # bounded by the n_buckets knob, never by the data — this is a
    # partitioned WindowExec, not a move-everything global window (a
    # bare lit(0) would be constant-folded back to an EMPTY spec).
    single = bounded_window_key("__rb")
    w_base = W.partitionBy(single).orderBy("__rb").rowsBetween(
        W.unboundedPreceding, -1
    )
    w_all = W.partitionBy(single).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    bases = totals.select(
        "__rb",
        F.coalesce(F.sum("__cnt").over(w_base), F.lit(0)).cast("long").alias("__coff"),
        *(
            [
                F.coalesce(F.sum("__ndv").over(w_base), F.lit(0))
                .cast("long")
                .alias("__doff")
            ]
            if need_dense
            else []
        ),
        F.sum("__cnt").over(w_all).cast("long").alias("__N"),
    )

    # -- phase 4: global values in closed form --------------------------
    j = b.join(F.broadcast(bases), "__rb")
    rn = (F.col("__coff") + F.col("__lrn")).cast("long")
    n_total = F.col("__N")
    out_cols: list[Column] = []
    if row_number:
        out_cols.append(rn.alias(row_number))
    if rank:
        out_cols.append((F.col("__coff") + F.col("__lrk")).cast("long").alias(rank))
    if dense_rank:
        out_cols.append(
            (F.col("__doff") + F.col("__ldr")).cast("long").alias(dense_rank)
        )
    if percent_rank:
        # total order ⇒ rank == row_number; single IEEE division, same
        # formula every engine uses: (rank - 1) / (N - 1), 0.0 when N=1
        out_cols.append(
            F.when(n_total > 1, (rn - 1).cast("double") / (n_total - 1))
            .otherwise(F.lit(0.0))
            .alias(percent_rank)
        )
    if cume_dist:
        out_cols.append((rn.cast("double") / n_total).alias(cume_dist))
    for out_name, k in ntile.items():
        if k <= 0:
            raise ValueError(f"ntile({k}) for {out_name!r}: k must be positive")
        q = F.floor(n_total / k)  # base bucket size
        r = n_total % k  # first r buckets get q+1 rows
        big_span = r * (q + 1)
        tile = (
            F.when(rn <= big_span, F.floor((rn - 1) / (q + 1)) + 1)
            .otherwise(r + F.floor((rn - big_span - 1) / q) + 1)
            .cast("int")
            .alias(out_name)
        )
        out_cols.append(tile)
    return j.select(*df.columns, *out_cols)
