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

__all__ = ["shared_boundaries", "with_global_ranks"]

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
    order-independent (used below _FOLD_MAX_BUCKETS, and by the A/B
    tool as the small-n reference)."""
    return F.aggregate(
        barr,
        F.lit(0),
        lambda acc, t: acc + F.when(vd > t, F.lit(1)).otherwise(F.lit(0)),
    )


def _bsearch_bucket_expr(
    vd: Column, barr: Column, sz: Column, n_buckets: int
) -> Column:
    """|{t in boundaries : t < vd}| by bitwise lower-bound binary
    search over the ASCENDING boundary array — O(log2 n_buckets) per
    row. Runs as ONE higher-order aggregate over the descending powers
    of two so the accumulator stays a lambda VARIABLE (an unrolled
    when-chain would re-expand the partial result 3^steps times).
    ``sz`` gates every probe, so arrays shorter than the static bound
    (including the empty array a NULL boundary scan coalesces to) just
    stop early."""
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


def _boundary_agg_expr(
    vd: Column, n_buckets: int, accuracy: int = 1000
) -> Column:
    """THE bucket-boundary recipe — ``n_buckets - 1`` equally-spaced
    approximate quantiles at the given accuracy. Single definition:
    both :func:`with_global_ranks`' self-computed branch and
    :func:`shared_boundaries` render exactly this expression, so
    externally-built arrays can never drift from internal ones."""
    qs = F.lit([i / n_buckets for i in range(1, n_buckets)])
    return F.percentile_approx(vd, qs, F.lit(accuracy))


def shared_boundaries(
    df: DataFrame,
    value_cols: list[str] | tuple[str, ...],
    *,
    n_buckets: int,
    accuracy: int = 1000,
) -> DataFrame:
    """ONE ``percentile_approx`` aggregate emitting the bucket-boundary
    array for SEVERAL value columns — the multi-metric companion to
    :func:`with_global_ranks`'s ``boundaries=``: a query scoring k
    metrics over the same frame (the RFM query scores three) pays one
    boundary scan instead of k. Output: one lazily-pinned row with one
    ``array<double>`` column PER value column, named after it — slice
    with ``.select(col)`` and pass the SAME ``n_buckets``. The quantile
    spacing and accuracy here are the exact recipe the operator uses
    for self-computed boundaries, kept in one place so external arrays
    can never drift from the internal ones."""
    if n_buckets < 2:
        raise ValueError("shared_boundaries: n_buckets must be >= 2")
    return df.agg(
        *[
            _boundary_agg_expr(
                F.col(c).cast("double"), n_buckets, accuracy
            ).alias(c)
            for c in value_cols
        ]
    ).localCheckpoint(eager=False)


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
    boundaries: DataFrame | None = None,
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

    ``boundaries`` (optional): a ONE-row, ONE-column frame whose single
    value is an ascending ``array<double>`` of bucket boundaries —
    e.g. one slice of a multi-column ``percentile_approx`` aggregate
    shared by SEVERAL ranking passes over the same frame (the RFM
    query scores three metrics; one boundary scan instead of three).
    Boundaries steer load balance only, never exactness, so any
    ascending array over the ``value_col``-cast-double domain is
    valid. The array must hold at most ``n_buckets - 1`` entries
    (the binary search's static probe depth — pass
    ``n_buckets = len + 1``); longer arrays raise at run time rather
    than silently under-counting.
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
    if boundaries is not None and n_buckets < 2:
        raise ValueError(
            "with_global_ranks: boundaries= needs n_buckets >= 2 "
            "(pass n_buckets = boundary array length + 1)"
        )
    if n_buckets >= 2:
        if boundaries is not None:
            if len(boundaries.columns) != 1:
                raise ValueError(
                    "with_global_ranks: boundaries= must be a one-row, "
                    f"ONE-column frame, got columns {boundaries.columns}"
                )
            # eager dtype check (the _BUCKETABLE twin for the array
            # side): a non-numeric element type — say an array<string>
            # of labels grabbed from the wrong column — would
            # element-cast to NULLs below, sail through the ascending
            # check (NULLs trail after array_sort), and silently
            # degrade to near-single-bucket load balance. Exactness
            # never depends on boundaries, so the mistake would be
            # invisible; fail it at the call instead. Numeric only:
            # the contract is an array over the value-CAST-DOUBLE
            # domain (shared_boundaries emits array<double>), so even
            # date/timestamp order columns pass their boundaries as
            # the already-cast doubles.
            btype = boundaries.schema[boundaries.columns[0]].dataType
            if not (
                isinstance(btype, T.ArrayType)
                and isinstance(btype.elementType, T.NumericType)
            ):
                raise ValueError(
                    "with_global_ranks: boundaries= column must be an "
                    "array of a NUMERIC type (the value_col-cast-"
                    f"double domain), got {btype.simpleString()}"
                )
            # one-row enforcement: a multi-row boundaries frame would
            # silently MULTIPLY df through the crossJoin (and an empty
            # one would erase it) — re-aggregate to exactly one row and
            # raise loudly on any cardinality but 1
            bnd = (
                boundaries.select(
                    F.col(boundaries.columns[0])
                    .cast("array<double>")
                    .alias("__bv")
                )
                .agg(
                    F.first("__bv").alias("__bv"),
                    F.count(F.lit(1)).alias("__bc"),
                )
                .select(
                    # ascending check rides the same one-row branch:
                    # the binary search is monotone only over SORTED
                    # boundaries (the load-balance-only contract holds
                    # regardless of the values, not of their order) —
                    # an unsorted caller array would corrupt ranks
                    # silently. A NULL array is fine (empty → bucket 0,
                    # same as an all-NULL self-computed scan).
                    F.when(
                        (F.col("__bc") == 1)
                        & (
                            F.col("__bv").isNull()
                            | (F.col("__bv") == F.array_sort("__bv"))
                        ),
                        F.col("__bv"),
                    )
                    .otherwise(
                        F.array(
                            F.raise_error(
                                F.format_string(
                                    "with_global_ranks: boundaries= must "
                                    "hold exactly ONE row with an "
                                    "ASCENDING array, got %s row(s)",
                                    F.col("__bc"),
                                )
                            ).cast("double")
                        )
                    )
                    .alias("__bnds")
                )
            )
        else:
            bnd = df.agg(_boundary_agg_expr(vd, n_buckets).alias("__bnds"))
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
        sz = F.size(barr)
        if boundaries is not None:
            # caller-provided arrays have RUNTIME length; one longer
            # than the static probe depth would silently under-count
            # on the binary-search path (the missing high powers can
            # never be stepped) — raise instead, on BOTH paths so the
            # contract doesn't shift with the cost-based switch.
            # Self-computed arrays are exactly n_buckets-1 by
            # construction, so the branch costs nothing there.
            sz = F.when(sz <= n_buckets - 1, sz).otherwise(
                F.raise_error(
                    F.format_string(
                        "with_global_ranks: boundaries= array holds %s "
                        "entries — more than n_buckets-1 = %s and beyond "
                        "the binary search's probe depth; pass "
                        "n_buckets = array length + 1",
                        F.size(barr),
                        F.lit(n_buckets - 1),
                    )
                ).cast("int")
            )
        if n_buckets <= _FOLD_MAX_BUCKETS:
            counted = _fold_bucket_expr(
                vd, F.slice(barr, F.lit(1), sz) if boundaries is not None else barr
            )
        else:
            counted = _bsearch_bucket_expr(vd, barr, sz, n_buckets)
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
