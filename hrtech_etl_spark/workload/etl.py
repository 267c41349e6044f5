"""Declared queries: the reference's ETL semantics on the testdata
star schema (role mapping per FIXTURES.md §2 — orders/lineitem play
the incremental-pull role, events plays resource_events).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hrtech_etl_spark.core.expressions import apply_conditions
from hrtech_etl_spark.core.types import Condition, Cursor, Operator
from hrtech_etl_spark.operators.events import normalize_event_type
from hrtech_etl_spark.operators.joins import last_wins_dedup
from hrtech_etl_spark.pipeline import cursor_range_filter
from hrtech_etl_spark.sources.testdata import load_table
from hrtech_etl_spark.workload.registry import query, sql_dsum, dsum


# --- 1. incremental cursor pull: range scan + prefilter + mapping ---------

@query(
    "etl_pull_incremental",
    sql="""
    SELECT o_orderkey AS id,
           CAST(o_totalprice AS DOUBLE) AS price,
           o_orderdate AS order_date,
           o_orderpriority AS priority
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-06-01 00:00:00'
      AND o_orderdate <= TIMESTAMP '1996-12-31 00:00:00'
      AND o_orderstatus = 'O'
    """,
)
def etl_pull_incremental(spark, sf_dir):
    """pull(): cursor-range scan (start/end) + EQ prefilter + mapping
    projection — the reference's §3.1 lifecycle as one plan. The range
    predicate prunes partitions on date-partitioned storage."""
    orders = load_table(spark, "orders", sf_dir)
    cur = Cursor(start="1995-06-01 00:00:00", end="1996-12-31 00:00:00")
    scanned = cursor_range_filter(orders, cur, "o_orderdate", "o_orderkey")
    scanned = apply_conditions(scanned, [Condition("o_orderstatus", Operator.EQ, "O")])
    return scanned.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").cast("double").alias("price"),
        F.col("o_orderdate").alias("order_date"),
        F.col("o_orderpriority").alias("priority"),
    )


# --- 2. condition algebra: CONTAINS postfilter + IN prefilter -------------

@query(
    "etl_condition_filters",
    sql="""
    SELECT 'contains' AS rule, o_orderpriority AS grp, count(*) AS n,
           CAST(NULL AS DOUBLE) AS revenue
    FROM orders
    WHERE position('URGENT' IN o_orderpriority) > 0
    GROUP BY o_orderpriority
    UNION ALL
    SELECT 'in' AS rule, o_orderstatus AS grp, count(*) AS n, {rev} AS revenue
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderstatus
    """.format(rev=sql_dsum("o_totalprice")),
)
def etl_condition_filters(spark, sf_dir):
    """Condition algebra on one table, union-tagged: the reference's
    CONTAINS (substring on stringified operands, core/utils.py:96-97)
    as a HAVING-style residual filter, plus IN-condition pushdown
    (reference in_binding, core/utils.py:520-601). Both branches run
    through apply_conditions — the Condition→Column compiler."""
    orders = load_table(spark, "orders", sf_dir)
    contains = apply_conditions(
        orders, [Condition("o_orderpriority", Operator.CONTAINS, "URGENT")]
    )
    c_branch = contains.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count(F.lit(1)).alias("n")
    ).select(
        F.lit("contains").alias("rule"), "grp", "n",
        F.lit(None).cast("double").alias("revenue"),
    )
    infil = apply_conditions(
        orders, [Condition("o_orderpriority", Operator.IN, ["1-URGENT", "2-HIGH"])]
    )
    i_branch = infil.groupBy(F.col("o_orderstatus").alias("grp")).agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("revenue")
    ).select(F.lit("in").alias("rule"), "grp", "n", "revenue")
    return c_branch.unionByName(i_branch)


# --- 5. last-wins dedup per resource id -----------------------------------

@query(
    "etl_lastwins_dedup",
    sql="""
    SELECT user_id, event_id AS last_event_id, event_type AS last_type
    FROM (
      SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def etl_lastwins_dedup(spark, sf_dir):
    """The reference's implicit dict-overwrite dedup (core/pipeline.py:
    141-143) as an explicit deterministic window (ties → event_id)."""
    events = load_table(spark, "events", sf_dir)
    deduped = last_wins_dedup(events, "user_id", [F.col("ts"), F.col("event_id")])
    return deduped.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
    )


# --- 6. event pipeline: type normalization + resource lookup join ---------

EVENT_TYPE_MAP = {
    "signup": "created",
    "click": "updated",
    "error": "deleted",
    "view": "archived",
    # 'purchase' is deliberately unmapped → 'upserted'
}

@query(
    "etl_event_pipeline",
    sql="""
    SELECT CASE e.event_type
             WHEN 'signup' THEN 'created'
             WHEN 'click' THEN 'updated'
             WHEN 'error' THEN 'deleted'
             WHEN 'view' THEN 'archived'
             ELSE 'upserted' END AS unified_type,
           count(*) AS total_events,
           count(c.c_custkey) AS matched,
           count(*) - count(c.c_custkey) AS skipped_missing
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def etl_event_pipeline(spark, sf_dir):
    """EVENTS-mode pipeline (core/pipeline.py:127-167) in one plan:
    raw→unified type mapping with unknown→UPSERTED fallback
    (connectors/warehouse_a/models.py:199-206), then the event→resource
    lookup join with matched vs skipped_missing accounted from ONE left
    join. No forced broadcast hint on customer: "small relative to the
    event stream" does not bound its absolute size (the resource side of
    the reference's lookup grows with the business), so the hint would be
    OOM-class at cluster scale; AQE broadcasts it at every scale where
    that is safe."""
    events = load_table(spark, "events", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    typed = events.select(
        normalize_event_type(F.col("event_type"), EVENT_TYPE_MAP).alias("unified_type"),
        "user_id",
    )
    joined = typed.join(
        customer, typed.user_id == customer.c_custkey, "left"
    )
    return joined.groupBy("unified_type").agg(
        F.count(F.lit(1)).alias("total_events"),
        F.count("c_custkey").alias("matched"),
        (F.count(F.lit(1)) - F.count("c_custkey")).alias("skipped_missing"),
    )


# --- 7. upsert merge (update-else-insert, set-based) ----------------------

@query(
    "etl_upsert_merge",
    sql=f"""
    WITH target AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
    ), source AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    ), classify AS (
      SELECT
        count(*) AS n_rows,
        count(CASE WHEN action = 'update' THEN 1 END) AS n_updated,
        count(CASE WHEN action = 'insert' THEN 1 END) AS n_inserted,
        count(CASE WHEN action = 'keep' THEN 1 END) AS n_kept
      FROM (
        SELECT t.o_orderkey AS tk, s.o_orderkey AS sk,
               CASE WHEN s.o_orderkey IS NULL THEN 'keep'
                    WHEN t.o_orderkey IS NULL THEN 'insert'
                    ELSE 'update' END AS action
        FROM target t FULL OUTER JOIN source s ON t.o_orderkey = s.o_orderkey
      )
    ), final_state AS (
      -- order-aware merge fixed point: whatever order the micro-batches
      -- arrive in, per user the globally greatest (ts, event_id) row wins
      SELECT user_id, value, event_id FROM (
        SELECT user_id, value, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    ), ooo AS (
      SELECT count(*) AS ooo_users,
             {sql_dsum("value")} AS ooo_total_value,
             CAST(sum(event_id) AS BIGINT) AS ooo_id_sum
      FROM final_state
    )
    SELECT classify.*, ooo.* FROM classify, ooo
    """,
)
def etl_upsert_merge(spark, sf_dir):
    """MERGE-style upsert without Delta, BOTH branches under the oracle:

    1. Full-outer classify into update/insert/keep — the set-based
       replacement for the reference's per-row PUT-then-POST
       (``connectors/hrflow/__init__.py:89-101``); output is the merge
       audit (row counts per action).
    2. Order-aware out-of-order micro-batches through the REAL
       ``merge_upsert`` sink (operators/upsert.py): events split into
       three batches by event_id mod 3, applied in arrival order
       0, 2, 1 with ``order_cols=[ts, event_id]`` and ``partition_col``
       = user shard — every merge is a dynamic-partition-scoped parquet
       rewrite, and a late batch can never regress a newer row. The
       oracle states the fixed point directly: per user, the globally
       greatest (ts, event_id) row, whatever order batches arrived in.
    """
    import tempfile

    from hrtech_etl_spark.operators.upsert import merge_upsert

    orders = load_table(spark, "orders", sf_dir)
    target = orders.where("o_orderdate < TIMESTAMP '1996-01-01 00:00:00'").select(
        "o_orderkey", "o_totalprice"
    )
    source = orders.where("o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'").select(
        "o_orderkey", "o_totalprice"
    )
    t = target.alias("t")
    s = source.alias("s")
    merged = t.join(s, F.col("t.o_orderkey") == F.col("s.o_orderkey"), "full_outer").select(
        F.when(F.col("s.o_orderkey").isNull(), "keep")
        .when(F.col("t.o_orderkey").isNull(), "insert")
        .otherwise("update")
        .alias("action")
    )
    classify = merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("action") == "update", 1)).alias("n_updated"),
        F.count(F.when(F.col("action") == "insert", 1)).alias("n_inserted"),
        F.count(F.when(F.col("action") == "keep", 1)).alias("n_kept"),
    )

    # --- branch 2: out-of-order micro-batches into merge_upsert ---------
    import os
    import shutil

    events = load_table(spark, "events", sf_dir).select(
        "event_id",
        "user_id",
        "ts",
        "value",
        (F.col("user_id") % 10).alias("shard"),
    )
    order = [F.col("ts"), F.col("event_id")]
    b0, b2, b1 = [events.where(F.col("event_id") % 3 == m) for m in (0, 2, 1)]
    # Bootstrap with the DEDUP'D first batch: merge_upsert's bootstrap
    # writes the source verbatim, and a later batch only rewrites the
    # shard partitions it touches — un-deduped bootstrap rows in a
    # shard no later batch hits would survive, making parity depend on
    # batch/shard coverage instead of the merge semantics under test.
    b0 = last_wins_dedup(b0, ["user_id"], order)
    # Run-scoped state dir (mkdtemp: unique + 0700), removed in the
    # finally: two concurrent runs over the same sf_dir can no longer
    # race on a shared predictable /tmp path (wipe/merge interleaving
    # corrupted both), and nothing squattable or leaked remains. The
    # OOO audit row is materialized BEFORE the cleanup — the returned
    # frame must not lazily re-scan a deleted directory.
    run_dir = tempfile.mkdtemp(prefix="upsert_ooo_")
    try:
        state_path = os.path.join(run_dir, "state")
        for batch in (b0, b2, b1):
            merge_upsert(
                spark,
                state_path,
                batch,
                ["user_id"],
                order_cols=order,
                partition_col="shard",
            )
        ooo = spark.read.parquet(state_path).agg(
            F.count(F.lit(1)).alias("ooo_users"),
            dsum("value").alias("ooo_total_value"),
            F.sum("event_id").alias("ooo_id_sum"),
        )
        ooo_row = ooo.collect()
        ooo = spark.createDataFrame(ooo_row, ooo.schema)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return classify.crossJoin(ooo)


@query(
    "etl_unified_roundtrip",
    sql="""
    SELECT CAST(o_orderkey AS VARCHAR) AS job_id,
           o_orderpriority AS title,
           CAST(o_orderdate AS TIMESTAMP) AS created_at,
           CAST(o_orderdate AS TIMESTAMP) AS updated_at,
           CAST(NULL AS VARCHAR) AS payload
    FROM orders
    """,
)
def etl_unified_roundtrip(spark, sf_dir):
    """Native → unified → native canonical transform round-trip
    (plans/transforms.py): the composition must be the identity on the
    native fields — the oracle states that identity directly. Exercises
    the normalize/denormalize select plans (id/key coalescing,
    created_at fallback, typed-null unified fields) inside the
    correctness gate."""
    from hrtech_etl_spark.plans.transforms import from_unified_job, to_unified_job

    o = load_table(spark, "orders", sf_dir)
    native = o.select(
        F.col("o_orderkey").cast("string").alias("job_id"),
        F.col("o_orderpriority").alias("title"),
        F.col("o_orderdate").cast("timestamp").alias("created_at"),
        F.col("o_orderdate").cast("timestamp").alias("updated_at"),
        F.lit(None).cast("string").alias("payload"),
    )
    return from_unified_job(to_unified_job(native, origin="wh_a"))
