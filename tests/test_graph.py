"""pagerank: hand-checked fixpoints, pure-Python reference parity,
documented dangling-leak semantics, validation."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pytest

from hrtech_etl_spark.operators.graph import _rank_vector, pagerank


def _py_pagerank(edges, iterations=8, damping=0.85):
    """Reference replicating the operator's portability contract:
    shares are doubles quantized to DECIMAL(38,12) (HALF_UP on the
    shortest repr — Spark's double->decimal cast), summed exactly,
    then one scalar IEEE damping update."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    n = len(nodes)
    teleport = (1.0 - damping) / float(n)
    pr = {v: 1.0 / float(n) for v in nodes}
    q = Decimal("1e-12")
    for _ in range(iterations):
        acc = {v: Decimal(0) for v in nodes}
        for s, d in edges:
            share = Decimal(repr(pr[s] / out[s])).quantize(
                q, rounding=ROUND_HALF_UP
            )
            acc[d] += share
        pr = {
            v: teleport + damping * float(acc[v]) for v in nodes
        }
    return pr


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, ["src", "dst"])
    return {r.node: r.pagerank for r in pagerank(df, **kw).collect()}


def test_cycle_is_uniform_fixpoint(spark):
    edges = [(1, 2), (2, 3), (3, 1)]
    got = _run(spark, edges, iterations=5)
    for v in (1, 2, 3):
        assert got[v] == round(1.0 / 3.0, 10), got


def test_matches_python_reference(spark):
    edges = [
        (1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (4, 1),
        (2, 4), (3, 4), (5, 1), (1, 5), (5, 4),
    ]
    got = _run(spark, edges, iterations=8)
    want = _py_pagerank(edges, iterations=8)
    assert set(got) == set(want)
    for v, p in want.items():
        assert got[v] == round(p, 10), (v, got[v], p)


def test_dangling_mass_leaks_as_documented(spark):
    got = _run(spark, [(1, 2)], iterations=1)
    # N=2, teleport=0.075: node 1 gets teleport only, node 2 gets
    # teleport + 0.85 * 0.5; the dangling node's mass is NOT recycled
    assert got[1] == round(0.075, 10)
    assert got[2] == round(0.075 + 0.85 * 0.5, 10)
    assert got[1] + got[2] < 1.0


def test_validation(spark):
    df = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with pytest.raises(ValueError):
        pagerank(df, iterations=0)
    with pytest.raises(ValueError):
        pagerank(df, damping=1.0)


def test_hierarchy_closure_hand_checked(spark):
    from hrtech_etl_spark.operators.graph import hierarchy_closure
    #      0
    #     / \
    #    1   2
    #   /|    \
    #  3 4     5
    #  |
    #  6
    rows = [(0, None), (1, 0), (2, 0), (3, 1), (4, 1), (5, 2), (6, 3)]
    df = spark.createDataFrame(rows, "k long, parent long")
    got = {
        (r["k"], r["ancestor"])
        for r in hierarchy_closure(df, "k", "parent").collect()
    }
    expect = {
        (1, 0), (2, 0),
        (3, 1), (3, 0), (4, 1), (4, 0), (5, 2), (5, 0),
        (6, 3), (6, 1), (6, 0),
    }
    assert got == expect


def test_hierarchy_closure_cycle_guard(spark):
    import pytest
    from hrtech_etl_spark.operators.graph import hierarchy_closure

    df = spark.createDataFrame([(1, 2), (2, 1)], "k long, parent long")
    with pytest.raises(ValueError, match="max_depth"):
        hierarchy_closure(df, "k", "parent", max_depth=4)


def test_hierarchy_closure_root_self_loop_ok(spark):
    from hrtech_etl_spark.operators.graph import hierarchy_closure

    df = spark.createDataFrame([(0, 0), (1, 0)], "k long, parent long")
    got = {(r["k"], r["ancestor"]) for r in hierarchy_closure(df, "k", "parent").collect()}
    assert got == {(1, 0)}


def test_hierarchy_closure_duplicate_rows_tolerated(spark):
    """Exact-duplicate (key, parent) rows are benign input (the old
    pre-jump implementation absorbed them via .distinct()); only
    genuinely distinct parents for one key are a forest violation."""
    import pytest
    from hrtech_etl_spark.operators.graph import hierarchy_closure

    dup = spark.createDataFrame(
        [(1, 0), (1, 0), (2, 1), (2, 1), (2, 1)], "k long, parent long"
    )
    got = {(r["k"], r["ancestor"]) for r in hierarchy_closure(dup, "k", "parent").collect()}
    assert got == {(1, 0), (2, 1), (2, 0)}

    multi = spark.createDataFrame([(1, 0), (1, 2)], "k long, parent long")
    with pytest.raises(ValueError, match="multi-parent"):
        hierarchy_closure(multi, "k", "parent")


def test_pagerank_result_materializes_once(spark):
    """The returned frame sits behind a lazy checkpoint: a second
    action must not replay the final iterations (count then collect
    yields one extra job at most for the projection, not a rerun of
    join+agg rounds)."""
    from hrtech_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src long, dst long"
    )
    pr = pagerank(edges, "src", "dst", iterations=5)
    pr.count()  # materializes the checkpoint
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    n2 = pr.count()
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert n2 == 3
    # a replay of 5 iterations schedules ~2 jobs per iteration (join
    # + AQE stage); the checkpointed scan + count is at most 2-3
    assert after - before <= 3


def test_pagerank_per_iteration_job_budget(spark, sf_dir):
    """Plan-shape contract for the round-11 loop: 8 iterations must
    stay within a small per-iteration job budget (the round-10 shape
    spent 58 jobs at sf0.1 — teleport left-join + per-edge division;
    the rewrite runs 27). Job counts are AQE-stable at this scale; a
    regression back to per-iteration joins roughly doubles them."""
    from hrtech_etl_spark.workload import REGISTRY

    sc = spark.sparkContext
    group = "pagerank-job-budget"
    sc.setJobGroup(group, "pagerank job budget")
    try:
        REGISTRY["graph_pagerank"].fn(spark, sf_dir).count()
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 35, (
        f"pagerank spent {len(jobs)} jobs for 8 iterations — "
        "per-iteration plan regressed (expected ~27)"
    )

def test_pagerank_iteration_join_is_shuffle_hash(spark):
    """Plan-shape contract for the round-12 rewrite: each iteration's
    contribs join must be a SHUFFLE-HASH join against the stationary
    pre-partitioned edge list — no per-iteration BroadcastExchange
    (a broadcast build collects the |V|-row rank vector to the driver
    every round and caps |V| at broadcast room; the shuffle-hash
    build is |V|/n_partitions per task). The final segment of the
    fused plan covers the last TWO iterations (checkpoint-every-2),
    so both of its joins are visible to the assert."""
    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 50) for i in range(200)], "src long, dst long"
    )
    pr = _rank_vector(edges, "src", "dst", iterations=4, damping=0.85)
    pr.count()
    plan = pr._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ShuffledHashJoin") == 2, plan
    assert "BroadcastExchange" not in plan, plan
