"""Iterative graph analytics on DataFrames: PageRank.

The engine already has pointer-jumping connected components
(:mod:`hrtech_etl_spark.functions.dedup` — near-dup clusters); this
module adds the other canonical iterative fixpoint, PageRank, as a
driver-side loop over declarative join+aggregate steps — the shape
Spark executes iterative algorithms in (GraphX/Pregel compile to the
same join-agg rounds). Reference analog: none (the reference moves
records); SURVEY §2.10 north-star surface — link-graph quality
weighting is a standard corpus-curation signal (quality ∝ centrality
of a page in the web graph).

Engine-portability contract (the gated entry replays bit-for-bit in
DuckDB's recursive CTE): per-edge contributions ``pr/out_degree`` are
IEEE doubles cast to DECIMAL(38,12) BEFORE the per-node sum — the
portable-float-sum idiom — so the only order-sensitive reduction is
exact and commutative; the damping update is scalar IEEE arithmetic,
identical everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 8,
    damping: float = 0.85,
    round_to: int = 10,
) -> DataFrame:
    """PageRank over a directed edge list, fixed iteration count.

    ``pr_{t+1}(v) = (1-d)/N + d * Σ_{u→v} pr_t(u) / out_deg(u)``

    Nodes are ``src ∪ dst``. Dangling nodes (no out-edges) LEAK their
    mass — the simple formulation early web-scale systems shipped;
    symmetrize the edge list (or add self-loops) if strict
    mass-conservation matters, as the gated co-occurrence entry does.
    Multi-edges contribute multiply (weighted multigraph semantics);
    ``.distinct()`` the edge list first for simple-graph semantics.

    Scale shape: the edge list and degree table materialize ONCE
    behind a lazy localCheckpoint (8 iterations must not re-execute
    the upstream edge derivation — the lineage-re-execution lesson),
    the edges HASH-PARTITIONED by source ONCE at init (the
    checkpoint preserves the partitioning); each iteration then
    SHUFFLE-HASH joins the rank-vector share table (|V| rows, two
    columns) against the stationary edges — the tiny side moves, the
    |E|-row edge list never re-shuffles, and there is no per-
    iteration driver collect (a broadcast build collects |V| rows to
    the driver every round; at cluster scale the shuffle-hash build
    is |V|/n_partitions per task, which survives |V| long past
    broadcast room). The teleport term rides the same groupBy via a
    union of zero-share rows (one per node), so nodes without
    in-edges surface from the aggregate itself instead of a second
    |V| ⋈ |V| left join per iteration (adding 0-valued DECIMAL rows
    leaves the exact commutative sum unchanged, so the recursive-CTE
    twin stays bit-equal); the rank vector carries each node's
    out-degree so the share table is a projection, not a pr ⋈ deg
    join. The rank vector re-checkpoints lazily every SECOND
    iteration: two join+agg rounds fuse into one materialization
    (each runs once — nothing re-executes across a lazy checkpoint),
    halving job-scheduling barriers while keeping the plan linear.
    Degree-skew caveat: hash-partitioning by source concentrates a
    pathological hub's out-edges in one partition; salt the edge
    partitioning (operators/skew.py) if a single node's out-degree
    approaches a partition's row budget.

    Round-12 A/B record (sf0.1, 2.39M edges, 20k nodes, 8
    iterations, one session, min of 3 after warmup, bit-exact vs the
    recursive-CTE twin in every variant): round-11 broadcast +
    ckpt-every-1 baseline 6.93s; shuffle-hash + ckpt-every-1 6.14s;
    shuffle-hash + NO intermediate checkpoints 6.92s (one job, but
    AQE re-plans the full depth-8 plan); shuffle-hash + ckpt-every-2
    **5.01s** (shipped); ckpt-every-3 5.33s; ckpt-every-4 12.71s
    (fused-plan codegen/planning blowup); broadcast + ckpt-every-2
    7.74s (re-confirms round 11's rejection — each broadcast build
    forces evaluation, so fusion buys nothing under broadcast).

    Returns ``(node, pagerank)`` with ``pagerank`` rounded once at
    the end.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    # pin the RESULT behind a lazy checkpoint too: the every-2 cadence
    # leaves the final 1-2 iterations live in the plan, so without this
    # a caller doing count() then write() would replay them — the first
    # caller action materializes once, every later action reuses it
    pr = _rank_vector(edges, src, dst, iterations, damping).localCheckpoint(
        eager=False
    )
    return pr.select("node", F.round("pr", round_to).alias("pagerank"))


def _rank_vector(
    edges: DataFrame, src: str, dst: str, iterations: int, damping: float
) -> DataFrame:
    """The iterations of :func:`pagerank`: ``(node, pr, __deg)`` with
    the final 1-2 iterations still live in the plan (the plan-shape
    test inspects their joins)."""
    e = (
        edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
        .localCheckpoint(eager=False)
    )
    deg = e.groupBy("__s").agg(F.count(F.lit(1)).alias("__deg"))
    nodes = (
        e.select(F.col("__s").alias("node"))
        .union(e.select("__d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_nodes = nodes.count()  # bounded driver-side scalar (|V| is the
    # algorithm's N — one count)
    teleport = (1.0 - damping) / float(n_nodes)

    # materialize the bare edge list ONCE: without a checkpoint every
    # iteration re-executes the upstream edge derivation (A/B'd at
    # sf0.1: 19.1s -> 13.7s for 8 iterations). Hash-partitioned by
    # the join key at the session's parallelism — the checkpoint
    # preserves the partitioning, so every iteration's shuffle-hash
    # join finds the |E| side already distributed by __s and moves
    # only the |V|-row share table (and the width also fixes the
    # few-partition inheritance that left cores idle pre-round-11).
    n_par = edges.sparkSession.sparkContext.defaultParallelism
    out_edges = e.repartition(n_par, "__s").localCheckpoint(eager=False)
    # the rank vector CARRIES each node's out-degree (left join once
    # at init; dangling nodes carry 0): every iteration's share table
    # is then a pure projection of the previous rank vector — no
    # pr ⋈ deg join per iteration
    pr = (
        nodes.join(deg, nodes["node"] == deg["__s"], "left")
        .select(
            "node",
            F.lit(1.0 / float(n_nodes)).alias("pr"),
            F.coalesce(F.col("__deg"), F.lit(0)).alias("__deg"),
        )
        .localCheckpoint(eager=False)
    )
    # one zero-valued share per node, carrying the degree: unioned
    # under the per-iteration aggregate so (a) nodes with no in-edges
    # emerge from the SAME groupBy (0 contributes nothing to the
    # exact DECIMAL sum) instead of a second nodes ⋈ sums left join
    # per iteration, and (b) max(__deg) rides the aggregate to
    # re-annotate the next rank vector for free (contrib rows carry
    # NULL, the one zero row per group carries the degree)
    zero_shares = pr.select(
        "node", F.lit(0).cast("decimal(38,12)").alias("__share"), "__deg"
    ).localCheckpoint(eager=False)
    for i in range(iterations):
        # per-NODE share table (pr/deg, the identical IEEE division +
        # DECIMAL cast, just computed once per node instead of once
        # per edge — |V| divisions, not |E|); the shuffle-hash hint
        # builds on this tiny side while the pre-partitioned edge
        # list streams in place, so the per-edge work is a hash
        # probe + exact sum with no per-iteration broadcast build
        shares = pr.where(F.col("__deg") > 0).select(
            F.col("node").alias("__s"),
            (F.col("pr") / F.col("__deg"))
            .cast("decimal(38,12)")
            .alias("__share"),
        )
        contribs = out_edges.join(shares.hint("shuffle_hash"), "__s").select(
            F.col("__d").alias("node"),
            F.col("__share"),
            F.lit(None).cast("bigint").alias("__deg"),
        )
        pr = (
            contribs.unionByName(zero_shares)
            .groupBy("node")
            .agg(
                (
                    F.lit(teleport)
                    + F.lit(damping)
                    * F.sum("__share").cast("double")
                ).alias("pr"),
                F.max("__deg").alias("__deg"),
            )
        )
        # fuse two join+agg rounds per materialization (A/B in the
        # docstring: every-1 6.14s, every-2 5.01s, every-4 blows up);
        # the final iteration returns live — pagerank pins it
        if (i + 1) % 2 == 0 and i != iterations - 1:
            pr = pr.localCheckpoint(eager=False)
    return pr


def hierarchy_closure(
    nodes: DataFrame,
    key_col: str,
    parent_col: str,
    *,
    max_depth: int = 64,
) -> DataFrame:
    """Transitive ancestor closure of a parent-pointer forest — the
    recursive-hierarchy primitive behind BOM explosion, org-chart
    rollups, and category trees (SQL's RECURSIVE CTE; Spark has no
    native one). Roots are rows whose parent equals their own key or
    is NULL.

    POINTER-JUMPING driver loop over a functional parent map: each
    node carries (ancestor array so far, jump pointer at distance
    2^r); round r+1 left-joins the state with itself on the jump
    pointer, concatenating the jumped-to node's ancestor segment
    (its distances 1..2^r are this node's 2^r+1..2^(r+1)) — so a
    depth-d forest closes in ``ceil(log2(d)) + 1`` rounds of ONE
    small equi-join each (|V| rows, no distinct — unlike
    closure⋈closure squaring, the functional decomposition of a tree
    path is unique, so no pair is ever produced twice). Round-12
    A/B at sf0.1 (20k parts, depth ≤ 16): level-frontier 15 rounds /
    37 jobs / 2.27 s; closure-squaring 5 rounds but one
    self-join + distinct shuffle pair per round, 5.75 s — REJECTED;
    jump-pointer 5 rounds / 10 jobs / ~1.4 s — shipped. Arrays stay
    in-row (no shuffle growth): total state is exactly the closure
    size, and the final pairs are a shuffle-free explode. Each
    round's state sits behind a lazy localCheckpoint so round k
    never replays rounds 1..k-1; the per-round stop check (any jump
    pointer still live?) is a bounded driver count of the
    checkpointed frame. Superseded rounds' checkpoint blocks are
    left to the ContextCleaner — there are at most
    ``ceil(log2(depth)) + 1`` of them (5 for depth 16), and each is
    |V| rows; explicit per-round release is the knob to add if deep
    hierarchies ever show executor memory pressure. Cycles cannot null their jump pointers, so
    coverage passing ``max_depth`` with live pointers raises; a
    final max-ancestor-count check restores the exact
    deeper-than-max_depth contract for forests. Multi-parent input
    (not a forest) now raises instead of silently fanning out the
    jump join.

    Returns distinct ``(key_col, ancestor)`` pairs, roots excluded
    from the key side (a root has no ancestors).
    """
    state = (
        nodes.where(
            F.col(parent_col).isNotNull()
            & (F.col(parent_col) != F.col(key_col))
        )
        .select(
            F.col(key_col).alias("__k"),
            F.array(F.col(parent_col)).alias("__anc"),
            F.col(parent_col).alias("__far"),
        )
        # exact-duplicate (key, parent) rows are benign — collapse them
        # BEFORE the forest check so only genuine multi-parent keys
        # raise (pre-round-13 the check conflated the two)
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_edges, n_keys = state.agg(
        F.count(F.lit(1)), F.countDistinct("__k")
    ).first()
    if n_edges != n_keys:
        raise ValueError(
            "multi-parent input: hierarchy_closure requires a "
            "parent-pointer forest (one parent per key); exact "
            "duplicate rows are tolerated, distinct parents are not"
        )
    covered = 1  # ancestors within this distance are in __anc
    while True:
        j = state.select(
            F.col("__k").alias("__jk"),
            F.col("__anc").alias("__janc"),
            F.col("__far").alias("__jfar"),
        )
        state = (
            state.join(j, state["__far"] == j["__jk"], "left")
            .select(
                state["__k"],
                F.when(F.col("__jk").isNull(), state["__anc"])
                .otherwise(F.concat(state["__anc"], F.col("__janc")))
                .alias("__anc"),
                # join miss = __far was a root (no out-row): path done
                F.col("__jfar").alias("__far"),
            )
            .localCheckpoint(eager=False)
        )
        n_live = state.where(F.col("__far").isNotNull()).count()
        if n_live == 0:
            break
        covered *= 2
        if covered > max_depth:
            raise ValueError(
                f"hierarchy deeper than max_depth={max_depth} (cycle?)"
            )
    deepest = state.agg(F.max(F.size("__anc"))).first()[0]
    if deepest is not None and deepest > max_depth:
        raise ValueError(
            f"hierarchy deeper than max_depth={max_depth} (cycle?)"
        )
    return state.select(
        F.col("__k").alias(key_col), F.explode("__anc").alias("ancestor")
    )
