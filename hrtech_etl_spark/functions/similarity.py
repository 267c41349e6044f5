"""Similarity search over embedding columns (``array<float>``).

Two paths, same contract:

- **Brute-force cosine top-k** — exact; a single projection computing
  the score (JVM higher-order functions, no Python) + a top-k. Cost is
  O(n·d) per query: the right baseline and the verifier for the
  approximate path.
- **LSH-bucketed top-k** — sign-random-projection buckets computed
  with the portable hash, so buckets are deterministic and
  oracle-reproducible. Probes only the query's bucket: at 100TB the
  scan touches 1/16 of the corpus (bucketing prunes at the
  partition level when data is written bucketed by ``bucket``).

Scores are computed in double precision and rounded to 6 decimals so
engine-to-engine float drift cannot flip the hash check. A cosine
involving a zero-norm vector is NULL (as in the DuckDB oracle), so such
a vector ranks after every scored row and passes no threshold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hrtech_etl_spark.core.partitioning import spread as _spread


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return F.round(F.try_divide(_dot(a, b), _norm(a) * _norm(b)), 6)


def cosine_vs(a: Column, b: Column, b_norm: Column) -> Column:
    """Cosine against a vector whose norm is precomputed (hoisted onto
    the broadcast side): the naive form re-evaluates the constant query
    norm's 64-element fold per corpus row — measured ~25% of brute-force
    scoring at sf0.1. Bit-identical to :func:`cosine` (same ops, same
    order, the norm is just computed once)."""
    return F.round(F.try_divide(_dot(a, b), _norm(a) * b_norm), 6)


def cosine_topk(
    embeddings: DataFrame,
    query: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine against a single query vector.

    ``query`` is a one-row DataFrame carrying the query vector — kept
    in-plan (broadcast nested-loop of a 1-row side) rather than
    collected, so the same code works when the vector comes from a
    subquery. Ties break on id for determinism.
    """
    q = F.broadcast(
        query.select(
            F.col(vec_col).alias("__qvec"),
            _norm(F.col(vec_col)).alias("__qn"),
        )
    )
    scored = _spread(embeddings).crossJoin(q).select(
        F.col(id_col),
        cosine_vs(F.col(vec_col), F.col("__qvec"), F.col("__qn")).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


# _spread = core.partitioning.spread — scale-conditional: widens a
# narrow scan (the single-file local case) so the interpreted HOF dot
# products parallelize, and is an IDENTITY on an already-wide
# cluster-scale scan, where the old unconditional round-robin exchange
# was a full extra pass over the corpus that the LSH bucket filter then
# discarded ~15/16 of.


def cosine_topk_batch(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str | None = None,
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine for a BATCH of query vectors in one corpus
    pass — the realistic retrieval shape (dedup against a probe set,
    eval-set nearest neighbors) where running :func:`cosine_topk` per
    query would rescan the corpus N times.

    The query table broadcasts with hoisted norms; the corpus is
    scanned ONCE, scoring all queries per row; per-query top-k is a
    rank window over ``query_id``, which Spark executes as
    WindowGroupLimit (partial per-partition top-k before the single
    shuffle on query id — no full sort of the scored corpus). Ties
    break on corpus id. Output: (query_id, id, score), k rows per
    query. Broadcast bound: queries must fit executor memory
    (thousands of probes, not millions — split larger probe sets into
    batches)."""
    from pyspark.sql import Window as W

    qid = query_id_col or id_col
    q = F.broadcast(
        queries.select(
            F.col(qid).alias("query_id"),
            F.col(vec_col).alias("__qvec"),
            _norm(F.col(vec_col)).alias("__qn"),
        )
    )
    scored = _spread(embeddings).crossJoin(q).select(
        F.col("query_id"),
        F.col(id_col),
        cosine_vs(F.col(vec_col), F.col("__qvec"), F.col("__qn")).alias("score"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def srp_bucket(vec: Column) -> Column:
    """Sign-random-projection LSH bucket id in ``0..15``.

    The projection matrix is the fixed 4 × 64 ±1 ``_PROJ_SIGNS`` table,
    from md5 parity of ``(bit, dimension)`` — fully deterministic, no
    stored model. Bucket bit b = [<vec, r_b> > 0], one zip_with fold
    against a literal sign array per bit.
    """
    bucket = F.lit(0).cast("long")
    for b, row in enumerate(_PROJ_SIGNS):
        signs = F.array(*[F.lit(1.0 if s else -1.0) for s in row])
        proj = F.aggregate(
            F.zip_with(vec, signs, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return bucket


def _proj_sign_table() -> tuple[tuple[bool, ...], ...]:
    """The 4 × 64 projection signs (row b = bucket bit b, True = +1)
    from md5 parity — mirrors ``portable_hash(f'{b}:{d}', seed=7) % 2``
    and is rendered into the oracle SQL the same way (constants, so
    both engines agree by construction)."""
    import hashlib

    return tuple(
        tuple(
            int(hashlib.md5(f"7:{b}:{d}".encode()).hexdigest()[:8], 16) % 2 == 1
            for d in range(64)
        )
        for b in range(4)
    )


_PROJ_SIGNS = _proj_sign_table()


def lsh_cosine_topk(
    embeddings: DataFrame,
    query: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's SRP bucket.

    Recall is bucket-limited by design (the exact trade the operator
    makes); the brute-force path is the oracle. At scale, write the
    corpus bucketed/partitioned by ``srp_bucket`` so the probe is a
    partition-pruned scan instead of a full pass.
    """
    corpus = _spread(embeddings).withColumn("__bucket", srp_bucket(F.col(vec_col)))
    q = F.broadcast(
        query.select(
            F.col(vec_col).alias("__qvec"),
            _norm(F.col(vec_col)).alias("__qn"),
            srp_bucket(F.col(vec_col)).alias("__qbucket"),
        )
    )
    scored = (
        corpus.join(q, corpus["__bucket"] == q["__qbucket"])
        .select(
            F.col(id_col),
            cosine_vs(F.col(vec_col), F.col("__qvec"), F.col("__qn")).alias("score"),
        )
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def _quantizer(
    embeddings: DataFrame,
    *,
    vec_col: str,
    id_col: str,
    n_centroids: int,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """The coarse quantizer as ONE broadcast row ``__cents``:
    ``array<struct<__cid, __cvec, __cn>>`` sorted by cid, norms hoisted.

    Centroids are *seed vectors* (the corpus vectors with
    ``id < n_centroids``) unless ``centroids`` supplies a
    ``(__cid, __cvec)`` frame. Seed assignment is fully deterministic
    and oracle-reproducible; either way assignment is a per-row argmax
    fold over the array (:func:`_centroid_sims`), zero shuffle.
    """
    if centroids is not None:
        cent_rows = centroids.select(
            "__cid", "__cvec", _norm(F.col("__cvec")).alias("__cn")
        )
    else:
        cent_rows = embeddings.where(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("__cid"),
            F.col(vec_col).alias("__cvec"),
            _norm(F.col(vec_col)).alias("__cn"),
        )
    return F.broadcast(
        cent_rows.agg(
            F.array_sort(
                F.collect_list(F.struct("__cid", "__cvec", "__cn"))
            ).alias("__cents")
        )
    )


def _centroid_sims(vec: Column) -> Column:
    """Per-centroid ``(sim, negcid)`` structs against ``__cents``. Their
    struct order is the assignment order: highest rounded cosine, then
    LOWEST cid, so ``array_max`` is the argmax and a descending sort
    ranks the nearest lists."""
    return F.transform(
        F.col("__cents"),
        lambda c: F.struct(
            cosine_vs(vec, c.getField("__cvec"), c.getField("__cn")).alias("sim"),
            (-c.getField("__cid")).alias("negcid"),
        ),
    )


def ivf_cosine_topk(
    embeddings: DataFrame,
    query: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize the corpus into
    inverted lists, probe only the query's ``nprobe`` nearest lists.

    Centroids are *seed vectors* (the ``n_centroids`` lowest-id corpus
    vectors) rather than trained k-means means: assignment is therefore
    fully deterministic and oracle-reproducible. At scale, write the
    corpus partitioned by ``cid`` so each probe is a partition-pruned
    scan of nprobe/n_centroids of the data.

    Plan: the centroid table collapses to ONE broadcast row holding the
    centroid array, so corpus assignment is a pure projection — an
    argmax fold over the array per vector, ZERO shuffle (the former
    crossJoin + row_number window shuffled 8× the corpus; at scale that
    shuffle dominates everything else in the query). Probe = broadcast
    semi-join of the query's nprobe best lists → exact cosine + top-k.
    Tie-break matches the window formulation: highest rounded cosine,
    then LOWEST cid (struct max over (sim, -cid)).
    """
    cents_arr = _quantizer(
        embeddings, vec_col=vec_col, id_col=id_col, n_centroids=n_centroids
    )

    def with_best(df: DataFrame, keep: int) -> DataFrame:
        """Attach the `keep` nearest centroid ids as an exploded __cid
        column; assignment is a per-row argmax fold — no shuffle."""
        scored = df.crossJoin(cents_arr).withColumn(
            "__sims", _centroid_sims(F.col(vec_col))
        )
        if keep == 1:
            best = F.array_max(F.col("__sims"))
            return scored.withColumn(
                "__cid", -best.getField("negcid")
            ).drop("__cents", "__sims")
        top = F.slice(F.reverse(F.array_sort(F.col("__sims"))), 1, keep)
        return (
            scored.withColumn(
                "__cid", F.explode(F.transform(top, lambda s: -s.getField("negcid")))
            )
            .drop("__cents", "__sims")
        )

    assigned = with_best(_spread(embeddings), keep=1)
    probe_lists = with_best(query, keep=nprobe).select(
        F.col("__cid"),
        F.col(vec_col).alias("__qvec"),
        _norm(F.col(vec_col)).alias("__qn"),
    )
    scored = assigned.join(F.broadcast(probe_lists), "__cid").select(
        F.col(id_col),
        cosine_vs(F.col(vec_col), F.col("__qvec"), F.col("__qn")).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str = "label",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within blocking groups
    (label, cluster id, or SRP bucket) — the embedding analog of
    blocked n-gram Jaccard. Norms are computed once per ROW before the
    self-join (each row pairs with every block-mate, so per-pair norm
    evaluation would redo the same 64-element fold ~block-size times);
    the per-pair work is the dot product alone."""
    # No spread here: the heavy cosine runs AFTER the block-key join's
    # shuffle, which already redistributes rows across cores.
    with_norm = embeddings.withColumn("__n", _norm(F.col(vec_col)))
    a, b = with_norm.alias("a"), with_norm.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(
                F.try_divide(
                    _dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")),
                    F.col("a.__n") * F.col("b.__n"),
                ),
                6,
            ).alias("score"),
        )
        .where(F.col("score") >= threshold)
    )


def semantic_dedup(
    embeddings: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 8,
    threshold: float = 0.4,
    centroids: DataFrame | None = None,
    max_cluster_size: int | None = 20_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate pruning — coarse-cluster the embeddings, connect
    within-cluster pairs with cosine ≥ ``threshold`` into components,
    and in each component KEEP the member FARTHEST from its cluster
    centroid (the paper's keep rule: the least-prototypical example
    carries the most marginal information), tie-broken to the lowest
    id. Returns ``(id_col, cid, component, keep)`` for every vector —
    callers drop ``keep = false`` rows.

    Scale shape: clustering IS the blocking (the paper's design — the
    within-cluster pair join is quadratic only in cluster size, and
    ``n_centroids`` grows with the corpus to keep clusters bounded).
    Assignment reuses the ivf_cosine_topk quantizer: deterministic seed
    vectors by default (the ``n_centroids`` vectors with
    ``id < n_centroids`` — the id space must contain them, or the call
    raises) so the oracle replays it exactly, or the centroids given as
    ``centroids=`` — a ``(__cid INT, __cvec ARRAY<DOUBLE>)`` frame with
    one row per centroid. Either way the quantizer collapses to ONE
    broadcast row and assignment is a per-row argmax fold, zero
    shuffle. A zero-norm vector has a NULL cosine to every centroid
    and every other vector, so it pairs with nothing and is kept as
    its own component. Components come from the same clustering as
    text dedup (functions/dedup.py::near_dup_clusters): a pair graph
    of at most ``_DRIVER_FINISH_MAX_EDGES`` edges finishes in one
    driver-side union-find, a larger one runs the pointer-jumping
    distributed min-label rounds.

    ``max_cluster_size`` is the LOUD VALVE on that quadratic block —
    the semantic twin of the stop-shingle valve
    (functions/dedup.py::remove_stop_shingles): blocking only bounds
    the pair join if cluster populations actually stay bounded, and a
    fixed ``n_centroids`` under a growing corpus silently turns each
    cluster into an all-pairs join (corpus/k members → (corpus/k)²/2
    candidate pairs per cluster). Any cluster past the cap raises —
    at the default 20k members a cluster already means 2×10⁸
    candidate cosines — with the fix in the message: raise
    ``n_centroids`` (or pass a ``centroids=`` frame with more rows)
    so expected membership stays under the cap; pass
    ``None`` only when the quadratic block is deliberate. The check
    rides the pair join's own broadcast (≤ n_centroids counted rows),
    zero extra shuffle over the corpus.
    """
    from hrtech_etl_spark.functions.dedup import near_dup_clusters

    cents_arr = _quantizer(
        embeddings,
        vec_col=vec_col,
        id_col=id_col,
        n_centroids=n_centroids,
        centroids=centroids,
    )
    # argmax fold keeping BOTH the assigned cid and the cosine to it
    # (the keep-rule key)
    best = F.array_max(_centroid_sims(F.col(vec_col)))
    # loud empty-quantizer guard: an id space with nothing below
    # n_centroids (hashed ids, 1-based ids) would otherwise yield an
    # empty centroid array → NULL cid for every row → zero pairs →
    # every vector silently kept (a dedup that does nothing)
    cid = F.when(
        F.size("__cents") > 0, (-best.getField("negcid")).cast("int")
    ).otherwise(
        F.raise_error(
            F.lit(
                "semantic_dedup: empty quantizer — no seed vectors with "
                f"{id_col} < n_centroids; pass centroids= (a (__cid, "
                "__cvec) frame, one row per centroid) for non-contiguous "
                "id spaces"
            )
        ).cast("int")
    )
    assigned = (
        _spread(embeddings)
        .crossJoin(cents_arr)
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            cid.alias("cid"),
            best.getField("sim").alias("csim"),
        )
        .localCheckpoint(eager=False)  # pairs + components + keep all
        # read this frame; without the pin each consumer replays the
        # scan + fold
    )
    pair_src = assigned
    if max_cluster_size is not None:
        # cluster-size valve: counts aggregate to ≤ n_centroids rows,
        # broadcast back onto the pair join's build of each side; the
        # trivially-true filter on the guarded count is what keeps
        # column pruning from dropping the raise_error branch
        csize = assigned.groupBy("cid").agg(
            F.count(F.lit(1)).alias("__csz")
        )
        csize = csize.select(
            "cid",
            F.when(F.col("__csz") <= F.lit(int(max_cluster_size)), F.col("__csz"))
            .otherwise(
                F.raise_error(
                    F.format_string(
                        "semantic_dedup: cluster %s holds %s vectors — "
                        f"past max_cluster_size={int(max_cluster_size)}; "
                        "the within-cluster pair join is quadratic in "
                        "cluster size. Raise n_centroids (or pass a "
                        "centroids= (__cid, __cvec) frame with more "
                        "rows) so clusters stay bounded, or set "
                        "max_cluster_size=None if the quadratic block "
                        "is deliberate",
                        F.col("cid"),
                        F.col("__csz"),
                    )
                ).cast("long")
            )
            .alias("__csz"),
        )
        pair_src = (
            assigned.join(F.broadcast(csize), "cid")
            .where(F.col("__csz") >= 1)
            .drop("__csz")
        )
    a, b = pair_src.alias("a"), pair_src.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .where(cosine(F.col("a.v"), F.col("b.v")) >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    comp = near_dup_clusters(pairs, assigned.select("id"), "id").withColumnRenamed(
        "cluster", "component"
    )
    scored = assigned.join(comp, "id")
    keepers = scored.groupBy("component").agg(
        F.min_by("id", F.struct("csim", "id")).alias("__keep_id")
    )
    return (
        scored.join(keepers, "component")
        .select(
            F.col("id").alias(id_col),
            "cid",
            "component",
            (F.col("id") == F.col("__keep_id")).alias("keep"),
        )
    )
