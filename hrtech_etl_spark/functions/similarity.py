"""Similarity search over embedding columns (``array<float>``).

Two paths, same contract:

- **Brute-force cosine top-k** — exact; a single projection computing
  the score (JVM higher-order functions, no Python) + a top-k. Cost is
  O(n·d) per query: the right baseline and the verifier for the
  approximate path.
- **LSH-bucketed top-k** — sign-random-projection buckets computed
  with the portable hash, so buckets are deterministic and
  oracle-reproducible. Probes only the query's bucket: at 100TB the
  scan touches 1/2^bits of the corpus (bucketing prunes at the
  partition level when data is written bucketed by ``bucket``).

Scores are computed in double precision and rounded to 6 decimals so
engine-to-engine float drift cannot flip the hash check.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hrtech_etl_spark.core.partitioning import spread as _spread
from hrtech_etl_spark.functions.hashing import portable_hash


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
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), 6)


def cosine_vs(a: Column, b: Column, b_norm: Column) -> Column:
    """Cosine against a vector whose norm is precomputed (hoisted onto
    the broadcast side): the naive form re-evaluates the constant query
    norm's 64-element fold per corpus row — measured ~25% of brute-force
    scoring at sf0.1. Bit-identical to :func:`cosine` (same ops, same
    order, the norm is just computed once)."""
    return F.round(_dot(a, b) / (_norm(a) * b_norm), 6)


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
# discarded ~(2^bits−1)/2^bits of.


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


def srp_bucket(vec: Column, *, bits: int = 4, dim: int = 64) -> Column:
    """Sign-random-projection LSH bucket id.

    Projection matrix entries are ±1 derived from md5 parity of
    ``(bit, dimension)`` — fully deterministic, no stored model. Bucket
    bit b = sign of <vec, r_b>, computed as one zip_with fold against a
    literal sign array (a compact codegen'd expression per bit).
    """
    bucket = F.lit(0).cast("long")
    for b in range(bits):
        signs = F.array(*[F.lit(1.0 if _PROJ_SIGNS[(b, d)] else -1.0) for d in range(dim)])
        proj = F.aggregate(
            F.zip_with(vec, signs, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return bucket


def _proj_sign_table(bits: int = 4, dim: int = 64) -> dict[tuple[int, int], bool]:
    """Precompute ±1 signs from md5 parity — mirrors
    ``portable_hash(f'{b}:{d}', seed=7) % 2`` and is rendered into the
    oracle SQL the same way (constants, so both engines agree by
    construction)."""
    import hashlib

    table = {}
    for b in range(bits):
        for d in range(dim):
            h = hashlib.md5(f"7:{b}:{d}".encode()).hexdigest()[:8]
            table[(b, d)] = (int(h, 16) % 2) == 1
    return table


_PROJ_SIGNS = _proj_sign_table()


def lsh_cosine_topk(
    embeddings: DataFrame,
    query: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    bits: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's SRP bucket.

    Recall is bucket-limited by design (the exact trade the operator
    makes); the brute-force path is the oracle. At scale, write the
    corpus bucketed/partitioned by ``srp_bucket`` so the probe is a
    partition-pruned scan instead of a full pass.
    """
    corpus = _spread(embeddings).withColumn(
        "__bucket", srp_bucket(F.col(vec_col), bits=bits, dim=dim)
    )
    q = F.broadcast(
        query.select(
            F.col(vec_col).alias("__qvec"),
            _norm(F.col(vec_col)).alias("__qn"),
            srp_bucket(F.col(vec_col), bits=bits, dim=dim).alias("__qbucket"),
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


def train_ivf_centroids(
    embeddings: DataFrame,
    *,
    vec_col: str = "embedding",
    n_centroids: int = 8,
    seed: int = 7,
    max_iter: int = 20,
) -> DataFrame:
    """Train a k-means coarse quantizer for :func:`ivf_cosine_topk` —
    the production path (the deterministic seed-vector default exists
    so the oracle can replicate assignment). Returns the tiny
    ``(__cid, __cvec)`` broadcast table; persist it next to the corpus
    and write the corpus partitioned by its assigned ``__cid`` so every
    probe is a partition-pruned scan. Spark ML runs the training as the
    usual sampled-init + Lloyd iterations over the cluster — no
    driver-side data pass beyond the k centers."""
    from pyspark.ml.clustering import KMeans  # import-gated: ML optional
    from pyspark.ml.functions import array_to_vector

    feats = embeddings.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(feats)
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "`__cid` INT, `__cvec` ARRAY<DOUBLE>",
    )


def lsh_multiprobe_topk(
    embeddings: DataFrame,
    query: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    bits: int = 4,
    dim: int = 64,
    n_probes: int = 3,
) -> DataFrame:
    """Multiprobe SRP top-k: probe the query's bucket PLUS the buckets
    reached by flipping its lowest-|margin| sign bits — the standard
    recall fix for bucket-limited LSH without adding hash tables.

    A near neighbor that lands in another bucket almost always differs
    in the bit whose hyperplane the query sits closest to, so probing
    those neighbors first recovers most of the lost recall while still
    scanning only ``n_probes``/2^bits of the corpus. Probes are
    generated from the query's per-bit projection magnitudes (flip the
    smallest-margin bit, then the next, …) — deterministic, broadcast
    as a tiny bucket list, and the probe join stays a partition-prune
    when the corpus is written bucketed by ``srp_bucket``.
    """
    corpus = _spread(embeddings).withColumn(
        "__bucket", srp_bucket(F.col(vec_col), bits=bits, dim=dim)
    )
    # Per-bit signed projections of the query, as (|margin|, bit) pairs.
    projs = []
    for b in range(bits):
        signs = F.array(
            *[F.lit(1.0 if _PROJ_SIGNS[(b, d)] else -1.0) for d in range(dim)]
        )
        proj = F.aggregate(
            F.zip_with(F.col(vec_col), signs, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        projs.append(F.struct(F.abs(proj).alias("m"), F.lit(b).alias("b")))
    base = srp_bucket(F.col(vec_col), bits=bits, dim=dim)
    flips = F.slice(
        F.transform(
            F.array_sort(F.array(*projs)), lambda s: s.getField("b")
        ),
        1,
        max(n_probes - 1, 0),
    )
    # bucket list = [base] + [base XOR (1 << lowest-margin bits)]
    buckets = F.array_union(
        F.array(base),
        F.transform(
            flips,
            # shiftleft() takes only a literal shift; 2^b via pow is
            # exact in double for b < 53
            lambda b: base.bitwiseXOR(
                F.pow(F.lit(2.0), b.cast("double")).cast("long")
            ),
        ),
    )
    q = F.broadcast(
        query.select(
            F.col(vec_col).alias("__qvec"),
            _norm(F.col(vec_col)).alias("__qn"),
            F.explode(buckets).alias("__qbucket"),
        )
    )
    scored = corpus.join(q, corpus["__bucket"] == q["__qbucket"]).select(
        F.col(id_col),
        cosine_vs(F.col(vec_col), F.col("__qvec"), F.col("__qn")).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def ivf_cosine_topk(
    embeddings: DataFrame,
    query: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize the corpus into
    inverted lists, probe only the query's ``nprobe`` nearest lists.

    Centroids here are *seed vectors* (the ``n_centroids`` lowest-id
    corpus vectors) rather than trained k-means means: assignment is
    therefore fully deterministic and oracle-reproducible, while the
    plan shape is exactly what a trained quantizer uses — at scale you
    swap in trained centroids (a tiny broadcast table) and write the
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

    Pass ``centroids=train_ivf_centroids(...)`` (``__cid, __cvec``) to
    swap in the trained quantizer; the plan is unchanged.
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
    # one row: array<struct<cid, cvec, cn>> — the whole quantizer
    cents_arr = F.broadcast(
        cent_rows.agg(
            F.array_sort(
                F.collect_list(F.struct("__cid", "__cvec", "__cn"))
            ).alias("__cents")
        )
    )

    def with_best(df: DataFrame, keep: int) -> DataFrame:
        """Attach the `keep` nearest centroid ids as an exploded __cid
        column; assignment is a per-row argmax fold — no shuffle."""
        sims = F.transform(
            F.col("__cents"),
            lambda c: F.struct(
                cosine_vs(
                    F.col(vec_col), c.getField("__cvec"), c.getField("__cn")
                ).alias("sim"),
                (-c.getField("__cid")).alias("negcid"),
            ),
        )
        scored = df.crossJoin(cents_arr).withColumn("__sims", sims)
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


# ---------------------------------------------------------------------------
# Product quantization (PQ) — memory-bound ANN at billions of vectors
# ---------------------------------------------------------------------------

def pq_codebook(
    embeddings: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
) -> DataFrame:
    """One-row broadcastable PQ codebook: ``__cb`` is
    ``array<array<array<double>>>`` of shape m × ksub × (dim/m).

    Seed-vector construction (subspace s's centroids are the s-th
    subvectors of the ``ksub`` lowest-id corpus vectors) — same
    determinism contract as :func:`ivf_cosine_topk`'s coarse
    quantizer, so the oracle can replicate encoding exactly. At
    production scale swap in per-subspace k-means centroids (train on
    a sample, same shape) — every plan below is unchanged.

    A codebook is a driver-side artifact (like a trained model): the
    ksub seed rows are fetched with ONE bounded collect
    (TakeOrderedAndProject of ksub · dim doubles — a few KiB) and the
    m × ksub × dsub nesting is sliced in Python, exactly as
    :func:`pq_codebook_trained` does. The result is a broadcast
    LocalRelation, so a query that feeds the SAME codebook to both
    :func:`pq_encode` and :func:`pq_adc_topk` evaluates it once —
    earlier revisions built it as a window+aggregate subtree that the
    plan duplicated per consumer and probed with an extra eager
    ``count()`` job.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    # The ksub lowest-id vectors regardless of id density (sparse or
    # 1-based ids would silently under-fill an `id < ksub` filter);
    # subspace j is the seed's RANK, so the codebook is always full.
    # The underfill check rides the collect — no separate count job.
    seeds = (
        embeddings.select(
            F.col(id_col).alias("__sid"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .orderBy("__sid")
        .limit(ksub)
        .collect()
    )
    if len(seeds) < ksub:
        raise ValueError(
            f"pq_codebook: corpus has fewer than ksub={ksub} vectors"
        )
    seeds.sort(key=lambda r: r["__sid"])
    cb = [
        [[float(x) for x in r["v"][s * dsub : (s + 1) * dsub]] for r in seeds]
        for s in range(m)
    ]
    return F.broadcast(
        embeddings.sparkSession.createDataFrame(
            [(cb,)], "`__cb` ARRAY<ARRAY<ARRAY<DOUBLE>>>"
        )
    )


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 between two double arrays, sequential left fold (the
    summation order the oracle unrolls term by term)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_encode(
    embeddings: DataFrame,
    codebook: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Encode each vector as ``__codes array<int>`` (m codes, one per
    subspace): code s = argmin over the subspace's centroids of
    round-6 squared L2, ties to the lowest centroid id.

    This is THE compression step: at nbits=4/m=8 a 64-float vector
    (256 B) becomes 8 codes (4 B packed) — the reason PQ scans fit in
    memory at billions of vectors. Pure projection: the codebook is a
    broadcast 1-row side, assignment is an argmin fold per subspace,
    zero shuffle. Keeps all input columns and adds ``__codes``.

    Perf note (A/B'd, same session, bit-identical codes): fully
    UNROLLING the m*ksub*dsub distance terms into least(struct(d,j))
    expressions to escape interpreted HOFs is 7x SLOWER here — the
    generated processNext() exceeds janino's method limits
    (InternalCompilerException at ~5.7k lines), so Spark falls back to
    interpreting a tree ~10x this one's size. The compact HOF fold is
    the fastest exact formulation available; don't re-try the unroll.
    (numpy/pandas vectorization stays rejected too: pairwise summation
    breaks the fold-order-exact oracle match.)
    """
    dsub = dim // m

    def subspace_code(s: int) -> Column:
        sub = F.slice(F.col(vec_col).cast("array<double>"), s * dsub + 1, dsub)

        def cand(j: Column) -> Column:
            return F.struct(
                F.round(
                    -_l2sq(
                        sub,
                        F.element_at(F.element_at(F.col("__cb"), s + 1), j + 1),
                    ),
                    6,
                ).alias("nd"),
                (-j).alias("nj"),
            )

        cands = F.transform(F.sequence(F.lit(0), F.lit(ksub - 1)), cand)
        return (-F.array_max(cands).getField("nj")).cast("int")

    code_cols = [subspace_code(s) for s in range(m)]
    # scale-conditional width (core.partitioning.spread): the argmin
    # fold is the CPU-heavy stage of the whole PQ cascade, and a
    # narrow local scan (one parquet file) would run it on one core —
    # round-11 finding: the sf0.1 embeddings scan is 1 partition, so
    # the encode serialized the entire cascade (sim_pq_topk 2.9s →
    # 0.7s with the spread). A cluster-wide scan passes through
    # unchanged, preserving the zero-shuffle contract where it holds.
    return (
        _spread(embeddings).crossJoin(codebook)
        .withColumn("__codes", F.array(*code_cols))
        .drop("__cb")
    )


def pq_adc_topk(
    encoded: DataFrame,
    codebook: DataFrame,
    query: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query stays exact,
    each corpus vector is its reconstruction cb[s][codes[s]] — distance
    is the classic ADC sum of per-subspace squared L2s. Returns the k
    smallest ``(id, dist2)``, ties on id.

    The scan reads ONLY ``__codes`` (+id): the raw vector column is
    untouched, which at scale means scanning m bytes instead of 4·dim
    per row. Codebook and query are 1-row broadcast sides; scoring is
    a projection; top-k is TakeOrderedAndProject — no shuffle beyond
    the final k-row gather.
    """
    dsub = dim // m
    q = F.broadcast(
        query.select(F.col(vec_col).cast("array<double>").alias("__qv"))
    )
    dist = F.lit(0.0)
    for s in range(m):
        qsub = F.slice(F.col("__qv"), s * dsub + 1, dsub)
        centroid = F.element_at(
            F.element_at(F.col("__cb"), s + 1),
            F.element_at(F.col("__codes"), s + 1) + 1,
        )
        dist = dist + _l2sq(qsub, centroid)
    return (
        encoded.select(id_col, "__codes")
        .crossJoin(codebook)
        .crossJoin(q)
        .select(F.col(id_col), F.round(dist, 6).alias("dist2"))
        .orderBy(F.col("dist2").asc(), F.col(id_col))
        .limit(k)
    )


def pq_codebook_trained(
    embeddings: DataFrame,
    *,
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    seed: int = 7,
    max_iter: int = 20,
) -> DataFrame:
    """Per-subspace k-means PQ codebook — the production quantizer
    (lower reconstruction error than the deterministic seed-vector
    codebook, hence better shortlist recall). Same ``__cb`` shape as
    :func:`pq_codebook`, so every downstream plan is unchanged. Trains
    m independent KMeans fits on the subvectors (at 100 TB: on a
    sample — PQ codebooks saturate at ~100k training points)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.ml.clustering import KMeans  # import-gated: ML optional
    from pyspark.ml.functions import array_to_vector

    dsub = dim // m
    spark = embeddings.sparkSession

    def fit_subspace(s: int) -> list[list[float]]:
        feats = embeddings.select(
            array_to_vector(
                F.slice(F.col(vec_col).cast("array<double>"), s * dsub + 1, dsub)
            ).alias("features")
        )
        model = KMeans(k=ksub, seed=seed + s, maxIter=max_iter).fit(feats)
        return [[float(x) for x in c] for c in model.clusterCenters()]

    # the m subspace fits are independent (each seeded on its own) —
    # submit them as concurrent Spark jobs instead of serializing m
    # iterative MLlib fits on the driver (round 11: 13.8s → 5.6s at
    # sf0.1; results are bit-identical, scheduling does not enter the
    # math)
    with ThreadPoolExecutor(max_workers=m) as ex:
        cb = list(ex.map(fit_subspace, range(m)))
    return F.broadcast(
        spark.createDataFrame([(cb,)], "`__cb` ARRAY<ARRAY<ARRAY<DOUBLE>>>")
    )


def pq_rerank_topk(
    embeddings: DataFrame,
    encoded: DataFrame,
    codebook: DataFrame,
    query: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    shortlist: int = 100,
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """The standard PQ deployment: ADC over the compressed codes makes
    a ``shortlist`` of candidates (the cheap full scan — m bytes per
    row), then ONLY those rows' raw vectors are fetched for an exact
    squared-L2 re-rank to top-k. The expensive exact distance touches
    shortlist/n of the corpus; the broadcast shortlist join is a
    point-lookup pattern (partition-pruned when the corpus is stored
    sorted/bucketed by id). Returns exact ``(id, dist2)``."""
    short_ids = pq_adc_topk(
        encoded, codebook, query, vec_col=vec_col, id_col=id_col,
        k=shortlist, m=m, dim=dim,
    ).select(id_col)
    q = F.broadcast(
        query.select(F.col(vec_col).cast("array<double>").alias("__qv"))
    )
    return (
        embeddings.join(F.broadcast(short_ids), id_col, "left_semi")
        .crossJoin(q)
        .select(
            F.col(id_col),
            F.round(
                _l2sq(F.col(vec_col).cast("array<double>"), F.col("__qv")), 6
            ).alias("dist2"),
        )
        .orderBy(F.col("dist2").asc(), F.col(id_col))
        .limit(k)
    )


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
                _dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
                / (F.col("a.__n") * F.col("b.__n")),
                6,
            ).alias("score"),
        )
        .where(F.col("score") >= threshold)
    )


def achlioptas_matrix(
    *, out_dim: int = 8, dim: int = 64, seed: int = 5
) -> list[list[int]]:
    """Sparse random-projection matrix (Achlioptas 2003): entries
    ∈ {+1, −1, 0} with probabilities {1/6, 1/6, 2/3}, derived from md5
    of ``(seed, out_row, in_dim)`` — fully deterministic constants, no
    stored model, renderable identically into Spark expressions and
    oracle SQL (the :func:`srp_bucket` sign-table contract, extended
    to three-valued sparse entries)."""
    import hashlib

    m: list[list[int]] = []
    for j in range(out_dim):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"{seed}:{j}:{d}".encode()).hexdigest()[:8], 16)
            row.append(1 if h % 6 == 0 else (-1 if h % 6 == 1 else 0))
        m.append(row)
    return m


def random_projection(
    embeddings: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    out_dim: int = 8,
    dim: int = 64,
    seed: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with the sparse
    Achlioptas matrix: ``y_j = sqrt(3/out_dim) · Σ_d x_d · r_jd`` with
    r from :func:`achlioptas_matrix` — the standard cheap projection
    before clustering/ANN at scale (2/3 of the terms vanish, and the
    matrix is seed-derived constants, so there is NO model to ship).

    Pure per-row expression — one scan, zero shuffles, columnar
    codegen. Each output coordinate is an EXPLICIT left-associated
    chain over the ~dim/3 non-zero entries (the PQ unrolled-sum
    contract), so a SQL oracle replays the float ops bit-for-bit.
    Returns ``(id, y0..y{out_dim-1})`` rounded to ``round_to``."""
    import math

    m = achlioptas_matrix(out_dim=out_dim, dim=dim, seed=seed)
    scale = math.sqrt(3.0 / out_dim)
    # One selectExpr with server-side-parsed strings: composing the
    # ~out_dim * dim/3 terms from Column operators costs hundreds of
    # py4j round-trips PER CALL (round-17 profiling: ~1.2s wall against
    # 0.06s of actual job time). The SQL text states the identical
    # left-associated chain, the same element_at/CAST ops, and the
    # scale constant via repr() (shortest round-trip form of a double,
    # parsed back bit-identically).
    scale_sql = f"CAST('{scale!r}' AS DOUBLE)"
    # Backtick-quote the interpolated names: F.col() took them as plain
    # attribute names, so the SQL strings must too — unquoted, a name
    # like "user-id" reparses as arithmetic. Embedded backticks are
    # escaped by doubling (the SQL-identifier rule), so a hostile or
    # merely unlucky column name cannot terminate the quote early and
    # change the expression. Behavior note vs the pre-selectExpr
    # formulation: a DOTTED name like "a.b" is taken as the literal
    # column `a.b` (backticks make it one identifier), whereas
    # F.col("a.b") used to resolve a nested struct field — this
    # engine's callers pass plain top-level names, and the quoted
    # form is the one that cannot silently read the wrong data.
    id_q = "`%s`" % id_col.replace("`", "``")
    vec_q = "`%s`" % vec_col.replace("`", "``")
    exprs = [id_q]
    for j in range(out_dim):
        acc = "CAST(0.0 AS DOUBLE)"
        for d in range(dim):
            if m[j][d] == 1:
                acc = f"({acc} + CAST(element_at({vec_q}, {d + 1}) AS DOUBLE))"
            elif m[j][d] == -1:
                acc = f"({acc} - CAST(element_at({vec_q}, {d + 1}) AS DOUBLE))"
        exprs.append(f"round({scale_sql} * {acc}, {round_to}) AS y{j}")
    return embeddings.selectExpr(*exprs)


def diverse_topk(
    embeddings: DataFrame,
    query: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    per_label: int = 2,
    k: int = 10,
) -> DataFrame:
    """Diversity-constrained retrieval: exact cosine top-k subject to a
    per-label quota — at most ``per_label`` results from any one label
    (cluster / source / domain). The practical RAG result-diversity
    rule (the quota form of MMR: instead of an inherently sequential
    marginal-relevance argmax, diversity is a declarative constraint),
    so the whole thing stays a scan + one label-partitioned rank
    window + global top-k: the window prunes as WindowGroupLimit
    (per-partition running top-``per_label``, nothing materializes the
    full rank), then TakeOrderedAndProject cuts ``k``. Ties break on
    id everywhere for determinism."""
    q = F.broadcast(
        query.select(
            F.col(vec_col).alias("__qvec"),
            _norm(F.col(vec_col)).alias("__qn"),
        )
    )
    scored = _spread(embeddings).crossJoin(q).select(
        F.col(id_col),
        F.col(label_col),
        cosine_vs(F.col(vec_col), F.col("__qvec"), F.col("__qn")).alias(
            "score"
        ),
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.partitionBy(label_col).orderBy(F.desc("score"), F.col(id_col))
    )
    return (
        scored.withColumn("__rk", rk)
        .where(F.col("__rk") <= per_label)
        .drop("__rk")
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def mmr_topk(
    embeddings: DataFrame,
    query: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    shortlist: int = 30,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick k results maximizing
    ``lam·rel(d) − (1−lam)·max_{s∈S} sim(d, s)`` — the TRUE sequential
    MMR, complementing the declarative quota form in
    :func:`diverse_topk`.

    Scale shape: relevance is ONE corpus scan (exact cosine top-
    ``shortlist``, the standard retrieve-then-rerank cut), pairwise
    sims are a ``shortlist²`` self-join — both computed by the same
    JVM cosine expressions as every other gated entry, rounded to 6
    BEFORE they leave the plan. Only the greedy argmax runs driver-
    side over the collected ``shortlist²`` score table (bounded by the
    parameter, never by data size — the PQ-codebook pattern); each
    step is trivial arithmetic on already-rounded doubles, so a SQL
    replay (recursive CTE) reproduces it bit-for-bit.

    Returns (step, id, mmr) for steps 1..k in selection order.
    """
    q = F.broadcast(
        query.select(
            F.col(vec_col).alias("__qvec"),
            _norm(F.col(vec_col)).alias("__qn"),
        )
    )
    cand = (
        _spread(embeddings)
        .crossJoin(q)
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            cosine_vs(F.col(vec_col), F.col("__qvec"), F.col("__qn")).alias(
                "rel"
            ),
        )
        .orderBy(F.desc("rel"), "id")
        .limit(shortlist)
        .localCheckpoint(eager=False)
    )
    a, b = cand.alias("a"), cand.alias("b")
    sim_rows = (
        a.join(b, F.col("a.id") != F.col("b.id"))
        .select(
            F.col("a.id").alias("ia"),
            F.col("b.id").alias("ib"),
            cosine_vs(
                F.col("a.v"), F.col("b.v"), _norm(F.col("b.v"))
            ).alias("s"),
        )
        .collect()
    )
    rels = {r["id"]: r["rel"] for r in cand.select("id", "rel").collect()}
    sims: dict[tuple[int, int], float] = {
        (r["ia"], r["ib"]): r["s"] for r in sim_rows
    }
    if not rels:
        raise ValueError(
            "mmr_topk: candidate pool is empty (no embeddings rows)"
        )
    picked: list[tuple[int, int, float]] = []
    sel: list[int] = []
    first = min(rels, key=lambda i: (-rels[i], i))
    picked.append((1, first, round(rels[first], 6)))
    sel.append(first)
    for step in range(2, k + 1):
        best = None
        for i in sorted(rels):
            if i in sel:
                continue
            score = lam * rels[i] - (1.0 - lam) * max(
                sims[(i, j)] for j in sel
            )
            if best is None or score > best[1]:
                best = (i, score)
        if best is None:
            # pool exhausted before k selections (shortlist < k or a
            # tiny corpus) — return the partial selection
            break
        picked.append((step, best[0], round(best[1], 6)))
        sel.append(best[0])
    spark = embeddings.sparkSession
    out = spark.createDataFrame(picked, f"step int, {id_col} long, mmr double")
    return out.orderBy("step")


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
    Assignment reuses the ivf_cosine_topk contract: deterministic seed
    vectors by default (the ``n_centroids`` vectors with
    ``id < n_centroids`` — the id space must contain them, or the call
    raises) so the oracle replays it exactly, a trained quantizer via
    ``centroids=`` in production — a ``(__cid, __cvec)`` frame, the
    exact shape :func:`train_ivf_centroids` returns. Either way the
    quantizer collapses to ONE broadcast row and assignment is a
    per-row argmax fold, zero shuffle. Components come from the same
    iterative min-label machinery as text dedup
    (functions/dedup.py::near_dup_clusters).

    ``max_cluster_size`` is the LOUD VALVE on that quadratic block —
    the semantic twin of the stop-shingle valve
    (functions/dedup.py::remove_stop_shingles): blocking only bounds
    the pair join if cluster populations actually stay bounded, and a
    fixed ``n_centroids`` under a growing corpus silently turns each
    cluster into an all-pairs join (corpus/k members → (corpus/k)²/2
    candidate pairs per cluster). Any cluster past the cap raises —
    at the default 20k members a cluster already means 2×10⁸
    candidate cosines — with the fix in the message: raise
    ``n_centroids`` (or pass a ``centroids=`` quantizer with more
    centroids) so expected membership stays under the cap; pass
    ``None`` only when the quadratic block is deliberate. The check
    rides the pair join's own broadcast (≤ n_centroids counted rows),
    zero extra shuffle over the corpus.
    """
    from hrtech_etl_spark.functions.dedup import near_dup_clusters

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
    cents_arr = F.broadcast(
        cent_rows.agg(
            F.array_sort(
                F.collect_list(F.struct("__cid", "__cvec", "__cn"))
            ).alias("__cents")
        )
    )
    # argmax fold over the broadcast centroid array (highest rounded
    # cosine, then lowest cid — the ivf_cosine_topk tie-break), keeping
    # BOTH the assigned cid and the cosine to it (the keep-rule key)
    sims = F.transform(
        F.col("__cents"),
        lambda c: F.struct(
            cosine_vs(
                F.col(vec_col), c.getField("__cvec"), c.getField("__cn")
            ).alias("sim"),
            (-c.getField("__cid")).alias("negcid"),
        ),
    )
    best = F.array_max(sims)
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
                f"{id_col} < n_centroids; pass centroids= (a trained "
                "(__cid, __cvec) frame) for non-contiguous id spaces"
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
                        "trained centroids= quantizer with more "
                        "centroids) so clusters stay bounded, or set "
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
    comp = near_dup_clusters(
        pairs, assigned.select("id"), "id", accelerate=True
    ).withColumnRenamed("cluster", "component")
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


def kmeans_lloyd(
    embeddings: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    iters: int = 5,
) -> DataFrame:
    """Deterministic, ENGINE-PORTABLE Lloyd k-means over the PQ
    subspace layout — the value-gateable sibling of
    :func:`pq_codebook_trained` (whose Spark-ML kmeans|| init is
    engine-specific, leaving its gate rows-only). Every arithmetic
    step follows the repo's portability recipe so an independent SQL
    engine replays the training bit-for-bit:

    - points are the per-subspace slices with every component
      ``round(x, 6)`` (the empirically-portable double rounding the
      cosine/PQ oracles already rely on);
    - distances are fixed-order IEEE sums of squared diffs, rounded
      to 6 — argmin tie-breaks on the lowest centroid id (the
      ``min(struct(d, j))`` idiom the PQ encode gate uses);
    - means sum components in DECIMAL(18,6) (exact and
      order-independent — the one place float summation order could
      diverge across engines), then ``round(sum/n, 6)`` back to
      doubles;
    - init is the ``ksub`` lowest-id vectors' slices (the seed-vector
      convention of ivf/pq codebooks); an id space without them
      raises loudly;
    - EMPTY clusters keep their previous centroid (stated rule, both
      engines).

    Execution shape (round-17 optimization): the ≤ ``m * ksub``-row
    centroid state lives on the DRIVER between iterations — the same
    bounded model-state contract as :func:`pq_codebook_from_kmeans`'s
    adjudicated collect — and each iteration embeds it as a LITERAL
    array-of-structs in a single map-side projection: per (id, s) row,
    ``array_min(transform(candidates, c -> struct(d2, cid)))`` picks
    the argmin with the identical ``min(struct(d2, cid))`` ordering
    the old groupBy-aggregate used. One pass per iteration: project →
    partial-aggregated groupBy(s, cid) → 128-row collect. The round-16
    shape (broadcast join on s → SortAggregate min(struct) over an
    exchange keyed (id, s) → shuffle join back to pts → mean agg →
    eager localCheckpoint) ran ~7 jobs and 3 full-data exchanges PER
    ITERATION — struct-min is not hash-aggregable, so every assignment
    paid a full sort of the 8N-row candidate set twice; profiled at
    sf0.1 as 47 jobs / 5.1-6.4s for the 5-iteration gate. The corpus-
    side cost per iteration is now one projection + one map-side
    partial aggregation: linear in corpus size, zero full-data
    shuffles, independent of iteration count. At 100 TB train on a
    sample — PQ codebooks saturate at ~100k points
    (pq_codebook_trained's documented guidance).

    Returns ``(s, cid, centroid array<double>, n_assigned)`` —
    ``n_assigned`` counted under the FINAL centroids.
    """
    if m <= 0 or ksub <= 0 or iters < 0:
        raise ValueError(
            f"kmeans_lloyd: m={m}, ksub={ksub}, iters={iters} — m and "
            "ksub must be positive, iters non-negative"
        )
    if dim % m != 0:
        raise ValueError(f"kmeans_lloyd: dim {dim} not divisible by m {m}")
    dsub = dim // m
    # spread(): the single-file scan otherwise pins every training
    # pass to ONE task (round-17 profiling — the CPU-heavy assignment
    # projection ran single-threaded); round-robin widening is value-
    # safe here because every downstream reduction is the exact
    # commutative DECIMAL sum / per-row argmin.
    pts = _spread(
        embeddings.select(
            F.col(id_col).alias("id"),
            F.posexplode(
                F.array(
                    *[
                        F.transform(
                            F.slice(
                                F.col(vec_col).cast("array<double>"),
                                s * dsub + 1,
                                dsub,
                            ),
                            lambda x: F.round(x, 6),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("s", "x"),
        )
    ).localCheckpoint(eager=False)

    # Seed init + validation in ONE bounded collect (m * ksub rows of
    # model state — the pq_codebook_from_kmeans contract). The FULL
    # grid is checked, not just counts: duplicate seed ids offsetting a
    # missing one (or a negative id passing the `< ksub` filter) would
    # pass a row-count check yet leave the grid with a doubled cid and
    # a hole — every later iteration preserves the duplicate and the
    # output is silently wrong, or assigned() dies with a bare
    # KeyError instead of this diagnostic.
    seed_rows = pts.where(F.col("id") < ksub).collect()
    cents: dict[tuple[int, int], list[float]] = {}
    for r in seed_rows:
        cents[(int(r["s"]), int(r["id"]))] = [float(v) for v in r["x"]]
    want = {(s, c) for s in range(m) for c in range(ksub)}
    if len(seed_rows) != m * ksub or set(cents) != want:
        raise ValueError(
            f"kmeans_lloyd: init needs the {ksub} lowest ids "
            f"(0..{ksub - 1}) present exactly once: {len(seed_rows)} "
            f"seed rows, missing grid keys "
            f"{sorted(want - set(cents)) or 'none'}, unexpected "
            f"{sorted(set(cents) - want) or 'none'} — pass a frame "
            "with contiguous unique low ids or lower ksub"
        )

    def assigned() -> DataFrame:
        """One map-side pass: per (id, s) row, argmin over the literal
        candidate array with the EXACT ordering of the former
        ``min(struct(d2, cid))`` aggregate — ``array_min`` over
        ``struct<d2, cid>`` uses the same struct ordering and null
        handling, and the d2 expression (fixed-order IEEE left-fold of
        squared diffs, rounded to 6) is unchanged. The candidate table
        constant-folds into ONE array literal, so analysis/codegen stay
        cheap regardless of m * ksub * dsub (an expanded per-component
        arithmetic tree was tried round 17 and spent minutes in
        planning/janino at 1k+ nodes per iteration)."""
        # The literal table is emitted as ONE SQL expression string:
        # building it from per-component F.lit calls costs thousands
        # of py4j round-trips per iteration (round-17 profiling: the
        # driver-side Python dominated the whole gate). repr() is the
        # shortest round-trip form of a double, so the parsed literal
        # is bit-identical to the collected value.
        def _d(v: float) -> str:
            return f"CAST('{v!r}' AS DOUBLE)"

        cands_sql = "array(%s)" % ",".join(
            "array(%s)"
            % ",".join(
                "named_struct('cid',%d,'c',array(%s))"
                % (cid, ",".join(_d(c) for c in cents[(s, cid)]))
                for cid in range(ksub)
            )
            for s in range(m)
        )
        cands = F.element_at(F.expr(cands_sql), F.col("s") + 1)
        scored = F.transform(
            cands,
            lambda cand: F.struct(
                F.round(
                    F.aggregate(
                        F.zip_with(
                            F.col("x"),
                            cand["c"],
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    ),
                    6,
                ).alias("d2"),
                cand["cid"].alias("cid"),
            ),
        )
        return pts.select(
            "id", "s", "x", F.array_min(scored)["cid"].alias("cid")
        )

    sums = [
        F.sum(F.element_at("x", i + 1).cast("decimal(18,6)")).alias(f"__s{i}")
        for i in range(dsub)
    ]
    for _ in range(iters):
        mm = (
            assigned()
            .groupBy("s", "cid")
            .agg(F.count(F.lit(1)).alias("__n"), *sums)
            .select(
                "s",
                "cid",
                F.array(
                    *[
                        F.round(
                            F.col(f"__s{i}").cast("double") / F.col("__n"), 6
                        )
                        for i in range(dsub)
                    ]
                ).alias("__cnew"),
            )
            .collect()
        )
        # EMPTY clusters keep their previous centroid: keys absent from
        # mm stay untouched in the driver-side dict (stated rule).
        for r in mm:
            if r["__cnew"] is None or any(v is None for v in r["__cnew"]):
                # a DECIMAL(18,6) sum overflow (or a NULL input
                # component) yields a NULL mean component — name the
                # (s, cid) group instead of dying later with a bare
                # TypeError from float(None)
                raise ValueError(
                    f"kmeans_lloyd: NULL component in the round's mean "
                    f"for (s={int(r['s'])}, cid={int(r['cid'])}) — "
                    "decimal(18,6) sum overflow or a NULL input vector "
                    "component; scale/clean the inputs (components must "
                    "stay within ~1e12 summed per cluster)"
                )
            cents[(int(r["s"]), int(r["cid"]))] = [
                float(v) for v in r["__cnew"]
            ]

    counts = {
        (int(r["s"]), int(r["cid"])): int(r["__n"])
        for r in assigned()
        .groupBy("s", "cid")
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
        .collect()
    }
    spark = embeddings.sparkSession
    out_schema = T.StructType(
        [
            T.StructField("s", T.IntegerType(), True),
            T.StructField("cid", T.IntegerType(), True),
            T.StructField("centroid", T.ArrayType(T.DoubleType(), True), True),
            T.StructField("n_assigned", T.LongType(), True),
        ]
    )
    return spark.createDataFrame(
        [
            (s, cid, cents[(s, cid)], counts.get((s, cid), 0))
            for s in range(m)
            for cid in range(ksub)
        ],
        out_schema,
    ).orderBy("s", "cid")


def pq_codebook_from_kmeans(
    centroids: DataFrame, *, m: int = 8, ksub: int = 16
) -> DataFrame:
    """Adapt a :func:`kmeans_lloyd` centroid table into the one-row
    broadcast ``__cb`` codebook every PQ plan consumes
    (:func:`pq_encode` / :func:`pq_adc_topk` / :func:`pq_rerank_topk`)
    — the glue that makes the DETERMINISTIC, engine-portable trainer a
    drop-in replacement for the seed-vector and Spark-ML codebooks:
    train once, reproducibly, then serve through the unchanged
    compressed-scan cascade. Same driver-side-artifact contract as
    :func:`pq_codebook` (one bounded collect of m × ksub × dsub
    doubles — a few KiB of model state, never data); a centroid table
    that is not exactly the full (s, cid) grid raises loudly rather
    than mis-indexing codes."""
    rows = centroids.select("s", "cid", "centroid").collect()
    by = {
        (r["s"], r["cid"]): [float(x) for x in r["centroid"]] for r in rows
    }
    want = {(s, j) for s in range(m) for j in range(ksub)}
    if len(rows) != m * ksub or set(by) != want:
        raise ValueError(
            f"pq_codebook_from_kmeans: expected the full {m}x{ksub} "
            f"(s, cid) grid exactly once, got {len(rows)} rows over "
            f"{len(by)} distinct keys"
        )
    cb = [[by[(s, j)] for j in range(ksub)] for s in range(m)]
    return F.broadcast(
        centroids.sparkSession.createDataFrame(
            [(cb,)], "`__cb` ARRAY<ARRAY<ARRAY<DOUBLE>>>"
        )
    )


# ---------------------------------------------------------------------------
# Codebook persistence: train once, persist, serve many
# ---------------------------------------------------------------------------

#: geometry/schema version stamped into persisted PQ codebook tables —
#: bump if the ``__cb`` indexing convention (1-based subspace/centroid
#: element_at math in pq_encode/pq_adc_topk) or the table layout ever
#: changes incompatibly, so stored codebooks fail loudly instead of
#: silently decoding vectors under different geometry
CODEBOOK_TABLE_VERSION = 1


def _cb_meta_tag(m: int, ksub: int, dim: int) -> str:
    """The self-describing per-row tag a persisted codebook table
    carries: version + full geometry. Constant per table, so parquet
    dictionary/RLE encodes it to ~nothing — the same pinned-contract
    pattern as ``functions/dedup.py``'s signature tables."""
    return f"cbv{CODEBOOK_TABLE_VERSION}:m{m}:k{ksub}:d{dim}"


def write_codebook_table(
    codebook: DataFrame,
    path: str,
    *,
    mode: str = "error",
) -> None:
    """Persist a trained ``__cb`` codebook artifact
    (:func:`pq_codebook` / :func:`pq_codebook_trained` /
    :func:`pq_codebook_from_kmeans` output) as a parquet table of
    ``(s, cid, centroid, cb_meta)`` rows — the production
    train-once/serve-many shape: a training job runs the expensive
    fit ONCE and ships this few-KiB artifact; every serving job
    :func:`read_codebook_table`'s it back without touching training
    data. Geometry ``(m, ksub, dsub)`` is DERIVED from the artifact
    itself (the one-row nested array is driver-sized by contract, so
    the write inspects it outright — no declared-vs-actual catch-22
    to defend against) and pinned into every row as a ``cb_meta``
    tag; a ragged codebook (mixed centroid widths, short subspaces)
    raises before anything lands. The row layout is the
    :func:`kmeans_lloyd` centroid grid, so a persisted table is also
    human-auditable with plain SQL."""
    rows = codebook.collect()
    if len(rows) != 1 or rows[0].asDict().keys() != {"__cb"}:
        raise ValueError(
            "write_codebook_table: expected the one-row `__cb` "
            f"codebook artifact, got {len(rows)} rows with columns "
            f"{codebook.columns}"
        )
    cb = rows[0]["__cb"]
    if cb is None or len(cb) == 0 or any(not sub for sub in cb):
        raise ValueError(
            "write_codebook_table: empty codebook (no subspaces or an "
            "empty subspace)"
        )
    m = len(cb)
    ksub = len(cb[0])
    dsub = len(cb[0][0])
    if dsub == 0:
        raise ValueError("write_codebook_table: zero-width centroids")
    for s, sub in enumerate(cb):
        if len(sub) != ksub or any(len(c) != dsub for c in sub):
            raise ValueError(
                f"write_codebook_table: ragged codebook — subspace {s} "
                f"is {len(sub)}x[{sorted({len(c) for c in sub})}], "
                f"expected {ksub}x[{dsub}] like subspace 0"
            )
    dim = m * dsub
    tag = _cb_meta_tag(m, ksub, dim)
    spark = codebook.sparkSession
    grid = spark.createDataFrame(
        [
            (s, j, [float(x) for x in cb[s][j]], tag)
            for s in range(m)
            for j in range(ksub)
        ],
        "s INT, cid INT, centroid ARRAY<DOUBLE>, cb_meta STRING",
    )
    grid.write.mode(mode).parquet(path)


def read_codebook_table(
    spark,
    path: str,
    *,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Read a persisted codebook back into the one-row broadcast
    ``__cb`` artifact every PQ plan consumes — the serve half of the
    train-once contract. The caller DECLARES the geometry its encode/
    ADC plans were built for, and the stored ``cb_meta`` tag must
    match exactly: serving a query under ``m=8`` against a codebook
    trained at ``m=4`` would silently mis-slice every vector, so the
    tag guard rides the scan projection (the raise_error-on-projection
    pattern — fires on the first mismatched row during the ONE bounded
    collect, no extra job, and never a filter that could push into a
    stored-column fold). Schema presence/types are checked eagerly at
    the call; the grid must be the exact full ``m x ksub`` (s, cid)
    set with ``dim/m``-wide centroids (the
    :func:`pq_codebook_from_kmeans` validation, re-applied to storage
    because a partially-written or hand-edited table is exactly what
    a serving fleet must refuse)."""
    from pyspark.sql import types as T

    if dim % m:
        raise ValueError(f"read_codebook_table: dim {dim} % m {m} != 0")
    dsub = dim // m
    df = spark.read.parquet(path)
    missing = {"s", "cid", "centroid", "cb_meta"} - set(df.columns)
    if missing:
        raise ValueError(
            f"read_codebook_table: {sorted(missing)} missing from "
            f"{path} — not a write_codebook_table output"
        )
    ctype = df.schema["centroid"].dataType
    if not (
        isinstance(ctype, T.ArrayType)
        and isinstance(ctype.elementType, T.DoubleType)
    ):
        raise ValueError(
            f"read_codebook_table: 'centroid' in {path} is "
            f"{ctype.simpleString()}, expected array<double>"
        )
    tag = _cb_meta_tag(m, ksub, dim)
    guarded = F.when(F.col("cb_meta") == tag, F.col("centroid")).otherwise(
        F.array(
            F.raise_error(
                F.format_string(
                    "read_codebook_table: stored tag %s != declared "
                    f"{tag} — this codebook was trained under a "
                    "different geometry; pass the (m, ksub, dim) it "
                    "was written with",
                    F.coalesce(F.col("cb_meta"), F.lit("<null>")),
                )
            ).cast("double")
        )
    )
    rows = df.select("s", "cid", guarded.alias("centroid")).collect()
    # a NULL centroid passes the tag guard (F.when propagates NULL) —
    # surface it as the same corrupt-table ValueError as a wrong width,
    # not a TypeError on list(None)
    if any(r["centroid"] is None for r in rows):
        raise ValueError(
            f"read_codebook_table: NULL centroid row(s) in {path} — "
            "table is corrupt"
        )
    by = {(r["s"], r["cid"]): list(r["centroid"]) for r in rows}
    want = {(s, j) for s in range(m) for j in range(ksub)}
    if len(rows) != m * ksub or set(by) != want:
        raise ValueError(
            f"read_codebook_table: expected the full {m}x{ksub} "
            f"(s, cid) grid exactly once in {path}, got {len(rows)} "
            f"rows over {len(by)} distinct keys"
        )
    bad = [k for k, v in by.items() if len(v) != dsub]
    if bad:
        raise ValueError(
            f"read_codebook_table: {len(bad)} centroids in {path} are "
            f"not {dsub}-wide (e.g. {bad[0]}) — table does not match "
            f"the declared dim={dim}/m={m}"
        )
    cb = [[by[(s, j)] for j in range(ksub)] for s in range(m)]
    return F.broadcast(
        spark.createDataFrame([(cb,)], "`__cb` ARRAY<ARRAY<ARRAY<DOUBLE>>>")
    )


def write_code_table(
    encoded: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    mode: str = "error",
) -> None:
    """Persist a :func:`pq_encode` output as the serving-side CODE
    table ``(id, __codes, cb_meta)`` — the second half of the
    train-once/serve-many shape: the corpus is encoded ONCE next to
    the codebook and every ADC query scans m bytes/row of stored
    codes instead of re-encoding raw vectors (at billions of vectors
    the re-encode IS the query cost). The declared geometry must be
    the codebook's, and the SAME ``cb_meta`` tag
    (:func:`_cb_meta_tag`) is pinned per row so a serving job can
    assert codes and codebook belong to one family — ADC against
    codes encoded under a different codebook is silently-wrong
    distances, nothing else would catch it. Guards ride the write
    projection (the signature-table pattern): a row whose ``__codes``
    is not exactly ``m`` long or holds a code outside ``[0, ksub)``
    — or that is NULL or holds a NULL element — raises (unlike
    signature tables, NULL has no legitimate story here:
    ``pq_encode`` never emits one, and a NULL reaching ADC becomes a
    NULL distance that sorts FIRST, silently topping every query's
    result); under ``mode="overwrite"`` an EAGER bounded first-row
    probe runs first so a mis-declared geometry cannot destroy the
    existing table before failing."""
    from pyspark.sql import types as T

    if dim % m:
        raise ValueError(f"write_code_table: dim {dim} % m {m} != 0")
    cols = set(encoded.columns)
    if id_col not in cols or "__codes" not in cols:
        raise ValueError(
            f"write_code_table: expected columns ({id_col!r}, "
            f"'__codes') present, got {encoded.columns}"
        )
    ctype = encoded.schema["__codes"].dataType
    if not (
        isinstance(ctype, T.ArrayType)
        and isinstance(ctype.elementType, T.IntegerType)
    ):
        raise ValueError(
            "write_code_table: '__codes' must be array<int> "
            f"(pq_encode output), got {ctype.simpleString()}"
        )
    # a row is valid iff EXACTLY m elements and every one a non-NULL
    # code in [0, ksub): counting the valid elements (filter drops
    # NULL-predicate elements) and comparing to size catches NULL
    # elements too — a plain range filter would let them through,
    # because the comparison predicate is NULL for a NULL element
    # and filter() drops it on both formulations
    valid_n = F.size(
        F.filter(
            "__codes",
            lambda c: c.isNotNull() & (c >= 0) & (c < ksub),
        )
    )
    ok = (
        F.col("__codes").isNotNull()
        & (F.size("__codes") == m)
        & (valid_n == m)
    )
    if mode == "overwrite":
        # BOUNDED first-row probe (the signature-table discipline,
        # dedup.py write_signature_table): catch the forgot-the-
        # geometry case BEFORE overwrite destroys the target at the
        # cost of ONE row, not a full validation pass — the per-row
        # guard below rides the write as the full net
        row = encoded.select("__codes").first()
        codes0 = None if row is None else row["__codes"]
        if row is not None and (
            codes0 is None
            or len(codes0) != m
            or any(c is None or c < 0 or c >= ksub for c in codes0)
        ):
            raise ValueError(
                f"write_code_table: first row's codes {codes0!r} do "
                f"not fit the declared geometry m={m}, ksub={ksub} — "
                "pass the codebook's geometry (checked BEFORE the "
                "write so an overwrite cannot destroy the existing "
                "table)"
            )
    guarded = F.when(ok, F.col("__codes")).otherwise(
        F.array(
            F.raise_error(
                F.format_string(
                    "write_code_table: codes %s do not fit declared "
                    f"m={m}/ksub={ksub} (length must be exactly m, "
                    "every code a non-NULL int in [0, ksub)) — pass "
                    "the geometry the codes were encoded under",
                    F.coalesce(
                        F.col("__codes").cast("string"), F.lit("<null>")
                    ),
                )
            ).cast("int")
        )
    )
    encoded.select(
        F.col(id_col),
        guarded.alias("__codes"),
        F.lit(_cb_meta_tag(m, ksub, dim)).alias("cb_meta"),
    ).write.mode(mode).parquet(path)


def read_code_table(
    spark,
    path: str,
    *,
    id_col: str = "vec_id",
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Read a persisted code table back for ADC serving — returns
    ``(id, __codes)`` shaped exactly like :func:`pq_encode` output,
    so :func:`pq_adc_topk` / :func:`pq_rerank_topk` consume it
    unchanged. The declared geometry must match the stored
    ``cb_meta`` tag AND every stored row must still fit it — exactly
    ``m`` non-NULL codes in ``[0, ksub)`` (the raise_error-on-
    projection guards riding the scan — never a filter, so nothing
    can push into a stored-column expression). Storage is
    re-validated on the same principle as
    :func:`read_codebook_table`: a tag-valid but hand-edited or
    partially-written table is exactly what a serving fleet must
    refuse, because a bad code decodes to a NULL centroid, a NULL
    ADC distance, and a NULLS-FIRST silent top-1. Callers serving
    against a codebook should read both with the SAME (m, ksub, dim)
    so the tags prove the pair belongs to one trained family. The
    scan stays column-pruned: a query that only runs ADC reads
    ``(id, __codes)`` — m bytes of codes per row, the whole point of
    the compressed serving scan."""
    from pyspark.sql import types as T

    if dim % m:
        raise ValueError(f"read_code_table: dim {dim} % m {m} != 0")
    df = spark.read.parquet(path)
    missing = {id_col, "__codes", "cb_meta"} - set(df.columns)
    if missing:
        raise ValueError(
            f"read_code_table: {sorted(missing)} missing from {path} "
            "— not a write_code_table output"
        )
    ctype = df.schema["__codes"].dataType
    if not (
        isinstance(ctype, T.ArrayType)
        and isinstance(ctype.elementType, T.IntegerType)
    ):
        raise ValueError(
            f"read_code_table: '__codes' in {path} is "
            f"{ctype.simpleString()}, expected array<int>"
        )
    tag = _cb_meta_tag(m, ksub, dim)
    # same valid-element counting trick as the writer: NULL elements
    # make the range predicate NULL and drop out of filter(), so
    # comparing the valid count to m catches them too
    shape_ok = (
        F.col("__codes").isNotNull()
        & (F.size("__codes") == m)
        & (
            F.size(
                F.filter(
                    "__codes",
                    lambda c: c.isNotNull() & (c >= 0) & (c < ksub),
                )
            )
            == m
        )
    )
    guarded = (
        # null-safe inequality: a NULL stored tag is a tag failure,
        # not a shape failure
        F.when(
            ~(F.col("cb_meta").eqNullSafe(F.lit(tag))),
            F.array(
                F.raise_error(
                    F.format_string(
                        "read_code_table: stored tag %s != declared "
                        f"{tag} — these codes were encoded under a "
                        "different codebook family; pass the (m, "
                        "ksub, dim) they were written with",
                        F.coalesce(F.col("cb_meta"), F.lit("<null>")),
                    )
                ).cast("int")
            ),
        )
        .when(shape_ok, F.col("__codes"))
        .otherwise(
            F.array(
                F.raise_error(
                    F.format_string(
                        "read_code_table: stored codes %s in a "
                        f"{tag}-tagged table do not fit the geometry "
                        "(length must be exactly m, every code a "
                        "non-NULL int in [0, ksub)) — the table is "
                        "corrupt or hand-edited; re-encode it",
                        F.coalesce(
                            F.col("__codes").cast("string"),
                            F.lit("<null>"),
                        ),
                    )
                ).cast("int")
            )
        )
    )
    return df.select(F.col(id_col), guarded.alias("__codes"))
