"""Similarity-search operators: exactness of the baseline, sanity and
determinism of the approximate paths."""

from __future__ import annotations

from pyspark.sql import functions as F

from hrtech_etl_spark.functions import similarity as sim

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_bruteforce_self_match_and_order(spark):
    e = _emb(spark)
    q = e.where(F.col("vec_id") == 0)
    rows = sim.cosine_topk(e, q, k=10).collect()
    assert rows[0]["vec_id"] == 0 and abs(rows[0]["score"] - 1.0) < 1e-6
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_ivf_subset_of_corpus_and_self_match(spark):
    e = _emb(spark)
    q = e.where(F.col("vec_id") == 0)
    rows = sim.ivf_cosine_topk(e, q, k=10, n_centroids=8, nprobe=2).collect()
    # query vector's own list is always probed -> self-match survives
    assert rows[0]["vec_id"] == 0 and abs(rows[0]["score"] - 1.0) < 1e-6
    # deterministic: same result on rerun
    again = sim.ivf_cosine_topk(e, q, k=10, n_centroids=8, nprobe=2).collect()
    assert [r["vec_id"] for r in rows] == [r["vec_id"] for r in again]


def test_ivf_probes_fraction_of_corpus(spark):
    e = _emb(spark)
    q = e.where(F.col("vec_id") == 0)
    # probing ALL lists must recover the exact brute-force answer
    exact = [r["vec_id"] for r in sim.cosine_topk(e, q, k=10).collect()]
    full = [
        r["vec_id"]
        for r in sim.ivf_cosine_topk(
            e, q, k=10, n_centroids=8, nprobe=8
        ).collect()
    ]
    assert full == exact


def test_srp_bucket_matches_numpy_reference(spark):
    """srp_bucket equals sum_b [v . r_b > 0] * 2^b with r_b the b-th
    row of the ±1 table, on seeded random 64-dim vectors and a zero
    vector (no positive projection: bucket 0)."""
    import numpy as np

    rng = np.random.default_rng(13)
    vecs = [rng.standard_normal(64).tolist() for _ in range(40)] + [[0.0] * 64]
    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id int, embedding array<double>"
    )
    got = {
        r["vec_id"]: r["bucket"]
        for r in df.select(
            "vec_id", sim.srp_bucket(F.col("embedding")).alias("bucket")
        ).collect()
    }
    signs = np.where(np.array(sim._PROJ_SIGNS), 1.0, -1.0)
    assert signs.shape == (4, 64)
    proj = np.array(vecs) @ signs.T
    want = {i: int(((proj[i] > 0) * (1 << np.arange(4))).sum()) for i in range(len(vecs))}
    assert got == want
    assert got[len(vecs) - 1] == 0 and len(set(got.values())) > 1


def test_zero_norm_vector_scores_null(spark):
    """A zero-norm embedding has no direction: its cosine is NULL (the
    DuckDB oracle's 0.0/0.0), not a DIVIDE_BY_ZERO under ANSI mode. It
    ranks after every scored row and pairs with nothing."""
    rows = [
        (0, "a", [1.0, 0.0, 0.0]),
        (1, "a", [0.0, 0.0, 0.0]),
        (2, "a", [1.0, 0.1, 0.0]),
        (3, "a", [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>"
    )
    q = df.where(F.col("vec_id") == 0)
    top = [(r["vec_id"], r["score"]) for r in sim.cosine_topk(df, q, k=4).collect()]
    assert [i for i, _ in top] == [0, 2, 3, 1]
    assert top[0][1] == 1.0 and top[-1][1] is None

    batch = sim.cosine_topk_batch(df, df.where(F.col("vec_id") < 2), k=4)
    by_q: dict[int, list] = {}
    for r in batch.orderBy("query_id", F.col("score").desc(), "vec_id").collect():
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["score"]))
    assert [i for i, _ in by_q[0]] == [0, 2, 3, 1] and by_q[0][-1][1] is None
    # the zero vector as the query scores NULL against everything
    assert by_q[1] == [(0, None), (1, None), (2, None), (3, None)]

    pairs = {
        (r["id_a"], r["id_b"])
        for r in sim.embedding_near_dup_pairs(df, threshold=0.0).collect()
    }
    assert pairs == {(0, 2), (0, 3), (2, 3)}


def test_semantic_dedup_hand_checked(spark):
    """Two tight groups + one singleton in one cluster: components form
    at cosine >= threshold; each component keeps the member FARTHEST
    from the centroid (lowest cosine-to-centroid, tie lowest id)."""
    from hrtech_etl_spark.functions.similarity import semantic_dedup

    # centroid = seed vector id 0 (n_centroids=1 -> single cluster)
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),        # centroid seed
        (1, [1.0, 0.01, 0.0, 0.0]),       # near-dup of 0 (and centroid)
        (2, [0.0, 1.0, 0.0, 0.0]),        # group B
        (3, [0.0, 1.0, 0.05, 0.0]),       # near-dup of 2
        (4, [0.5, 0.5, 0.5, 0.5]),        # singleton
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: (r["component"], r["keep"])
        for r in semantic_dedup(df, n_centroids=1, threshold=0.95).collect()
    }
    # components: {0,1}, {2,3}, {4}
    assert got[0][0] == got[1][0] and got[2][0] == got[3][0]
    assert got[4][0] not in (got[0][0], got[2][0])
    # {0,1}: both ~cos 1 to centroid; 0 is exactly 1.0, 1 slightly less
    # -> farthest is 1
    assert got[1][1] is True and got[0][1] is False
    # {2,3}: 2 has cos 0 to centroid, 3 slightly more -> keep 2
    assert got[2][1] is True and got[3][1] is False
    # singleton always kept
    assert got[4][1] is True
    # exactly one keeper per component
    from collections import Counter
    keeps = Counter(c for c, k in got.values() if k)
    assert all(v == 1 for v in keeps.values()) and len(keeps) == 3


def test_semantic_dedup_empty_quantizer_raises(spark):
    """An id space containing no seed ids (< n_centroids) must fail
    LOUDLY — the pre-guard behavior silently kept every vector."""
    import pytest

    from hrtech_etl_spark.functions.similarity import semantic_dedup

    df = spark.createDataFrame(
        [(1000, [1.0, 0.0]), (1001, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception, match="empty quantizer"):
        semantic_dedup(df, n_centroids=8, threshold=0.9).collect()


from hypothesis import example, given, settings
from hypothesis import strategies as st


def _r6(x: float) -> float:
    """Spark F.round(x, 6): HALF_UP on the shortest decimal repr (Java
    BigDecimal.valueOf semantics — Python repr() is the same shortest
    round-trip string)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _cos(a, b):
    """cosine() twin: LEFT-fold dot/norms (F.aggregate order), round 6;
    None (SQL NULL) when either vector has zero norm."""
    import math

    dot = 0.0
    for x, y in zip(a, b):
        dot = dot + x * y
    na = 0.0
    for x in a:
        na = na + x * x
    nb = 0.0
    for y in b:
        nb = nb + y * y
    den = math.sqrt(na) * math.sqrt(nb)
    return None if den == 0.0 else _r6(dot / den)


def _null_first(x):
    """Spark's struct order for a possibly-NULL field: NULL sorts first."""
    return (x is not None, x)


@settings(max_examples=8, deadline=None)
@example(data=[[0, 0, 0], [1, 2, 0], [1, 2, 1], [0, 0, 0]], k=2, tau_i=5)
@given(
    data=st.lists(
        st.lists(st.integers(-3, 3), min_size=3, max_size=3),
        min_size=3,
        max_size=20,
    ),
    k=st.integers(min_value=1, max_value=4),
    tau_i=st.integers(min_value=3, max_value=9),
)
def test_semantic_dedup_matches_bruteforce(spark, data, k, tau_i):
    """Property: semantic_dedup == a pure-Python union-find reference
    (same rounded-6 cosine, same argmax/keep tie-breaks) on arbitrary
    small integer vectors, zero vectors included: a NULL cosine passes
    no threshold and, in the struct-ordered argmax and keep rule, sorts
    before every real one."""
    from hrtech_etl_spark.functions.similarity import semantic_dedup

    tau = tau_i / 10.0
    vecs = {i: [float(x) for x in v] for i, v in enumerate(data)}
    rows = [(i, v) for i, v in vecs.items()]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: (r["cid"], r["component"], r["keep"])
        for r in semantic_dedup(df, n_centroids=k, threshold=tau).collect()
    }

    # reference: assign (max cosine, then lowest cid), pairs, union-find
    cents = {c: vecs[c] for c in range(min(k, len(vecs)))}
    assign, csim = {}, {}
    for i, v in vecs.items():
        best = max(
            ((_null_first(_cos(v, cv)), -c) for c, cv in cents.items())
        )
        assign[i], csim[i] = -best[1], best[0][1]
    parent = {i: i for i in vecs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in vecs:
        for j in vecs:
            if i < j and assign[i] == assign[j]:
                s = _cos(vecs[i], vecs[j])
                if s is not None and s >= tau:
                    parent[find(j)] = find(i)
    comp = {i: min(j for j in vecs if find(j) == find(i)) for i in vecs}
    keep_of = {}
    for c in set(comp.values()):
        members = [i for i in vecs if comp[i] == c]
        keep_of[c] = min(members, key=lambda i: (_null_first(csim[i]), i))
    want = {i: (assign[i], comp[i], i == keep_of[comp[i]]) for i in vecs}
    assert got == want


def test_semantic_dedup_cluster_size_valve(spark):
    """The quadratic-block valve (round 14): a cluster past
    max_cluster_size raises LOUDLY with the fix in the message —
    fixed n_centroids under a growing corpus must never silently turn
    the within-cluster pair join into all-pairs. None disables."""
    import pytest

    from hrtech_etl_spark.functions.similarity import semantic_dedup

    rows = [(i, [1.0, float(i) * 0.001]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="max_cluster_size"):
        semantic_dedup(
            df, n_centroids=1, threshold=0.99, max_cluster_size=5
        ).collect()
    # the same frame under the cap — and with the valve disabled —
    # completes and agrees
    ok = semantic_dedup(
        df, n_centroids=1, threshold=0.99, max_cluster_size=6
    ).collect()
    off = semantic_dedup(
        df, n_centroids=1, threshold=0.99, max_cluster_size=None
    ).collect()
    assert sorted(map(tuple, ok)) == sorted(map(tuple, off))
    assert sum(r["keep"] for r in ok) >= 1
