"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Training-data dedup at 100TB cannot compare all pairs: every operator
here reduces the candidate space first (hash buckets, LSH bands,
blocking keys) and only verifies within buckets. All column work is
JVM-side expressions built on the portable hash
(:mod:`hrtech_etl_spark.functions.hashing`) so results are
reproducible in the DuckDB oracle.

Shapes
------
- exact:    groupBy(md5(text)) — one shuffle on the fingerprint.
- MinHash:  shingle → k seeded min-hashes → band buckets → self-join
            *within buckets only* → exact Jaccard verify on survivors.
- SimHash:  per-token hash bit-votes → 32-bit signature; candidates
            share ≥1 of ``max_hamming + 1`` disjoint bands of near-equal
            width (pigeonhole ⇒ exact recall at the Hamming threshold),
            verified by Hamming dist.
- n-gram:   blocking key (cheap) → exact Jaccard within block.
"""

from __future__ import annotations

import logging
import weakref

import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hrtech_etl_spark.core.partitioning import keyed_barrier, num_partitions, spread
from hrtech_etl_spark.functions.hashing import (
    MINHASH_PRIME,
    affine_minhash,
    fingerprint,
    portable_hash,
)
from hrtech_etl_spark.functions.text import tokens

_log = logging.getLogger(__name__)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_clusters(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group rows by content fingerprint; one row per distinct content
    with the canonical (minimum) id and the duplicate count."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def drop_exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the minimum-id row per distinct content (deterministic,
    unlike dropDuplicates which keeps an arbitrary row)."""
    fp = fingerprint(F.col(text_col)).alias("__fp")
    w_min = df.select(fp, F.col(id_col).alias("__id"))
    keep = w_min.groupBy("__fp").agg(F.min("__id").alias(id_col)).select(id_col)
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def word_shingles(col: Column, k: int = 2) -> Column:
    """Distinct word k-grams of lowercased text (the MinHash item set)
    — ``array_distinct`` over the shared non-distinct construction
    (:func:`hrtech_etl_spark.functions.text.word_ngrams`, the
    zip_with-over-shifted-slices shape; see its docstring for why
    element_at-in-transform is O(tokens²)). Texts shorter than k
    tokens get no shingles.

    ``k=1`` keeps its historical semantics (distinct raw tokens,
    INCLUDING the empty token an empty text produces) — the oracle SQL
    renderings mirror exactly this, so it must not silently change.
    """
    from hrtech_etl_spark.functions.text import word_ngrams

    t = tokens(col)
    if k == 1:
        return F.array_distinct(t)
    return F.array_distinct(word_ngrams(col, k))


def minhash_signature(
    shingles: Column, num_hashes: int = 8, *, pre_hashed: bool = False
) -> Column:
    """The k-minhash signature as ONE ``array<long>`` column, computed
    in a single pass with a single md5 per shingle (zero md5s when
    ``pre_hashed`` — the column already holds portable_hash values).

    Universal-hash construction: base = portable_hash(shingle), then
    ``h_j = (A[j]*base + B[j]) mod P`` (:mod:`..functions.hashing`).
    The naive alternative — k columns of
    ``array_min(transform(sh, md5-with-seed-j))`` — costs k md5s per
    shingle in interpreted higher-order-function eval and dominated the
    whole LSH pipeline; here the inner ``transform`` materializes the
    base hashes once, and the fold keeps elementwise minima of the k
    cheap affine transforms. Empty shingle sets yield NULL (parity with
    SQL ``list_min`` over an empty list). min over the distinct hashed
    set == min over all shingles' hashes, so a ``pre_hashed`` distinct
    array gives the identical signature.
    """
    hashed = (
        shingles
        if pre_hashed
        else F.transform(shingles, lambda s: portable_hash(s))
    )
    init = F.array(*[F.lit(MINHASH_PRIME)] * num_hashes).cast("array<long>")
    folded = F.aggregate(
        hashed,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[affine_minhash(h, j) for j in range(num_hashes)]),
            lambda a, b: F.least(a, b),
        ),
    )
    return F.when(F.size(shingles) > 0, folded)


def lsh_bands(
    sig_col: str, num_hashes: int = 8, rows_per_band: int = 2
) -> list[Column]:
    """Group the signature array into bands; a band's bucket key is the
    md5 of its concatenated min-hashes. Docs sharing ANY band bucket
    are candidate pairs. ``sig_col`` must be a *materialized* signature
    column (computed behind an exchange) — element extraction is then
    free, instead of re-running the signature fold per band."""
    bands = []
    for b in range(0, num_hashes, rows_per_band):
        parts = [
            F.col(sig_col).getItem(i).cast("string")
            for i in range(b, b + rows_per_band)
        ]
        bands.append(F.md5(F.concat_ws(",", *parts)).alias(f"band{b // rows_per_band}"))
    return bands


def shingle_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_k: int = 2,
    hashed: bool = False,
    materialize: bool = True,
    drop_empty: bool = False,
) -> DataFrame:
    """(id, shingle-set) table behind a repartition barrier.

    ``drop_empty=True`` drops rows whose text yields NO shingles — on
    the CHEAP exact-equivalent predicate ``size(tokens) >= k`` (it is
    literally the word_ngrams CASE condition; for k=1 every non-NULL
    text keeps its historical [""] set, and NULL text is dropped on
    both forms) — applied BELOW the exchange, and marks the returned
    frame so downstream signature builds skip their ``size(sh) > 0``
    re-filter (see :func:`_shingles_nonempty`). Why this exists (r18
    profiling): Catalyst pushes that downstream filter through the
    barrier exchange, substituting the FULL tokenize+shingle
    construction into the predicate — which then evaluates once per
    row inside the
    single-task scan stage (~0.3s of the minhash gate's 1.1s job time
    at sf0.1; guide §2.4/§7.2 — the round-13 pushed-predicate disease
    at the exchange boundary instead of the projection). The cheap
    predicate costs one split per row below the exchange, also prunes
    shingle-less rows from the exchange itself, and candidate/verify
    consumers are invariant to it: an empty set never bands, never
    verifies, and never appears as a candidate id. Default False —
    standalone :func:`jaccard_verify` keeps scoring arbitrary pairs
    (an empty-set side is a kept row with jaccard 0.0 there).

    ``hashed=False`` (string shingles): ONE keyed exchange of the raw
    (id, text) rows with the shingle projection ABOVE it — measured
    against materializing the shingle arrays behind a second exchange,
    recomputing the projection per consumer is cheaper than shuffling
    ``array<string>`` columns (8.2s vs 4.3s for the full LSH query at
    sf0.1): text compresses/serializes better than its exploded form.

    ``hashed=True`` (the LSH fast path): shingles are reduced to their
    distinct ``portable_hash`` values (``array<long>``) and exchanged
    AGAIN — this second shuffle materializes the hashed sets, so every
    consumer (signature fold, both Jaccard-verify sides) reads ONE
    ReusedExchange and performs ZERO tokenize/md5 work. Unlike string
    shingles, the hashed arrays are compact (8 bytes/shingle), so the
    extra exchange wins. Signature + hash-based verify are both
    invariant to this reduction (min over the distinct hash set == min
    over per-shingle hashes). At corpus scale this boundary is where
    you'd persist the table.

    Scale-conditional heads (core.partitioning): the raw keyed exchange
    fires only when the scan is NARROWER than defaultParallelism — on a
    cluster-scale scan that exchange was a full extra pass shuffling
    raw text, and the already-wide scan parallelizes the shingling by
    itself. The hashed barrier always exchanges (reuse is its point)
    but never narrows a wide input. Pinned explicit counts throughout:
    with a bare ``repartition(col)`` AQE sees a few MB of shuffle data
    and coalesces back to one partition — correct for IO-bound plans,
    wrong here where cost is per-row CPU, and it would serialize the
    heavy stages.
    """
    from hrtech_etl_spark.functions.text import tokens as _tokens

    n = df.sparkSession.sparkContext.defaultParallelism
    raw = df.select(F.col(id_col), F.col(text_col))
    if drop_empty:
        # size(tokens) >= k is EXACTLY size(word_shingles(text,k)) > 0:
        # word_ngrams' own CASE condition for k>=2; for k=1 every
        # non-NULL text has size >= 1 ([""] included) and NULL text is
        # dropped by both forms (size(NULL)=-1 vs NULL-valued filter)
        raw = raw.where(F.size(_tokens(F.col(text_col))) >= shingle_k)
    if num_partitions(raw) < n:
        raw = raw.repartition(n, F.col(id_col))
    sh = word_shingles(F.col(text_col), k=shingle_k)
    if not hashed:
        out = raw.select(F.col(id_col), sh.alias("sh"))
    elif not materialize:
        # The caller will stack MORE per-row projections (e.g. the
        # lsh_index signature fold) on top and place ONE barrier above
        # the whole stack — a barrier here would be a redundant full
        # exchange of the shingle-bearing rows (CollapseProject keeps
        # the non-cheap shingle expression in its own stacked Project,
        # so `sh` is still computed once per row).
        out = raw.select(F.col(id_col), hashed_shingles(sh).alias("sh"))
    else:
        # factor=2, not 1: same key + same count would let
        # EnsureRequirements drop this barrier and re-inline the
        # hashing into every consumer.
        out = keyed_barrier(
            raw.select(F.col(id_col), hashed_shingles(sh).alias("sh")),
            id_col,
            factor=2,
        )
    if drop_empty:
        _NONEMPTY_SHINGLES.add(out)
    return out


def hashed_shingles(sh: Column) -> Column:
    """THE hashed-set measure shared by every hashed-Jaccard path:
    distinct 32-bit portable-hash values of the shingle set. Defined
    once so the operators and the oracle renderings stay in lockstep
    (portable_hash is 32-bit — an N-shingle doc has ~N²/2³³ internal
    collision probability, e.g. ~1% at 10k shingles; both engines
    collapse a collision identically)."""
    return F.array_distinct(F.transform(sh, lambda s: portable_hash(s)))


#: Above this many stop shingles the literal ``array_except`` filter
#: switches to a broadcast-variable pandas filter: a literal
#: ``F.array(*N)`` builds an N-node expression tree that blows up plan
#: serialization/codegen long before ``max_stop`` trips.
STOP_SHINGLE_LITERAL_MAX = 1_000


def remove_stop_shingles(
    shingles: DataFrame,
    *,
    max_doc_frac: float = 0.5,
    max_stop: int = 100_000,
) -> DataFrame:
    """Drop boilerplate shingles — those appearing in more than
    ``max_doc_frac`` of documents — from a hashed shingle table.

    Boilerplate n-grams (shared headers/footers/disclaimers) are the
    classic corpus-scale dedup poison: they drag unrelated documents'
    MinHash signatures together, flooding the band join with false
    candidates (the in-bucket analog of SQL stop words). Document
    frequency is computed in one explode + count-distinct-free
    aggregation pass; the stop set is by construction small (each stop
    shingle occupies ≥ ``max_doc_frac`` of the corpus, so there can be
    at most ``distinct_shingles_per_doc / max_doc_frac`` of them).
    ``max_stop`` guards the driver against a mis-set threshold
    (e.g. ``max_doc_frac`` so low that half the vocabulary qualifies).

    The filter ships in one of two row-preserving, shuffle-free forms,
    picked by the size of the stop set:

    - ``len(stop) <= STOP_SHINGLE_LITERAL_MAX``: a literal
      ``array_except`` — the common tiny case, pure codegen'd
      expression.
    - larger: the stop set rides an ``sc.broadcast`` variable into an
      Arrow-batched pandas UDF that set-filters each array. A literal
      expression tree of 10k+ nodes chokes plan
      serialization/codegen; a broadcast variable is shipped once per
      executor out-of-band of the plan, and numpy ``isin`` does the
      per-row work. (The explode → anti-join → re-collect alternative
      costs a full corpus shuffle and silently drops rows whose every
      shingle is stopped.)

    Apply between :func:`shingle_table` and the candidate/verify stages
    — both then see the SAME cleaned sets, keeping signature and
    Jaccard measures consistent.
    """
    if not _shingles_pre_hashed(shingles):
        raise ValueError("remove_stop_shingles expects a hashed shingle table")
    # ONE action for both the doc count and the doc-frequency cutoff:
    # the total rides the frequency scan as a broadcast-joined scalar
    # aggregate, and both branches read the shingle table's keyed
    # exchange back as a ReusedExchange — the corpus is shingled once,
    # not once per statistic.
    total = shingles.agg(F.count(F.lit(1)).alias("__n_docs"))
    stop_rows = (
        shingles.select(F.explode("sh").alias("h"))
        .groupBy("h")
        .count()
        .join(F.broadcast(total))
        .where(F.col("count") > F.greatest(F.col("__n_docs") * max_doc_frac, F.lit(1)))
        .limit(max_stop + 1)
        .collect()
    )
    if len(stop_rows) > max_stop:
        raise ValueError(
            f"remove_stop_shingles: more than {max_stop} shingles exceed "
            f"doc-frequency {max_doc_frac} — threshold too low for this corpus"
        )
    if not stop_rows:
        return shingles
    if len(stop_rows) <= STOP_SHINGLE_LITERAL_MAX:
        stop = F.array(*[F.lit(r["h"]).cast("long") for r in stop_rows])
        return shingles.withColumn("sh", F.array_except(F.col("sh"), stop))
    return shingles.withColumn(
        "sh", _broadcast_array_except("sh", shingles, [r["h"] for r in stop_rows])
    )


def _broadcast_array_except(
    col: str, df: DataFrame, stop_values: list[int]
) -> Column:
    """``array_except(col, stop_values)`` with the stop set shipped as a
    Spark broadcast variable instead of a literal expression tree —
    the scale form for large stop sets. Order/distinctness semantics
    match ``array_except`` on the already-distinct hashed shingle
    arrays: element order is preserved, NULL arrays stay NULL."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    bc = df.sparkSession.sparkContext.broadcast(
        np.array(sorted(set(stop_values)), dtype="int64")
    )

    @pandas_udf("array<long>")
    def _filt(arrays: pd.Series) -> pd.Series:
        import numpy as np

        stop = bc.value
        out = []
        for arr in arrays:
            if arr is None:
                out.append(None)
                continue
            a = np.asarray(arr, dtype=np.int64)
            # np.isin sorts internally -> O(n log m) membership per row
            out.append(a[~np.isin(a, stop)].tolist())
        return pd.Series(out)

    return _filt(F.col(col))


def _shingles_pre_hashed(shingles: DataFrame) -> bool:
    """True when a shingle table carries hashed (array<long>) sets."""
    dt = shingles.schema["sh"].dataType
    return isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.LongType)


#: the exact frames :func:`shingle_table` returned with ``drop_empty=True``
_NONEMPTY_SHINGLES = weakref.WeakSet()


def _shingles_nonempty(shingles: DataFrame) -> bool:
    """True when the frame IS one that :func:`shingle_table` returned
    with ``drop_empty=True`` — signature builds can then skip their
    ``size(sh) > 0`` re-filter, which Catalyst would otherwise push
    through the barrier exchange with the FULL shingle construction
    substituted into the predicate (evaluated per row in the
    single-task scan stage; r18 profiling). The marker is the frame
    object, not column metadata: metadata survives ``union``, which
    can bring in empty sets whose NULL signatures share a band key.
    Any derived frame (a union, or a rewrite such as
    :func:`remove_stop_shingles`, which can re-introduce empties) is
    unmarked, so the filter correctly reappears."""
    return shingles in _NONEMPTY_SHINGLES


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_k: int = 2,
    shingles: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash LSH.

    Plan shape: shingle barrier (see :func:`shingle_table`) → signature
    fold behind its own repartition barrier — the barrier's partition
    count deliberately differs from the shingle exchange's, otherwise
    EnsureRequirements drops it as redundant (same key, same count) and
    the signature fold gets re-inlined into BOTH self-join sides —
    → posexplode to (band_idx, bucket) → bucket self-join, keyed on
    (band_idx, bucket) so the shuffle only collides truly-similar docs.
    Returns distinct (id_a < id_b) pairs.

    Pass ``shingles=shingle_table(...)`` to share the shingle exchange
    with a downstream :func:`jaccard_verify`.

    Band-join skew, measured at sf0.1 (5k docs, 8 hashes × 4 bands):
    8,761 buckets, mean size 2.3, p99 = 14, max = 192 (a genuine
    near-identical cluster — its within-bucket product IS the answer,
    not skew). With bucket sizes this flat the pinned partition counts
    are about CPU parallelism, not key skew.

    Round-13 profiling (sf0.1, quiet host, best-of-3 per stage): the
    six-round 2.4-3.1s plateau was NOT signature width or the verify
    join — shingle exchange 0.2s, signature fold +0.0s, the candidate
    stage carried everything. Root cause: the empty-set filter ran on
    ``sig IS NOT NULL`` AFTER the signature projection; Catalyst pushed
    it through the barrier into the projection, and the pushed
    predicate re-evaluated the whole interpreted minhash fold per row
    (HOF aggregates never enter codegen) — 1.25s of 2.1s. Filtering on
    ``size(sh) > 0`` BEFORE the fold (identical semantics — the
    signature is when(size(sh)>0, fold)) cut the operator 2.12→1.24s
    (−41%), candidate set bit-identical (61,211 pairs). The remaining
    ~0.7s above raw compute is the local-mode scheduling floor of the
    pinned exchanges (~160 tiny tasks across shingle/barrier/join
    stages) — the same per-stage floor PageRank documents; it
    amortizes at cluster scale and shrinking partition counts to chase
    it locally would unpin the wave-aligned counts measured in the
    keyed_barrier A/B.

    ``max_bucket_size`` is the corpus-scale safety valve: a band bucket
    of size b emits b·(b−1)/2 candidates, so ONE boilerplate mega-bucket
    (shared headers/footers hashed into the same band) can dominate the
    whole job quadratically. With the cap set, buckets larger than the
    cap are dropped BEFORE the self-join (a window count over the same
    key the join shuffles on — no extra exchange). Recall is lost only
    for pairs whose EVERY shared band overflows; genuinely similar
    pairs share several bands, so in practice the cap sheds boilerplate
    noise, and the Jaccard verify already discards most of a
    mega-bucket's candidates anyway. Default None = exact behavior.
    """
    if shingles is None:
        shingles = shingle_table(
            df, text_col, id_col, shingle_k=shingle_k, drop_empty=True
        )
    # Empty/NULL shingle sets are dropped HERE, on the cheap
    # size(sh) > 0 predicate, which is exactly `sig IS NOT NULL`
    # (minhash_signature wraps the fold in when(size(sh) > 0, ...)).
    # Filtering on sig.isNotNull() AFTER the projection was the
    # round-13 profiling find: Catalyst pushes the filter through the
    # barrier into the projection, and the pushed predicate re-runs
    # the ENTIRE interpreted minhash fold per row just to test
    # nullness — ~60% of this operator's wall time at sf0.1 (1.25s of
    # 2.1s). SQL semantics are unchanged: empties would get a NULL
    # bucket that never joins; now they never reach the fold at all.
    # r18: even THIS filter gets pushed through the shingle exchange
    # with the full tokenize+shingle construction substituted in
    # (single-task scan-side eval) — a drop_empty-tagged shingle
    # table (see _shingles_nonempty) already guarantees non-empty
    # sets below the exchange, so the filter is skipped entirely.
    if _shingles_nonempty(shingles):
        sig_src = shingles
    else:
        sig_src = shingles.where(F.size("sh") > 0)
    sig = sig_src.select(
        F.col(id_col),
        minhash_signature(
            F.col("sh"), num_hashes, pre_hashed=_shingles_pre_hashed(shingles)
        ).alias("sig"),
    )
    sig = keyed_barrier(sig, id_col, factor=3)
    banded = sig.select(
        id_col,
        F.posexplode(F.array(*lsh_bands("sig", num_hashes, rows_per_band))).alias(
            "band_idx", "bucket"
        ),
    )
    if max_bucket_size is not None:
        from pyspark.sql import Window as W

        w = W.partitionBy("band_idx", "bucket")
        banded = (
            banded.withColumn("__bsz", F.count(F.lit(1)).over(w))
            .where(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    return pairs


def jaccard_verify(
    pairs: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_k: int = 2,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs; keeps pairs with
    similarity >= threshold. Joins the (small) candidate set back to
    the shingle sets — candidates, not corpus, drive the cost. Pass the
    same ``shingles=shingle_table(...)`` used for candidate generation
    so both verify sides read the ReusedExchange.

    The sets intersected are the 32-bit portable-hash values of the
    shingles (:func:`hashed_shingles`; a string shingle table is hashed
    here): integer set ops are cheaper and the broadcast shrinks. This
    is oracle-exact — the oracle applies the identical hash, so even
    the (vanishingly rare) within-doc collision collapses identically
    in both engines."""
    sets_ = (
        shingles
        if shingles is not None
        else shingle_table(df, text_col, id_col, shingle_k=shingle_k)
    )
    if not _shingles_pre_hashed(sets_):
        sets_ = sets_.select(id_col, hashed_shingles(F.col("sh")).alias("sh"))
    out = (
        pairs.join(sets_.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"}), "id_a")
        .join(sets_.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"}), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("uni", F.size(F.array_union("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(F.when(F.col("uni") > 0, F.col("inter") / F.col("uni")).otherwise(0.0), 4),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


# ---------------------------------------------------------------------------
# Near-dup clustering (pairs → connected components → canonical keep)
# ---------------------------------------------------------------------------

#: near_dup_clusters truncates the label lineage every this many rounds
_CHECKPOINT_EVERY = 3

#: near_dup_clusters finishes on the driver when the pair graph has at
#: most this many edges; a larger graph runs the distributed rounds
_DRIVER_FINISH_MAX_EDGES = 100_000

#: near_dup_clusters raises when the distributed rounds have not
#: converged after this many rounds
_MAX_ROUNDS = 10


def _min_id_components(edges) -> dict:
    """Union-find over ``(a, b)`` edges: every endpoint → the minimum id
    of its component (the fixed point of min-label propagation)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra = find(parent.setdefault(a, a))
        rb = find(parent.setdefault(b, b))
        if ra != rb:
            # the smaller root wins, so every root is its component's min
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def near_dup_clusters(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str,
    *,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over verified near-dup pairs → one cluster
    label per id (the minimum id in its component; singletons label
    themselves). The step between "pairs" and "drop duplicates" in a
    dedup pipeline: transitive matches (a~b, b~c) must collapse into
    ONE cluster even though (a,c) was never compared. Returns
    ``(id, cluster)`` for every row of ``ids``.

    Edge endpoints absent from ``ids`` neither receive labels nor
    contribute neighbours: only pairs whose two endpoints are both in
    ``ids`` form the graph.

    Two paths, one fixed point. ONE action first collects at most
    ``_DRIVER_FINISH_MAX_EDGES + 1`` of those edges (the pairs are
    pinned by a lazy checkpoint, so the rounds below do not recompute
    them):

    - **Driver finish** (at most ``_DRIVER_FINISH_MAX_EDGES`` edges, the
      near-dup graph of a corpus shard): union-find on the driver, as
      *Connected Components in MapReduce and Beyond* (Kiveris et al.,
      SoCC 2014) finishes once the graph is small. The labels go back
      to Spark through Arrow, typed like the id column, with no Python
      worker. No rounds run.
    - **Distributed rounds** (more edges): the pointer-jumping
      min-label propagation below.

    Which path ran, and the edge count it saw, is logged at INFO on
    this module's logger.

    Pointer-jumping min-label propagation (the star-contraction idea
    of Kiveris et al.): each round every node takes the minimum of its
    own label, its neighbors' labels and its label's label. The last
    term composes the previous round's mapping with itself, so pointer
    depth roughly halves per round and chains converge in
    O(log diameter) rounds, at the cost of one extra join per round
    against the ALREADY-CACHED previous labels. Labels only ever
    decrease, so the fixed point is the component minimum: convergence
    means neighbor-stable AND idempotent, which forces labels constant
    per component. The rounds are bounded by ``_MAX_ROUNDS``; a graph
    that has not converged by then raises.

    Driver coordination is ONE action per round: the round's labels
    are persisted and materialized by a single ``count()`` whose plan
    carries an ``Observation`` counting changed labels — the
    convergence probe rides the materialization instead of running a
    second driver action (``Observation`` does NOT fire on a
    ``localCheckpoint`` materialization, which is why the round action
    is a real count). Under AQE that one action still launches several
    Spark jobs, one per query stage. Lineage is truncated by an eager
    ``localCheckpoint`` only every ``_CHECKPOINT_EVERY`` rounds (a cheap
    cache read); between checkpoints the persisted round outputs keep
    execution flat while plans grow by one join per round.

    The rounds run over PAIR-TOUCHED ids only: nodes without edges can
    never change their self-label, so carrying them through every
    round's three joins is pure waste — at corpus scale the near-dup
    subgraph is a small fraction of the table (sf0.1 fixture: 154
    touched of 5,000 docs). Singletons are restored on both paths by
    ONE final left join with ``coalesce(cluster, id)``.

    ``checkpoint_dir``: lineage truncation defaults to
    ``localCheckpoint``, which stores blocks on EXECUTORS — fast, but
    on a real cluster one executor loss mid-convergence makes the
    truncated lineage unrecoverable and kills the job. Pass a reliable
    path (HDFS/S3/shared FS) to switch every truncation, the pinned
    pairs and the returned frame included, to ``checkpoint()`` against
    that directory: rounds then survive executor loss at the cost of a
    filesystem write per checkpoint. Convergence semantics are
    identical either way (the convergence probe rides a real
    ``count()`` on the persisted frame, never a checkpoint
    materialization, so the Observation caveat above does not change).
    """
    from pyspark.sql import Observation
    from pyspark.sql.pandas.types import to_arrow_type

    prev_ckpt_dir = None
    if checkpoint_dir is not None:
        sc = ids.sparkSession.sparkContext
        # save/restore: setCheckpointDir is session-global, and an
        # application may have pointed it at a curated location with
        # retention rules — one operator call must not repoint every
        # later checkpoint() in the session. (All of THIS function's
        # checkpoints materialize before it returns — the lazy ones run
        # inside the edge collect or round 1's count — so restoring in
        # the finally below is safe.) When nothing was set before, there
        # is no Spark API to unset; the directory then remains ours,
        # documented here.
        prev_ckpt_dir = sc.getCheckpointDir()
        sc.setCheckpointDir(checkpoint_dir)

    def _truncate(df: DataFrame, *, eager: bool) -> DataFrame:
        if checkpoint_dir is None:
            return df.localCheckpoint(eager=eager)
        return df.checkpoint(eager=eager)

    id_set = ids.select(F.col(id_col).alias("id"))

    def _with_singletons(labels: DataFrame) -> DataFrame:
        # restore singletons: one left join against the full id set,
        # edgeless ids label themselves. Eagerly truncated: the function
        # has ALWAYS returned a lineage-free frame, and callers rely on
        # it — returning the live join would re-execute the caller's
        # entire upstream pipeline (ids' lineage) on every consumption,
        # racing already-unpersisted caches (observed as
        # orphaned-accumulator errors in the 100k-doc smoke).
        return _truncate(
            id_set.join(labels, "id", "left").select(
                "id",
                F.coalesce("cluster", F.col("id")).alias("cluster"),
            ),
            eager=True,
        )

    def _known(name: str) -> DataFrame:
        # shuffle-hash hint: a LEFT SEMI join can only build its RIGHT
        # side, and id_set is corpus-sized — without the hint Catalyst
        # would happily BROADCAST the whole corpus's ids under the
        # (usually tiny) pair or touched set
        return id_set.withColumnRenamed("id", name).hint("shuffle_hash")

    def _finish_on_driver(edge_rows: list) -> DataFrame:
        comp = _min_id_components(edge_rows)
        id_type = id_set.schema["id"].dataType
        at = to_arrow_type(id_type)
        # pandas, not a row list: createDataFrame ships a pandas frame
        # through Arrow, while a list goes the pickled path and starts
        # Python workers
        labels = pa.table(
            {
                "id": pa.array(list(comp), type=at),
                "cluster": pa.array(list(comp.values()), type=at),
            }
        ).to_pandas()
        schema = T.StructType(
            [T.StructField("id", id_type), T.StructField("cluster", id_type)]
        )
        return _with_singletons(
            ids.sparkSession.createDataFrame(labels, schema=schema)
        )

    def _rounds(pinned: DataFrame) -> DataFrame:
        # symmetrize with ONE explode, not a self-union: a union embeds
        # the pairs subtree twice, and the heavy verified-pair lineage
        # (the LSH verify join / the quadratic cosine block) re-executes
        # per branch — ReusedExchange only covers subtrees that END in
        # an exchange, which a join+filter pair plan does not
        edges = _truncate(
            pinned.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("id_a").alias("src"),
                            F.col("id_b").alias("dst"),
                        ),
                        F.struct(
                            F.col("id_b").alias("src"),
                            F.col("id_a").alias("dst"),
                        ),
                    )
                ).alias("__e")
            )
            .select("__e.src", "__e.dst")
            .distinct(),
            eager=False,
        )
        # iterate over the near-dup subgraph only — edges are
        # symmetrized, so the src column alone covers every endpoint
        labels = _truncate(
            edges.select(F.col("src").alias("id"))
            .distinct()
            .join(_known("id"), "id", "semi")
            .select("id", F.col("id").alias("cluster")),
            eager=False,
        )
        prev_cached: DataFrame | None = None
        for it in range(_MAX_ROUNDS):
            obs = Observation(f"near_dup_clusters_round_{it}")
            neigh = (
                edges.join(labels, edges["dst"] == labels["id"])
                .groupBy("src")
                .agg(F.min("cluster").alias("neigh_min"))
            )
            jump = labels.select(
                F.col("id").alias("__jid"), F.col("cluster").alias("__jcluster")
            )
            joined = labels.join(neigh, labels["id"] == neigh["src"], "left").join(
                jump, F.col("cluster") == F.col("__jid"), "left"
            )
            candidates = [
                F.col("cluster"),
                F.coalesce("neigh_min", F.col("cluster")),
                F.coalesce("__jcluster", F.col("cluster")),
            ]
            cached = (
                joined.select(
                    "id",
                    F.least(*candidates).alias("__new"),
                    (F.least(*candidates) < F.col("cluster")).alias("__changed"),
                )
                .withColumnRenamed("__new", "cluster")
                .observe(obs, F.count_if(F.col("__changed")).alias("n_changed"))
                .drop("__changed")
                .persist()
            )
            cached.count()  # the round's ONE action: materialize + fire the probe
            n_changed = obs.get["n_changed"]
            labels = cached
            if (it + 1) % _CHECKPOINT_EVERY == 0:
                labels = _truncate(cached, eager=True)  # reads the cache
                cached.unpersist()
                cached = None
            if prev_cached is not None:
                prev_cached.unpersist()
            prev_cached = cached
            if n_changed == 0:
                if cached is not None:
                    # don't return a cache-pinned frame: CacheManager would
                    # hold the entry long after the caller dropped it. The
                    # checkpoint is one cheap cache-read job.
                    labels = _truncate(cached, eager=True)
                    cached.unpersist()
                return _with_singletons(labels)
        if prev_cached is not None:
            prev_cached.unpersist()
        raise RuntimeError(
            f"near_dup_clusters did not converge in {_MAX_ROUNDS} rounds; "
            "the pair graph's components are too long for the "
            "pointer-jumping bound"
        )

    def _run() -> DataFrame:
        # the lazy pin keeps the pair lineage (the LSH verify join / the
        # quadratic cosine block) from running twice when the rounds
        # follow the edge collect
        pinned = _truncate(pairs.select("id_a", "id_b"), eager=False)
        edge_rows = (
            pinned.join(_known("id_a"), "id_a", "semi")
            .join(_known("id_b"), "id_b", "semi")
            .select("id_a", "id_b")
            .limit(_DRIVER_FINISH_MAX_EDGES + 1)
            .collect()
        )
        if len(edge_rows) <= _DRIVER_FINISH_MAX_EDGES:
            _log.info(
                "near_dup_clusters: %d edges, driver union-find", len(edge_rows)
            )
            return _finish_on_driver(edge_rows)
        _log.info(
            "near_dup_clusters: more than %d edges, distributed rounds",
            _DRIVER_FINISH_MAX_EDGES,
        )
        return _rounds(pinned)

    try:
        return _run()
    finally:
        if prev_ckpt_dir is not None and checkpoint_dir is not None:
            ids.sparkSession.sparkContext.setCheckpointDir(prev_ckpt_dir)


def drop_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    threshold: float = 0.5,
    shingle_k: int = 2,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    max_bucket_size: int | None = None,
    stop_shingle_frac: float | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """End-to-end corpus dedup: MinHash-LSH candidates → exact Jaccard
    verify at ``threshold`` → connected components → keep the minimum-id
    row per cluster. The whole pipeline is the bucketed scale path —
    no all-pairs stage anywhere.

    Corpus-scale knobs (all off by default, exact behavior):
    ``stop_shingle_frac`` removes boilerplate shingles above that
    document frequency before signatures AND verify (one consistent
    measure — :func:`remove_stop_shingles`); ``max_bucket_size`` caps
    band buckets before the self-join (:func:`minhash_lsh_pairs`);
    ``checkpoint_dir`` makes the clustering's lineage truncation
    reliable (survives executor loss) instead of executor-local
    (:func:`near_dup_clusters`).

    Clustering finishes on the driver with one union-find when the
    verified graph has at most ``_DRIVER_FINISH_MAX_EDGES`` edges;
    larger graphs run the distributed pointer-jumping rounds.
    """
    # drop_empty: shingle-less docs can never band, verify, or appear
    # as a candidate id — pruned below the exchange on the cheap exact
    # token-count predicate (r18; see shingle_table). A stop-shingle
    # rewrite drops the marker, so the signature build re-filters.
    sh = shingle_table(
        df, text_col, id_col, shingle_k=shingle_k, hashed=True,
        drop_empty=True,
    )
    if stop_shingle_frac is not None:
        sh = remove_stop_shingles(sh, max_doc_frac=stop_shingle_frac)
    cand = minhash_lsh_pairs(
        df,
        text_col,
        id_col,
        num_hashes=num_hashes,
        rows_per_band=rows_per_band,
        shingles=sh,
        max_bucket_size=max_bucket_size,
    )
    verified = jaccard_verify(
        cand, df, text_col, id_col, threshold=threshold, shingles=sh
    )
    clusters = near_dup_clusters(
        verified, df.select(id_col), id_col, checkpoint_dir=checkpoint_dir
    )
    # The converged label IS the component's minimum id, so the keep
    # set is just the distinct labels — no extra min() aggregation.
    keep = clusters.select(F.col("cluster").alias(id_col)).distinct()
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs a precomputed corpus index
# ---------------------------------------------------------------------------

def lsh_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_k: int = 2,
) -> DataFrame:
    """The persistable per-document LSH index: one row per doc with its
    hashed shingle set and band buckets —
    ``(id, sh array<long>, bands array<struct<band_idx,bucket>>)``.

    This is what makes dedup INCREMENTAL at 100 TB: the corpus is
    shingled/signed ONCE, the index is written next to the data, and
    every future ingest batch joins against it without re-reading (let
    alone re-shuffling) corpus text. Docs with no shingles carry a
    NULL ``bands`` (they can never near-dup match, mirroring the NULL
    signature rule in :func:`minhash_lsh_pairs`).

    Exactly ONE keyed barrier materializes the whole (id, sh, sig)
    projection — shingling, hashing, and the signature fold all run
    once per row BELOW it, and the band extraction above it reads the
    materialized ``sig`` array for free. (Earlier revisions barriered
    the hashed shingles and the signature separately — two full
    exchanges of shingle-bearing rows where one materialization point
    suffices; the only other exchange on this path is
    :func:`shingle_table`'s conditional widen of a narrow scan.)
    """
    sh = shingle_table(
        df, text_col, id_col, shingle_k=shingle_k, hashed=True, materialize=False
    )
    sig = sh.select(
        F.col(id_col),
        F.col("sh"),
        minhash_signature(F.col("sh"), num_hashes, pre_hashed=True).alias("sig"),
    )
    sig = keyed_barrier(sig, id_col, factor=2)
    bands = F.when(
        F.col("sig").isNotNull(),
        F.array(
            *[
                F.struct(F.lit(i).alias("band_idx"), b.alias("bucket"))
                for i, b in enumerate(
                    lsh_bands("sig", num_hashes, rows_per_band)
                )
            ]
        ),
    )
    return sig.select(F.col(id_col), F.col("sh"), bands.alias("bands"))


def incremental_verified_pairs(
    batch_index: DataFrame,
    corpus_index: DataFrame,
    id_col: str,
    *,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Verified (corpus_id, batch_id, jaccard) near-dup pairs between a
    small batch index and a large corpus index.

    Zero corpus shuffle, and the corpus index is touched by two
    COLUMN-PRUNED streamed passes (for a parquet-backed index, each
    pass reads only the columns it names):

    1. band pass — reads ``(id, bands)`` only (the shingle column is
       never scanned here), joins the broadcast batch bands map-side,
       and the resulting candidate pairs deduplicate through the ONE
       shuffle in the operator, carrying two ids per row and nothing
       else (a pair can share several bands);
    2. fetch pass — reads ``(id, sh)`` and inner-joins the BROADCAST
       candidate pair list (batch-bounded bare int pairs), which
       filters to candidate rows map-side; the batch's shingle table
       broadcasts too, so candidate shingle sets stream straight into
       the Jaccard projection without ever being exchanged.

    Jaccard semantics (hashed sets, round-4, >= threshold) are
    identical to :func:`jaccard_verify`.

    ``max_bucket_size`` is the mega-bucket safety valve, mirroring
    :func:`minhash_lsh_pairs`: ONE boilerplate band bucket shared by a
    million corpus docs would emit a million candidates per matching
    batch doc. With the cap set, overflowing CORPUS buckets are
    identified by a bare (band, bucket) aggregation (map-side partials
    over the pruned band scan — corpus text/shingles still never
    shuffle) and shed from the band pass via a broadcast anti-join
    (the overflow set is tiny — only buckets past the cap). Recall is
    lost only for pairs whose EVERY shared band overflows, same
    semantics as the full-corpus path. Default None = exact.
    """
    cb = corpus_index.select(
        F.col(id_col).alias("__cid"), F.explode("bands").alias("b")
    ).select("__cid", "b.band_idx", "b.bucket")
    if max_bucket_size is not None:
        hot = (
            cb.groupBy("band_idx", "bucket")
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > max_bucket_size)
            .select("band_idx", "bucket")
        )
        # No forced broadcast: the overflow set is tiny in practice
        # (only buckets past the cap) and AQE broadcasts it then, but
        # its cardinality is DATA-derived, not caller-contracted — a
        # pathological corpus could overflow arbitrarily many buckets,
        # and a hard hint would OOM there instead of degrading.
        cb = cb.join(hot, ["band_idx", "bucket"], "left_anti")
    bb = batch_index.select(
        F.col(id_col).alias("__bid"), F.explode("bands").alias("b")
    ).select("__bid", "b.band_idx", "b.bucket")
    pairs = (
        cb.join(F.broadcast(bb), ["band_idx", "bucket"])
        .select("__cid", "__bid")
        .dropDuplicates()
    )
    csh = corpus_index.select(
        F.col(id_col).alias("__cid"), F.col("sh").alias("sh_c")
    )
    bsh = batch_index.select(
        F.col(id_col).alias("__bid"), F.col("sh").alias("sh_b")
    )
    # The inner join against the broadcast pair list IS the candidate
    # filter for the fetch pass (one plan occurrence of the band join —
    # a separate semi-join pre-filter would broadcast-evaluate the
    # band-join subtree a second time).
    return (
        csh.join(F.broadcast(pairs), "__cid")
        .join(F.broadcast(bsh), "__bid")
        .withColumn("inter", F.size(F.array_intersect("sh_c", "sh_b")))
        .withColumn("uni", F.size(F.array_union("sh_c", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.when(F.col("uni") > 0, F.col("inter") / F.col("uni")).otherwise(0.0),
                4,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("__cid", "__bid", "jaccard")
    )


def drop_near_duplicates_incremental(
    batch: DataFrame,
    corpus_index: DataFrame,
    text_col: str,
    id_col: str,
    *,
    threshold: float = 0.5,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_k: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Dedup an ingest batch against an existing corpus: drop batch
    docs near-duplicating any indexed corpus doc, then near-dedup the
    survivors among themselves via :func:`drop_near_duplicates`.

    The corpus side is only ever touched through ``corpus_index``
    (:func:`lsh_index`, typically read back from parquet) — the
    append-only ingestion loop is: index corpus once; per batch, clean
    against the index; append the cleaned batch AND its
    :func:`lsh_index` rows to the corpus tables.

    ``batch`` and the corpus must not share ids (ids are the pair
    identity; overlapping ids would self-match).
    """
    bi = lsh_index(
        batch,
        text_col,
        id_col,
        num_hashes=num_hashes,
        rows_per_band=rows_per_band,
        shingle_k=shingle_k,
    )
    hit = incremental_verified_pairs(
        bi, corpus_index, id_col, threshold=threshold,
        max_bucket_size=max_bucket_size,
    )
    contaminated = hit.select(F.col("__bid").alias(id_col)).distinct()
    # Truncate the survivors' lineage ONCE before within-batch dedup:
    # drop_near_duplicates re-reads its input several times (shingle
    # sides, cluster ids, the final keep semi-join) — N cheap scans for
    # the parquet-backed corpora it is designed around, but here the
    # input lineage is the whole band-join + Jaccard-verify pipeline,
    # and re-executing it per consumer multiplied the batch clean by
    # ~4-5x at the 100k-doc smoke scale. Executor-local blocks suffice:
    # losing one restarts this batch's clean, and the long-running
    # convergence loop has its own reliable `checkpoint_dir` knob.
    survivors = batch.join(
        F.broadcast(contaminated), id_col, "left_anti"
    ).localCheckpoint(eager=False)
    return drop_near_duplicates(
        survivors,
        text_col,
        id_col,
        threshold=threshold,
        shingle_k=shingle_k,
        num_hashes=num_hashes,
        rows_per_band=rows_per_band,
        max_bucket_size=max_bucket_size,
    )


# ---------------------------------------------------------------------------
# Test-set decontamination
# ---------------------------------------------------------------------------

def remove_contaminated(
    train: DataFrame,
    test: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_k: int = 13,
    min_overlap: int = 1,
    test_text_col: str | None = None,
) -> DataFrame:
    """Drop training documents that share at least ``min_overlap``
    word ``shingle_k``-grams with a held-out test corpus — the standard
    benchmark-decontamination pass for training data (13-gram overlap
    is the widely published convention).

    Scale shape: the TEST side (benchmark suites — thousands of docs)
    is tiny next to a 100 TB train corpus, so its distinct hashed
    shingles become a broadcast build side. The train side does ONE
    shingle explode → broadcast semi-join (only matching rows survive,
    typically a sliver) → per-doc overlap count → the contaminated id
    set — itself small — broadcasts into the final anti-join. The
    train corpus is never shuffled in full.

    Both sides shingle through :func:`word_shingles` +
    :func:`hashed_shingles` (same tokenization as every dedup
    operator); a train doc shorter than ``shingle_k`` tokens has no
    shingles and is always kept.
    """
    if min_overlap < 1:
        raise ValueError(f"min_overlap must be >= 1, got {min_overlap}")
    tcol = test_text_col or text_col
    test_sh = test.select(
        F.explode(
            hashed_shingles(word_shingles(F.col(tcol), k=shingle_k))
        ).alias("h")
    ).distinct()
    # scale-conditional width: the train-side shingle explode is the
    # corpus-heavy stage — a narrow local scan would run it on one
    # core; a wide cluster scan passes through unchanged
    train_sh = spread(train).select(
        F.col(id_col),
        F.explode(
            hashed_shingles(word_shingles(F.col(text_col), k=shingle_k))
        ).alias("h"),
    )
    contaminated = (
        train_sh.join(F.broadcast(test_sh), "h", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__overlap"))
        .where(F.col("__overlap") >= min_overlap)
        .select(id_col)
    )
    return train.join(F.broadcast(contaminated), id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(col: Column) -> Column:
    """Bit-vote SimHash over distinct tokens (portable-hash based).

    For each of the ``SIMHASH_BITS`` bits i: if more than half the
    token hashes have bit i set, the signature has bit i set. Computed
    as ONE fold over the hashed token array: the accumulator carries
    per-bit set-counts plus the token count in its last slot, and the
    ``finish`` lambda turns the materialized counts into the signature.
    The per-bit ``size(filter(hashes, ...))`` formulation re-evaluated
    the md5 token hashing once per bit (32x) in interpreted HOF eval.
    32 bits is the full width of :func:`portable_hash`. NULL text
    yields a NULL signature.
    """
    bits = SIMHASH_BITS
    toks = F.array_distinct(tokens(col))
    hashed = F.transform(toks, lambda t: portable_hash(t, seed=99))
    init = F.array(*[F.lit(0).cast("long")] * (bits + 1))

    def merge(acc: Column, h: Column) -> Column:
        vote = F.array(
            *[(h.bitwiseAND(F.lit(1 << i)) != 0).cast("long") for i in range(bits)],
            F.lit(1).cast("long"),
        )
        return F.zip_with(acc, vote, lambda a, b: a + b)

    def finish(acc: Column) -> Column:
        n = acc.getItem(bits)
        out = F.lit(0).cast("long")
        for i in range(bits):
            out = out + F.when(
                acc.getItem(i) * 2 > n, F.lit(1 << i)
            ).otherwise(F.lit(0))
        return out

    return F.aggregate(hashed, init, merge, finish)


def hamming_distance(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash with multi-band blocking — the MinHash
    band scheme applied to the signature's bit ranges.

    The 32-bit signature splits into ``n = max_hamming + 1`` disjoint
    bands, band ``b`` covering bits ``[b*32//n, (b+1)*32//n)``;
    candidates are pairs agreeing on AT LEAST ONE band, verified by
    Hamming distance. Pigeonhole: ``max_hamming`` differing bits can
    dirty at most ``max_hamming`` bands, so one of the ``n`` bands is
    clean for every within-threshold pair — **exact recall** for any
    ``max_hamming`` in ``0..31``, since the bands only have to be
    disjoint and cover the signature, not be of equal width (Manku et
    al., WWW 2007). Scale: candidate buckets are keyed by (band index,
    band value) — 4 × 2^8 blocks at ``max_hamming=3`` — and the
    per-band join is one shuffle on the bucket key.
    """
    if not 0 <= max_hamming < SIMHASH_BITS:
        raise ValueError(
            f"max_hamming={max_hamming} must be in 0..{SIMHASH_BITS - 1}"
        )
    n = max_hamming + 1
    edges = [b * SIMHASH_BITS // n for b in range(n + 1)]
    # Conditional spread parallelizes the CPU-bound signature pass
    # beyond a narrow scan's file granularity (identity on a wide
    # cluster scan); the keyed barrier then materializes ONE signature
    # pass that both self-join sides reuse (ReusedExchange). Pinned
    # counts: AQE must not coalesce CPU-heavy stages (see shingle_table).
    sig = spread(df).select(F.col(id_col), simhash(F.col(text_col)).alias("sh"))
    sig = keyed_barrier(sig, id_col)
    banded = sig.select(
        id_col,
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("bi"),
                        F.shiftright("sh", lo)
                        .bitwiseAND(F.lit((1 << (hi - lo)) - 1))
                        .alias("bv"),
                    )
                    for b, (lo, hi) in enumerate(zip(edges, edges[1:]))
                ]
            )
        ).alias("band"),
    ).select(id_col, "sh", "band.bi", "band.bv")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .withColumn("hamming", hamming_distance(F.col("a.sh"), F.col("b.sh")))
        .where(F.col("hamming") <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "hamming",
        )
        .distinct()  # a pair can agree on several bands
    )


# ---------------------------------------------------------------------------
# Blocked n-gram Jaccard
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    block_cols: list[str],
    shingle_k: int = 2,
    threshold: float = 0.3,
) -> DataFrame:
    """Exact Jaccard near-dup within blocking-key groups. The block
    join bounds pair count; for unblocked corpora use minhash_lsh_pairs.

    The sets are 32-bit portable-hash values of the shingles
    (:func:`hashed_shingles`) — integer set ops per pair are far cheaper
    than string ones and the shuffled sets shrink (same contract and
    collision note as :func:`jaccard_verify`; the oracle applies the
    identical hash)."""
    sh = hashed_shingles(word_shingles(F.col(text_col), k=shingle_k))
    # Conditional spread → shingle → keyed barrier: shingle in
    # parallel, once; both join sides read the ReusedExchange (see
    # simhash_pairs).
    sets_ = spread(df).select(F.col(id_col), *block_cols, sh.alias("sh"))
    sets_ = keyed_barrier(sets_, id_col)
    a, b = sets_.alias("a"), sets_.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return (
        a.join(b, cond)
        .withColumn("inter", F.size(F.array_intersect("a.sh", "b.sh")))
        .withColumn("uni", F.size(F.array_union("a.sh", "b.sh")))
        .withColumn(
            "jaccard",
            F.round(F.when(F.col("uni") > 0, F.col("inter") / F.col("uni")).otherwise(0.0), 4),
        )
        .where(F.col("jaccard") >= threshold)
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"), "jaccard")
    )


def drop_duplicate_paragraphs(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    delimiter: str = "\n",
    min_chars: int = 1,
) -> DataFrame:
    """CCNet-style cross-document PARAGRAPH dedup: split every document
    into segments on ``delimiter``, keep only the globally FIRST
    occurrence of each distinct segment (ordered by ``(id, position)``
    — so later repeats are removed both across documents and within
    one document), and reassemble each document's surviving segments
    in their original order. This is the paragraph-hash dedup of the
    CCNet pipeline (Wenzek et al. 2019) and the practical stand-in for
    suffix-array exact-substring dedup (Lee et al. 2021): boilerplate
    paragraphs, quoted reposts, and licence blurbs collapse to one
    training occurrence.

    Whitespace-only segments shorter than ``min_chars`` after trim
    (blank lines — document STRUCTURE, not content) are never deduped:
    every document keeps them.

    Returns ``(id, text)`` for documents with at least one surviving
    segment, the same contract as :func:`remove_boilerplate
    <hrtech_etl_spark.functions.text.remove_boilerplate>`.

    Plan at scale — deliberately NOT a row_number window over the
    segment key: a viral paragraph with millions of copies would make
    one hot window partition with no salting escape (row_number needs
    total order). Instead the keeper per segment is computed with
    ``min(struct(id, pos))`` — an algebraic aggregate, so map-side
    partial aggregation collapses each partition's copies of a hot
    segment to ONE row before the exchange — and survivors are marked
    with a join on ``(segment, id, pos)``, whose 3-column hash
    spreads even a single viral segment across partitions. Three
    keyed exchanges total (keeper agg, marker join, reassembly), each
    skew-tolerant. Blank segments ride the SAME marker join as a
    left-outer miss (they are never keepers) instead of a third
    union branch, so the parquet input is scanned exactly twice —
    once per explode lineage — not three times; executed-plan shape
    is locked by tests/test_paragraph_dedup.py.
    """
    import re as _re

    parts = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), _re.escape(delimiter), -1)
        ).alias("__pos", "__seg"),
    )
    is_blank = F.length(F.trim(F.col("__seg"))) < min_chars
    keeper = (
        parts.where(~is_blank)
        .groupBy("__seg")
        .agg(
            F.min(F.struct(F.col(id_col), F.col("__pos"))).alias("__k")
        )
        .select(
            "__seg",
            F.col(f"__k.{id_col}").alias(id_col),
            F.col("__k.__pos").alias("__pos"),
            F.lit(True).alias("__keep"),
        )
    )
    # keeper is unique per __seg, so the left join never fans out;
    # blanks (excluded from keeper) surface as misses and are kept
    kept = parts.join(keeper, ["__seg", id_col, "__pos"], "left").where(
        is_blank | F.col("__keep").isNotNull()
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("__pos", "__seg"))).alias("__ps")
        )
        .select(
            F.col(id_col),
            F.array_join(
                F.transform(F.col("__ps"), lambda s: s.getField("__seg")),
                delimiter,
            ).alias(text_col),
        )
    )


def duplicate_span_stats(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 20,
    min_dup: int = 2,
) -> DataFrame:
    """Exact substring-duplication stats per document — the
    character-level analogue of suffix-array dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): any
    ``k``-char substring occurring ``min_dup``+ times ANYWHERE in the
    corpus (across documents or repeated within one) marks its span
    duplicated; overlapping/adjacent marked spans merge into maximal
    runs. Returns one row per document that contains at least one
    duplicated run: ``(id, n_spans, dup_chars, dup_frac)`` — the
    per-document duplication profile a curation pipeline thresholds on
    (e.g. drop docs with dup_frac > 0.5, or feed the spans to a
    cut-and-rejoin pass).

    Plan at scale (the explode is O(total chars) — the same corpus-
    sized working set a suffix array costs, expressed as three
    skew-tolerant stages):

    1. positions explode BEFORE the substring is materialized (each
       shingle row narrows immediately to ``(id, pos, xxhash64)`` —
       20 bytes — so nothing wide ever shuffles);
    2. the duplicated-shingle set comes from an algebraic count
       (map-side partials collapse a viral shingle to one row per
       partition before the exchange — no hot window partition), and
       survivors are marked with an inner join that AQE turns into a
       broadcast when the dup set is small and a skew-split shuffle
       join when it is not;
    3. only marked rows (typically a small fraction) reach the
       per-document interval merge: one exchange on ``id``, reused by
       the island window AND the final aggregate.

    Shingles are compared by 64-bit hash, not string (same collision
    contract as :func:`hashed_shingles`).
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    t, i = text_col, id_col
    # scale-conditional width: the O(total chars) position explode is
    # the heaviest stage — widen a narrow local scan, pass a wide
    # cluster scan through unchanged
    sh = (
        spread(docs.where(F.length(t) >= k))
        .select(
            F.col(i),
            F.length(t).alias("__n"),
            F.explode(F.expr(f"sequence(1, length({t}) - {k} + 1)")).alias(
                "__pos"
            ),
            F.col(t),
        )
        .select(
            i,
            "__n",
            "__pos",
            F.xxhash64(F.expr(f"substring({t}, __pos, {k})")).alias("__h"),
        )
    )
    dup = (
        sh.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= min_dup)
        .select("__h")
    )
    hits = sh.join(dup, "__h").drop("__h")

    from pyspark.sql import Window as W

    w_prev = (
        W.partitionBy(i)
        .orderBy("__pos")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prev = F.max("__pos").over(w_prev)
    marked = hits.select(
        i,
        "__n",
        "__pos",
        F.when(prev.isNull() | (F.col("__pos") > prev + k), 1)
        .otherwise(0)
        .alias("__brk"),
    )
    w_run = (
        W.partitionBy(i).orderBy("__pos").rowsBetween(W.unboundedPreceding, 0)
    )
    islands = marked.select(
        i, "__n", "__pos", F.sum("__brk").over(w_run).alias("__isl")
    )
    spans = islands.groupBy(i, "__isl").agg(
        (F.max("__pos") - F.min("__pos") + k).alias("__span"),
        F.max("__n").alias("__n"),
    )
    return spans.groupBy(i).agg(
        F.count(F.lit(1)).cast("int").alias("n_spans"),
        F.sum("__span").alias("dup_chars"),
        F.round(
            F.sum("__span").cast("double") / F.max("__n"), 6
        ).alias("dup_frac"),
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (LBFS/rsync-style, fixed boundary rule)
# ---------------------------------------------------------------------------


def content_defined_chunks(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    window: int = 8,
    divisor: int = 61,
    seed: int = 0,
) -> DataFrame:
    """Split every document into content-defined chunks: a chunk ends
    at position ``p`` when the portable hash of the ``window``-char
    substring ENDING at ``p`` is ``0 mod divisor`` (expected chunk
    length ≈ ``divisor``), plus always at end-of-document. Because
    boundaries depend only on local content, an insertion near the
    front of a near-duplicate document shifts every byte offset yet
    the chunk stream re-synchronizes right after the edit — the
    LBFS/rsync/backup-dedup property that makes chunk-level dedup
    robust where fixed-size blocks are not. (FastCDC's min/max chunk
    clamp is deliberately out of scope: the clamp makes each boundary
    depend on the previous ACCEPTED boundary — sequential per
    document — while this fixed rule is per-position independent and
    hence embarrassingly parallel.)

    Returns one row per chunk: ``(id, chunk_idx, start, chunk_len,
    chunk_md5)`` — 1-based ``start``, md5 identity for corpus-level
    dedup. Documents shorter than ``window`` become a single chunk;
    NULL/empty text yields no rows.

    Plan at scale: the position explode narrows to ``(id, pos)``
    immediately (boundary filter runs map-side BEFORE any shuffle, so
    only ~n/divisor boundary rows per doc survive); chunk starts come
    from one lag window on ``id``; chunk text is cut by rejoining the
    narrow ends table to the docs scan on ``id`` — the wide text
    column crosses exactly one exchange, once, and every hash is a
    JVM-side expression replayed verbatim by the DuckDB oracle.
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    if divisor < 2:
        raise ValueError(f"divisor must be >= 2, got {divisor}")
    from pyspark.sql import Window as W

    t, i = text_col, id_col
    # conditional spread: the per-position substring+hash pass below is
    # O(total chars) CPU — a narrow local scan (1 file partition at
    # sf0.1) would run it on one core; identity on wide cluster scans
    base = spread(docs.where(F.col(t).isNotNull() & (F.length(t) >= 1))).select(
        F.col(i), F.length(t).alias("__n"), F.col(t)
    )
    long_ends = (
        base.where(F.col("__n") >= window)
        .select(
            i,
            "__n",
            F.explode(F.expr(f"sequence({window}, length({t}))")).alias(
                "__pos"
            ),
            F.col(t),
        )
        .where(
            (F.col("__pos") == F.col("__n"))
            | (
                portable_hash(
                    F.expr(f"substring({t}, __pos - {window - 1}, {window})"),
                    seed=seed,
                )
                % divisor
                == 0
            )
        )
        .select(i, "__pos")
    )
    short_ends = base.where(F.col("__n") < window).select(
        i, F.col("__n").alias("__pos")
    )
    ends = long_ends.unionByName(short_ends)
    w = W.partitionBy(i).orderBy("__pos")
    bounds = ends.select(
        i,
        F.col("__pos").alias("__e"),
        (F.coalesce(F.lag("__pos").over(w), F.lit(0)) + 1).alias("__s"),
        F.row_number().over(w).alias("chunk_idx"),
    )
    return bounds.join(base.select(i, t), i).select(
        i,
        "chunk_idx",
        F.col("__s").cast("int").alias("start"),
        (F.col("__e") - F.col("__s") + 1).cast("int").alias("chunk_len"),
        F.md5(F.expr(f"substring({t}, __s, __e - __s + 1)")).alias(
            "chunk_md5"
        ),
    )


def shingle_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int = 16,
) -> DataFrame:
    """Asymmetric set CONTAINMENT (Broder 1997): pairs where the
    smaller document's shingle set is mostly inside the other's —
    ``|A∩B| / min(|A|, |B|)``. Jaccard misses exactly these: a short
    doc quoted verbatim inside a long one has tiny union-relative
    overlap but containment ≈ 1. This is the quote/subset-duplication
    detector (Lee et al. 2021 report heavy train-set quotation).

    Scale shape — NEVER all-pairs: explode hashed shingles to
    (shingle, doc), drop shingles occurring in more than
    ``max_doc_freq`` docs (the stop-shingle valve: boilerplate
    shingles would otherwise generate quadratic candidates; the
    trade, as in minhash_lsh_pairs, is recall on pairs whose ONLY
    overlap is boilerplate), then one self-join on the shingle value
    — each surviving co-occurrence contributes one count, so the
    group-by-pair count IS ``|A∩B|`` over valve-surviving shingles.
    Sizes use the same valve-surviving sets, keeping the ratio
    internally consistent. One shingle exchange + one pair exchange,
    partial-aggregated; candidate fan-out is bounded by
    ``max_doc_freq²`` per shingle.

    The empty-set drop is stated on the INPUT as ``size(tokens) >=
    shingle_k`` (equivalent: a doc has a word k-shingle iff it has
    >= k tokens; k=1 keeps the empty token either way), NOT as
    ``size(sh) > 0`` on the projected column — Catalyst pushes a
    projected-column filter below the spread's round-robin exchange
    onto the (locally narrow) scan, re-evaluating the whole shingle
    expression (6 splits + zip_with + md5 per row) a second time,
    single-threaded, before the widening exchange the heavy
    projection exists behind. With the cheap restatement the pushed
    filter IS the optimization. Value-identical on the full pair
    frame; quiet-host A/B (``git show 4b9511f:AB_containment_r15.json``):
    1.08x vs the round-14 formulation at sf0.1 (the entry is
    job-launch-bound at
    5k docs, so the local delta is small — the real win is the 2x
    heavy-expression evaluation and the narrow-scan serialization at
    real corpus sizes). The same record measures a collect_list-per-
    shingle backend at a wash with this one; the join backend stays
    because it shares its banded-join shape with the verified
    signature-merge paths.
    """
    sh = hashed_shingles(word_shingles(F.col(text_col), k=shingle_k))
    pre = df.where(F.size(tokens(F.col(text_col))) >= shingle_k)
    sets_ = spread(pre).select(F.col(id_col).alias("id"), sh.alias("sh"))
    # lazy localCheckpoint: the hashed-shingle table has FOUR consumers
    # (the stop-shingle aggregate, both self-join sides, the size
    # table) and AQE's exchange reuse only deduplicated two of the
    # four copies in practice (round-17 profiling: the scan→tokenize→
    # shingle→md5 map stage ran twice as ~1.5s single-task jobs).
    # Pinning the barrier output guarantees compute-once; the stored
    # arrays are 8 bytes/shingle — cheaper to re-read than to
    # recompute at any scale. A/B at sf0.1: 2.94 -> 2.20s min,
    # pairs identical.
    sets_ = keyed_barrier(sets_, "id").localCheckpoint(eager=False)
    ex = sets_.select("id", F.explode("sh").alias("shv"))
    keep = (
        ex.groupBy("shv")
        .agg(F.count(F.lit(1)).alias("dfreq"))
        .where(F.col("dfreq") <= max_doc_freq)
        .select("shv")
    )
    ex2 = ex.join(keep, "shv")
    sizes = ex2.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = ex2.alias("a"), ex2.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shv") == F.col("b.shv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment",
            F.round(
                F.col("inter").cast("double")
                / F.least(F.col("n_a"), F.col("n_b")),
                4,
            ),
        )
        .where(F.col("containment") >= threshold)
        .select("id_a", "id_b", "inter", "containment")
    )
