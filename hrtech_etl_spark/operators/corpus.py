"""Corpus-assembly operators for training-data pipelines: exact
stratified sampling and greedy sequence packing.

Both are the last-mile steps between a filtered/deduped corpus and a
training run: sampling fixes the language/domain mixture, packing
fills fixed-size context windows with minimal padding. Reference
analog: none (the reference moves records; it never assembles training
batches) — these belong to the SURVEY §2.10 LLM-pipeline mandate.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hrtech_etl_spark.core.partitioning import bounded_window_key
from hrtech_etl_spark.functions.hashing import portable_hash


def _stratum_rank(
    df: DataFrame, strata_cols: Sequence[str], id_col: str, seed: int
) -> DataFrame:
    """``__rn`` = deterministic rank of each row inside its stratum,
    ordered by a portable seeded hash of the id (stable under ANY
    partitioning, replicable in SQL engines; ties broken on the id).
    THE shared machinery of both samplers — their determinism and
    nested-sample contracts depend on this expression staying
    byte-identical between them."""
    from pyspark.sql import Window as W

    rank_key = portable_hash(
        F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))
    )
    w = W.partitionBy(*[F.col(c) for c in strata_cols]).orderBy(
        rank_key.asc(), F.col(id_col)
    )
    return df.withColumn("__rn", F.row_number().over(w))


def stratified_sample_exact(
    df: DataFrame,
    strata_cols: Sequence[str],
    n_per_stratum: int,
    *,
    id_col: str,
    seed: int = 0,
) -> DataFrame:
    """EXACTLY ``n_per_stratum`` rows per stratum (fewer only when the
    stratum is smaller), deterministically.

    ``df.sampleBy`` draws Bernoulli samples — counts fluctuate and rows
    change across partitionings. Here rows are ranked inside each
    stratum by a portable seeded hash of the id (stable under ANY
    partitioning, replicable in SQL engines) and the first n kept: the
    same (seed, corpus) always yields the same sample, and mixture
    ratios are exact — what a training-mixture spec actually requires.

    One shuffle (the rank window on the strata key); the per-stratum
    top-n runs as WindowGroupLimit, so no stratum is fully sorted.
    Hot strata at 100 TB: the group-limit partial pass bounds what
    reaches the final per-stratum task by k per upstream partition.
    """
    return (
        _stratum_rank(df, strata_cols, id_col, seed)
        .where(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
    )


def mixture_sample(
    df: DataFrame,
    strata_col: str,
    counts: dict,
    *,
    id_col: str,
    seed: int = 0,
) -> DataFrame:
    """Draw a training MIXTURE: exactly ``counts[stratum]`` rows per
    stratum (e.g. ``{"en": 500_000, "fr": 300_000}``), deterministically
    — the data-mixing step that turns a filtered corpus into a recipe-
    proportioned training set. Strata absent from ``counts`` are
    dropped; a stratum smaller than its requested count contributes
    all its rows (callers wanting hard guarantees should check counts
    beforehand — silently over-sampling other strata would corrupt the
    recipe, so no redistribution happens here).

    Same machinery and determinism contract as
    :func:`stratified_sample_exact` (the shared :func:`_stratum_rank`
    seeded-hash ranking, one shuffle); the same seed yields nested
    samples — raising a stratum's count keeps every previously-drawn
    row of that stratum.

    WindowGroupLimit note: Spark's InferWindowGroupLimit only extracts
    INTEGER-LITERAL rank limits — a bare ``__rn <= CASE stratum ...``
    filter would fully sort every retained stratum through the window.
    The redundant literal conjunct ``__rn <= max(counts)`` (implied by
    the per-stratum filter) restores the partial top-k pruning, so at
    most max(counts) rows per stratum per upstream partition reach the
    final window task (plan-tested).
    """
    if not counts:
        raise ValueError("mixture_sample: counts must be non-empty")
    limit_expr = F.lit(0)
    for stratum, n in counts.items():
        limit_expr = F.when(
            F.col(strata_col) == F.lit(stratum), F.lit(int(n))
        ).otherwise(limit_expr)
    max_n = max(int(n) for n in counts.values())
    return (
        _stratum_rank(
            df.where(F.col(strata_col).isin(list(counts.keys()))),
            [strata_col],
            id_col,
            seed,
        )
        .where((F.col("__rn") <= F.lit(max_n)) & (F.col("__rn") <= limit_expr))
        .drop("__rn")
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    max_chars: int = 2000,
    overlap: int = 200,
) -> DataFrame:
    """Split documents into fixed-size overlapping character windows —
    the standard long-document treatment before embedding or packing
    (:func:`pack_sequences` flags oversize docs; this is what you do
    with them). Pure JVM expressions: chunk offsets are a
    ``sequence(0, …, step)`` array posexploded per document, each
    chunk a ``substring`` — no UDF, no shuffle at all (the explode is
    a per-row Generate; downstream ops shuffle as they need).

    Offsets step by ``max_chars - overlap``; a final offset is only
    emitted while more than ``overlap`` characters remain, so no chunk
    is a pure suffix of its predecessor. Every document yields ≥ 1
    chunk (an empty text yields one empty chunk — dropping rows here
    would silently shrink the corpus). Reconstruction invariant
    (tested): concatenating each chunk minus its leading ``overlap``
    characters (chunk 0 kept whole) rebuilds the document exactly.

    Output: (id, chunk_idx, chunk_text).
    """
    if max_chars <= 0:
        raise ValueError(f"max_chars must be positive, got {max_chars}")
    if not 0 <= overlap < max_chars:
        raise ValueError(
            f"overlap must be in [0, max_chars), got {overlap} for "
            f"max_chars={max_chars}"
        )
    step = max_chars - overlap
    length = F.length(F.col(text_col))
    offsets = F.sequence(
        F.lit(0),
        F.greatest(length - overlap - 1, F.lit(0)),
        F.lit(step),
    )
    return df.select(
        F.col(id_col),
        F.posexplode(offsets).alias("chunk_idx", "__off"),
        F.col(text_col),
    ).select(
        id_col,
        "chunk_idx",
        F.substring(F.col(text_col), F.col("__off") + 1, max_chars).alias(
            "chunk_text"
        ),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    length_col: str,
    max_len: int,
    *,
    num_partitions: int | None = None,
) -> DataFrame:
    """Greedy first-fit-decreasing sequence packing: assign each
    document to a pack (context-window bin) such that each pack's
    total token length stays ≤ ``max_len`` — the padding-minimizing
    step before writing fixed-length training examples.

    Exact global FFD is inherently sequential, so the distributed form
    is partition-local FFD (the standard practice): documents hash
    into ``num_partitions`` groups, each group packs independently in
    an Arrow-batched ``applyInPandas`` pass, and pack ids are made
    globally unique by the group key. Inside a group, FFD runs over
    CHUNKS of ``chunk_size`` docs — plain FFD is O(docs · open-bins),
    quadratic on a group with millions of docs; chunking bounds the
    bin scan so the kernel stays linear, at the cost of the open bins
    left at each chunk boundary (≤ a few per chunk of thousands —
    sub-percent utilization loss, amortized away as chunks grow).

    Documents LONGER than ``max_len`` get a singleton pack and
    ``oversize = true`` — the caller decides whether to split or drop
    them (packing must not silently truncate).

    Output: (id, length, pack_id, oversize) — pack_id is a string
    ``"<group>:<local>"``, deterministic for a fixed corpus, seedless
    (the group assignment is a portable hash of the id).
    """
    if max_len <= 0:
        raise ValueError(f"max_len must be positive, got {max_len}")
    from pyspark.sql import types as T

    length_type = df.schema[length_col].dataType
    if not isinstance(
        length_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise ValueError(
            f"pack_sequences requires an integral {length_col!r} column, "
            f"got {length_type.simpleString()} — token counts are whole "
            "numbers; round explicitly if yours are not"
        )
    id_type = df.schema[id_col].dataType.simpleString()
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    chunk_size = 4096

    out_schema = (
        f"{id_col} {id_type}, {length_col} {length_type.simpleString()}, "
        "pack_id string, oversize boolean"
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf[length_col].isna().any():
            # mirror the integral-type check: a NULL token count has no
            # meaningful bin — without this guard int(NaN) raises a
            # bare ValueError deep in the kernel
            raise ValueError(
                f"pack_sequences: NULL {length_col} values — token "
                "counts must be non-null; filter or impute before packing"
            )
        group = int(pdf["__grp"].iloc[0])
        # first-fit-DECREASING: longest docs first fill bins tightest
        pdf = pdf.sort_values(
            [length_col, id_col], ascending=[False, True]
        ).reset_index(drop=True)
        assign: list[int] = []
        oversize: list[bool] = []
        next_bin = 0
        lengths = [int(x) for x in pdf[length_col]]
        for start in range(0, len(lengths), chunk_size):
            bins: list[tuple[int, int]] = []  # (remaining cap, bin id)
            for ln in lengths[start : start + chunk_size]:
                if ln > max_len:
                    assign.append(next_bin)
                    next_bin += 1
                    oversize.append(True)
                    continue
                for i, (cap, bid) in enumerate(bins):
                    if cap >= ln:
                        bins[i] = (cap - ln, bid)
                        assign.append(bid)
                        break
                else:
                    assign.append(next_bin)
                    bins.append((max_len - ln, next_bin))
                    next_bin += 1
                oversize.append(False)
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                length_col: pdf[length_col],
                "pack_id": [f"{group}:{a}" for a in assign],
                "oversize": oversize,
            }
        )

    grouped = df.select(
        F.col(id_col),
        F.col(length_col),
        F.pmod(portable_hash(F.col(id_col).cast("string")), F.lit(n)).alias(
            "__grp"
        ),
    )
    return grouped.groupBy("__grp").applyInPandas(pack, out_schema)


def concat_split_packing(
    df: DataFrame,
    id_col: str,
    length_col: str,
    seq_len: int,
    *,
    seed: int = 0,
    n_shards: int = 64,
) -> DataFrame:
    """GPT-style concat-and-split packing: lay every document's tokens
    end to end in a seeded reproducible shuffle order and cut the
    stream into fixed ``seq_len`` blocks — the padding-free
    alternative to bin packing (:func:`pack_sequences`) used by most
    LLM pretraining pipelines, where documents may span block
    boundaries. The deliverable per document is its global token
    OFFSET (plus which blocks it lands in); the training-file writer
    slices from there.

    The global offset is a running sum over a total order — inherently
    sequential, so the distributed form is the classic TWO-PHASE
    PREFIX SUM: rows shard by seeded hash (the same
    :func:`shuffled_shards` permutation, so the "random" order is
    reproducible and auditable), each shard cumsums locally in
    parallel (one shard-keyed exchange), and the ``n_shards`` shard
    totals — a parameter-bounded tiny frame, NOT data-proportional —
    get their own exclusive cumsum on a single partition and broadcast
    back as per-shard base offsets. No driver collect, no global sort,
    no single-partition pass over the data; the forced broadcast is
    legal because its cardinality is the ``n_shards`` knob, never the
    corpus.

    Offsets are exact in BIGINT; ``block_first``/``n_blocks`` use
    ``floor(x / seq_len)`` on doubles, exact while total tokens
    < 2^53 (~9e15 — two orders of magnitude above a 100 TB corpus).
    Zero-length documents occupy no tokens: ``n_blocks = 0``, offset
    still marks their position in the stream.

    Output: (id, length, shard, offset, block_first, n_blocks),
    where ``offset`` is the exclusive running sum in the order
    ``(shard, shuffle_key, id)`` — ties on the 32-bit shuffle key
    break on id, so the order (and every engine's rendering of it) is
    total. Rows with a NULL id are DROPPED (a NULL id has no identity
    to place in the stream; filter or repair ids upstream if they can
    be NULL). A NULL ``length_col`` FAILS the job (same guard as a
    negative length): a NULL token count would silently poison every
    later offset in its shard, so it is a contract violation, not a
    skippable row.
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    from pyspark.sql import Window as W
    from pyspark.sql import types as T

    length_type = df.schema[length_col].dataType
    if not isinstance(
        length_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise ValueError(
            f"concat_split_packing requires an integral {length_col!r} "
            f"column, got {length_type.simpleString()} — token counts are "
            "whole numbers; round explicitly if yours are not"
        )
    # The explicit isNotNull mirrors the filter the final inner join
    # infers on its probe side anyway (a NULL id hashes to a NULL
    # shard, which never matches a base row) — stating it up front
    # makes the window branch and the shard-totals branch canonically
    # identical, so the executed plan shares ONE shard exchange
    # (ReusedExchange) instead of scanning the corpus twice.
    s = shuffled_shards(
        df.select(id_col, length_col), id_col, seed=seed, n_shards=n_shards
    ).where(F.col("shard").isNotNull())
    w_local = (
        W.partitionBy("shard")
        .orderBy("shuffle_key", id_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    local = s.withColumn(
        "__local_off",
        F.coalesce(F.sum(length_col).over(w_local), F.lit(0)).cast("long"),
    )
    # Shard totals come from the POST-window frame, not a second pass
    # over the input: the exclusive prefix plus own length peaks at the
    # shard total for non-negative lengths, and because the expression
    # CONSUMES the window column, Catalyst cannot prune the window away
    # — both consumers share one shard-keyed exchange (ReusedExchange
    # in the executed plan; a plain sum(length) gets pushed below the
    # window and the branches split back into two corpus scans).
    # Non-negativity is the contract that makes max == sum; the
    # assert_true guard makes an out-of-contract negative length FAIL
    # the job instead of silently corrupting every later shard's base.
    # NULL lengths map to -1 here so the guard below fires on them
    # too: min() would skip NULLs, letting a NULL length slide through
    # to produce NULL offsets downstream (and an all-NULL shard would
    # fail assert_true(NULL >= 0) with the misleading 'negative'
    # message). -1 is safe as a sentinel because real lengths are
    # guarded to be >= 0.
    totals = local.groupBy("shard").agg(
        F.max(F.col("__local_off") + F.col(length_col)).alias("__tot"),
        F.min(
            F.coalesce(F.col(length_col).cast("long"), F.lit(-1))
        ).alias("__minlen"),
    )
    # n_shards rows: the single-partition exclusive cumsum is bounded
    # by the knob, and the broadcast below is the parameter-bounded
    # (allowed) class of forced broadcast.
    # bounded_window_key: the totals frame is n_shards rows (knob-
    # bounded) — declare the single partition explicitly so the
    # repo-wide plan contract (tests/test_window_contract.py: zero
    # EMPTY partition specs) can tell this apart from an accidental
    # move-everything window.
    w_base = (
        W.partitionBy(bounded_window_key("shard"))
        .orderBy("shard")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    # the assert_true result (NULL on pass) folds into __base so the
    # guard cannot be pruned as unused; it costs nothing on n_shards rows
    guard = F.coalesce(
        F.assert_true(
            F.col("__minlen") >= 0,
            F.lit(
                f"concat_split_packing: negative or NULL {length_col} — "
                "token counts must be non-NULL and >= 0"
            ),
        ).cast("long"),
        F.lit(0),
    )
    bases = totals.withColumn(
        "__base",
        (
            F.coalesce(F.sum("__tot").over(w_base), F.lit(0)) + guard
        ).cast("long"),
    ).select("shard", "__base")
    offset = (F.col("__base") + F.col("__local_off")).alias("offset")
    off = F.col("offset")
    block_first = F.floor(off / F.lit(seq_len)).alias("block_first")
    last_block = F.floor((off + F.col(length_col) - 1) / F.lit(seq_len))
    n_blocks = (
        F.when(F.col(length_col) == 0, F.lit(0))
        .otherwise(last_block - F.col("block_first") + 1)
        .cast("long")
        .alias("n_blocks")
    )
    return (
        local.join(F.broadcast(bases), "shard")
        .select(id_col, length_col, "shard", offset)
        .select(id_col, length_col, "shard", "offset", block_first)
        .select(
            id_col, length_col, "shard", "offset", "block_first", n_blocks
        )
    )


def prepare_training_corpus(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    test_set: DataFrame | None = None,
    quality_min: float = 0.3,
    near_dup_threshold: float = 0.5,
    chunk_chars: int = 2000,
    chunk_overlap: int = 200,
    pack_max_len: int = 512,
    decon_knobs: dict | None = None,
    boilerplate_frac: float | None = None,
    packing: str = "ffd",
    shuffle_seed: int | None = None,
    n_shards: int = 8,
    dsir_target=None,
    dsir_frac: float = 0.2,
    dsir_knobs: dict | None = None,
    embeddings: DataFrame | None = None,
    semantic_knobs: dict | None = None,
) -> DataFrame:
    """The capstone one-call corpus-prep pipeline, composing the
    engine's LLM-data operators in their canonical order:

    -1. (optional, ``dsir_target``) DSIR domain selection
       (:func:`dsir_select`) — the crawl-skimming pass runs FIRST, on
       the raw corpus, exactly where the paper puts it: keep only the
       top ``dsir_frac`` of documents by hashed-bigram importance
       weight against the target domain (``dsir_target`` is the
       boolean Column marking target rows; ``dsir_knobs`` forwards
       ``n_buckets``/``seed``)
    0. (optional, ``boilerplate_frac``) cross-document boilerplate
       line removal — lines in more than that fraction of documents
       drop from every document BEFORE dedup, so shared banners can't
       glue otherwise-distinct documents into near-dup clusters
    1. exact dedup (content-hash, min-id keep)
    2. near-dup dedup (MinHash-LSH → verify → clusters)
    2b. (optional, ``embeddings``) SemDeDup semantic pruning
       (functions/similarity.py::semantic_dedup) — drops documents a
       lexical dedup can't see as duplicates (paraphrases, templated
       rewrites) AFTER MinHash so the quadratic-bounded pair join
       only sees lexically-unique survivors' redundancy.
       ``embeddings`` is a frame whose id column carries THE SAME ids
       as ``id_col`` (default column names ``vec_id``/``embedding``;
       override via ``semantic_knobs`` — which also forwards
       ``n_centroids``/``threshold``/``centroids``/
       ``max_cluster_size``). The keep DECISION runs over the FULL
       embeddings frame (a pure function of the embedding space, and
       the seed-vector quantizer's ids stay present), but the DROP is
       keeper-present: a ``keep = false`` doc leaves the corpus only
       if its component's keeper is still in it — a keeper removed
       upstream (DSIR rejection, lexical dedup) means the pruned doc
       would have no surviving representative, so it stays.
       One-level rule: no keeper re-election among survivors. Docs
       with no embedding row are kept (nothing to judge them
       against).
    3. benchmark decontamination vs ``test_set`` (13-gram overlap by
       default; ``decon_knobs`` forwards ``shingle_k`` /
       ``min_overlap`` / ``test_text_col`` for corpora where the
       published 13-gram convention is miscalibrated)
    4. quality filter (``quality_score >= quality_min``)
    5. PII redaction (emails/phones/SSNs → typed placeholders)
    6. chunking into overlapping context windows
    7. whitespace token counts per chunk
    8. packing into ``pack_max_len`` windows — ``packing="ffd"``
       (default) is first-fit-decreasing bin packing
       (:func:`pack_sequences`: padding-minimized, no chunk spans two
       examples, output carries ``pack_id``/``oversize``);
       ``packing="concat_split"`` is GPT-style concat-and-split
       (:func:`concat_split_packing`: padding-free token stream,
       chunks may span block boundaries, output carries
       ``tok_offset``/``block_first``/``n_blocks``)
    9. (optional, ``shuffle_seed``) seeded reproducible shuffle+shard
       (:func:`shuffled_shards`) of the final chunk rows — adds
       ``shard`` and ``shuffle_key``, so
       ``.repartition(n_shards, "shard")
       .sortWithinPartitions("shuffle_key", ...)`` writes balanced,
       internally-shuffled training files; a new epoch is a seed
       change, not a data move

    Output: one row per chunk — ``(id, chunk_idx, chunk_text,
    n_tokens)`` plus the packing columns above, plus
    ``shard``/``shuffle_key`` when ``shuffle_seed`` is set. Every
    stage is the already-tested operator (this function adds NO new
    semantics — it pins the composition order and the column plumbing
    between stages, which is exactly what an integration test must
    cover).

    Dedup/decontaminate run BEFORE chunking on whole documents (chunk
    boundaries would hide cross-chunk duplication), and redaction runs
    before chunking so a PII span straddling a chunk boundary cannot
    escape half-redacted.
    """
    from hrtech_etl_spark.functions import dedup as dd
    from hrtech_etl_spark.functions import text as tx

    # knobs without their enabling argument are a silent no-op — the
    # stage the caller configured simply never runs (benchmark text
    # stays in the corpus, the semantic prune never fires). Fail
    # loudly instead.
    for kname, kval, enabler, earg in (
        ("dsir_knobs", dsir_knobs, dsir_target, "dsir_target"),
        ("semantic_knobs", semantic_knobs, embeddings, "embeddings"),
        ("decon_knobs", decon_knobs, test_set, "test_set"),
    ):
        if kval and enabler is None:
            raise ValueError(
                f"prepare_training_corpus: {kname} given but {earg} is "
                f"None — the stage those knobs configure would silently "
                "not run"
            )

    if dsir_target is not None:
        sel = dsir_select(
            docs,
            text_col,
            id_col,
            dsir_target,
            select_frac=dsir_frac,
            **(dsir_knobs or {}),
        )
        docs = docs.join(
            sel.where("selected").select(id_col), id_col, "left_semi"
        )
        # exact dedup (and the optional boilerplate pass) reads docs
        # twice — don't re-run dsir_select's rank plan per read (the
        # same two-read pattern the boilerplate branch below pins)
        docs = docs.localCheckpoint(eager=False)
    if boilerplate_frac is not None:
        docs = tx.remove_boilerplate(
            docs, text_col, id_col, max_doc_frac=boilerplate_frac
        )
        # exact dedup reads its input twice (keep set + semi-join) —
        # don't re-run the boilerplate aggregation per read
        docs = docs.localCheckpoint(eager=False)
    cleaned = dd.drop_exact_duplicates(docs, text_col, id_col)
    # Materialization boundary: drop_near_duplicates re-reads its input
    # several times (shingle sides, cluster ids, the final keep
    # semi-join) — N cheap scans for a parquet-backed input, N
    # re-executions of the exact-dedup shuffle without this truncation.
    cleaned = cleaned.localCheckpoint(eager=False)
    cleaned = dd.drop_near_duplicates(
        cleaned,
        text_col,
        id_col,
        threshold=near_dup_threshold,
    )
    if embeddings is not None:
        from hrtech_etl_spark.functions.similarity import semantic_dedup

        # the keeper-present rule reads cleaned TWICE (alive semi-join
        # probe + the final anti-join) and sem twice (keepers, drops) —
        # pin both or the whole LSH+verify+clustering dedup subtree
        # above re-executes per read (the dedup.py:930 measurement)
        cleaned = cleaned.localCheckpoint(eager=False)
        sk = dict(semantic_knobs or {})
        emb_id = sk.pop("id_col", "vec_id")
        sem = semantic_dedup(embeddings, id_col=emb_id, **sk)
        sem = sem.localCheckpoint(eager=False)
        # keeper-present rule: a keep=false doc drops ONLY when its
        # component's keeper is itself still in the corpus — a keeper
        # removed upstream (DSIR rejection, lexical dedup of a
        # paraphrase's twin) means the pruned doc would have NO
        # surviving representative and its content would silently
        # vanish from the training set. One-level rule by design: if
        # the keeper is gone, ALL its component's members survive (no
        # keeper re-election among the remainder — re-running the
        # component's keep rule over survivors is a different, corpus-
        # dependent operator; this stage stays a pure prune).
        alive = (
            sem.where(F.col("keep"))
            .select(F.col(emb_id).alias(id_col), "component")
            .join(cleaned.select(id_col), id_col, "left_semi")
            .select("component")
        )
        drop = (
            sem.where(~F.col("keep"))
            .select(F.col(emb_id).alias(id_col), "component")
            .join(alive, "component", "left_semi")
            .select(id_col)
        )
        cleaned = cleaned.join(drop, id_col, "left_anti")
    if test_set is not None:
        cleaned = dd.remove_contaminated(
            cleaned, test_set, text_col, id_col, **(decon_knobs or {})
        )
    cleaned = cleaned.where(tx.quality_score(F.col(text_col)) >= quality_min)
    cleaned = cleaned.withColumn(text_col, tx.redact_pii(F.col(text_col)))

    chunks = chunk_documents(
        cleaned,
        text_col,
        id_col,
        max_chars=chunk_chars,
        overlap=chunk_overlap,
    ).withColumn("n_tokens", tx.token_count(F.col("chunk_text")))

    if packing not in ("ffd", "concat_split"):
        raise ValueError(
            f"packing must be 'ffd' or 'concat_split', got {packing!r}"
        )
    keyed = chunks.withColumn(
        "__chunk_id",
        F.concat_ws(":", F.col(id_col).cast("string"), F.col("chunk_idx")),
    )
    # keyed feeds BOTH sides of the pack join; without a boundary the
    # whole dedup→chunk lineage above would execute twice.
    keyed = keyed.localCheckpoint(eager=False)
    if packing == "ffd":
        packs = pack_sequences(
            keyed, "__chunk_id", "n_tokens", pack_max_len
        ).select("__chunk_id", "pack_id", "oversize")
        pack_cols = ["pack_id", "oversize"]
    else:
        packs = concat_split_packing(
            keyed,
            "__chunk_id",
            "n_tokens",
            pack_max_len,
            seed=shuffle_seed or 0,
            n_shards=n_shards,
        ).select(
            "__chunk_id",
            F.col("offset").alias("tok_offset"),
            "block_first",
            "n_blocks",
        )
        pack_cols = ["tok_offset", "block_first", "n_blocks"]
    out = keyed.join(packs, "__chunk_id").select(
        id_col, "chunk_idx", "chunk_text", "n_tokens", "__chunk_id", *pack_cols
    )
    if shuffle_seed is not None:
        out = shuffled_shards(
            out, "__chunk_id", seed=shuffle_seed, n_shards=n_shards
        )
    return out.drop("__chunk_id")


def shuffled_shards(
    df: DataFrame,
    id_col: str,
    *,
    seed: int = 0,
    n_shards: int = 8,
) -> DataFrame:
    """Reproducible global shuffle + sharding — the step between a
    prepared corpus and training-ready files: every row gets a
    deterministic pseudo-random position from a seeded portable hash
    of its id, ``shard = hash mod n_shards`` balances shards in
    expectation, and the within-shard order is ``(shuffle_key, id)``
    (total — hash collisions break on id). A new epoch's reshuffle is
    a SEED CHANGE, not a data move, and the same (data, seed) yields
    the identical permutation on any engine (portable md5 hash,
    DuckDB-replicable) — which is what makes training-data ordering
    auditable after the fact.

    Adds ``shard`` and ``shuffle_key`` columns. At scale, write with
    ``.repartition(n_shards, "shard")`` (or
    ``partitionBy("shard")``) and ``sortWithinPartitions("shuffle_key",
    id_col)`` for balanced, internally-shuffled output files; one
    exchange total.
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    h = portable_hash(F.col(id_col).cast("string"), seed=seed)
    return df.withColumn("shuffle_key", h).withColumn(
        "shard", F.pmod(F.col("shuffle_key"), F.lit(n_shards)).cast("int")
    )


def leakage_safe_split(
    labels: DataFrame,
    *,
    id_col: str = "id",
    cluster_col: str = "cluster",
    val_frac: float = 0.2,
    seed: int = 11,
    buckets: int = 100,
) -> DataFrame:
    """Train/validation split that cannot leak near-duplicates: the
    split is decided by a seeded hash of the CLUSTER label (from
    :func:`hrtech_etl_spark.functions.dedup.near_dup_clusters`), not
    of the document id — so a document and all its near-twins land on
    the same side of the boundary by construction (Lee et al. 2021's
    finding: random doc-level splits put near-copies of training data
    into validation and inflate eval). ``val_frac`` is quantized to
    ``buckets`` (hash mod buckets < val_frac·buckets → 'val'); the
    seeded portable hash makes the assignment reproducible across
    engines and epochs, and a different ``seed`` yields a fresh
    split with zero data movement. Purely columnar — no shuffle
    beyond what produced the labels."""
    cut = int(round(val_frac * buckets))
    h = F.pmod(
        portable_hash(F.col(cluster_col).cast("string"), seed=seed),
        F.lit(buckets),
    )
    return labels.select(
        F.col(id_col),
        F.col(cluster_col),
        F.when(h < cut, F.lit("val")).otherwise(F.lit("train")).alias("split"),
    )


def weighted_sample_topk(
    df: DataFrame,
    weight_col: str,
    k: int,
    *,
    id_col: str = "doc_id",
    strata_cols: Sequence[str] = (),
    seed: int = 13,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis–
    Spirakis exponential-key method (A-ES, Inf. Proc. Letters 2006):
    each row draws u ∈ (0, 1] from the seeded portable hash of its id
    and is ranked by the key −ln(u)/w — taking the k smallest keys is
    an exact weighted sample without replacement. This is the
    quality-weighted corpus subsampling primitive (sample training
    docs proportionally to a quality score) — one pass, one window
    per stratum, reproducible across engines and epochs (a new seed
    resamples with zero data movement; same contract as
    :func:`shuffled_shards`).

    The ranking uses the better-conditioned log key
    ``ln(−ln u) − ln w`` (monotone in −ln(u)/w), rounded to 6 decimals
    with the id as tiebreak so the selected SET is deterministic and
    engine-portable (u is never 0 or 1: the 32-bit hash h maps to
    (h+1)/(2^32+1)). Rows with NULL or non-positive weight are
    excluded — a zero-weight row must never be sampled.

    Adds ``sample_rank`` (1..k). Runs as a WindowGroupLimit plan: the
    per-stratum top-k prunes before the final sort."""
    from pyspark.sql import Window as W

    u = (portable_hash(F.col(id_col).cast("string"), seed=seed) + 1) / F.lit(
        4294967297.0
    )
    key = F.round(
        F.log(-F.log(u)) - F.log(F.col(weight_col).cast("double")), 6
    )
    w = W.partitionBy(*[F.col(c) for c in strata_cols]).orderBy(
        key.asc(), F.col(id_col).asc()
    )
    return (
        df.where(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= k)
    )


def temperature_mixture(
    df: DataFrame,
    strata_col: str,
    *,
    total: int,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Temperature-based stratum mixing (the multilingual sampling of
    mT5 / XLM-R: sample stratum *l* with probability proportional to
    ``p_l^alpha``): compute each stratum's share from its corpus
    count, flatten the distribution with the ``alpha`` exponent
    (``alpha=1`` keeps natural proportions, ``alpha→0`` approaches
    uniform — low-resource strata get boosted), convert to integer
    targets ``floor(total * q_l / Z + 0.5)``, and draw exactly those
    counts per stratum via :func:`mixture_sample` (same seeded
    portable-hash rank, nested-sample contract, one shuffle).

    The stratum histogram is a BOUNDED artifact (#strata rows — one
    tiny aggregate collects to the driver and the recipe computes
    there). A stratum never over-draws its population (targets clamp
    to the stratum size; no redistribution — see
    :func:`mixture_sample`). ``alpha=0.5`` uses
    ``sqrt``, which is IEEE-correctly-rounded in every engine, so the
    integer targets — and therefore the sampled row SET — are exactly
    reproducible in a SQL oracle."""
    if total <= 0:
        raise ValueError(f"total must be positive, got {total}")
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    hist = (
        df.where(F.col(strata_col).isNotNull())
        .groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("__c"))
        .collect()
    )
    n = {r[strata_col]: r["__c"] for r in hist}
    if not n:
        raise ValueError("temperature_mixture: no non-null strata")
    targets = {
        s: min(t, n[s])
        for s, t in temperature_targets(n, total=total, alpha=alpha).items()
    }
    return mixture_sample(df, strata_col, targets, id_col=id_col, seed=seed)


def temperature_targets(n: dict, *, total: int, alpha: float = 0.5) -> dict:
    """The pure recipe step of :func:`temperature_mixture`: stratum
    histogram → integer per-stratum targets, before the clamp to the
    stratum size (property-tested on its own in tests/test_corpus.py)."""
    import math

    tot = sum(n.values())
    if alpha == 0.5:
        q = {s: math.sqrt(c / tot) for s, c in n.items()}
    else:
        q = {s: (c / tot) ** alpha for s, c in n.items()}
    z = sum(q[s] for s in sorted(q))
    targets = {
        s: int(math.floor(total * q[s] / z + 0.5)) for s in sorted(n)
    }
    return {s: t for s, t in targets.items() if t > 0}


def span_corruption(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    span_len: int = 3,
    mask_pct: int = 15,
) -> DataFrame:
    """T5/UL2-style span corruption as pure JVM column expressions:
    whitespace tokens partition into BLOCK-ALIGNED spans of
    ``span_len``; each block masks with probability ``mask_pct``%
    decided by the seeded portable hash of ``(doc_id, block_idx)`` —
    deterministic, replayable, and embarrassingly parallel. A masked
    block collapses to one ``<extra_id_B>`` sentinel in the input and
    contributes ``sentinel + its tokens`` to the target.

    Block alignment is the load-bearing design choice: the paper's
    greedy span sampling is sequential per document (each span's
    start depends on where the previous ended), which would force a
    per-doc Python kernel; aligning spans to a fixed grid makes every
    block's fate an independent pure function of (doc_id, block), so
    the whole denoising-objective construction stays inside
    whole-stage codegen with ZERO shuffles and no UDF. Sentinel ids
    are the block index (stable, but not consecutive as in the paper
    — documented divergence).

    Returns (id, n_tokens, n_masked, input_text, target_text); docs
    with no tokens are dropped.
    """
    from hrtech_etl_spark.functions.text import tokens as _tokens

    toks = _tokens(F.col(text_col))
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), toks.alias("toks")
    ).where(F.size("toks") > 0)

    n = F.size(F.col("toks"))
    nblocks = F.ceil(n / F.lit(float(span_len))).cast("int")
    blocks = F.sequence(F.lit(0), nblocks - 1)

    def masked(b):
        return (
            F.pmod(
                portable_hash(
                    F.concat(
                        F.col(id_col).cast("string"),
                        F.lit(":"),
                        b.cast("string"),
                    )
                ),
                F.lit(100),
            )
            < mask_pct
        )

    def block_toks(b):
        return F.slice(F.col("toks"), b * span_len + 1, span_len)

    def sentinel(b):
        return F.concat(F.lit("<extra_id_"), b.cast("string"), F.lit(">"))

    input_arr = F.flatten(
        F.transform(
            blocks,
            lambda b: F.when(masked(b), F.array(sentinel(b))).otherwise(
                block_toks(b)
            ),
        )
    )
    target_arr = F.flatten(
        F.transform(
            F.filter(blocks, masked),
            lambda b: F.concat(F.array(sentinel(b)), block_toks(b)),
        )
    )
    n_masked = F.aggregate(
        blocks,
        F.lit(0),
        lambda acc, b: acc
        + F.when(masked(b), F.size(block_toks(b))).otherwise(F.lit(0)),
    )
    return base.select(
        F.col(id_col),
        n.cast("bigint").alias("n_tokens"),
        n_masked.cast("bigint").alias("n_masked"),
        F.array_join(input_arr, " ").alias("input_text"),
        F.array_join(target_arr, " ").alias("target_text"),
    )


def dsir_select(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    target,
    *,
    n_buckets: int = 1024,
    select_frac: float = 0.2,
    seed: int = 0,
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, arXiv:2302.03169): score every raw document by how much its
    hashed n-gram profile looks like a TARGET domain, then select the
    top ``select_frac`` by importance weight. The standard recipe for
    skimming a web-scale crawl toward a quality / domain corpus
    without training a classifier.

    - **Features**: non-distinct word BIGRAMS hashed into
      ``n_buckets`` buckets (the paper's hashed n-gram features) —
      one corpus explode, occurrence-counted.
    - **Weights**: per bucket, the add-1-smoothed log-likelihood
      ratio ``ln((c_t+1)/(N_t+B)) - ln((c_r+1)/(N_r+B))`` (target vs
      raw), rounded to 6 decimals; a document's log importance weight
      is the sum of its feature occurrences' ratios, accumulated in
      DECIMAL so the sum is order-independent across engines (a
      rounded-then-DECIMAL sum has no float association order).
    - **Selection**: exact top-``ceil(select_frac * N)`` by
      ``(logw DESC, id)`` AMONG SCORED DOCUMENTS via the DISTRIBUTED
      rank plan (operators/ranking.py) — no single-partition window
      at any size. Documents with < 2 tokens have no features and
      rank LAST (their 0.0 weight would otherwise beat the
      negative-on-average weights of real documents — the average
      smoothed LLR under the raw distribution is ≤ 0 — and a crawl's
      empty-page tail would crowd out every scored document).

    Scale shape: one explode + one keyed count per bucket (map-side
    partials), the ≤``n_buckets``-row ratio table broadcasts back, the
    scalar totals ride a 1-row crossJoin — the corpus is never
    shuffled except by the final rank's range exchange.

    ``target`` is a boolean Column marking target-domain rows (e.g.
    ``F.col("lang") == "en"``). Docs with < 2 tokens have no features
    and score 0. Returns ``(id_col, n_feats, logw, sel_rank,
    selected)`` for EVERY document.
    """
    from hrtech_etl_spark.functions.text import word_ngrams
    from hrtech_etl_spark.operators.ranking import with_global_ranks

    # (round-17 A/B: a spread() here to widen the one-file local scan
    # was a wash — the explode+hash is cheap enough that the extra
    # round-robin exchange costs what it saves; left narrow)
    base = docs.select(
        F.col(id_col), target.alias("__t"), F.col(text_col).alias("__txt")
    )
    feats = base.select(
        id_col,
        "__t",
        F.explode(word_ngrams(F.col("__txt"), 2)).alias("__g"),
    ).select(
        id_col,
        "__t",
        F.pmod(portable_hash(F.col("__g"), seed=seed), F.lit(n_buckets)).alias(
            "__b"
        ),
    ).localCheckpoint(eager=False)
    # ^ three consumers (bucket counts, totals via the counts, the
    # per-doc weight join) would each replay the corpus explode+hash
    # otherwise — the "one corpus explode" contract is this pin
    counts = feats.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__cr"),
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("__ct"),
    )
    totals = counts.agg(
        F.sum("__cr").alias("__nr"), F.sum("__ct").alias("__nt")
    )
    lam = counts.crossJoin(F.broadcast(totals)).select(
        "__b",
        F.round(
            F.log((F.col("__ct") + 1) / (F.col("__nt") + n_buckets))
            - F.log((F.col("__cr") + 1) / (F.col("__nr") + n_buckets)),
            6,
        )
        .cast("decimal(28,6)")
        .alias("__lam"),
    )
    per_doc = (
        feats.join(F.broadcast(lam), "__b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("__lam").alias("__lw"),
        )
    )
    scored = (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_feats", F.lit(0)).cast("bigint").alias("n_feats"),
            F.coalesce(F.col("__lw").cast("double"), F.lit(0.0)).alias("logw"),
        )
        # featureless docs sort LAST: +inf rank key (bucketing and
        # ordering both handle it — inf lands in the top bucket)
        .withColumn(
            "__neg",
            F.when(F.col("n_feats") > 0, -F.col("logw")).otherwise(
                F.lit(float("inf"))
            ),
        )
        .localCheckpoint(eager=False)  # the rank plan's boundary scan
        # + bucket window would replay the weight join otherwise
    )
    ranked = with_global_ranks(
        scored, "__neg", (id_col,), row_number="sel_rank"
    ).drop("__neg")
    # exact-DECIMAL threshold: 0.2 is not IEEE-representable, so a
    # double product can land just above an integer (ceil(100.0000..01)
    # = 101) while DECIMAL engines get exactly 100 — multiply in
    # DECIMAL on both sides instead
    n_total = docs.select(
        F.ceil(
            F.count(F.lit(1)).cast("decimal(20,0)")
            * F.lit(select_frac).cast("decimal(10,6)")
        ).alias("__k")
    )
    return ranked.crossJoin(F.broadcast(n_total)).select(
        id_col,
        "n_feats",
        "logw",
        "sel_rank",
        (F.col("sel_rank") <= F.col("__k")).alias("selected"),
    )
