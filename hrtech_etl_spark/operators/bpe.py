"""Distributed BPE tokenizer: train merges on the corpus, encode with
them — the byte-pair-encoding of Sennrich et al. 2016 ("Neural Machine
Translation of Rare Words with Subword Units"), built Spark-first.

Scale shape (the part that matters at 100 TB):

- **Training never iterates over the corpus.** ONE corpus pass builds
  the word-TYPE frequency table (vocabulary-sized — millions of rows,
  not billions); every merge round then runs on that small table:
  adjacent-pair counts (one keyed aggregate with map-side partials),
  a single-ROW bounded collect for the argmax (the trained merge
  list is small enough to collect), and a JVM-side fold that
  applies the merge to each word's symbol array (``F.aggregate``, no
  Python). The word table is re-checkpointed each round so plan depth
  stays O(1) instead of O(rounds).
- **Encoding is one Arrow pass.** Merge ranks broadcast in the UDF
  closure; each document's words encode inside a pandas UDF batch
  (sequential greedy merging is inherently per-word Python — the
  documented slow-path exception), with a per-batch word cache so
  repeated words encode once.
- **Lossless by construction**: merges only concatenate adjacent
  symbols, so ``decode(encode(text))`` reproduces the
  whitespace-normalized text exactly — the registry entry asserts
  this in-plan for every document.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hrtech_etl_spark.functions.text import tokens

#: end-of-word marker appended as a standalone symbol (Sennrich-style);
#: chosen to be absent from whitespace-tokenized words in practice.
END_OF_WORD = "</w>"

# Training collects the word-TYPE table to the driver when it has at
# most this many rows, and otherwise runs the distributed merge rounds.
_MAX_COLLECT = 2_000_000

# The distributed rounds re-checkpoint the word table every this many
# merges, so plan depth stays bounded.
_CHECKPOINT_EVERY = 8


def _merge_fold(syms: Column, a: str, b: str) -> Column:
    """Apply ONE merge rule (a, b) → a+b exhaustively, left-to-right
    and non-overlapping, to a symbol array — a JVM-side fold, no UDF.
    State: (acc, pending); pending==a and next==b → emit merged."""
    merged = a + b
    init = F.struct(
        F.array().cast("array<string>").alias("acc"),
        F.lit(None).cast("string").alias("p"),
    )

    def step(st: Column, s: Column) -> Column:
        hit = (
            st["p"].isNotNull() & (st["p"] == F.lit(a)) & (s == F.lit(b))
        )
        return F.when(
            hit,
            F.struct(
                F.array_append(st["acc"], F.lit(merged)).alias("acc"),
                F.lit(None).cast("string").alias("p"),
            ),
        ).otherwise(
            F.struct(
                F.when(
                    st["p"].isNotNull(), F.array_append(st["acc"], st["p"])
                )
                .otherwise(st["acc"])
                .alias("acc"),
                s.alias("p"),
            )
        )

    def fin(st: Column) -> Column:
        return F.when(
            st["p"].isNotNull(), F.array_append(st["acc"], st["p"])
        ).otherwise(st["acc"])

    return F.aggregate(syms, init, step, fin)


def _adjacent_pairs(syms: Column) -> Column:
    """Array of (a, b) structs for adjacent symbol pairs."""
    n = F.greatest(F.size(syms) - 1, F.lit(0))
    return F.zip_with(
        F.slice(syms, 1, n),
        F.slice(syms, 2, n),
        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
    )


def bpe_word_table(docs: DataFrame, text_col: str) -> DataFrame:
    """The ONE corpus pass: whitespace-lowercase word-type frequency
    table with each word exploded into initial symbols
    (chars + end-of-word marker): ``(word, freq, syms)``."""
    word = F.explode(
        F.filter(tokens(F.col(text_col)), lambda x: x != "")
    ).alias("word")
    wt = docs.select(word).groupBy("word").agg(
        F.count(F.lit(1)).alias("freq")
    )
    # substring with a COLUMN start position needs the SQL expr form
    return wt.withColumn(
        "syms",
        F.concat(
            F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
            F.array(F.lit(END_OF_WORD)),
        ),
    )


def _apply_merge(syms: list[str], a: str, b: str) -> list[str]:
    """Python twin of :func:`_merge_fold`: apply (a, b) → a+b
    exhaustively, left-to-right, non-overlapping."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _train_local(
    word_freqs: list[tuple[str, int]],
    num_merges: int,
    min_count: int,
) -> tuple[list[tuple[str, str]], list[tuple[str, int, list[str]]]]:
    """Driver-side trainer over the collected word-TYPE frequency
    table — byte-for-byte the same merges as the distributed loop
    (same pair counting over the same non-overlapping fold, same
    (count DESC, a ASC, b ASC) argmax), but each round touches only
    the word types containing the merged pair, with a
    lazy-invalidation heap for the argmax."""
    import heapq

    words = [(list(w) + [END_OF_WORD], f) for w, f in word_freqs]
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    for idx, (syms, freq) in enumerate(words):
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] = pair_counts.get(p, 0) + freq
            pair_words.setdefault(p, set()).add(idx)
    heap = [(-n, a, b) for (a, b), n in pair_counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        best = None
        while heap:
            negn, a, b = heap[0]
            if pair_counts.get((a, b), 0) != -negn:
                heapq.heappop(heap)  # stale entry
                continue
            best = (a, b, -negn)
            break
        if best is None or best[2] < min_count:
            break
        a, b, _n = best
        merges.append((a, b))
        changed: set[tuple[str, str]] = set()
        for idx in list(pair_words.get((a, b), ())):
            syms, freq = words[idx]
            old: dict[tuple[str, str], int] = {}
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                old[p] = old.get(p, 0) + 1
            syms = _apply_merge(syms, a, b)
            words[idx] = (syms, freq)
            new: dict[tuple[str, str], int] = {}
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                new[p] = new.get(p, 0) + 1
            for p in old.keys() | new.keys():
                d = new.get(p, 0) - old.get(p, 0)
                if d:
                    pair_counts[p] = pair_counts.get(p, 0) + d * freq
                    changed.add(p)
                    if pair_counts[p] <= 0:
                        del pair_counts[p]
                if p in new:
                    pair_words.setdefault(p, set()).add(idx)
                elif p in old and p in pair_words:
                    pair_words[p].discard(idx)
        for p in changed:
            if p in pair_counts:
                heapq.heappush(heap, (-pair_counts[p], p[0], p[1]))
    vocab = [
        (w, f, syms)
        for (w, f), (syms, _) in zip(word_freqs, words)
    ]
    return merges, vocab


def _collect_word_types(words: DataFrame) -> list[tuple[str, int]] | None:
    """Collect the word-TYPE table when it fits under ``_MAX_COLLECT``
    (the collected-trainer gate); None → stay distributed."""
    head = words.select("word", "freq").limit(_MAX_COLLECT + 1).collect()
    if len(head) > _MAX_COLLECT:
        return None
    return [(r["word"], r["freq"]) for r in head]


def _train_distributed(
    words: DataFrame,
    num_merges: int,
    min_count: int,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """The distributed merge-round loop; returns the merges and the
    word table carrying each type's final segmentation."""
    words = words.localCheckpoint()  # cut the corpus lineage once
    merges: list[tuple[str, str]] = []
    for r in range(num_merges):
        best = (
            words.select(
                "freq", F.explode(_adjacent_pairs(F.col("syms"))).alias("pr")
            )
            .groupBy(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not best or best[0]["n"] < min_count:
            break
        a, b = best[0]["a"], best[0]["b"]
        merges.append((a, b))
        words = words.withColumn("syms", _merge_fold(F.col("syms"), a, b))
        if (r + 1) % _CHECKPOINT_EVERY == 0:
            words = words.localCheckpoint()
    return merges, words


def bpe_train_with_vocab(
    docs: DataFrame,
    text_col: str,
    *,
    num_merges: int = 50,
    min_count: int = 2,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn up to ``num_merges`` BPE merge rules from the corpus, and
    the trained vocabulary.

    Deterministic: the argmax tie-break is (count DESC, a ASC, b ASC).
    Stops early when no adjacent pair reaches ``min_count``. Returns
    the ordered merge list — a bounded driver-side artifact (the
    tokenizer model) — and ``(word, freq, syms)`` with each word
    type's FINAL segmentation after all merges. Training already
    computes the vocabulary as a byproduct (the word table IS the
    training state), so callers encoding the same corpus can segment
    by a vocabulary JOIN instead of re-running per-word merge loops in
    Python — the scale path :func:`bpe_encode_with_vocab` uses.

    Two physical strategies, same merges either way, picked by the
    word-type count:

    - **collected** (at most ``_MAX_COLLECT`` word types): ONE corpus
      pass aggregates the word-TYPE table; the (word, freq) pairs —
      vocabulary-sized, NOT corpus-sized — collect to the driver and
      train there with incremental pair-count updates (only word
      types containing the merged pair are touched per round) and a
      lazy-invalidation heap. This is how production tokenizer
      trainers run: the distributed engine does the corpus-scale
      count, the bounded model fits on one node. 30 merge rounds cost
      milliseconds instead of 30 Spark jobs.
    - **distributed** (more word types): every round is one keyed
      aggregate with map-side partials over the word table + a 1-ROW
      argmax collect, and the merge applies as a JVM-side fold.
      Unbounded vocabulary, O(rounds) jobs.

    ``tests/test_bpe.py`` asserts both strategies produce identical
    merge lists on the same corpus.
    """
    spark = docs.sparkSession
    words = bpe_word_table(docs, text_col)
    head = _collect_word_types(words)
    if head is not None:
        merges, vocab_rows = _train_local(head, num_merges, min_count)
        vocab = spark.createDataFrame(
            vocab_rows, "word string, freq long, syms array<string>"
        )
        return merges, vocab
    merges, words = _train_distributed(words, num_merges, min_count)
    return merges, words.select("word", "freq", "syms")


def _encode_word(word: str, ranks: dict) -> list[str]:
    """Greedy BPE encode of one word: repeatedly apply the
    lowest-ranked applicable merge, exhaustively left-to-right — the
    same application order training used."""
    syms = list(word) + [END_OF_WORD]
    while len(syms) > 1:
        best_rank, best_pair = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (syms[i], syms[i + 1])
        if best_pair is None:
            break
        a, b = best_pair
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_encode(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Encode documents with a trained merge list → ``(id, tokens,
    n_tokens, n_words)``. One Arrow pass; merge ranks ride the UDF
    closure (bounded — the tokenizer model); a per-batch cache
    encodes each distinct word once."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    out_schema = T.StructType(
        [
            T.StructField(id_col, docs.schema[id_col].dataType),
            T.StructField("tokens", T.ArrayType(T.StringType())),
            T.StructField("n_tokens", T.LongType()),
            T.StructField("n_words", T.LongType()),
        ]
    )

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}

        def enc(text) -> tuple[list[str], int, int]:
            words = (text or "").lower().split()
            toks: list[str] = []
            for w in words:
                t = cache.get(w)
                if t is None:
                    t = _encode_word(w, ranks)
                    cache[w] = t
                toks.extend(t)
            return toks, len(toks), len(words)

        for pdf in batches:
            enc_all = [enc(t) for t in pdf[text_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "tokens": [e[0] for e in enc_all],
                    "n_tokens": [e[1] for e in enc_all],
                    "n_words": [e[2] for e in enc_all],
                }
            )

    return docs.select(id_col, text_col).mapInPandas(run, schema=out_schema)


def bpe_encode_with_vocab(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    vocab: DataFrame,
    *,
    with_tokens: bool = True,
) -> DataFrame:
    """Encode by VOCABULARY JOIN — the scale path when the encode
    corpus is (a superset of nothing but) the training corpus:
    :func:`bpe_train_with_vocab` already holds every word type's final
    segmentation, so encoding is posexplode(words) ⋈ vocab + a grouped
    reassembly — all JVM-side, no per-word Python merge loops (the
    greedy :func:`bpe_encode` kernel stays the general path for
    out-of-vocabulary corpora). Words ABSENT from the vocabulary
    segment as raw chars + end-of-word (zero merges applied) — callers
    needing greedy-merged OOV handling must use :func:`bpe_encode`.

    Same output schema as :func:`bpe_encode`; ``with_tokens=False``
    skips materializing the token arrays (the per-doc collect_list)
    when only the counts are consumed."""
    word_rows = docs.select(
        F.col(id_col),
        F.posexplode_outer(
            F.filter(tokens(F.col(text_col)), lambda x: x != "")
        ).alias("__wp", "__w"),
    )
    v = vocab.select(F.col("word").alias("__w"), F.col("syms").alias("__syms"))
    fallback = F.concat(
        F.expr("transform(sequence(1, length(__w)), i -> substring(__w, i, 1))"),
        F.array(F.lit(END_OF_WORD)),
    )
    j = word_rows.join(v, "__w", "left").select(
        id_col,
        "__wp",
        F.coalesce(
            F.col("__syms"), F.when(F.col("__w").isNotNull(), fallback)
        ).alias("__syms"),
    )
    aggs = [
        F.sum(
            F.when(F.col("__syms").isNotNull(), F.size("__syms")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("n_tokens"),
        F.count("__wp").alias("n_words"),
    ]
    if with_tokens:
        aggs.insert(
            0,
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__wp").isNotNull(),
                                F.struct("__wp", "__syms"),
                            )
                        )
                    ),
                    lambda x: x["__syms"],
                )
            ).alias("tokens"),
        )
    out = j.groupBy(id_col).agg(*aggs)
    cols = [id_col, "tokens", "n_tokens", "n_words"] if with_tokens else [
        id_col, "n_tokens", "n_words"
    ]
    return out.select(*cols)


def bpe_decode_column(tokens_col: Column) -> Column:
    """Reconstruct whitespace-normalized text from BPE tokens (JVM
    expression): concatenate and turn end-of-word markers back into
    single spaces."""
    return F.trim(
        F.replace(
            F.array_join(tokens_col, ""), F.lit(END_OF_WORD), F.lit(" ")
        )
    )
