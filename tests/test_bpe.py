"""BPE tokenizer (operators/bpe.py): hand-computed Sennrich example,
merge-fold semantics, encode/decode round-trip properties."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hrtech_etl_spark.operators import bpe

SENNRICH = (
    "low low low low low lower lower "
    "newest newest newest newest newest newest "
    "widest widest widest"
)


def test_sennrich_merge_sequence(spark):
    """The canonical example from Sennrich et al. 2016: es, est,
    est</w>, lo, low are the first five merges."""
    docs = spark.createDataFrame([(1, SENNRICH)], "doc_id long, text string")
    merges = bpe.bpe_train_with_vocab(docs, "text", num_merges=5)[0]
    assert merges == [
        ("e", "s"),
        ("es", "t"),
        ("est", "</w>"),
        ("l", "o"),
        ("lo", "w"),
    ]


def test_encode_matches_training_segmentation(spark):
    docs = spark.createDataFrame([(1, SENNRICH)], "doc_id long, text string")
    merges = bpe.bpe_train_with_vocab(docs, "text", num_merges=10)[0]
    ranks = {p: i for i, p in enumerate(merges)}
    # 'lowest' was never a training word, but its pieces were
    assert bpe._encode_word("lowest", ranks) == ["low", "est</w>"]
    assert bpe._encode_word("low", ranks) == ["low</w>"]
    # unseen characters stay as singleton symbols
    assert bpe._encode_word("xyz", ranks) == ["x", "y", "z", "</w>"]


def test_merge_fold_nonoverlapping(spark):
    """One rule applied exhaustively left-to-right: aaaa + (a,a) →
    aa aa; aaa → aa a."""
    df = spark.createDataFrame(
        [(["a", "a", "a", "a"],), (["a", "a", "a"],), (["b"],), ([],)],
        "syms array<string>",
    )
    got = [
        r["m"]
        for r in df.select(
            bpe._merge_fold(F.col("syms"), "a", "a").alias("m")
        ).collect()
    ]
    assert got == [["aa", "aa"], ["aa", "a"], ["b"], []]


def test_train_deterministic_tiebreak(spark):
    """All pair counts equal → lexicographically smallest pair wins."""
    docs = spark.createDataFrame([(1, "ab cd")], "doc_id long, text string")
    merges = bpe.bpe_train_with_vocab(docs, "text", num_merges=1, min_count=1)[0]
    assert merges == [("a", "b")]


def test_encode_empty_and_null(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, None), (3, "  "), (4, "ok")],
        "doc_id long, text string",
    )
    enc = {
        r["doc_id"]: (r["tokens"], r["n_tokens"], r["n_words"])
        for r in bpe.bpe_encode(docs, "text", "doc_id", []).collect()
    }
    assert enc[1] == ([], 0, 0)
    assert enc[2] == ([], 0, 0)
    assert enc[3] == ([], 0, 0)
    assert enc[4] == (["o", "k", "</w>"], 3, 1)


_word = st.text(alphabet="abcde", min_size=1, max_size=6)
_text = st.lists(_word, min_size=0, max_size=12).map(" ".join)


@settings(max_examples=15, deadline=None)
@given(texts=st.lists(_text, min_size=1, max_size=5), n_merges=st.integers(0, 12))
def test_roundtrip_property(spark, texts, n_merges):
    """decode(encode(x)) == whitespace-normalized x for ANY corpus and
    ANY number of trained merges — merges only concatenate."""
    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    merges = bpe.bpe_train_with_vocab(
        df, "text", num_merges=n_merges, min_count=1
    )[0]
    enc = bpe.bpe_encode(df, "text", "doc_id", merges)
    got = {
        r["doc_id"]: r["rt"]
        for r in enc.select(
            "doc_id", bpe.bpe_decode_column(F.col("tokens")).alias("rt")
        ).collect()
    }
    for did, text in docs:
        assert got[did] == " ".join(text.split())


def test_local_and_distributed_training_identical(spark, monkeypatch):
    """The collected (driver-side) trainer and the distributed loop
    must learn the IDENTICAL merge list — same pair counting over the
    same non-overlapping fold, same (count DESC, a ASC, b ASC)
    argmax. A collect bound of 0 forces the distributed loop."""
    texts = [
        (1, SENNRICH),
        (2, "the quick brown fox jumps over the lazy dog the the"),
        (3, "aaaa aaa aa a abab ababab"),
        (4, "mississippi mississippi banana bananas"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    local, local_vocab = bpe.bpe_train_with_vocab(
        docs, "text", num_merges=25, min_count=2
    )
    monkeypatch.setattr(bpe, "_MAX_COLLECT", 0)
    dist, dist_vocab = bpe.bpe_train_with_vocab(
        docs, "text", num_merges=25, min_count=2
    )
    assert local == dist
    assert len(local) >= 10
    assert sorted(local_vocab.collect()) == sorted(dist_vocab.collect())


def test_encode_with_vocab_matches_greedy_kernel(spark):
    """The vocabulary-join encode (scale path) must reproduce the
    greedy Arrow kernel exactly — token arrays AND counts — when the
    encode corpus is the training corpus (adversarial texts: repeated
    symbols, chains, Sennrich)."""
    texts = [
        (1, SENNRICH),
        (2, "the quick brown fox jumps over the lazy dog the the"),
        (3, "aaaa aaa aa a abab ababab"),
        (4, "mississippi mississippi banana bananas"),
        (5, "   "),
        (6, None),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    merges, vocab = bpe.bpe_train_with_vocab(
        docs, "text", num_merges=25, min_count=2
    )
    greedy = {
        r["doc_id"]: (list(r["tokens"]), r["n_tokens"], r["n_words"])
        for r in bpe.bpe_encode(docs, "text", "doc_id", merges).collect()
    }
    byvocab = {
        r["doc_id"]: (list(r["tokens"]), r["n_tokens"], r["n_words"])
        for r in bpe.bpe_encode_with_vocab(
            docs, "text", "doc_id", vocab
        ).collect()
    }
    assert byvocab == greedy
    assert byvocab[5] == ([], 0, 0) and byvocab[6] == ([], 0, 0)


def test_encode_with_vocab_oov_fallback(spark):
    """Words absent from the vocabulary segment as chars + </w> (the
    documented no-merge fallback)."""
    train = spark.createDataFrame([(1, "aa aa aa")], "doc_id long, text string")
    _, vocab = bpe.bpe_train_with_vocab(train, "text", num_merges=5, min_count=2)
    other = spark.createDataFrame([(9, "aa xyz")], "doc_id long, text string")
    row = bpe.bpe_encode_with_vocab(other, "text", "doc_id", vocab).collect()[0]
    assert list(row["tokens"]) == ["aa</w>", "x", "y", "z", "</w>"]
    assert (row["n_tokens"], row["n_words"]) == (5, 2)


def test_oracle_sql_training_matches_bpe_train(spark):
    """The corpus_bpe_tokenize oracle REPLAYS training in DuckDB
    (30 unrolled merge rounds) — pin that the SQL-learned merge list
    is byte-identical to bpe_train_with_vocab's on the real sf0.001
    corpus, so the gate can never silently drift into comparing two
    different tokenizers. (The gate itself only compares the final
    per-language aggregates; this checks the trained artifact round by
    round.)"""
    import duckdb

    from hrtech_etl_spark.workload.extensions import _bpe_oracle_sql

    sf = "/root/testdata/sf0.001"
    final = " UNION ALL ".join(
        f"SELECT {n} AS r, a, b FROM m{n}" for n in range(1, 31)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    rows = con.execute(_bpe_oracle_sql(final_select=final)).fetchall()
    sql_merges = [(a, b) for _, a, b in sorted(rows)]

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    spark_merges = bpe.bpe_train_with_vocab(docs, "text", num_merges=30)[0]
    assert sql_merges == [tuple(m) for m in spark_merges]
    assert len(sql_merges) == 30
