"""Text-analysis operators: TF-IDF (hand-computed oracle), repetition
quality signals, PII redaction, and n-gram decontamination."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hrtech_etl_spark.functions import text as tx


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "en", "apple banana apple"),
        (2, "en", "banana cherry"),
        (3, "fr", "cherry cherry cherry"),
        (4, "fr", "durian"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "lang", "text"])


def test_tf_idf_hand_computed(spark, corpus):
    """N=4 docs. df(apple)=1, df(banana)=2, df(cherry)=2, df(durian)=1.
    tf_idf(doc1, apple) = 2 * ln(4/1); tf_idf(doc3, cherry) = 3 * ln(4/2)."""
    got = {
        (r["doc_id"], r["term"]): (r["tf"], r["tf_idf"])
        for r in tx.tf_idf(corpus, "text", "doc_id").collect()
    }
    ln = math.log
    want = {
        (1, "apple"): (2, round(2 * ln(4 / 1), 4)),
        (1, "banana"): (1, round(1 * ln(4 / 2), 4)),
        (2, "banana"): (1, round(1 * ln(4 / 2), 4)),
        (2, "cherry"): (1, round(1 * ln(4 / 2), 4)),
        (3, "cherry"): (3, round(3 * ln(4 / 2), 4)),
        (4, "durian"): (1, round(1 * ln(4 / 1), 4)),
    }
    assert got == want


def test_tf_idf_carry_cols_and_join_modes(spark, corpus):
    """carry_cols flow through without changing the scores."""
    a = tx.tf_idf(corpus, "text", "doc_id", carry_cols=("lang",))
    assert set(a.columns) == {"doc_id", "lang", "term", "tf", "tf_idf"}
    rows = {(r["doc_id"], r["term"]): r["lang"] for r in a.collect()}
    assert rows[(1, "apple")] == "en" and rows[(3, "cherry")] == "fr"
    b = tx.tf_idf(corpus, "text", "doc_id")
    av = {(r["doc_id"], r["term"]): r["tf_idf"] for r in a.collect()}
    bv = {(r["doc_id"], r["term"]): r["tf_idf"] for r in b.collect()}
    assert av == bv


def test_tf_idf_property_random_corpora(spark):
    """Randomized cross-check against an independent pure-Python
    TF-IDF on small random corpora (seeded, 8 trials): every (doc,
    term) row must match tf and round(tf * ln(N/df), 4) exactly, and
    no rows may appear beyond the expected set."""
    import math
    import random
    import re

    ascii_ws = re.compile(r"[ \t\n\x0b\f\r]+")
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    rng = random.Random(123)
    for trial in range(8):
        n_docs = rng.randint(1, 12)
        rows = [
            (i, " ".join(rng.choices(vocab, k=rng.randint(1, 15))))
            for i in range(n_docs)
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {
            (r["doc_id"], r["term"]): (r["tf"], r["tf_idf"])
            for r in tx.tf_idf(df, "text", "doc_id").collect()
        }
        # independent reference computation
        tfs: dict = {}
        dfreq: dict = {}
        for i, text in rows:
            toks = ascii_ws.split(text.lower().strip(" "))
            for t in set(toks):
                dfreq[t] = dfreq.get(t, 0) + 1
            for t in toks:
                tfs[(i, t)] = tfs.get((i, t), 0) + 1
        want = {
            (i, t): (c, round(c * math.log(n_docs / dfreq[t]), 4))
            for (i, t), c in tfs.items()
        }
        assert got == want, f"trial {trial} mismatch"


def test_duplicate_line_fraction(spark):
    rows = [
        (1, "a\nb\nc\nd"),          # all distinct -> 0
        (2, "spam\nspam\nspam\nspam"),  # 3 of 4 repeat -> 0.75
        (3, "x\ny\nx\nz"),          # 1 of 4 repeats -> 0.25
        (4, ""),                     # single empty line -> 0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["f"]
        for r in df.select(
            "doc_id", tx.duplicate_line_fraction(F.col("text")).alias("f")
        ).collect()
    }
    assert got == {1: 0.0, 2: 0.75, 3: 0.25, 4: 0.0}


def test_repetition_signals(spark):
    rows = [
        # "buy now" appears 3x among 5 bigrams; covers 3*7=21 chars of 34
        (1, "buy now buy now buy now extra pad"),
        (2, "every word here is completely different"),
        (3, "short"),  # < 2 tokens -> no grams -> 0.0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["dup_line_frac"], r["top_ngram_char_frac"])
        for r in tx.repetition_signals(df, "text", "doc_id").collect()
    }
    assert got[1][1] == round(3 * len("buy now") / len(rows[0][1]), 4)
    assert got[2][1] < got[1][1]
    assert got[3] == (0.0, 0.0)
    # rows are preserved 1:1 (gram-less docs stay, scoring 0.0)
    assert set(got) == {1, 2, 3}


def test_repetition_signals_single_scan(spark, tmp_path):
    """The operator must read the corpus ONCE: both signals are
    per-row expressions over the same scan — no second scan + join."""
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"text number {i} repeated text") for i in range(50)],
        ["doc_id", "text"],
    ).write.parquet(p)
    out = tx.repetition_signals(spark.read.parquet(p), "text", "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1


def test_redact_pii_and_counts(spark):
    text = (
        "mail a.user+tag@example.co.uk or call +1 (415) 555-0123; "
        "ssn 123-45-6789 at host 192.168.1.250 end"
    )
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    out = df.select(
        tx.redact_pii(F.col("text")).alias("red"),
        tx.pii_counts(F.col("text")).alias("c"),
    ).collect()[0]
    red = out["red"]
    assert "[EMAIL]" in red and "a.user" not in red
    assert "[SSN]" in red and "123-45-6789" not in red
    assert "[IP]" in red and "192.168.1.250" not in red
    assert "[PHONE]" in red and "555-0123" not in red
    assert out["c"].asDict() == {"ssn": 1, "email": 1, "ipv4": 1, "phone": 1}
    # pattern ORDER: an email with a dotted-quad-looking domain must
    # redact as one email — IP-first would leave "x@" + "[IP]" shrapnel
    tricky = spark.createDataFrame(
        [(9, "mail x@1.2.3.4.example.com ok")], ["doc_id", "text"]
    )
    red9 = tricky.select(tx.redact_pii(F.col("text")).alias("r")).collect()[0]["r"]
    assert red9 == "mail [EMAIL] ok"
    # clean text passes through untouched, zero counts
    clean = spark.createDataFrame([(2, "no pii in this text at all")], ["doc_id", "text"])
    row = clean.select(
        tx.redact_pii(F.col("text")).alias("red"),
        tx.pii_counts(F.col("text")).alias("c"),
    ).collect()[0]
    assert row["red"] == "no pii in this text at all"
    assert row["c"].asDict() == {"ssn": 0, "email": 0, "ipv4": 0, "phone": 0}


def test_remove_contaminated(spark):
    from hrtech_etl_spark.functions.dedup import remove_contaminated

    bench_q = "what is the capital of france and when was it founded exactly"
    train_rows = [
        (1, "clean document about cooking pasta with tomatoes and basil leaves today"),
        (2, f"leaked copy: {bench_q} plus commentary"),
        (3, "another clean doc covering gardening tips for small urban balconies"),
        (4, "tiny"),  # shorter than k tokens -> always kept
    ]
    test_rows = [(100, bench_q)]
    train = spark.createDataFrame(train_rows, ["doc_id", "text"])
    test = spark.createDataFrame(test_rows, ["qid", "text"])

    kept = remove_contaminated(train, test, "text", "doc_id", shingle_k=5)
    assert {r["doc_id"] for r in kept.collect()} == {1, 3, 4}
    assert kept.columns == train.columns

    # a high min_overlap spares docs with only incidental overlap
    kept_loose = remove_contaminated(
        train, test, "text", "doc_id", shingle_k=5, min_overlap=10
    )
    assert {r["doc_id"] for r in kept_loose.collect()} == {1, 2, 3, 4}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_overlap"):
        remove_contaminated(train, test, "text", "doc_id", min_overlap=0)

    # the test corpus may name its text column differently
    test_renamed = test.withColumnRenamed("text", "question")
    kept2 = remove_contaminated(
        train, test_renamed, "text", "doc_id", shingle_k=5, test_text_col="question"
    )
    assert {r["doc_id"] for r in kept2.collect()} == {1, 3, 4}


def test_repetition_signals_zero_shuffle(spark):
    """The operator's scale contract: a pure per-row expression — the
    executed plan must contain NO exchange (a reintroduced explode +
    groupBy formulation would add two)."""
    df = spark.createDataFrame(
        [(i, f"some text body {i} some text body") for i in range(64)],
        ["doc_id", "text"],
    )
    out = tx.repetition_signals(df, "text", "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
