"""Text-analysis functions for large-scale training-data pipelines.

All pure Column expressions (JVM-side, whole-stage codegen) — no
Python UDFs in any hot path. Each has an exact SQL rendering so the
DuckDB oracle can verify values, not just shapes.

Operators: tokenization + token counting, language-ID (stopword
n-gram heuristic), quality scoring (length/punctuation/stopword
ratios), document fingerprinting (see
:mod:`hrtech_etl_spark.functions.hashing`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tokens(col: Column) -> Column:
    """Whitespace tokenization of lowercased text."""
    return F.split(F.trim(F.lower(col)), r"\s+")


def word_ngrams(col: Column, n: int) -> Column:
    """NON-distinct word ``n``-gram array of lowercased text — THE one
    n-gram construction (repetition signals, corpus n-gram counts, and
    — distinct'd — the dedup shingles all build on it, so the
    zip_with-over-shifted-slices shape and its edge cases live in one
    place).

    Built with zip_with over shifted slices — NOT element_at inside a
    transform lambda, which re-tokenizes the document per index and
    turns the construction O(tokens²). Docs shorter than ``n`` tokens
    yield an empty array. For ``n == 1`` the empty token that
    ``split(trim(''))`` produces on empty/whitespace-only text is
    dropped — a bogus "" unigram would otherwise count once per empty
    document. (:func:`hrtech_etl_spark.functions.dedup.word_shingles`
    keeps its historical k=1 behavior for oracle parity.)
    """
    t = tokens(col)
    if n == 1:
        return F.filter(t, lambda x: x != "")
    gram = t
    for j in range(1, n):
        size_expr = F.greatest(F.size(t) - j, F.lit(0))
        gram = F.zip_with(
            F.slice(gram, 1, size_expr),
            F.slice(t, j + 1, size_expr),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(F.size(t) >= n, gram).otherwise(
        F.array().cast("array<string>")
    )


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def occurrences(col: Column, needle: str) -> Column:
    """Count of non-overlapping occurrences of ``needle`` — the
    portable length-difference idiom (identical semantics in DuckDB:
    ``(length(s) - length(replace(s, n, ''))) / length(n)``)."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


# Stopword marker sets for the language-ID heuristic. Space-padded so
# they only match whole words mid-text.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "fr": [" le ", " la ", " et "],
    "de": [" der ", " und ", " die "],
    "es": [" el ", " los ", " y "],
}


def lang_score(col: Column, lang: str) -> Column:
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    score = F.lit(0).cast("long")
    for marker in LANG_MARKERS[lang]:
        score = score + occurrences(padded, marker)
    return score


def lang_id(col: Column) -> Column:
    """Argmax language over marker-occurrence scores; 'unknown' when
    every score is zero. Deterministic tie-break: language order in
    LANG_MARKERS (first wins via strictly-greater comparison)."""
    scores = {lang: lang_score(col, lang) for lang in LANG_MARKERS}
    best_lang = F.lit("unknown")
    best_score = F.lit(0).cast("long")
    for lang, score in scores.items():
        is_better = score > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, score).otherwise(best_score)
    return best_lang


PUNCT_CLASS = r"[.,;:!?]"


def punct_ratio(col: Column) -> Column:
    """Punctuation chars / total chars (0 for empty strings)."""
    removed = F.length(F.regexp_replace(col, PUNCT_CLASS, ""))
    return F.when(F.length(col) > 0, (F.length(col) - removed) / F.length(col)).otherwise(F.lit(0.0))


def stopword_ratio(col: Column) -> Column:
    """English stopword tokens / total tokens."""
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    stop = F.lit(0).cast("long")
    for marker in (" the ", " and ", " of ", " a ", " to ", " in "):
        stop = stop + occurrences(padded, marker)
    n = token_count(col)
    return F.when(n > 0, stop / n).otherwise(F.lit(0.0))


def avg_token_length(col: Column) -> Column:
    """Mean token length = non-space chars / token count."""
    squeezed = F.trim(F.regexp_replace(col, r"\s+", " "))
    n = F.size(F.split(squeezed, " "))
    chars = F.length(F.replace(squeezed, F.lit(" "), F.lit("")))
    return F.when(n > 0, chars / n).otherwise(F.lit(0.0))


def duplicate_line_fraction(col: Column) -> Column:
    """Fraction of a document's lines that repeat an earlier line —
    the first of the classic repetition-quality signals from the
    public Gopher corpus-filtering recipe (Rae et al. 2021, §A1.1):
    templated/spammy pages repeat themselves. Pure expression:
    ``1 - distinct_lines / lines`` (0.0 for empty text)."""
    lines = F.split(col, r"\n")
    n = F.size(lines)
    return F.when(
        n > 0, F.round((n - F.size(F.array_distinct(lines))) / n, 4)
    ).otherwise(F.lit(0.0))


def repetition_signals(
    df,
    text_col: str,
    id_col: str,
    *,
    ngram: int = 2,
) -> "DataFrame":
    """Per-document repetition-quality signals (the Gopher-style
    repetition filters, computed distributed):

    - ``dup_line_frac``: :func:`duplicate_line_fraction` (expression).
    - ``top_ngram_char_frac``: characters covered by the most frequent
      word ``ngram``-gram over total characters —
      ``max(count · len(gram)) / n_chars`` (the max over the
      count-times-length products is deterministic under ties, unlike
      "pick the most frequent gram"; it upper-bounds every tie choice).

    Plan: ONE corpus scan, ZERO shuffles — the whole computation is a
    per-row expression (embarrassingly parallel at any corpus size).
    Per-gram counts need no exchange: sorting the doc's own gram array
    groups equal grams into runs, so one left fold over the sorted
    array tracks (previous gram, run length, best run·len) and emits
    ``max(count · len(gram))`` directly. An earlier explode+groupBy
    formulation computed the identical result through two doc-keyed
    exchanges and benched 20× slower at sf0.1 (4.7 s → 0.23 s) — the
    exchanges carried every gram occurrence as a shuffle row; the fold
    touches them in place. Gram-less docs (shorter than ``ngram``
    tokens) and NULL texts stay in the output scoring 0.0, exactly as
    before — the declared ``text_repetition_signals`` oracle
    value-locks both formulations.

    Filter usage: drop docs with ``dup_line_frac > 0.3`` or
    ``top_ngram_char_frac > 0.2`` (the published thresholds for 2-grams).
    """
    from pyspark.sql import functions as F  # noqa: F811 — local alias

    grams = F.array_sort(word_ngrams(F.col(text_col), ngram))
    acc0 = F.struct(
        F.lit(None).cast("string").alias("p"),   # previous gram
        F.lit(0).cast("long").alias("r"),        # current run length
        F.lit(0).cast("long").alias("b"),        # best run·len so far
    )

    def _step(acc, g):
        r = F.when(
            acc.getField("p").eqNullSafe(g), acc.getField("r") + 1
        ).otherwise(F.lit(1).cast("long"))
        b = F.greatest(acc.getField("b"), r * F.length(g))
        return F.struct(g.alias("p"), r.alias("r"), b.alias("b"))

    top = F.aggregate(grams, acc0, _step, lambda a: a.getField("b"))
    chars = F.length(text_col)
    return df.select(
        F.col(id_col),
        duplicate_line_fraction(F.col(text_col)).alias("dup_line_frac"),
        F.when(
            chars > 0, F.round(F.coalesce(top, F.lit(0)) / chars, 4)
        )
        .otherwise(F.lit(0.0))
        .alias("top_ngram_char_frac"),
    )


def ngram_counts(
    df,
    text_col: str,
    *,
    n: int = 2,
    min_count: int = 2,
) -> DataFrame:
    """Corpus-wide word n-gram counts above ``min_count`` — the
    count-based LM / boilerplate-analysis primitive (which phrases
    dominate the corpus; which n-grams to treat as stop shingles).

    One explode of NON-distinct n-grams (:func:`word_ngrams`) → one
    map-side-combined shuffle on the gram → count filter. The
    ``HAVING count >= k`` filter runs after the final aggregation (it
    cannot be pushed — a gram's total is unknown until merged), but
    the partial aggregation bounds what shuffles to ~one row per gram
    per map partition. Output: (gram, count), descending by count is
    the caller's sort.
    """
    return (
        df.select(F.explode(word_ngrams(F.col(text_col), n)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("count"))
        .where(F.col("count") >= min_count)
    )


#: PII patterns (Java regex, applied in this order — SSN before phone
#: so the phone pattern cannot eat an SSN; email before IP so an
#: address with a dotted-quad-looking domain (x@1.2.3.4.example.com)
#: redacts as ONE email instead of the IP pattern punching a hole in
#: the middle and leaving the "x@" local part behind).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "[IP]"),
    ("phone", r"(?<![\d-])\+?\d[\d().\- ]{7,14}\d(?![\d-])", "[PHONE]"),
]


def redact_pii(col: Column) -> Column:
    """Scrub common PII spans (SSN / email / IPv4 / phone) to typed
    placeholders — the standard pre-training privacy pass, as chained
    JVM-side ``regexp_replace`` (no UDF). Pattern order is load-bearing
    (see :data:`PII_PATTERNS`). Regex redaction is a baseline, not a
    guarantee: formats outside these shapes (spelled-out numbers,
    obfuscated emails) need an NER-model kernel."""
    out = col
    for _, pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def pii_counts(col: Column) -> Column:
    """Struct of per-type PII match counts (for corpus audits before
    committing to redaction): counts each pattern on the text as seen
    by that pattern's turn in the redaction chain, so the numbers equal
    what :func:`redact_pii` replaces."""
    fields = []
    seen = col
    for name, pattern, token in PII_PATTERNS:
        replaced = F.regexp_replace(seen, pattern, token)
        # count = occurrences of the placeholder added by THIS stage
        before = F.length(seen) - F.length(F.replace(seen, F.lit(token)))
        after = F.length(replaced) - F.length(F.replace(replaced, F.lit(token)))
        fields.append(
            ((after - before) / F.lit(len(token))).cast("long").alias(name)
        )
        seen = replaced
    return F.struct(*fields)


def tf_idf(
    df,
    text_col: str,
    id_col: str,
    *,
    carry_cols: tuple[str, ...] = (),
):
    """Per-(document, term) TF-IDF over whitespace tokens — the classic
    corpus statistic (SURVEY §2.10 text-analysis row): ``tf`` = term
    occurrences in the document, ``idf = ln(N / df_t)`` with ``N`` the
    corpus document count and ``df_t`` the number of documents
    containing the term, ``tf_idf = round(tf · idf, 4)``.

    Plan shape (scale path, plan-tested): ONE explode pass → ONE
    map-side-combined shuffle on ``(id, term)`` producing tf, whose
    exchange BOTH consumers — the probe side of the final join and
    the idf build — read back as a ReusedExchange; the idf build then
    adds one more (tiny, partial-aggregated) shuffle of per-partition
    term counts. Without care Catalyst inlines the tf subtree into
    each consumer and the corpus is tokenized and shuffled TWICE —
    the ``count_if`` guard below is what keeps the two consumer
    copies canonically identical. The corpus document count rides the
    plan as a broadcast 1-row aggregate (no separate driver action).
    The vocabulary-sized idf table broadcasts into the final join,
    which assumes the vocabulary fits executor memory
    (natural-language vocabularies are tiny next to the corpus).

    ``carry_cols`` are document-LEVEL attributes (functionally
    dependent on ``id_col``, e.g. a language label) carried through to
    the output; a non-doc-level column would split tf rows and inflate
    document frequencies.

    Returns (id, *carry, term, tf, tf_idf).
    """
    total = df.agg(F.count(F.lit(1)).alias("__n_docs"))
    terms = df.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    tf = terms.groupBy(id_col, *carry_cols, "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # count_if(tf > 0), not count(1): the counts are equal (tf >= 1 by
    # construction), but count(1) lets column pruning strip `tf` from
    # THIS consumer's copy of the aggregation subtree, the two copies
    # then canonicalize differently, and the tf shuffle is NOT reused —
    # observed as the corpus being tokenized and shuffled TWICE. The
    # optimizer cannot prove tf > 0 (no range analysis on aggregate
    # outputs), so the column survives, both subtrees stay identical,
    # and AQE reuses the single (id, term) exchange (plan-tested).
    # NOTE a term-keyed repartition barrier would also share the pass
    # but concentrates hot terms ("the" ≈ every doc) into one
    # partition; this shape keeps the doc-frequency aggregation
    # map-side-combined and skew-safe.
    dfreq = tf.groupBy("term").agg(
        F.count_if(F.col("tf") > 0).alias("__df")
    )
    idf = dfreq.join(F.broadcast(total)).select(
        "term", F.log(F.col("__n_docs") / F.col("__df")).alias("__idf")
    )
    joined = tf.join(F.broadcast(idf), "term")
    return joined.select(
        id_col,
        *carry_cols,
        "term",
        "tf",
        F.round(F.col("tf") * F.col("__idf"), 4).alias("tf_idf"),
    )


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, words not too
    short/long, some punctuation, some stopwords. A transparent,
    portable stand-in for model-based quality classifiers.

    Formulated so every expensive component expression appears exactly
    once (least() instead of a when() branch; abs-distance instead of a
    two-sided range) — when() duplicates its operand subtree and the
    duplicated regexp/replace chains dominated the scan cost.
    """
    length_ok = F.least(F.lit(0.25), F.length(col) / 400.0)
    awl = avg_token_length(col)
    words_ok = F.when(F.abs(awl - 6.5) <= 3.5, F.lit(0.25)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(col) <= 0.1, F.lit(0.25)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio(col) >= 0.05, F.lit(0.25)).otherwise(F.lit(0.0))
    return F.round(length_ok + words_ok + punct_ok + stop_ok, 4)


def remove_boilerplate(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    delimiter: str = "\n",
    max_doc_frac: float = 0.5,
    min_doc_count: int = 2,
) -> DataFrame:
    """Cross-document boilerplate removal, the classic C4/CCNet corpus
    step: a SEGMENT (line by default) occurring in more than
    ``max_doc_frac`` of documents (and at least ``min_doc_count`` of
    them) is boilerplate — nav bars, headers, cookie banners, license
    blurbs — and is dropped from EVERY document; each document's
    surviving segments are reassembled in their original order.
    ``delimiter=" "`` degenerates to document-frequency-based token
    pruning (the unordered analog is stop-shingle removal,
    :func:`hrtech_etl_spark.functions.dedup.remove_stop_shingles`).

    Returns ``(id, text)`` for documents with at least one surviving
    segment; documents whose every segment was boilerplate (or whose
    text is NULL) are dropped — the standard corpus-prep behavior
    (empty documents are never trained on).

    The "fraction of documents" denominator is the FULL input count,
    INCLUDING NULL-text documents (which contribute no segments): the
    denominator answers "what share of the corpus I was handed
    carries this segment", and stays stable whether NULL rows were
    pre-filtered upstream or not. Pre-filter NULLs first if the
    non-NULL share is the intended base — a NULL-heavy corpus
    otherwise under-detects boilerplate relative to the non-NULL
    population. The DuckDB oracle and the pure-Python property-test
    reference both encode this same choice.

    Plan at scale: segment explode (Generate, no shuffle) → per-doc
    distinct + frequency aggregation (two segment-keyed exchanges with
    map-side partials) → anti-join of the segment stream against the
    SMALL boilerplate set (AQE broadcasts it) → one document-keyed
    exchange to reassemble. Document counts ride a 1-row cross join —
    no driver-side scalar, no collect anywhere.
    """
    import re as _re

    parts = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), _re.escape(delimiter), -1)
        ).alias("__pos", "__seg"),
    )
    per_doc = parts.select(id_col, "__seg").distinct()
    freq = per_doc.groupBy("__seg").agg(F.count(F.lit(1)).alias("__n"))
    total = docs.agg(F.count(F.lit(1)).alias("__total"))
    stop = (
        freq.crossJoin(total)
        .where(
            (F.col("__n") >= min_doc_count)
            & (F.col("__n") > F.col("__total") * max_doc_frac)
        )
        .select("__seg")
    )
    kept = parts.join(stop, "__seg", "left_anti")
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
