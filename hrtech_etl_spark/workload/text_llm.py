"""Declared queries: LLM-training-data pipeline operators — text
analysis, dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard /
embedding-cosine), similarity search, multimodal column plumbing.

The DuckDB oracles replicate the *same algorithms* (portable md5-based
hashing, identical shingling, identical projection constants), so even
the LSH operators get exact value checks, not just row counts. SQL
strings are generated programmatically where the expression is
repetitive (simhash bit votes, SRP sign vectors).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hrtech_etl_spark.functions import dedup as dd
from hrtech_etl_spark.functions import similarity as sim
from hrtech_etl_spark.functions import text as tx
from hrtech_etl_spark.functions.hashing import (
    FINGERPRINT_SQL,
    affine_minhash_sql,
    fingerprint,
    portable_hash_sql,
)

# The ONE hashed-shingle rendering (mirrors dedup.hashed_shingles).
_PH_S = portable_hash_sql("s")
from hrtech_etl_spark.sources.testdata import load_table, spread
from hrtech_etl_spark.workload.registry import query

# ---------------------------------------------------------------------------
# SQL fragment builders (DuckDB dialect) — mirror functions/{text,dedup}.py
# ---------------------------------------------------------------------------

TOKENS_SQL = "str_split_regex(trim(lower({t})), '\\s+')"


def occurrences_sql(s: str, needle: str) -> str:
    n = len(needle)
    return f"CAST((length({s}) - length(replace({s}, '{needle}', ''))) / {n} AS BIGINT)"


def lang_score_sql(lang: str) -> str:
    padded = "(' ' || lower(text) || ' ')"
    return " + ".join(occurrences_sql(padded, m) for m in tx.LANG_MARKERS[lang])


def shingles_from_tokens_sql(toks: str, k: int = 2) -> str:
    """Distinct word-k-gram list over an ALREADY-SPLIT token-list
    column. Inlining the regex split into the k-gram lambda makes
    DuckDB re-evaluate the split per element reference (k+2 times per
    shingle) — precomputing the token list in a prior CTE and passing
    its column name here is ~20x faster at sf0.1 (capstone oracle
    90.7s -> 4.4s, round 12). Output semantics identical."""
    concat = " || ' ' || ".join(
        (f"{toks}[i+{j}]" if j else f"{toks}[i]") for j in range(k)
    )
    return (
        f"CASE WHEN len({toks}) >= {k} THEN "
        f"list_distinct(list_transform(range(1, len({toks}) - {k - 2}), i -> {concat})) "
        f"ELSE [] END"
    )


def shingles_sql(t: str = "text", k: int = 2) -> str:
    """Distinct word-k-gram list (DuckDB lists are 1-indexed; matches
    word_shingles element_at indexing exactly). Generic k: shingle i
    joins tokens i..i+k-1 with single spaces, i in 1..len-k+1 —
    DuckDB range(a, b) excludes b, so the upper bound is len-(k-2).
    Inlines the token split; prefer shingles_from_tokens_sql over a
    precomputed token column in hot oracles."""
    return shingles_from_tokens_sql(TOKENS_SQL.format(t=t), k)


def minhash_sql(j: int, shingles: str = "sh") -> str:
    """j-th universal-hash minhash (same A/B/P family as the Spark
    side; one md5 base hash + affine transform per shingle)."""
    base = portable_hash_sql("s")
    return (
        f"CASE WHEN len({shingles}) > 0 THEN "
        f"list_min(list_transform({shingles}, s -> {affine_minhash_sql(base, j)})) "
        f"ELSE NULL END"
    )


def simhash_sql() -> str:
    """Bit-vote simhash over distinct tokens, DuckDB dialect
    (dedup.SIMHASH_BITS wide)."""
    toks = TOKENS_SQL.format(t="text")
    hashes = f"list_transform(list_distinct({toks}), t -> {portable_hash_sql('t', seed=99)})"
    terms = []
    for i in range(dd.SIMHASH_BITS):
        mask = 1 << i
        terms.append(
            f"(CASE WHEN 2 * len(list_filter(hs, h -> (h & {mask}) != 0)) > len(hs) THEN {mask} ELSE 0 END)"
        )
    return f"(SELECT {' + '.join(terms)} FROM (SELECT {hashes} AS hs) __sh)"


def srp_bucket_sql(vec_expr: str) -> str:
    """SRP bucket from the same ±1 sign table the Spark side uses."""
    parts = []
    for b, row in enumerate(sim._PROJ_SIGNS):
        signs = ",".join("1.0" if s else "-1.0" for s in row)
        parts.append(
            f"(CASE WHEN list_dot_product({vec_expr}, [{signs}]) > 0 THEN {1 << b} ELSE 0 END)"
        )
    return "(" + " + ".join(parts) + ")"


VEC_DOUBLE = "list_transform({v}, x -> CAST(x AS DOUBLE))"


def cosine_sql(a: str, b: str) -> str:
    return (
        f"round(list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

@query(
    "text_token_stats",
    sql=f"""
    WITH t AS (
      SELECT doc_id, lang, unnest({TOKENS_SQL.format(t='text')}) AS term
      FROM documents WHERE lang IS NOT NULL
    ),
    tf AS (
      SELECT doc_id, lang, term, count(*) AS tf FROM t GROUP BY 1, 2, 3
    ),
    idf AS (
      SELECT term,
             ln(CAST((SELECT count(*) FROM documents WHERE lang IS NOT NULL) AS DOUBLE) / count(*)) AS idf
      FROM tf GROUP BY term
    ),
    scored AS (
      SELECT tf.lang, round(tf.tf * idf.idf, 4) AS tf_idf
      FROM tf JOIN idf USING (term)
    ),
    tfidf_by_lang AS (
      SELECT lang, max(tf_idf) AS max_tfidf FROM scored GROUP BY lang
    )
    SELECT d.lang,
           count(*) AS n_docs,
           round(CAST(sum(len({TOKENS_SQL.format(t='text')})) AS DOUBLE) / count(*), 4) AS avg_tokens,
           round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS avg_chars,
           CAST(max(len({TOKENS_SQL.format(t='text')})) AS BIGINT) AS max_tokens,
           any_value(tl.max_tfidf) AS max_tfidf
    FROM documents d JOIN tfidf_by_lang tl ON d.lang = tl.lang
    GROUP BY d.lang
    """,
)
def text_token_stats(spark, sf_dir):
    """Token counting + TF-IDF over the corpus (functions/text.py::
    tf_idf — ONE explode pass; the tf exchange is read back by both
    the probe and the idf build as a ReusedExchange): per language,
    the document/token aggregates plus the corpus-wide maximum TF-IDF
    score.

    The ``lang IS NOT NULL`` pre-filter (a no-op on this corpus, and
    implied by the inner join anyway) is load-bearing for the PLAN:
    the outer join on lang pushes an isnotnull(lang) predicate into
    tf_idf's PROBE subtree but not its idf subtree; the two copies
    then canonicalize differently and the corpus is tokenized twice.
    Pre-filtering puts the predicate in the shared input, keeps both
    subtrees identical, and restores the single-pass plan
    (plan-tested in tests/test_partitioning.py). Mirrored in the
    oracle rendering so both engines compute the identical N."""
    d = spread(load_table(spark, "documents", sf_dir))
    n_tok = tx.token_count(F.col("text"))
    stats = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum(n_tok).cast("double") / F.count(F.lit(1)), 4).alias("avg_tokens"),
        F.round(F.sum("n_chars").cast("double") / F.count(F.lit(1)), 4).alias("avg_chars"),
        F.max(n_tok).cast("bigint").alias("max_tokens"),
    )
    d_nn = d.where(F.col("lang").isNotNull())
    scored = tx.tf_idf(d_nn, "text", "doc_id", carry_cols=("lang",))
    by_lang = scored.groupBy("lang").agg(F.max("tf_idf").alias("max_tfidf"))
    return stats.join(F.broadcast(by_lang), "lang")


_LANGID_SCORES = ", ".join(f"{lang_score_sql(lang)} AS s_{lang}" for lang in tx.LANG_MARKERS)
_GREATEST = "greatest(s_en, s_fr, s_de, s_es)"

@query(
    "text_lang_id",
    sql=f"""
    SELECT predicted, lang AS actual, count(*) AS n FROM (
      SELECT lang,
             CASE WHEN {_GREATEST} = 0 THEN 'unknown'
                  WHEN s_en = {_GREATEST} THEN 'en'
                  WHEN s_fr = {_GREATEST} THEN 'fr'
                  WHEN s_de = {_GREATEST} THEN 'de'
                  ELSE 'es' END AS predicted
      FROM (SELECT lang, {_LANGID_SCORES} FROM documents)
    ) GROUP BY predicted, lang
    """,
)
def text_lang_id(spark, sf_dir):
    """Language-ID confusion matrix: stopword-marker heuristic vs the
    labeled lang column (zh has no markers → 'unknown' path)."""
    d = spread(load_table(spark, "documents", sf_dir))
    return (
        d.select(tx.lang_id(F.col("text")).alias("predicted"), F.col("lang").alias("actual"))
        .groupBy("predicted", "actual")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def quality_score_sql(t: str = "text") -> str:
    """DuckDB rendering of functions/text.py::quality_score over
    column expression ``t`` — shared by the standalone histogram gate
    and the prepare_training_corpus composition oracle."""
    squeezed = f"trim(regexp_replace({t}, '\\s+', ' ', 'g'))"
    awl = f"(CASE WHEN len(str_split({squeezed}, ' ')) > 0 THEN CAST(length(replace({squeezed}, ' ', '')) AS DOUBLE) / len(str_split({squeezed}, ' ')) ELSE 0.0 END)"
    punct = f"(CASE WHEN length({t}) > 0 THEN CAST(length({t}) - length(regexp_replace({t}, '[.,;:!?]', '', 'g')) AS DOUBLE) / length({t}) ELSE 0.0 END)"
    stop_sum = " + ".join(
        occurrences_sql(f"(' ' || lower({t}) || ' ')", m)
        for m in (" the ", " and ", " of ", " a ", " to ", " in ")
    )
    ntok = f"len({TOKENS_SQL.format(t=t)})"
    stop_ratio = f"(CASE WHEN {ntok} > 0 THEN CAST(({stop_sum}) AS DOUBLE) / {ntok} ELSE 0.0 END)"
    return (
        f"round(\n        least(0.25, length({t}) / 400.0)\n"
        f"        + (CASE WHEN abs({awl} - 6.5) <= 3.5 THEN 0.25 ELSE 0.0 END)\n"
        f"        + (CASE WHEN {punct} <= 0.1 THEN 0.25 ELSE 0.0 END)\n"
        f"        + (CASE WHEN {stop_ratio} >= 0.05 THEN 0.25 ELSE 0.0 END), 4)"
    )


@query(
    "text_quality_score",
    sql=f"""
    SELECT score, count(*) AS n_docs FROM (
      SELECT {quality_score_sql()} AS score
      FROM documents
    ) GROUP BY score
    """,
)
def text_quality_score(spark, sf_dir):
    """Quality-score histogram (length/punctuation/stopword heuristics,
    functions/text.py)."""
    d = spread(load_table(spark, "documents", sf_dir))
    return (
        d.select(tx.quality_score(F.col("text")).alias("score"))
        .groupBy("score")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_BIGRAMS_NODISTINCT = (
    f"(CASE WHEN len({TOKENS_SQL.format(t='text')}) >= 2 THEN "
    f"list_transform(range(1, len({TOKENS_SQL.format(t='text')})), "
    f"i -> {TOKENS_SQL.format(t='text')}[i] || ' ' || {TOKENS_SQL.format(t='text')}[i+1]) "
    f"ELSE [] END)"
)

@query(
    "text_fingerprint",
    sql=f"""
    WITH bg AS (
      SELECT gram, count(*) AS n FROM (
        SELECT unnest({_BIGRAMS_NODISTINCT}) AS gram FROM documents
      ) GROUP BY gram
    )
    SELECT count(*) AS n_docs,
           count(DISTINCT {FINGERPRINT_SQL.format(expr='text')}) AS n_unique,
           min({FINGERPRINT_SQL.format(expr='text')}) AS first_fp,
           (SELECT max(n) FROM bg) AS top_bigram_n,
           (SELECT count(*) FROM bg WHERE n >= 2) AS n_repeated_bigrams
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    """Canonical-form document fingerprinting (md5 over normalized
    text) + corpus bigram-frequency stats through the REAL
    :func:`hrtech_etl_spark.functions.text.ngram_counts` operator
    (NON-distinct n-grams — frequency, not presence — one explode, one
    map-side-combined shuffle), putting the n-gram counting path under
    the oracle gate."""
    d = spread(load_table(spark, "documents", sf_dir))
    fp = fingerprint(F.col("text"))
    bigrams = tx.ngram_counts(d, "text", n=2, min_count=1)
    bg_stats = bigrams.agg(
        F.max("count").alias("top_bigram_n"),
        F.count_if(F.col("count") >= 2).alias("n_repeated_bigrams"),
    )
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(fp).alias("n_unique"),
        F.min(fp).alias("first_fp"),
    ).crossJoin(F.broadcast(bg_stats))


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------

@query(
    "dedup_exact",
    sql=f"""
    SELECT fp, min(doc_id) AS canonical_id, count(*) AS n_copies
    FROM (SELECT doc_id, {FINGERPRINT_SQL.format(expr='text')} AS fp FROM documents)
    GROUP BY fp
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup clusters: one shuffle on the content hash."""
    d = load_table(spark, "documents", sf_dir)
    return dd.exact_dedup_clusters(d, "text", "doc_id")


_NUM_HASHES = 8
#: the ONE minhash signature projection (mh0..mh7) every LSH oracle
#: shares — workload modules import this instead of re-deriving it
SIG_COLS = ", ".join(minhash_sql(j) + f" AS mh{j}" for j in range(_NUM_HASHES))
_SIG_COLS = SIG_COLS


def bands_sql(src: str = "sig", num_hashes: int = _NUM_HASHES) -> str:
    """LSH band/bucket rendering over a signature CTE (mh0..mhN-1),
    rows_per_band=2 — shared with the incremental-dedup oracle."""
    return " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5(mh{2 * b}::VARCHAR || ',' || mh{2 * b + 1}::VARCHAR) AS bucket "
        f"FROM {src}"
        for b in range(num_hashes // 2)
    )


_BANDS_SQL = bands_sql()


def lsh_cluster_edges_ctes(threshold: float = 0.3) -> str:
    """Shared CTE chain for the clustering gates (`dedup_clusters`,
    `corpus_leakage_safe_split`): banded MinHash candidates →
    hashed-shingle exact-Jaccard verify at ``threshold`` → undirected
    ``edges`` → ``reach`` recursive closure seeded from every
    document. ONE definition so the two gates can never silently
    diverge (round-13 review finding — the round had to rewrite the
    same block twice in lockstep). Callers prepend ``WITH RECURSIVE``
    and append their final SELECT over ``reach``."""
    return f"""w AS MATERIALIZED (
      SELECT doc_id, {TOKENS_SQL.format(t='text')} AS w FROM documents
    ),
    sh AS MATERIALIZED (
      SELECT doc_id, {shingles_from_tokens_sql('w')} AS sh FROM w
    ),
    hs AS MATERIALIZED (
      SELECT doc_id, list_distinct(list_transform(sh, s -> {_PH_S})) AS sh
      FROM sh
    ),
    sig AS MATERIALIZED (SELECT doc_id, {_SIG_COLS} FROM sh),
    banded AS MATERIALIZED ({_BANDS_SQL}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id
    ),
    pairs AS MATERIALIZED (
      SELECT id_a, id_b FROM (
        SELECT c.id_a, c.id_b,
               round(CASE WHEN len(list_distinct(x.sh || y.sh)) > 0
                          THEN CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                               / len(list_distinct(x.sh || y.sh))
                          ELSE 0.0 END, 4) AS jaccard
        FROM cand c
        JOIN hs x ON c.id_a = x.doc_id
        JOIN hs y ON c.id_b = y.doc_id
      ) WHERE jaccard >= {threshold}
    ),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(id, root) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id
    )"""

@query(
    "dedup_minhash_lsh",
    # Tokens split ONCE per doc (w) then shingled from the list column,
    # multi-referenced CTEs pinned AS MATERIALIZED — value-identical at
    # sf0.001/0.01/0.1 (A/B'd round 12), 18.2s -> 4.1s at sf0.1.
    sql=f"""
    WITH w AS MATERIALIZED (SELECT doc_id, {TOKENS_SQL.format(t='text')} AS w FROM documents),
    sh AS MATERIALIZED (SELECT doc_id, {shingles_from_tokens_sql('w')} AS sh FROM w),
    hs AS MATERIALIZED (SELECT doc_id,
                  list_distinct(list_transform(sh,
                    s -> {_PH_S})) AS sh
           FROM sh),
    sig AS MATERIALIZED (SELECT doc_id, {_SIG_COLS} FROM sh),
    banded AS MATERIALIZED ({_BANDS_SQL}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.id_a, c.id_b,
             round(CASE WHEN len(list_distinct(x.sh || y.sh)) > 0
                        THEN CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(list_distinct(x.sh || y.sh))
                        ELSE 0.0 END, 4) AS jaccard
      FROM cand c JOIN hs x ON c.id_a = x.doc_id JOIN hs y ON c.id_b = y.doc_id
    )
    SELECT count(*) AS n_candidates,
           count(CASE WHEN jaccard >= 0.25 THEN 1 END) AS n_verified,
           CAST(round(max(jaccard), 4) AS DOUBLE) AS max_jaccard
    FROM verified
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(8)+LSH(4 bands × 2) candidates, exact-Jaccard verified —
    the scale path for unblocked near-dup detection. Oracle replicates
    the identical md5-derived hash family. The shared shingle exchange
    keeps STRING shingles with the projection recomputed per consumer —
    A/B-measured at sf0.1 against (a) a materialized hashed
    (array<long>) shingle exchange and (b) a hybrid (string signature +
    hashed verify): all within noise (~2.0s vs ~2.2s), recompute wins
    because these docs are small; `shingle_table(hashed=True)` remains
    the option for corpora where md5-per-shingle dominates."""
    d = load_table(spark, "documents", sf_dir)
    # drop_empty (r18): prunes shingle-less docs below the shared
    # exchange so the signature path needs no size(sh) > 0 filter —
    # which Catalyst pushed through the exchange with the full shingle
    # construction substituted, single-task scan-side. Candidates and
    # verify are invariant (empty sets never band or verify).
    sh = dd.shingle_table(d, "text", "doc_id", drop_empty=True)
    cand = dd.minhash_lsh_pairs(
        d, "text", "doc_id", num_hashes=_NUM_HASHES, rows_per_band=2, shingles=sh
    )
    verified = dd.jaccard_verify(cand, d, "text", "doc_id", threshold=0.0, shingles=sh)
    return verified.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.count(F.when(F.col("jaccard") >= 0.25, 1)).alias("n_verified"),
        F.round(F.max("jaccard"), 4).cast("double").alias("max_jaccard"),
    )


@query(
    "dedup_simhash",
    sql=f"""
    WITH sig AS (SELECT doc_id, {simhash_sql()} AS sh FROM documents)
    SELECT hamming, count(*) AS n_pairs FROM (
      SELECT CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sh, b.sh)) <= 3
    ) GROUP BY hamming
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup: 32-bit bit-vote signature, multi-band blocking
    (4 disjoint 8-bit bands; pigeonhole ⇒ exact recall at hamming ≤ 3),
    Hamming-distance verify. The oracle states the ALL-PAIRS join — the
    banded candidate generation must reproduce it exactly, which the
    hash-match verifies."""
    d = load_table(spark, "documents", sf_dir)
    pairs = dd.simhash_pairs(d, "text", "doc_id", max_hamming=3)
    return pairs.groupBy("hamming").agg(F.count(F.lit(1)).alias("n_pairs"))


@query(
    "dedup_ngram_jaccard",
    # Inverted-index candidates instead of the blocked all-pairs
    # product: jaccard >= 0.3 requires >= 1 shared shingle, shingle
    # lists are distinct so the candidate-join match count IS
    # |A inter B| and |A union B| = na + nb - inter — the threshold
    # test is value-identical, not approximate (A/B'd at
    # sf0.001/0.01/0.1, 21.1s -> 0.8s at sf0.1). Tokens split once
    # per doc; see dedup_clusters for the same restatement.
    sql=f"""
    WITH raw AS (
      -- floor, not a bare CAST: DuckDB CAST(double AS BIGINT) ROUNDS
      -- while Spark's cast truncates — boundary docs (n_chars/100
      -- fraction >= .5) landed in different blocking buckets and the
      -- pair counts diverged at sf0.1 (n_chars >= 0, so floor == trunc)
      SELECT doc_id, lang, CAST(floor(n_chars / 100) AS BIGINT) AS size_bucket,
             {TOKENS_SQL.format(t='text')} AS w
      FROM documents
    ),
    s AS MATERIALIZED (
      SELECT doc_id, lang, size_bucket,
             list_distinct(list_transform({shingles_from_tokens_sql('w')},
               s -> {_PH_S})) AS sh
      FROM raw
    ),
    ex AS MATERIALIZED (
      SELECT doc_id, lang, size_bucket, len(sh) AS n, unnest(sh) AS h FROM s
    ),
    cand AS (
      SELECT a.lang AS lang, a.doc_id AS id_a, b.doc_id AS id_b,
             a.n AS na, b.n AS nb, count(*) AS inter
      FROM ex a JOIN ex b
        ON a.h = b.h AND a.lang = b.lang AND a.size_bucket = b.size_bucket
       AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4, 5
    ),
    pairs AS (
      SELECT lang, round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jaccard
      FROM cand
    )
    SELECT lang, count(*) AS n_pairs,
           CAST(round(max(jaccard), 4) AS DOUBLE) AS max_jaccard
    FROM pairs WHERE jaccard >= 0.3
    GROUP BY lang
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Blocked exact n-gram Jaccard: (lang, size-bucket) blocking keys
    bound the pair space; near-dup pairs counted per language."""
    d = load_table(spark, "documents", sf_dir).withColumn(
        "size_bucket", (F.col("n_chars") / 100).cast("bigint")
    )
    pairs = dd.ngram_jaccard_pairs(
        d, "text", "doc_id", block_cols=["lang", "size_bucket"], threshold=0.3
    )
    langs = d.select(F.col("doc_id").alias("id_a"), "lang")
    return (
        pairs.join(langs, "id_a")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.max("jaccard"), 4).cast("double").alias("max_jaccard"),
        )
    )


_VD = VEC_DOUBLE.format(v="embedding")

@query(
    "dedup_embedding_cosine",
    sql=f"""
    WITH e AS (SELECT vec_id, label, {_VD} AS v FROM embeddings)
    SELECT a.label AS label, count(*) AS n_pairs,
           CAST(round(max({cosine_sql('a.v', 'b.v')}), 4) AS DOUBLE) AS max_cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {cosine_sql('a.v', 'b.v')} >= 0.3
    GROUP BY a.label
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs within label blocks."""
    e = spread(load_table(spark, "embeddings", sf_dir))
    pairs = sim.embedding_near_dup_pairs(e, threshold=0.3)
    labels = e.select(F.col("vec_id").alias("id_a"), "label")
    return (
        pairs.join(labels, "id_a")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.max("score"), 4).cast("double").alias("max_cosine"),
        )
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

@query(
    "sim_cosine_topk",
    sql=f"""
    WITH q AS (SELECT {_VD} AS qv FROM embeddings WHERE vec_id = 0),
    e AS (SELECT vec_id, {_VD} AS v FROM embeddings)
    SELECT e.vec_id AS vec_id, {cosine_sql('e.v', 'q.qv')} AS score
    FROM e, q
    ORDER BY score DESC, e.vec_id
    LIMIT 10
    """,
)
def sim_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k (exact ANN baseline): one projection +
    TakeOrderedAndProject, no shuffle of the corpus. The operator
    spreads the corpus side itself (conditionally); q derives from the
    raw scan so the 1-row broadcast side carries no exchange."""
    e = load_table(spark, "embeddings", sf_dir)
    q = e.where(F.col("vec_id") == 0)
    return sim.cosine_topk(e, q, k=10)


@query(
    "sim_lsh_topk",
    sql=f"""
    WITH e AS (SELECT vec_id, {_VD} AS v FROM embeddings),
    b AS (SELECT vec_id, v, {srp_bucket_sql('v')} AS bucket FROM e),
    q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
    SELECT b.vec_id AS vec_id, {cosine_sql('b.v', 'q.qv')} AS score
    FROM b, q WHERE b.bucket = q.qbucket
    ORDER BY score DESC, b.vec_id
    LIMIT 10
    """,
)
def sim_lsh_topk(spark, sf_dir):
    """LSH-bucketed approximate top-k: probes only the query's
    sign-random-projection bucket (1/16th of the corpus at 4 bits).
    Deterministic projections → exact oracle parity."""
    e = load_table(spark, "embeddings", sf_dir)
    q = e.where(F.col("vec_id") == 0)
    return sim.lsh_cosine_topk(e, q, k=10)


@query(
    "sim_ivf_topk",
    sql=f"""
    WITH e AS (SELECT vec_id, {_VD} AS v FROM embeddings),
    c AS (SELECT vec_id AS cid, v AS cvec FROM e WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {cosine_sql('e.v', 'c.cvec')} DESC, c.cid
               ) AS rn
        FROM e CROSS JOIN c
      ) WHERE rn = 1
    ),
    qlists AS (
      SELECT cid, v AS qv FROM (
        SELECT c.cid, e.v,
               row_number() OVER (
                 ORDER BY {cosine_sql('e.v', 'c.cvec')} DESC, c.cid
               ) AS rn
        FROM e CROSS JOIN c WHERE e.vec_id = 0
      ) WHERE rn <= 2
    )
    SELECT a.vec_id AS vec_id, {cosine_sql('a.v', 'q.qv')} AS score
    FROM assign a JOIN qlists q ON a.cid = q.cid
    ORDER BY score DESC, a.vec_id
    LIMIT 10
    """,
)
def sim_ivf_topk(spark, sf_dir):
    """IVF-style approximate top-k: deterministic seed-vector coarse
    quantizer, nprobe=2 inverted lists probed out of 8 — the
    partition-pruned scale path for ANN (see
    functions/similarity.py::ivf_cosine_topk)."""
    e = load_table(spark, "embeddings", sf_dir)
    q = e.where(F.col("vec_id") == 0)
    return sim.ivf_cosine_topk(e, q, k=10, n_centroids=8, nprobe=2)


# ---------------------------------------------------------------------------
# Multimodal column plumbing
# ---------------------------------------------------------------------------

@query(
    "multimodal_binary_meta",
    sql="""
    SELECT lang,
           count(*) AS n_assets,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes
    FROM documents GROUP BY lang
    """,
)
def multimodal_binary_meta(spark, sf_dir):
    """Opaque binary content column + typed metadata (the multimodal
    pattern: content bytes travel as BINARY, metadata as typed columns;
    feature extraction runs in Arrow-batched UDFs — see
    operators/multimodal.py). Here: byte-length accounting per lang."""
    d = load_table(spark, "documents", sf_dir)
    blob = F.col("text").cast("binary")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum(F.length(blob)).cast("bigint").alias("total_bytes"),
        F.max(F.length(blob)).cast("bigint").alias("max_bytes"),
    )


@query(
    "multimodal_features",
    sql=f"""
    SELECT count(*) AS n_assets,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           round(avg(f0), 4) AS avg_f0,
           round(max(f0), 6) AS max_f0
    FROM (
      SELECT octet_length(encode(text)) AS n_bytes,
             round({portable_hash_sql("text")}::DOUBLE
                   / 4294967295, 6) AS f0
      FROM documents
    )
    """,
)
def multimodal_features(spark, sf_dir):
    """Arrow-batched feature extraction over the media column
    (mapInPandas; operators/multimodal.py). The deterministic fake
    kernel is md5-derived, so DuckDB replicates the exact feature
    values — the oracle checks the full binary → struct → pandas-batch
    → features plumbing, not just row counts."""
    from hrtech_etl_spark.operators import multimodal as mm

    d = spread(load_table(spark, "documents", sf_dir))
    feats = mm.media_features(mm.attach_fake_media(d), dim=2)
    f0 = F.element_at("features", 1)
    return feats.agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        F.round(F.avg(f0), 4).alias("avg_f0"),
        F.round(F.max(f0), 6).alias("max_f0"),
    )
