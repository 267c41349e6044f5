"""Registry entries checked against their DuckDB oracles at sf0.001 —
the same comparison as ``tools/oracle_check.py`` (row count, sorted
column names, order-insensitive value hash), run inside the suite for
the entries whose operators lost an option or a code path: the cluster
rounds, the global-rank plan, the media feature kernel, the
similarity module (cosine scoring and the shared coarse quantizer),
the streaming window aggregates (the declared windows call the
engine's ``tumbling_counts``/``sliding_counts``/``session_counts``)
the incremental dedup path left in the cut-down dedup module, and the
first-50 entries over the dedup, text and similarity functions whose
one-value options were retired (tf-idf, MinHash verify, SimHash bands,
n-gram Jaccard, SRP buckets), and the post-window entries over the
cut-down text module (boilerplate removal, PII redaction, repetition
signals)."""

from __future__ import annotations

import pytest

from hrtech_etl_spark.core.schemas import TESTDATA_TABLES
from hrtech_etl_spark.workload import REGISTRY
from tools.oracle_check import result_hash

ENTRIES = [
    "dedup_clusters",
    "corpus_leakage_safe_split",
    "sim_cosine_topk_batch",
    "dedup_semantic_prune",
    "corpus_prepare_training_v2",
    "events_rfm_segments",
    "window_rank_suite",
    "multimodal_binary_meta",
    "multimodal_features",
    "stream_tumbling_window",
    "stream_sliding_window",
    "stream_session_window",
    "dedup_incremental",
    "text_token_stats",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "sim_lsh_topk",
    "text_boilerplate_removal",
    "text_redact_pii",
    "text_repetition_signals",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", ENTRIES)
def test_entry_matches_oracle(spark, sf_dir, duck, name):
    qd = REGISTRY[name]
    df = qd.fn(spark, sf_dir)
    scols = df.columns
    srows = [tuple(r) for r in df.collect()]
    res = duck.execute(qd.sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert srows, "vacuous: the entry returned no rows"
    assert len(srows) == len(drows)
    assert sorted(scols) == sorted(dcols)
    assert result_hash(scols, srows) == result_hash(dcols, drows)
