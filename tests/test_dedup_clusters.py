"""Near-dup clustering: connected components over pair graphs and the
end-to-end drop_near_duplicates pipeline."""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from hrtech_etl_spark.functions import dedup
from hrtech_etl_spark.functions.dedup import (
    drop_near_duplicates,
    jaccard_verify,
    minhash_lsh_pairs,
    near_dup_clusters,
)


@pytest.fixture
def force_rounds(monkeypatch):
    """A zero edge bound sends every non-empty graph to the distributed
    rounds; without it a graph this small finishes on the driver."""
    monkeypatch.setattr(dedup, "_DRIVER_FINISH_MAX_EDGES", 0)


#: the INFO line near_dup_clusters logs for each path
PATH_LOG = {"driver": "driver union-find", "rounds": "distributed rounds"}


@pytest.fixture(params=["driver", "rounds"])
def cluster_path(request, monkeypatch, caplog):
    """Run the test once per near_dup_clusters path, and check after it
    that the path really ran."""
    if request.param == "rounds":
        monkeypatch.setattr(dedup, "_DRIVER_FINISH_MAX_EDGES", 0)
    caplog.set_level(logging.INFO, logger=dedup.__name__)
    yield request.param
    logged = [r.getMessage() for r in caplog.get_records("call")]
    assert any(PATH_LOG[request.param] in m for m in logged), logged


def _union_find(ids, pairs):
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def test_transitive_chain_collapses(spark):
    """a~b, b~c (no a~c pair) must land in ONE cluster; disjoint pair
    d~e separate; f singleton labels itself."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], ["id_a", "id_b"]
    )
    ids = spark.createDataFrame([(i,) for i in range(1, 7)], ["doc_id"])
    got = {
        r["id"]: r["cluster"]
        for r in near_dup_clusters(pairs, ids, "doc_id").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_long_chain_converges(spark, force_rounds, monkeypatch):
    """A path graph needs several rounds — make sure propagation
    actually iterates rather than stopping after one round, and that
    the round bound raises."""
    n = 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], ["id_a", "id_b"]
    )
    ids = spark.createDataFrame([(i,) for i in range(1, n + 1)], ["doc_id"])
    monkeypatch.setattr(dedup, "_MAX_ROUNDS", 20)
    got = {
        r["id"]: r["cluster"]
        for r in near_dup_clusters(pairs, ids, "doc_id").collect()
    }
    assert set(got.values()) == {1}

    monkeypatch.setattr(dedup, "_MAX_ROUNDS", 2)
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        near_dup_clusters(pairs, ids, "doc_id")


def test_clusters_match_union_find_on_documents(spark, sf_dir, cluster_path):
    """On the real fixture: Spark components == driver-side union-find
    over the same verified pair set."""
    from hrtech_etl_spark.sources.testdata import load_table

    d = load_table(spark, "documents", sf_dir)
    cand = minhash_lsh_pairs(d, "text", "doc_id")
    verified = jaccard_verify(cand, d, "text", "doc_id", threshold=0.5)
    pair_rows = [(r["id_a"], r["id_b"]) for r in verified.collect()]
    all_ids = [r["doc_id"] for r in d.select("doc_id").collect()]
    want = _union_find(all_ids, pair_rows)
    got = {
        r["id"]: r["cluster"]
        for r in near_dup_clusters(verified, d.select("doc_id"), "doc_id").collect()
    }
    assert got == want


def test_drop_near_duplicates_keeps_min_per_cluster(spark, sf_dir, cluster_path):
    from hrtech_etl_spark.sources.testdata import load_table

    d = load_table(spark, "documents", sf_dir)
    kept = drop_near_duplicates(d, "text", "doc_id", threshold=0.5)
    cand = minhash_lsh_pairs(d, "text", "doc_id")
    verified = jaccard_verify(cand, d, "text", "doc_id", threshold=0.5)
    comp = _union_find(
        [r["doc_id"] for r in d.select("doc_id").collect()],
        [(r["id_a"], r["id_b"]) for r in verified.collect()],
    )
    want_kept = {min(i for i, c2 in comp.items() if c2 == c) for c in set(comp.values())}
    assert {r["doc_id"] for r in kept.select("doc_id").collect()} == want_kept
    # schema preserved
    assert kept.columns == d.columns


def test_one_driver_action_per_round(spark, force_rounds, monkeypatch):
    """Round-5 structure: each round runs ONE count() (materialize +
    Observation convergence probe in the same action); eager lineage
    checkpoints happen only every _CHECKPOINT_EVERY rounds, not per
    round (the old shape was checkpoint + probe-count = 2 actions)."""
    # patch the CONCRETE class (pyspark.sql.classic under Spark 4
    # overrides the abstract base's methods, so patching the base
    # never intercepts instance calls)
    DataFrame = type(spark.range(1))

    counts = {"count": 0, "ckpt_eager": 0, "ckpt_lazy": 0}
    orig_count = DataFrame.count
    orig_ckpt = DataFrame.localCheckpoint

    def count_spy(self):
        counts["count"] += 1
        return orig_count(self)

    def ckpt_spy(self, eager=True):
        counts["ckpt_eager" if eager else "ckpt_lazy"] += 1
        return orig_ckpt(self, eager=eager)

    monkeypatch.setattr(DataFrame, "count", count_spy)
    monkeypatch.setattr(DataFrame, "localCheckpoint", ckpt_spy)

    pairs = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], ["id_a", "id_b"])
    ids = spark.createDataFrame([(i,) for i in range(1, 7)], ["doc_id"])
    got = {
        r["id"]: r["cluster"]
        for r in near_dup_clusters(pairs, ids, "doc_id").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}
    # 3 rounds to converge -> 3 counts. Checkpoints: the pinned pairs
    # (materialized by the edge collect), the edge list and the
    # pair-touched id set are lazy (the last two materialized inside
    # round 1's job); round 3 (i+1 == _CHECKPOINT_EVERY) truncates
    # lineage eagerly, and the returned singleton-restoring join is
    # eagerly truncated so the result stays lineage-free as callers
    # rely on.
    assert counts == {"count": 3, "ckpt_eager": 2, "ckpt_lazy": 3}


def test_accelerated_chain_converges_in_log_rounds(spark, force_rounds, monkeypatch):
    """The rounds compose labels through the previous round's mapping
    (pointer jump): a 40-node path — 39 rounds for plain min-label
    propagation — converges within 9 rounds, same labels, and is still
    unconverged after 5 (the reach doubles per round: 1, 2, 4, 8, 16)."""
    n = 40
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], ["id_a", "id_b"]
    )
    ids = spark.createDataFrame([(i,) for i in range(1, n + 1)], ["doc_id"])
    monkeypatch.setattr(dedup, "_MAX_ROUNDS", 9)
    got = {
        r["id"]: r["cluster"]
        for r in near_dup_clusters(pairs, ids, "doc_id").collect()
    }
    assert set(got.values()) == {1} and len(got) == n

    monkeypatch.setattr(dedup, "_MAX_ROUNDS", 5)
    with pytest.raises(RuntimeError, match="did not converge"):
        near_dup_clusters(pairs, ids, "doc_id")


def test_minhash_bucket_cap(spark):
    """max_bucket_size drops mega-buckets before the self-join: a
    boilerplate cluster of identical docs (one giant bucket per band)
    emits no pairs under a small cap, while distinct near-dup pairs in
    small buckets survive; cap=None stays exact."""
    boiler = [(i, "the same exact boilerplate footer text repeated") for i in range(50)]
    near = [
        (100, "completely different unique payload alpha beta gamma delta"),
        (101, "completely different unique payload alpha beta gamma epsilon"),
    ]
    df = spark.createDataFrame(boiler + near, ["doc_id", "text"])
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(df, "text", "doc_id").collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(df, "text", "doc_id", max_bucket_size=10).collect()
    }
    assert (100, 101) in uncapped and (100, 101) in capped
    # the 50-doc boilerplate clique (1225 pairs) is gone under the cap
    assert any(a < 50 and b < 50 for a, b in uncapped)
    assert not any(a < 50 and b < 50 for a, b in capped)
    assert capped < uncapped


def test_remove_stop_shingles(spark):
    """Shingles shared by most docs vanish; rare shingles survive; the
    cleaned table keeps near-dup pairs findable while boilerplate-only
    overlap stops producing candidates."""
    from hrtech_etl_spark.functions.dedup import (
        remove_stop_shingles,
        shingle_table,
    )

    footer = "standard corporate footer all rights reserved"
    docs = [(i, f"unique payload number {i} item {i * 7} " + footer) for i in range(20)]
    docs += [
        (100, "alpha beta gamma delta unique pair one " + footer),
        (101, "alpha beta gamma delta unique pair two " + footer),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    sh = shingle_table(df, "text", "doc_id", hashed=True)
    cleaned = remove_stop_shingles(sh, max_doc_frac=0.5)

    # footer bigrams appear in all 22 docs -> removed everywhere
    sizes_before = {r["doc_id"]: len(r["sh"]) for r in sh.collect()}
    sizes_after = {r["doc_id"]: len(r["sh"]) for r in cleaned.collect()}
    assert all(sizes_after[d] < sizes_before[d] for d in sizes_after)

    pairs = minhash_lsh_pairs(df, "text", "doc_id", shingles=cleaned)
    verified = jaccard_verify(pairs, df, "text", "doc_id", threshold=0.5, shingles=cleaned)
    got = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    assert (100, 101) in got
    assert not any(a < 100 and b < 100 for a, b in got)

    # raises on an unhashed table, and on an absurd threshold
    raw = shingle_table(df, "text", "doc_id", hashed=False)
    with pytest.raises(ValueError, match="hashed"):
        remove_stop_shingles(raw)
    with pytest.raises(ValueError, match="threshold too low"):
        remove_stop_shingles(sh, max_doc_frac=0.0, max_stop=3)


def test_remove_stop_shingles_broadcast_path_matches_literal(spark, monkeypatch):
    """Above STOP_SHINGLE_LITERAL_MAX stop shingles the filter switches
    from a literal array_except to a broadcast-variable pandas filter;
    both paths must produce the identical cleaned table (forced here
    by patching the bound to 0)."""
    from hrtech_etl_spark.functions.dedup import (
        remove_stop_shingles,
        shingle_table,
    )

    footer = "standard corporate footer all rights reserved"
    docs = [(i, f"unique payload number {i} item {i * 7} " + footer) for i in range(20)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    sh = shingle_table(df, "text", "doc_id", hashed=True)
    literal = {r["doc_id"]: r["sh"] for r in remove_stop_shingles(sh, max_doc_frac=0.5).collect()}
    monkeypatch.setattr(dedup, "STOP_SHINGLE_LITERAL_MAX", 0)
    bcast = {
        r["doc_id"]: r["sh"]
        for r in remove_stop_shingles(sh, max_doc_frac=0.5).collect()
    }
    assert bcast == literal
    assert any(len(v) > 0 for v in bcast.values())


def test_broadcast_array_except_large_stop_set(spark):
    """A 20k-entry stop set must not become a 20k-node expression tree:
    the broadcast path completes quickly, removes exactly the stopped
    values, preserves element order, rows, and NULLs."""
    from hrtech_etl_spark.functions.dedup import _broadcast_array_except

    stop_values = list(range(10, 20_010))  # 20k entries
    rows = [
        (1, [1, 15, 2, 19_999, 3]),  # 15 and 19_999 stopped
        (2, [5, 6, 7]),  # untouched
        (3, [10, 11, 12]),  # fully stopped -> empty, row SURVIVES
        (4, None),  # NULL stays NULL
    ]
    df = spark.createDataFrame(rows, "doc_id int, sh array<long>")
    out = df.withColumn("sh", _broadcast_array_except("sh", df, stop_values))
    got = {r["doc_id"]: r["sh"] for r in out.collect()}
    assert got == {1: [1, 2, 3], 2: [5, 6, 7], 3: [], 4: None}


def test_reliable_checkpoint_dir(spark, force_rounds, tmp_path, monkeypatch):
    """checkpoint_dir switches EVERY lineage truncation from
    executor-local localCheckpoint to reliable checkpoint() against the
    given directory; labels are identical either way."""
    DataFrame = type(spark.range(1))
    calls = {"local": 0, "reliable": 0}
    orig_local, orig_ckpt = DataFrame.localCheckpoint, DataFrame.checkpoint

    def local_spy(self, eager=True):
        calls["local"] += 1
        return orig_local(self, eager=eager)

    def ckpt_spy(self, eager=True):
        calls["reliable"] += 1
        return orig_ckpt(self, eager=eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", local_spy)
    monkeypatch.setattr(DataFrame, "checkpoint", ckpt_spy)

    pairs = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], ["id_a", "id_b"])
    ids = spark.createDataFrame([(i,) for i in range(1, 7)], ["doc_id"])
    got = {
        r["id"]: r["cluster"]
        for r in near_dup_clusters(
            pairs, ids, "doc_id", checkpoint_dir=str(tmp_path)
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}
    assert calls["local"] == 0 and calls["reliable"] >= 2
    # the reliable files really landed under the given directory
    assert any(tmp_path.rglob("*"))


def test_over_bound_graph_runs_rounds(spark, monkeypatch, caplog):
    """A graph with more edges than the bound takes the distributed
    rounds: the collect sees bound + 1 edges, and the rounds converge
    to the same labels."""
    monkeypatch.setattr(dedup, "_DRIVER_FINISH_MAX_EDGES", 2)
    caplog.set_level(logging.INFO, logger=dedup.__name__)
    pairs = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], ["id_a", "id_b"])
    ids = spark.createDataFrame([(i,) for i in range(1, 7)], ["doc_id"])
    got = dict(map(tuple, near_dup_clusters(pairs, ids, "doc_id").collect()))
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}
    assert "more than 2 edges, distributed rounds" in caplog.text
    assert "driver union-find" not in caplog.text


def test_endpoints_absent_from_ids_get_no_label(spark, cluster_path):
    """An endpoint missing from ``ids`` neither gets a label nor joins
    its two neighbours: 99 links 2 and 3, but only through itself."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 99), (3, 99), (4, 5)], ["id_a", "id_b"]
    )
    ids = spark.createDataFrame([(i,) for i in range(1, 6)], ["doc_id"])
    got = dict(map(tuple, near_dup_clusters(pairs, ids, "doc_id").collect()))
    assert got == {1: 1, 2: 1, 3: 3, 4: 4, 5: 4}


def test_empty_pairs_label_every_id_itself(spark, caplog):
    caplog.set_level(logging.INFO, logger=dedup.__name__)
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in range(1, 4)], "doc_id long")
    got = dict(map(tuple, near_dup_clusters(pairs, ids, "doc_id").collect()))
    assert got == {1: 1, 2: 2, 3: 3}
    assert "0 edges, driver union-find" in caplog.text


@pytest.mark.parametrize("id_type", ["int", "string"])
def test_both_paths_return_the_same_schema(spark, monkeypatch, id_type):
    """The driver path builds its labels with the id column's own type,
    so both paths return the same ``(id, cluster)`` schema."""
    pairs = spark.createDataFrame(
        [("1", "2"), ("2", "3")], "id_a string, id_b string"
    ).selectExpr(f"cast(id_a as {id_type}) id_a", f"cast(id_b as {id_type}) id_b")
    ids = spark.range(1, 5).selectExpr(f"cast(id as {id_type}) doc_id")
    driver = near_dup_clusters(pairs, ids, "doc_id")
    monkeypatch.setattr(dedup, "_DRIVER_FINISH_MAX_EDGES", 0)
    rounds = near_dup_clusters(pairs, ids, "doc_id")
    assert driver.schema == rounds.schema
    assert driver.schema.fieldNames() == ["id", "cluster"]
    assert sorted(driver.collect()) == sorted(rounds.collect())


#: Spark jobs the driver path may launch on a 3-edge graph: the edge
#: collect and the eager truncation of the result, one job per AQE
#: query stage
SMALL_PATH_MAX_JOBS = 6


def test_small_path_job_budget(spark):
    """The driver path runs no rounds: on a small graph it launches at
    most ``SMALL_PATH_MAX_JOBS`` jobs, where the rounds take several
    jobs per round."""
    sc = spark.sparkContext
    pairs = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], ["id_a", "id_b"])
    ids = spark.createDataFrame([(i,) for i in range(1, 7)], ["doc_id"])
    group = "test_small_path_job_budget"
    sc.setJobGroup(group, group)
    try:
        labels = near_dup_clusters(pairs, ids, "doc_id")
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= SMALL_PATH_MAX_JOBS, jobs
    assert dict(map(tuple, labels.collect())) == {
        1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6
    }


def test_reliable_checkpoint_dir_on_the_driver_path(spark, tmp_path, monkeypatch):
    """``checkpoint_dir`` also governs the driver path: the pinned pairs
    and the returned frame are reliable checkpoints."""
    DataFrame = type(spark.range(1))
    calls = {"local": 0}
    orig_local = DataFrame.localCheckpoint

    def local_spy(self, eager=True):
        calls["local"] += 1
        return orig_local(self, eager=eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", local_spy)
    pairs = spark.createDataFrame([(1, 2), (4, 5)], ["id_a", "id_b"])
    ids = spark.createDataFrame([(i,) for i in range(1, 6)], ["doc_id"])
    got = dict(
        map(
            tuple,
            near_dup_clusters(
                pairs, ids, "doc_id", checkpoint_dir=str(tmp_path)
            ).collect(),
        )
    )
    assert got == {1: 1, 2: 1, 3: 3, 4: 4, 5: 4}
    assert calls["local"] == 0
    assert any(tmp_path.rglob("*"))


def test_drop_empty_shingle_prefilter_exact_and_not_scan_side(spark):
    """r18: ``shingle_table(drop_empty=True)`` drops EXACTLY the rows
    the old ``size(sh) > 0`` post-filter dropped (token-count predicate
    is the word_ngrams CASE condition — NULL text, empty text,
    one-token and tab-edge docs included), tags the column so
    ``minhash_lsh_pairs`` skips its re-filter, and the full shingle
    construction no longer evaluates below the exchange (the pushed-
    predicate disease this round's profiling found). A stop-shingle
    rewrite must drop the tag (empties can reappear)."""
    from pyspark.sql import functions as F

    from hrtech_etl_spark.functions.dedup import (
        _shingles_nonempty,
        shingle_table,
        word_shingles,
    )

    df = spark.createDataFrame(
        [
            (1, "solo"),
            (2, "two words here"),
            (3, ""),
            (4, None),
            (5, "\ta"),          # split-on-\s+ edge: ["", "a"] = 2 tokens
            (6, "  spaced  x "),
            (7, "a b"),
        ],
        "doc_id long, text string",
    )
    old = (
        df.select("doc_id", word_shingles(F.col("text"), 2).alias("sh"))
        .where(F.size("sh") > 0)
    )
    new = shingle_table(df, "text", "doc_id", drop_empty=True)
    assert sorted((r[0], tuple(r[1])) for r in new.collect()) == sorted(
        (r[0], tuple(r[1])) for r in old.collect()
    )
    assert _shingles_nonempty(new)
    assert not _shingles_nonempty(shingle_table(df, "text", "doc_id"))
    # hashed path carries the tag through its barrier too
    hashed = shingle_table(df, "text", "doc_id", hashed=True, drop_empty=True)
    assert _shingles_nonempty(hashed)
    # a column rewrite (stop-shingle removal shape) loses the tag
    assert not _shingles_nonempty(
        hashed.withColumn("sh", F.slice("sh", 1, 100))
    )
    # the expensive construction must not sit below the exchange
    # (coalesce(1) forces the narrow-scan widen path that fires it)
    narrow = shingle_table(
        df.coalesce(1), "text", "doc_id", drop_empty=True
    )
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan, plan
    below = plan.split("Exchange")[-1]
    assert "zip_with" not in below, below
    # candidate pairs identical with a drop_empty-shared frame
    base = minhash_lsh_pairs(df, "text", "doc_id")
    shared = minhash_lsh_pairs(df, "text", "doc_id", shingles=new)
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, shared.collect())
    )


def test_union_with_empty_shingle_sets_drops_nonempty_marker(spark):
    """A ``drop_empty=True`` shingle table unioned with rows whose
    shingle sets are empty is no longer known to be non-empty: the
    signature build must re-filter, or the empty documents get NULL
    signatures whose band keys collide and they pair with each other."""
    from hrtech_etl_spark.functions.dedup import (
        _shingles_nonempty,
        shingle_table,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "x y z")],
        "doc_id long, text string",
    )
    sh = shingle_table(df, "text", "doc_id", drop_empty=True)
    empties = spark.createDataFrame(
        [(10, []), (11, [])], "doc_id long, sh array<string>"
    )
    u = sh.unionByName(empties)
    assert not _shingles_nonempty(u)
    pairs = sorted(
        map(tuple, minhash_lsh_pairs(df, "text", "doc_id", shingles=u).collect())
    )
    assert (10, 11) not in pairs
    assert pairs == sorted(
        map(tuple, minhash_lsh_pairs(df, "text", "doc_id", shingles=sh).collect())
    )
