"""Ad-hoc corpus-scale smokes (not part of the pytest suite): replicate
the sf0.1 documents table ``--copies`` times (default 20× → 100k docs
with heavy planted duplication — every doc has copies-1 exact twins;
``--copies 200`` → the 1M-doc run recorded in README §Verification)
and drive the corpus-scale pipeline end to end with all knobs on:

1. the DESIGNED high-duplication pipeline — ``drop_exact_duplicates``
   first (hash groupBy collapses the planted exact twins), then
   ``drop_near_duplicates`` on the survivors — must collapse to ~the
   base-corpus cluster count with no driver blow-up;
1b. raw ``drop_near_duplicates`` over the full replicated corpus
   (stop-shingle removal, band-bucket cap, distributed pointer-jumping
   clustering rounds) — the THROUGHPUT probe. Its kept-count is
   cap-bound once the duplicate multiplicity exceeds
   ``max_bucket_size``: exact copies
   share every band, so when copies x base-bucket-size overflows the
   cap, ALL of a clone-set's buckets are shed and those pairs are
   lost (the valve's documented recall trade — which is exactly why
   stage 1 runs exact dedup first; size the cap above the expected
   multiplicity x typical bucket size if you must near-dup raw);
2. ``lsh_index`` build persisted to parquet (the ingest-loop artifact);
3. a replica ingest batch (the worst case: every batch doc matches
   ``copies`` indexed near-twins) cleaned against the stored index via
   ``drop_near_duplicates_incremental`` — every doc must be dropped;
4. ``remove_boilerplate`` over the full corpus (the C4/CCNet segment
   pass, same knobs as the gated query);
5. ``shuffled_shards`` — the seeded reproducible corpus shuffle+shard,
   with per-shard skew reported.

Each stage prints wall time plus the Spark job/stage count it ran
(via job groups + the status tracker) and, where the output is a
corpus-shaped frame, the peak partition row count — the scale-up
assertion is that stage counts stay FLAT as --copies grows (a plan
that adds stages with data volume is broken at 100 TB), and peak
partition rows grow ~linearly (no single-partition collapse). The
package's INFO log lines print above the stage they come from; for
the dedup stages that names the clustering path (driver union-find
or distributed rounds) and its edge count.

    python tools/scale_smoke.py [--sf-dir DIR] [--copies N]
        [--graph-copies N] [--only docs,cdc,graph]

``--only`` selects stage groups (``docs`` = 1-5,
``cdc`` = content-defined chunking over the replicated corpus,
``graph`` = PageRank over a replicated co-occurrence graph,
``skew`` = the salted agg/join paths under a 30% single-key hot spot
at ``--skew-rows``, asserted against their uniform twins,
``rank`` = distributed exact global ranking (operators/ranking.py)
over ``--rank-rows`` rows with heavy ties — zero unpartitioned
WindowExec, bounded peak partition, closed-form exactness invariants,
``semantic`` = SemDeDup over ``--sem-copies`` replicated embedding
corpora with planted semantic twin pairs — n_centroids SCALED with
the corpus under the default max_cluster_size valve, planted-twin
recall and flat job counts asserted)
so each path can be scaled independently of the 1M-doc dedup stages.
"""

from __future__ import annotations

import argparse
import logging
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hrtech_etl_spark.core.session import get_spark  # noqa: E402
from hrtech_etl_spark.functions import dedup as dd  # noqa: E402
from hrtech_etl_spark.functions.text import remove_boilerplate  # noqa: E402
from hrtech_etl_spark.operators.corpus import shuffled_shards  # noqa: E402
from hrtech_etl_spark.sources.testdata import load_table  # noqa: E402

#: id stride between replicas — far above any real doc_id
STRIDE = 10_000_000


class StageMeter:
    """Run a stage under a job group and report wall time + job/stage
    counts from the status tracker (skipped stages included — the
    number is a comparative plan-size metric, not a work metric)."""

    def __init__(self, sc):
        self.sc = sc
        #: job count of the most recent run() — for flat-jobs asserts
        self.last_jobs = 0

    def run(self, label: str, fn):
        group = f"smoke:{label}"
        self.sc.setJobGroup(group, label)
        t0 = time.time()
        out = fn()
        dt = time.time() - t0
        self.sc.setJobGroup("", "")
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages += len(info.stageIds)
        print(
            f"{label}: {dt:.1f}s  jobs={len(jobs)} stages={stages}",
            flush=True,
        )
        self.last_jobs = len(jobs)
        return out, dt


def partition_stats(df) -> tuple[int, int]:
    """(total_rows, peak_partition_rows) in ONE pass."""
    rows = df.groupBy(F.spark_partition_id().alias("__p")).count().collect()
    counts = [r["count"] for r in rows]
    return sum(counts), (max(counts) if counts else 0)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--copies", type=int, default=20)
    ap.add_argument("--batch-size", type=int, default=5_000)
    ap.add_argument("--graph-copies", type=int, default=5)
    ap.add_argument("--only", default="docs")
    ap.add_argument("--skew-rows", type=int, default=10_000_000)
    ap.add_argument("--rank-rows", type=int, default=10_000_000)
    ap.add_argument("--sem-copies", type=int, default=50)
    ap.add_argument("--sem-dim", type=int, default=16)
    args = ap.parse_args()
    groups = {g.strip() for g in args.only.split(",") if g.strip()}
    pkg_log = logging.getLogger("hrtech_etl_spark")
    pkg_log.setLevel(logging.INFO)
    handler = logging.StreamHandler(sys.stdout)
    handler.setFormatter(logging.Formatter("  %(message)s"))
    pkg_log.addHandler(handler)

    spark = get_spark(app_name="hrtech-etl-spark-scale-smoke")
    meter = StageMeter(spark.sparkContext)
    root = tempfile.mkdtemp(prefix="scale_smoke_")
    try:
        if "docs" in groups:
            run_doc_stages(spark, meter, args, root)
        if "cdc" in groups:
            run_cdc_stage(spark, meter, args, root)
        if "graph" in groups:
            run_graph_stages(spark, meter, args, root)
        if "skew" in groups:
            run_skew_stages(spark, meter, args, root)
        if "rank" in groups:
            run_rank_stage(spark, meter, args, root)
        if "semantic" in groups:
            run_semantic_stage(spark, meter, args, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run_doc_stages(spark, meter, args, root) -> None:
    docs = load_table(spark, "documents", args.sf_dir).select("doc_id", "text")
    n_base = docs.count()

    corpus = (
        docs.crossJoin(
            spark.range(args.copies).select(F.col("id").alias("__copy"))
        )
        .select(
            (F.col("doc_id") + F.col("__copy") * STRIDE).alias("doc_id"),
            "text",
        )
    )
    n_corpus = corpus.count()
    print(f"corpus: {n_base} base docs x {args.copies} = {n_corpus} rows")

    def exact_then_near() -> int:
        # EAGER: drop_near_duplicates consumes this frame from five plan
        # positions, some under broadcast subtrees that materialize on a
        # separate thread — a lazy checkpoint lets two threads race the
        # first materialization (duplicate-block warnings; and once any
        # short-lived query owns the racing stage, orphaned-accumulator
        # ERROR logs). Same total work, sequenced.
        survivors = dd.drop_exact_duplicates(
            corpus, "text", "doc_id"
        ).localCheckpoint(eager=True)
        return dd.drop_near_duplicates(
            survivors,
            "text",
            "doc_id",
            threshold=0.5,
            stop_shingle_frac=0.5,
            max_bucket_size=500,
        ).count()

    kept_designed, dt = meter.run("exact+near dedup", exact_then_near)
    print(
        f"  {n_corpus} -> {kept_designed} kept "
        f"({n_corpus / dt:,.0f} docs/s; expect ~base cluster count)",
        flush=True,
    )

    kept, dt = meter.run(
        "raw near-dup",
        lambda: dd.drop_near_duplicates(
            corpus,
            "text",
            "doc_id",
            threshold=0.5,
            stop_shingle_frac=0.5,
            max_bucket_size=500,
        ).count(),
    )
    print(
        f"  {n_corpus} -> {kept} kept ({n_corpus / dt:,.0f} docs/s; "
        "cap-bound above multiplicity 500/bucket-size — see header)",
        flush=True,
    )

    _, _ = meter.run(
        "lsh_index build+write",
        lambda: dd.lsh_index(corpus, "text", "doc_id").write.parquet(
            f"{root}/index"
        ),
    )
    idx = spark.read.parquet(f"{root}/index")

    # worst-case ingest batch: a full replica of base content (every
    # doc near-matches `copies` indexed twins); ids disjoint again
    batch = docs.limit(args.batch_size).select(
        (F.col("doc_id") + F.lit((args.copies + 1) * STRIDE)).alias(
            "doc_id"
        ),
        "text",
    )
    nb = batch.count()
    survivors, _ = meter.run(
        "incremental clean",
        lambda: dd.drop_near_duplicates_incremental(
            batch, idx, "text", "doc_id", threshold=0.5
        ).count(),
    )
    print(
        f"  {nb}-doc replica batch -> {survivors} survivors "
        "(expect ~0)",
        flush=True,
    )

    # --- corpus prep over the full replicated corpus -----------------
    bp = remove_boilerplate(
        corpus,
        "text",
        "doc_id",
        delimiter=" ",
        max_doc_frac=0.79,
        min_doc_count=2,
    )
    (bp_rows, bp_peak), _ = meter.run(
        "boilerplate removal", lambda: partition_stats(bp)
    )
    print(
        f"  {n_corpus} -> {bp_rows} docs kept, "
        f"peak partition rows={bp_peak:,}",
        flush=True,
    )

    # --- repetition-quality filter (zero-shuffle per-row pass) -------
    # NOTE: being shuffle-free, its parallelism equals the INPUT
    # partitioning — the synthetic crossJoin corpus has few splits,
    # so the reported docs/s is near-single-core; real corpora get
    # one task per file split.
    from hrtech_etl_spark.functions.text import repetition_signals

    sig = repetition_signals(corpus, "text", "doc_id")
    keep = sig.where(
        (F.col("dup_line_frac") <= 0.3)
        & (F.col("top_ngram_char_frac") <= 0.2)
    )
    (q_rows, q_peak), q_dt = meter.run(
        "repetition-quality filter", lambda: partition_stats(keep)
    )
    print(
        f"  {n_corpus} scored -> {q_rows} kept at the published "
        f"thresholds ({n_corpus / q_dt:,.0f} docs/s; "
        f"peak partition rows={q_peak:,})",
        flush=True,
    )

    # Exact substring duplication over the cloned corpus is the
    # WORST case for duplicate_span_stats: every 20-gram occurs in
    # all copies, so the dup set is every distinct shingle and every
    # shingle row survives to the per-doc interval merge (dup_frac=1
    # for all docs). Exercises the shuffle-join fallback (dup set too
    # big to broadcast) and the doc-id window at full fan-in.
    def substring_stats() -> tuple:
        st = dd.duplicate_span_stats(corpus, "text", "doc_id", k=20)
        return partition_stats(st)

    (ss_rows, ss_peak), ss_dt = meter.run(
        "substring-span stats", substring_stats
    )
    print(
        f"  {n_corpus} docs -> {ss_rows} profiled, all-duplicate "
        f"worst case ({n_corpus / ss_dt:,.0f} docs/s; "
        f"peak partition rows={ss_peak:,})",
        flush=True,
    )

    shards = shuffled_shards(corpus, "doc_id", seed=7, n_shards=64)
    per_shard, _ = meter.run(
        "shuffle+shard",
        lambda: shards.groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect(),
    )
    sizes = sorted(r["n"] for r in per_shard)
    print(
        f"  {sum(sizes)} rows over {len(sizes)} shards, "
        f"min={sizes[0]:,} max={sizes[-1]:,} "
        f"(skew {sizes[-1] / max(1, sizes[0]):.2f}x)",
        flush=True,
    )


def run_cdc_stage(spark, meter, args, root) -> None:
    # --- content-defined chunking over the replicated corpus ---------
    from hrtech_etl_spark.functions.dedup import content_defined_chunks

    docs = load_table(spark, "documents", args.sf_dir).select(
        "doc_id", "text"
    )
    n_base = docs.count()
    corpus = docs.crossJoin(
        spark.range(args.copies).select(F.col("id").alias("__copy"))
    ).select(
        (F.col("doc_id") + F.col("__copy") * STRIDE).alias("doc_id"),
        "text",
    )
    n_corpus = n_base * args.copies

    def chunk_profile():
        ch = content_defined_chunks(corpus, "text", "doc_id")
        return partition_stats(ch)

    (n_chunks, peak), dt = meter.run("cdc chunk+hash", chunk_profile)
    print(
        f"  {n_corpus:,} docs -> {n_chunks:,} chunks "
        f"({n_corpus / dt:,.0f} docs/s, {n_chunks / dt:,.0f} chunks/s; "
        f"peak partition rows={peak:,})",
        flush=True,
    )
    # every chunk of a replica collides with its twin across copies:
    # the dup fraction must approach 1 as copies grow
    def dup_frac():
        ch = content_defined_chunks(corpus, "text", "doc_id")
        counts = ch.groupBy("chunk_md5").agg(
            F.count(F.lit(1)).alias("c")
        )
        row = (
            ch.join(counts, "chunk_md5")
            .agg(
                (
                    F.sum(F.when(F.col("c") >= 2, 1).otherwise(0))
                    / F.count(F.lit(1))
                ).alias("f")
            )
            .collect()[0]
        )
        return float(row["f"])

    frac, dt = meter.run("cdc corpus dup-frac", dup_frac)
    print(
        f"  dup chunk fraction {frac:.4f} "
        f"(expect ~1.0 at copies={args.copies})",
        flush=True,
    )


def run_graph_stages(spark, meter, args, root) -> None:
    # --- PageRank over a replicated co-occurrence graph --------------
    # replicas are disconnected copies with strided node ids: job and
    # stage counts must stay FLAT as --graph-copies grows (the driver
    # loop is fixed at 8 iterations; only partition row counts scale)
    from hrtech_etl_spark.operators.graph import pagerank

    li = load_table(spark, "lineitem", args.sf_dir).where(
        F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
    )
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a, b = op.alias("a"), op.alias("b")
    e2 = (
        a.join(
            b,
            (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")),
        )
        .select(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
        .distinct()
    )
    edges = e2.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionByName(
        e2.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    scaled = edges.crossJoin(
        spark.range(args.graph_copies).select(F.col("id").alias("__copy"))
    ).select(
        (F.col("src") + F.col("__copy") * STRIDE).alias("src"),
        (F.col("dst") + F.col("__copy") * STRIDE).alias("dst"),
    )
    n_edges = edges.count() * args.graph_copies

    def rank():
        pr = pagerank(scaled, iterations=8)
        return partition_stats(pr)

    (n_nodes, peak), dt = meter.run("graph pagerank 8 iters", rank)
    print(
        f"  {n_edges:,} edges, {n_nodes:,} nodes ranked "
        f"({n_edges * 8 / dt:,.0f} edge-visits/s; "
        f"peak partition rows={peak:,})",
        flush=True,
    )


def run_skew_stages(spark, meter, args, root) -> None:
    # --- salted paths under a REAL hot spot ---------------------------
    # The gated entries (agg_salted_skew / join_salted_skew) prove the
    # salted plans are value-identical to the plain ones, but the sf
    # fixtures have no genuinely pathological key. This stage drives
    # the same operators on --skew-rows synthetic rows where ONE key
    # holds 30% of the table (the shape that melts a single reducer at
    # 100 TB) and asserts, against a same-size uniform twin:
    #   1. job counts FLAT in both data volume (rows/10 vs rows) and
    #      skew (skewed vs uniform) — salting is a fixed plan shape,
    #      not a data-dependent rescue;
    #   2. straggler ratio (skewed wall / uniform wall) <= 2.0 per op —
    #      the hot key's work really did fan out over the salts;
    #   3. the hot key NEVER concentrates: peak partition rows of the
    #      salted join output < half the hot-key row count (unsalted,
    #      all of it would sit in one task's partition);
    #   4. value spot-checks vs the plain plans (sum/count/distinct on
    #      the hot key; join row count) so the smoke can't silently
    #      drift from the gated semantics.
    from hrtech_etl_spark.operators.skew import (
        salted_count_distinct,
        salted_join,
        salted_sum_count,
    )

    n = args.skew_rows
    n_keys = 100_000

    def synth(n_rows: int, skewed: bool):
        # key 0 takes a deterministic 30% of rows in the skewed frame;
        # the remaining rows (and the whole uniform twin) spread over
        # n_keys via xxhash64 — same generator, same row count, so the
        # skew/uniform timing ratio isolates the hot spot itself.
        uniform = F.pmod(F.xxhash64(F.col("id")), F.lit(n_keys)).cast("long")
        key = (
            F.when((F.col("id") % 100) < 30, F.lit(0).cast("long")).otherwise(uniform)
            if skewed
            else uniform
        )
        return spark.range(n_rows).select(
            F.col("id"),
            key.alias("key"),
            (F.col("id") % 997).cast("double").alias("value"),
        )

    def agg(df):
        sums = salted_sum_count(df, ["key"], "value", salt_col="id", n_salts=16)
        dist = salted_count_distinct(df, ["key"], "value", n_salts=16)
        return sums.join(dist, "key").count()

    # dim: one row per key, padded so 8x replication stays comfortably
    # under the 64m broadcast threshold but the join is still a real
    # shuffle join when we disable broadcasting below.
    dim = spark.range(n_keys).select(
        F.col("id").alias("key"),
        F.md5(F.col("id").cast("string")).alias("attr"),
    )

    def join_stats(df):
        out = salted_join(
            df, dim, "key", fact_unique_col="id", n_salts=16
        )
        return partition_stats(out)

    # jobs must be flat across a 10x volume step (skewed both times)
    small = synth(max(n // 10, 10), skewed=True)
    big_skew = synth(n, skewed=True)
    big_uni = synth(n, skewed=False)

    def ab_min(label: str, fn_skew, fn_uni, reps: int = 3):
        # Honest A/B under host noise: one UNTIMED full-size warmup per
        # variant (janino codegen + JIT compile of each plan's
        # generated classes costs whole seconds the first few runs —
        # the round-11 phantom-regression lesson), then `reps`
        # alternating timed runs so drift hits both variants equally;
        # compare MINs (steady-state plan cost).
        meter.run(f"{label} (hot 30%) warmup", fn_skew)
        meter.run(f"{label} (uniform) warmup", fn_uni)
        best_s = best_u = None
        out_s = out_u = None
        for i in range(reps):
            o, dt = meter.run(f"{label} (hot 30%) run{i + 1}", fn_skew)
            if best_s is None or dt < best_s:
                best_s, out_s = dt, o
            o, dt = meter.run(f"{label} (uniform) run{i + 1}", fn_uni)
            if best_u is None or dt < best_u:
                best_u, out_u = dt, o
        return out_s, best_s, out_u, best_u

    _, _ = meter.run(f"skew agg warmup x{max(n // 10, 10):,}", lambda: agg(small))
    jobs_small = _last_jobs(meter)
    _, t_agg_skew, _, t_agg_uni = ab_min(
        f"skew agg salted x{n:,}", lambda: agg(big_skew), lambda: agg(big_uni)
    )
    jobs_big = _last_jobs(meter)
    if jobs_small != jobs_big:
        raise AssertionError(
            f"salted agg job count grew with volume: {jobs_small} -> {jobs_big}"
        )
    ratio_agg = t_agg_skew / t_agg_uni
    print(f"  agg straggler ratio (skew/uniform): {ratio_agg:.2f}", flush=True)
    if ratio_agg > 2.0:
        raise AssertionError(f"salted agg straggler ratio {ratio_agg:.2f} > 2.0")

    # force the shuffle-join path — salted_join exists precisely for
    # the dim-too-big-to-broadcast case; restore the session threshold
    # afterwards so later stage groups are unaffected.
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        meter.run(
            f"skew join warmup x{max(n // 10, 10):,}", lambda: join_stats(small)
        )
        jobs_small_j = _last_jobs(meter)
        (rows_skew, peak_skew), t_join_skew, (_, peak_uni), t_join_uni = ab_min(
            f"skew join salted x{n:,}",
            lambda: join_stats(big_skew),
            lambda: join_stats(big_uni),
        )
        jobs_big_j = _last_jobs(meter)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    if jobs_small_j != jobs_big_j:
        raise AssertionError(
            f"salted join job count grew with volume: {jobs_small_j} -> {jobs_big_j}"
        )
    ratio_join = t_join_skew / t_join_uni
    hot_rows = int(n * 0.3)
    print(
        f"  join straggler ratio: {ratio_join:.2f}; output peak partition "
        f"rows skew={peak_skew:,} uniform={peak_uni:,} (hot key rows={hot_rows:,})",
        flush=True,
    )
    if ratio_join > 2.0:
        raise AssertionError(f"salted join straggler ratio {ratio_join:.2f} > 2.0")
    if peak_skew >= hot_rows // 2:
        raise AssertionError(
            f"hot key concentrated: peak partition {peak_skew:,} >= "
            f"{hot_rows // 2:,} (salting failed to spread it)"
        )

    # value spot-checks vs the PLAIN plans on the skewed frame
    plain_hot = (
        big_skew.where(F.col("key") == 0)
        .agg(
            F.sum("value").alias("s"),
            F.count(F.lit(1)).alias("c"),
            F.countDistinct("value").alias("d"),
        )
        .collect()[0]
    )
    salted_hot = (
        salted_sum_count(big_skew, ["key"], "value", salt_col="id", n_salts=16)
        .join(salted_count_distinct(big_skew, ["key"], "value", n_salts=16), "key")
        .where(F.col("key") == 0)
        .collect()[0]
    )
    assert (
        abs(salted_hot["sum_value"] - plain_hot["s"]) < 1e-6 * max(1.0, abs(plain_hot["s"]))
        and salted_hot["n"] == plain_hot["c"]
        and salted_hot["n_distinct_value"] == plain_hot["d"]
    ), f"salted hot-key values diverged: {salted_hot} vs {plain_hot}"
    plain_join_rows = big_skew.join(dim, "key").count()
    assert rows_skew == plain_join_rows, (
        f"salted join row count {rows_skew:,} != plain {plain_join_rows:,}"
    )
    print(
        f"  hot-key values exact vs plain plans; join rows exact "
        f"({rows_skew:,})",
        flush=True,
    )


def run_rank_stage(spark, meter, args, root) -> None:
    # --- distributed exact global rank at --rank-rows -----------------
    # The round-13 rewrite (operators/ranking.py) replaced the two
    # unpartitioned global windows; the gated entries pin the oracle
    # hash at the SFs, this stage pins the SCALE shape at 10M rows with
    # heavy ties (10 rows per value):
    #   1. zero Window nodes with an empty partitionSpec anywhere in
    #      the optimized plan (the thing that melts one executor);
    #   2. peak partition rows stay bucket-sized, never table-sized;
    #   3. closed-form exactness invariants over the FULL output —
    #      sum(row_number) == n(n+1)/2 and max == n (total order is a
    #      permutation), per-value rank == min(row_number) of the tie
    #      group (rank semantics), max(dense_rank) == countDistinct
    #      (value), ntile(100) counts differ by <= 1;
    #   4. job count FLAT in data volume (rows/10 vs rows).
    from hrtech_etl_spark.core.partitioning import unpartitioned_windows
    from hrtech_etl_spark.operators.ranking import with_global_ranks

    def synth(n_rows: int):
        return spark.range(n_rows).select(
            F.col("id"),
            (F.col("id") % (n_rows // 10)).cast("double").alias("value"),
        )

    def rank_all(n_rows: int):
        ranked = with_global_ranks(
            synth(n_rows),
            "value",
            ("id",),
            row_number="rn",
            rank="rnk",
            dense_rank="drnk",
            ntile={"pct": 100},
        )
        assert unpartitioned_windows(ranked) == 0, "empty partitionSpec"
        # the four verification actions below each replay the rank
        # plan otherwise (the smoke paid ~4x the plan's cost)
        ranked = ranked.localCheckpoint(eager=False)
        total, peak = partition_stats(ranked)
        agg = ranked.agg(
            F.sum("rn").alias("s"),
            F.max("rn").alias("mx"),
            F.max("drnk").alias("dmx"),
            F.countDistinct("value").alias("nv"),
        ).collect()[0]
        assert agg["s"] == n_rows * (n_rows + 1) // 2, "rn not a permutation"
        assert agg["mx"] == n_rows
        assert agg["dmx"] == agg["nv"], "dense_rank vs distinct values"
        bad_rank = (
            ranked.groupBy("value")
            .agg(F.min("rn").alias("lo"), F.min("rnk").alias("r1"), F.max("rnk").alias("r2"))
            .where((F.col("r1") != F.col("r2")) | (F.col("r1") != F.col("lo")))
            .count()
        )
        assert bad_rank == 0, "rank != min(row_number) within a tie group"
        tiles = ranked.groupBy("pct").count().agg(
            F.max("count") - F.min("count")
        ).collect()[0][0]
        assert tiles <= 1, f"ntile spread {tiles}"
        return total, peak

    (total_s, peak_s), _ = meter.run(
        f"rank {args.rank_rows // 10:,} rows", lambda: rank_all(args.rank_rows // 10)
    )
    jobs_small = meter.last_jobs
    (total, peak), _ = meter.run(
        f"rank {args.rank_rows:,} rows", lambda: rank_all(args.rank_rows)
    )
    jobs_big = meter.last_jobs
    assert total == args.rank_rows
    assert peak < total // 4, f"peak partition {peak:,} of {total:,}"
    assert jobs_big <= jobs_small + 2, (
        f"job count grows with volume: {jobs_small} -> {jobs_big}"
    )
    print(
        f"  exactness invariants green at {total_s:,} and {total:,} rows; "
        f"peak partition {peak:,} ({peak / total:.1%}); "
        f"jobs {jobs_small} -> {jobs_big}",
        flush=True,
    )


def run_semantic_stage(spark, meter, args, root) -> None:
    # --- SemDeDup over a replicated embedding corpus -------------------
    # The round-14 stage proving semantic_dedup's scale shape: the
    # sf0.1 embeddings replicated --sem-copies times (500 -> the
    # 1M-vector README run) with a per-copy jitter LARGE enough
    # (0.02/dim) that replicas are NOT semantic twins — except every
    # 50th copy, which reuses its predecessor's jitter plus a 1e-6
    # nudge, planting n_base * ~copies/50 KNOWN twin pairs. Vectors
    # are the FIRST --sem-dim (default 16) components of the stored
    # embeddings: dimensionality is orthogonal to everything this
    # stage asserts (blocking geometry, valve, job-count flatness,
    # component recall), and the within-cluster pair join is an
    # interpreted higher-order cosine — at 64 dims the 1M run is
    # ~10^11 element-ops, hours on local[32], minutes on a cluster;
    # 16 dims keeps the identical PLAN measurable locally (the gated
    # dedup_semantic_prune entry runs the full 64-dim operator at the
    # SFs). n_centroids SCALES with the corpus (N / 2000 ->
    # ~2000-member clusters), the thing the valve exists to enforce;
    # the assertions are:
    #   1. every planted twin pair lands in ONE component, never both
    #      kept (full recall of the planted semantic twins; a pair
    #      swallowed by a larger real-collision component may keep
    #      neither — its keeper sits elsewhere in the component);
    #   2. kept count within [N - n_pairs - slack, N - n_pairs]: each
    #      planted pair drops exactly one member, and the slack bounds
    #      the few GENUINE near-identical --sem-dim prefixes real
    #      embedding data carries plus the far tail of the jitter
    #      distribution over C(copies,2) same-base pairs;
    #   3. job count FLAT in corpus size (copies/10 vs copies) — the
    #      blocked pair join + touched-set clustering never add plan
    #      stages with volume;
    #   4. peak partition stays bucket-sized (no single-node collapse);
    #   5. the run holds under the default max_cluster_size valve —
    #      scaled k keeps every cluster under the cap.
    from hrtech_etl_spark.functions import similarity as sim

    base = load_table(spark, "embeddings", args.sf_dir).select(
        "vec_id", F.slice("embedding", 1, args.sem_dim).alias("embedding")
    )
    n_base = base.count()

    from hrtech_etl_spark.functions.hashing import portable_hash

    def _jit(key_col, i, sep, amp):
        # uniform ±amp, INDEPENDENT per (key, dim) via the portable
        # md5 hash — a sin(copy*(i+1)) stream is near-periodic, and on
        # a LOW-dim prefix two copies ~2πk apart produce almost the
        # same first-16 jitter pattern (false planted twins — the bug
        # the first 16-dim run of this stage hit: 86,292 kept vs the
        # expected 98,000)
        h = portable_hash(
            F.concat_ws(sep, key_col.cast("string"), i.cast("string"))
        )
        return (F.pmod(h, F.lit(2001)) - 1000).cast("double") / 1000.0 * amp

    def corpus(copies: int):
        # twin copies (copy % 50 == 1) reuse the PREVIOUS copy's jitter
        # stream, so (base + (c-1)*STRIDE, base + c*STRIDE) are planted
        # near-identical pairs; everyone else sits ~0.013 cosine apart
        # from every other replica of the same base — far below
        # tau=0.9995, far above any cluster-assignment ambiguity
        eff = (
            F.col("__copy")
            - (F.col("__copy") % 50 == 1).cast("int")
        )
        return (
            base.crossJoin(
                spark.range(copies).select(F.col("id").alias("__copy"))
            )
            .select(
                (F.col("vec_id") + F.col("__copy") * STRIDE).alias("vec_id"),
                F.transform(
                    "embedding",
                    lambda x, i: (
                        x.cast("double")
                        + _jit(eff, i, ":", 0.02)
                        + _jit(F.col("__copy"), i, ";", 1e-6)
                    ).cast("float"),
                ).alias("embedding"),
            )
            .repartition(64, "vec_id")
        )

    def run_once(copies: int):
        vecs = corpus(copies)
        n = n_base * copies
        k = max(8, n // 2000)
        out = sim.semantic_dedup(
            vecs, n_centroids=k, threshold=0.9995
        ).localCheckpoint(eager=False)
        total = out.count()
        # the operator's real hot-spot metric is CLUSTER population
        # (the pair join is quadratic per cluster) — partition stats on
        # the final label frame only measure AQE's small-output packing
        peak = (
            out.groupBy("cid").count().agg(F.max("count")).collect()[0][0]
        )
        assert total == n, f"row count {total:,} != {n:,}"
        kept = out.where("keep").count()
        n_pairs = n_base * sum(1 for c in range(copies) if c % 50 == 1)
        # band, not equality: same-base replica pairs can land in the
        # +/-0.02 jitter distribution's far tail and merge for real —
        # their count scales with C(copies, 2), so the slack is a
        # corpus FRACTION (1%), not a constant; tau=0.9995 keeps the
        # expected tail in the tens at 1M (at tau=0.999 it was 10.5k).
        # Extra merges only reduce keeps, so the lower edge bounds
        # collision volume and the upper edge still proves every
        # planted pair dropped exactly one member. The 12%-shortfall
        # false-twin fixture bug this stage once had trips this band
        # loudly.
        slack = max(100, n // 100)
        assert n - n_pairs - slack <= kept <= n - n_pairs, (
            f"kept {kept:,}, expected [{n - n_pairs - slack:,}, "
            f"{n - n_pairs:,}] ({n:,} vectors - {n_pairs:,} planted "
            f"twin pairs - <= {slack:,} real near-dup collisions)"
        )
        x = out.select(
            F.col("vec_id").alias("a"),
            F.col("component").alias("ca"),
            F.col("keep").cast("int").alias("ka"),
        )
        y = out.select(
            (F.col("vec_id") + STRIDE).alias("a"),
            F.col("component").alias("cb"),
            F.col("keep").cast("int").alias("kb"),
        )
        tw = x.join(y, "a").where(F.floor(F.col("a") / STRIDE) % 50 == 1)
        n_tw = tw.count()
        assert n_tw == n_pairs, f"twin join found {n_tw:,} of {n_pairs:,}"
        # recall: every planted pair in ONE component (never split) and
        # never both kept; a pair merged into a larger real-collision
        # component may keep neither (its keeper sits elsewhere)
        bad = tw.where(
            (F.col("ca") != F.col("cb")) | (F.col("ka") + F.col("kb") > 1)
        ).count()
        assert bad == 0, f"{bad} planted twin pairs split or double-kept"
        return total, peak, kept, k

    small = max(10, args.sem_copies // 10)
    (t_s, _, _, k_s), _ = meter.run(
        f"semantic dedup {n_base * small:,} vectors (k={max(8, n_base * small // 2000)})",
        lambda: run_once(small),
    )
    jobs_small = meter.last_jobs
    (total, peak, kept, k), dt = meter.run(
        f"semantic dedup {n_base * args.sem_copies:,} vectors "
        f"(k={max(8, n_base * args.sem_copies // 2000)})",
        lambda: run_once(args.sem_copies),
    )
    jobs_big = meter.last_jobs
    assert peak <= 20_000, f"cluster {peak:,} members — valve should have fired"
    assert jobs_big <= jobs_small + 2, (
        f"job count grows with volume: {jobs_small} -> {jobs_big}"
    )
    print(
        f"  planted-twin recall 100% at {t_s:,} and {total:,} vectors; "
        f"kept {kept:,}; max cluster {peak:,} members ({peak / total:.1%} "
        f"of corpus, under the 20k valve); "
        f"jobs {jobs_small} -> {jobs_big} ({total / dt:,.0f} vec/s)",
        flush=True,
    )


def _last_jobs(meter) -> int:
    """Job count of the most recent StageMeter.run (its label group)."""
    return meter.last_jobs


if __name__ == "__main__":
    main()
