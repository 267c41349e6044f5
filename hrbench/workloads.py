"""The three closed-loop workloads (one client each).

Each workload:

- ``generate()`` writes its seeded inputs and computes what the
  reference checks need (once per run, outside set-up and timing);
- ``reset(spark)`` is the repeated part of set-up, run after each
  session (re)start: the workload's first call into the engine; it
  returns the time of that call;
- ``land(i)`` does the untimed preparation of op ``i`` and returns its
  item count;
- ``kind()`` names the kind of op ``land`` prepared (the stratum its
  latency is summarized in);
- ``round_done()`` tells whether the ops so far make whole rounds (every
  query of the mix, three sync ticks); the timed phase ends only at the
  end of a round;
- ``op(spark)`` is the timed call into the engine;
- ``check(result)`` compares the op's output with the reference
  (untimed) and returns False on a wrong result;
- ``generated()`` reports how much input the generator produced;
- ``layers(spans, ops, results)`` turns traced ops into the per-layer
  metrics.

Spans are recorded around every call into a layer's public functions;
the span name is ``<layer>:<call>``.
"""

from __future__ import annotations

import copy
import datetime as dt
import os
import re
import shutil
import statistics
import time

import duckdb
import numpy as np
from pyspark.sql import functions as F

from hrbench import gen
from hrbench.trace import EventLog, Span, Tracer, owner, self_times, task_skew

# ---------------------------------------------------------------------------
# per-layer arithmetic shared by the workloads
# ---------------------------------------------------------------------------


class OpTrace:
    """The spans, stages, jobs and SQL metrics of one traced op."""

    def __init__(self, op: int, spans: list[Span], selfs: list[float], idx: list[int]):
        self.op = op
        self.idx = idx
        self.self_by_idx = {i: selfs[i] for i in idx}
        self.stages: dict[int, list] = {i: [] for i in idx}
        self.jobs: dict[int, int] = {i: 0 for i in idx}
        self.sql: dict[int, dict] = {i: {} for i in idx}

    def layer_self(self, layer: str, spans: list[Span]) -> float:
        return sum(t for i, t in self.self_by_idx.items()
                   if spans[i].layer == layer)

    def under(self, spans: list[Span], pred) -> list[int]:
        """Span indices whose own name or an ancestor's matches pred."""
        out = []
        for i in self.idx:
            j = i
            while j is not None:
                if pred(spans[j].name):
                    out.append(i)
                    break
                j = spans[j].parent
        return out

    def stages_of(self, idxs) -> list:
        return [st for i in idxs for st in self.stages[i]]

    def sql_sum(self, idxs, name: str) -> int:
        return sum(self.sql[i].get(name, 0) for i in idxs)


def attribute(spans: list[Span], log: EventLog | None) -> dict[int, OpTrace]:
    """Group traced spans by op and hang each stage, job and SQL
    execution on the innermost span open when it started."""
    selfs = self_times(spans)
    by_op: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.op is not None:
            by_op.setdefault(s.op, []).append(i)
    ops = {op: OpTrace(op, spans, selfs, idx) for op, idx in by_op.items()}
    if log is None:
        return ops
    for st in log.stages:
        i = owner(spans, st.submitted)
        if i is not None and spans[i].op in ops:
            ops[spans[i].op].stages[i].append(st)
    for t in log.jobs:
        i = owner(spans, t)
        if i is not None and spans[i].op in ops:
            ops[spans[i].op].jobs[i] += 1
    for t, vals in log.sql:
        i = owner(spans, t)
        if i is not None and spans[i].op in ops:
            d = ops[spans[i].op].sql[i]
            for k, v in vals.items():
                d[k] = d.get(k, 0) + v
    return ops


def med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def exec_metrics(spans: list[Span], ops: list[OpTrace]) -> dict:
    """Per-op medians of the Spark execution counters and of the input
    the op's scans read, all from the event log."""
    per = []
    for o in ops:
        st = o.stages_of(o.idx)
        per.append((len(st), sum(len(s.task_ms) for s in st),
                    sum(s.shuffle_bytes for s in st), sum(s.spill_bytes for s in st),
                    sum(s.gc_ms for s in st) / 1000.0, task_skew(st),
                    sum(s.input_bytes for s in st),
                    o.sql_sum(o.idx, "number of files read")))
    cols = list(zip(*per)) if per else [()] * 8
    return {"exec.stages": med(cols[0]), "exec.tasks": med(cols[1]),
            "exec.shuffle_bytes": med(cols[2]), "exec.spill_bytes": med(cols[3]),
            "exec.gc_s": med(cols[4]), "exec.task_skew": med(cols[5]),
            "sources.bytes_read": med(cols[6]), "sources.files_read": med(cols[7])}


def layer_time(spans, ops, layer) -> float:
    return med(o.layer_self(layer, spans) for o in ops)


def span_time(spans, ops, name) -> float:
    return med(sum(o.self_by_idx[i] for i in o.idx if spans[i].name == name) for o in ops)


def attributed(spans, ops) -> float:
    """Median per op of the self time of every layer span — the op's
    time that the layers account for (the op root's own self time is
    benchmark glue and is left out)."""
    return med(sum(t for i, t in o.self_by_idx.items() if spans[i].layer != "op")
               for o in ops)


def result_digest(cols: list[str], rows: list[tuple]) -> str:
    from tools.oracle_check import result_hash

    return result_hash(cols, rows)


# ---------------------------------------------------------------------------
# sync_ticks
# ---------------------------------------------------------------------------


class SyncTicks:
    """Pull → format → upsert with a durable cursor, then one
    availableNow drain of profile webhooks into an upserted target.

    Set-up brings the targets to their starting state: the first
    repetition bootstraps them from the backfill, each later one lands
    and merges one tick on top, so the merge path into an existing
    target has run before timing starts. Every timed tick then starts
    from a snapshot of that state and lands the same next tick, so each
    op does the same work however many of them a run gets through. A
    round is three ticks: the first timed tick still carries some JIT
    warm-up, and the median of three leaves it out."""

    name = "sync_ticks"
    TICKS_PER_ROUND = 3

    def __init__(self, work: str, seed: int, sizes: dict, tracer: Tracer):
        from hrtech_etl_spark.core.types import Condition, Operator

        self.work, self.seed, self.sizes, self.tr = work, seed, sizes, tracer
        self.where = [Condition("status", Operator.IN, gen.PULL_STATUSES)]
        self.having = [Condition("board_key", Operator.IN, gen.HAVING_BOARDS)]
        self.mapping = [{"from": "job_id", "to": "job_id"}, {"from": "title", "to": "name"},
                        {"from": "status", "to": "status"}, {"from": "board_key", "to": "board_key"},
                        {"from": "created_at", "to": "created_at"},
                        {"from": "updated_at", "to": "updated_at"},
                        {"from": "created_month", "to": "created_month"},
                        {"from": "payload", "to": "payload"}]
        self.rep = -1
        self.land_info: dict[int, dict] = {}

    def generate(self) -> None:
        """Nothing up front: ticks are landed one by one in land()."""

    def generated(self) -> dict:
        g = self.gen
        return {"ticks": g.ticks, "job_rows": g.rows_generated,
                "payloads": g.payloads_generated, "malformed": g.malformed_generated}

    def reset(self, spark) -> float:
        self.rep += 1
        if self.rep == 0:
            self._bootstrap_state()
        self.land(-1 - self.rep)
        t0 = time.perf_counter()
        self.op(spark)
        return time.perf_counter() - t0

    def _bootstrap_state(self) -> None:
        from hrtech_etl_spark.connectors import TableConnector
        from hrtech_etl_spark.core.state import CursorStore
        from hrtech_etl_spark.operators.events import CONNECTOR_EVENT_SPECS
        from hrtech_etl_spark.streaming.pipelines import StreamMetrics, foreach_batch_upsert

        self.root = root = os.path.join(self.work, "sync")
        shutil.rmtree(root, ignore_errors=True)
        s = self.sizes
        self.gen = gen.SyncTicks(self.seed, root, backfill_rows=s["backfill_rows"],
                                 rows_per_tick=s["rows_per_tick"],
                                 payloads_per_tick=s["payloads_per_tick"],
                                 n_profiles=s["n_profiles"])
        self.conn = TableConnector(root=os.path.join(root, "src"))
        self.store = CursorStore(os.path.join(root, "state"))
        self.jobs_target = os.path.join(root, "target", "jobs")
        self.prof_target = os.path.join(root, "target", "profiles")
        self.ckpt = os.path.join(root, "ckpt", "webhooks")
        self.spec = CONNECTOR_EVENT_SPECS["warehouse_a.profiles"]
        self.smetrics = StreamMetrics()
        merge = foreach_batch_upsert(self.prof_target, ["profile_id"],
                                     order_cols=[F.col("occurred_at"), F.col("event_id")],
                                     metrics=self.smetrics)

        def sink(df, batch_id):
            with self.tr.span("upsert:stream_merge_upsert"):
                merge(df, batch_id)

        self.sink = sink
        self.land_info = {}
        self.snap = None

    def land(self, i: int) -> int:
        """Land tick ``i`` (set-up repetitions pass negative ``i``); a
        timed tick first returns to the state set-up left."""
        if i >= 0:
            if self.snap is None:
                self.snap = self.root + ".snap"
                shutil.copytree(self.root, self.snap)
                self.snap_gen = copy.deepcopy(self.gen)
            else:
                shutil.rmtree(self.root)
                shutil.copytree(self.snap, self.root)
                self.gen = copy.deepcopy(self.snap_gen)
        info = self.gen.land()
        t = self.gen.ticks - 1
        info["jobs_bytes"] = os.path.getsize(os.path.join(self.gen.jobs_dir, f"part-{t:05d}.parquet"))
        info["hook_bytes"] = os.path.getsize(os.path.join(self.gen.webhooks_dir, f"tick-{t:05d}.jsonl"))
        info["pulled"] = sum(1 for s in self.gen.job_rows[-1]["status"].to_pylist()
                             if s in gen.PULL_STATUSES)
        self.land_info[i] = info
        return info["rows"] + info["payloads"]

    def kind(self) -> str:
        return "tick"

    def round_done(self) -> bool:
        return sum(i >= 0 for i in self.land_info) % self.TICKS_PER_ROUND == 0

    def op(self, spark):
        from hrtech_etl_spark.core.expressions import conditions_to_column
        from hrtech_etl_spark.core.state import resume_cursor
        from hrtech_etl_spark.core.types import Cursor, CursorMode, Resource
        from hrtech_etl_spark.operators.events import parse_connector_events
        from hrtech_etl_spark.operators.upsert import merge_upsert
        from hrtech_etl_spark.pipeline import pull
        from hrtech_etl_spark.plans.mapping import build_mapping_projection
        from hrtech_etl_spark.streaming.pipelines import run_available_now

        tr = self.tr
        with tr.span("state:resume_cursor"):
            cur = resume_cursor(self.store, "jobs", Cursor(mode=CursorMode.UPDATED_AT))
        with tr.span("sources:read_resource"):
            src = self.conn.read_resource(spark, Resource.JOB)
        with tr.span("plans:build"):
            build_mapping_projection(self.mapping)
            conditions_to_column(self.where)
            conditions_to_column(self.having)
        with tr.span("pipeline:pull"):
            res = pull(src, cursor=cur, cursor_col="updated_at", uid_col="job_id",
                       where=self.where, having=self.having, mapping=self.mapping)
        if res.cursor is not cur:
            with tr.span("upsert:merge_upsert"):
                merge_upsert(spark, self.jobs_target, res.dataframe, ["job_id"],
                             order_cols=[F.col("updated_at")], partition_col="created_month")
            with tr.span("state:save"):
                self.store.save("jobs", res.cursor)
        batches0, rows0 = self.smetrics.batches, self.smetrics.rows_written
        with tr.span("streaming:drain"):
            stream = spark.readStream.format("text").load(self.gen.webhooks_dir)
            parsed = parse_connector_events(stream, "value", self.spec)
            run_available_now(parsed, checkpoint=self.ckpt, foreach_batch=self.sink)
        return {"batches": self.smetrics.batches - batches0,
                "events": self.smetrics.rows_written - rows0,
                "errors": list(self.smetrics.errors)}

    def check(self, result) -> bool:
        if result["errors"]:
            return False
        cur = self.store.load("jobs")
        want_end, want_uid = self.gen.last_pull_end
        got_end = dt.datetime.fromisoformat(str(cur.end)).replace(tzinfo=dt.timezone.utc)
        if (got_end, cur.end_uid) != (want_end, want_uid):
            return False
        con = duckdb.connect()
        try:
            con.register("gen_jobs", self.gen.all_jobs())
            con.register("gen_events", self.gen.events_table())
            statuses = ",".join(f"'{s}'" for s in gen.PULL_STATUSES)
            boards = ",".join(f"'{b}'" for b in gen.HAVING_BOARDS)
            ref_jobs = f"""
                SELECT job_id, epoch_us(updated_at) AS u, title AS name, status, board_key
                FROM (SELECT *, row_number() OVER (PARTITION BY job_id
                                                   ORDER BY updated_at DESC) AS rn
                      FROM gen_jobs WHERE status IN ({statuses}) AND board_key IN ({boards}))
                WHERE rn = 1"""
            got_jobs = f"""
                SELECT job_id, epoch_us(updated_at) AS u, name, status, board_key
                FROM read_parquet('{self.jobs_target}/*/*.parquet', hive_partitioning = true)"""
            ref_prof = """
                SELECT profile_id, event_id, type FROM (
                  SELECT *, row_number() OVER (PARTITION BY profile_id
                                               ORDER BY occurred_at DESC, event_id DESC) AS rn
                  FROM gen_events) WHERE rn = 1"""
            got_prof = f"SELECT profile_id, event_id, type FROM read_parquet('{self.prof_target}/*.parquet')"
            for ref, got in ((ref_jobs, got_jobs), (ref_prof, got_prof)):
                n = con.execute(f"SELECT (SELECT count(*) FROM ({ref})), (SELECT count(*) FROM ({got}))").fetchone()
                diff = con.execute(f"SELECT count(*) FROM (({ref}) EXCEPT ALL ({got}))").fetchone()[0]
                if n[0] != n[1] or diff:
                    return False
        finally:
            con.close()
        return True

    def layers(self, spans: list[Span], ops: list[OpTrace], results: dict) -> dict:
        m = exec_metrics(spans, ops)
        pull_jobs, scanned, upsert_out, parts, files, drains, batches, dropped = ([] for _ in range(8))
        for o in ops:
            info = self.land_info[o.op]
            pulls = o.under(spans, lambda n: n == "pipeline:pull")
            pull_jobs.append(sum(o.jobs[i] for i in pulls))
            scanned.append(ratio(sum(s.input_records for s in o.stages_of(pulls)), info["pulled"]))
            ups = o.under(spans, lambda n: n.startswith("upsert:"))
            upsert_out.append(ratio(sum(s.output_bytes for s in o.stages_of(ups)),
                                    info["jobs_bytes"] + info["hook_bytes"]))
            parts.append(o.sql_sum(ups, "number of dynamic part"))
            files.append(o.sql_sum(ups, "number of written files"))
            drains.append(sum(spans[i].end - spans[i].start for i in o.idx
                              if spans[i].name == "streaming:drain"))
            r = results[o.op]
            batches.append(r["batches"])
            dropped.append(1.0 - ratio(r["events"], info["payloads"]))
        m.update({
            "sources.plan_s": layer_time(spans, ops, "sources"),
            "pipeline.pull_s": layer_time(spans, ops, "pipeline"),
            "pipeline.jobs_per_pull": med(pull_jobs),
            "pipeline.rows_scanned_per_row_pulled": med(scanned),
            "plans.build_s": layer_time(spans, ops, "plans"),
            "state.load_s": span_time(spans, ops, "state:resume_cursor"),
            "state.save_s": span_time(spans, ops, "state:save"),
            "upsert.s": layer_time(spans, ops, "upsert"),
            "upsert.bytes_written_per_delta_byte": med(upsert_out),
            "upsert.partitions_rewritten": med(parts),
            "upsert.files_written": med(files),
            "streaming.drain_s": med(drains),
            "streaming.batches": med(batches),
            "streaming.overhead_s": layer_time(spans, ops, "streaming"),
            "events.dropped_ratio": med(dropped),
        })
        return m


# ---------------------------------------------------------------------------
# analytics_mix
# ---------------------------------------------------------------------------

ANALYTICS_QUERIES = (
    "agg_pricing_summary", "join_inner_revenue", "join_broadcast_dim",
    "window_topk_per_group", "join_asof", "join_star_multiway",
    "etl_pull_incremental", "etl_condition_filters", "etl_event_pipeline",
    "etl_lastwins_dedup", "etl_scd2_history", "funnel_view_click_purchase",
    "events_sessionize", "sql_tpch_q14",
)


class AnalyticsMix:
    """Rounds over read-only registry queries on seeded data, each
    collected and hashed against its DuckDB oracle.

    The round order is the same for every seed: the first run of a
    query carries code generation, and a seeded order moved that cost
    between queries from run to run."""

    name = "analytics_mix"

    def __init__(self, work: str, seed: int, sizes: dict, tracer: Tracer):
        self.work, self.seed, self.sizes, self.tr = work, seed, sizes, tracer
        self.sf_dir = os.path.join(work, "star")
        self.order: list[str] = []

    def generate(self) -> None:
        from hrtech_etl_spark.workload import REGISTRY

        self.counts = gen.gen_star(self.seed, self.sf_dir, self.sizes["sf"])
        con = duckdb.connect()
        try:
            for t in gen.STAR_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf_dir}/{t}.parquet')")
            self.ref = {}
            for q in ANALYTICS_QUERIES:
                res = con.execute(REGISTRY[q].sql)
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                if not rows:
                    raise RuntimeError(f"{q}: the oracle returned no rows on the generated data")
                self.ref[q] = (sorted(cols), len(rows), result_digest(cols, rows))
        finally:
            con.close()

    def generated(self) -> dict:
        return self.counts

    def reset(self, spark) -> float:
        """Run the first query (each query reads its tables itself)."""
        t0 = time.perf_counter()
        self.current = ANALYTICS_QUERIES[0]
        self.op(spark)
        return time.perf_counter() - t0

    def land(self, i: int) -> int:
        if not self.order:
            self.order = list(reversed(ANALYTICS_QUERIES))
        self.current = self.order.pop()
        return 1

    def round_done(self) -> bool:
        return not self.order

    def kind(self) -> str:
        return self.current

    def op(self, spark):
        from hrtech_etl_spark.workload import REGISTRY

        q = self.current
        with self.tr.span("workload:plan"):
            df = REGISTRY[q].fn(spark, self.sf_dir)
        with self.tr.span("workload:exec"):
            rows = [tuple(r) for r in df.collect()]
        return q, df.columns, rows

    def check(self, result) -> bool:
        q, cols, rows = result
        want_cols, want_n, want_hash = self.ref[q]
        return (sorted(cols) == want_cols and len(rows) == want_n
                and result_digest(cols, rows) == want_hash)

    def layers(self, spans: list[Span], ops: list[OpTrace], results: dict) -> dict:
        m = exec_metrics(spans, ops)
        m.update({"workload.plan_s": span_time(spans, ops, "workload:plan"),
                  "workload.exec_s": span_time(spans, ops, "workload:exec")})
        return m


# ---------------------------------------------------------------------------
# corpus_prep
# ---------------------------------------------------------------------------

EMAIL = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")


def ngrams13(text: str) -> set[str]:
    t = text.lower().split()
    return {" ".join(t[j:j + 13]) for j in range(len(t) - 12)}


class CorpusPrep:
    """``prepare_training_corpus`` on one shard, then profile → job
    matching with ``cosine_topk_batch``."""

    name = "corpus_prep"
    TOPK = 5
    PACK_MAX_LEN = 512
    SEM_THRESHOLD = 0.95

    def __init__(self, work: str, seed: int, sizes: dict, tracer: Tracer):
        self.work, self.seed, self.sizes, self.tr = work, seed, sizes, tracer
        self.root = os.path.join(work, "corpus")
        self.hashes: dict[int, str] = {}

    def generate(self) -> None:
        self.corpus = gen.Corpus(self.seed, self.root, n_shards=self.sizes["shards"],
                                 docs_per_shard=self.sizes["docs_per_shard"])
        self.corpus.write()
        self.test_grams = set().union(*(ngrams13(p) for p in self.corpus.test_passages))

    def generated(self) -> dict:
        return {"docs": self.corpus.docs_generated, "shards": self.corpus.n_shards}

    def reset(self, spark) -> float:
        """Load the side inputs every shard is prepared against."""
        t0 = time.perf_counter()
        spark.read.parquet(os.path.join(self.root, "test_set.parquet")).count()
        spark.read.parquet(os.path.join(self.root, "centroids.parquet")).count()
        return time.perf_counter() - t0

    def land(self, i: int) -> int:
        self.shard = i % self.corpus.n_shards
        return len(self.corpus.shards[self.shard]["ids"])

    def round_done(self) -> bool:
        return True

    def kind(self) -> str:
        return f"shard{self.shard}"

    def _inputs(self, spark, s):
        docs_path, emb_path = self.corpus.shard_paths(s)
        docs = spark.read.parquet(docs_path)
        emb = spark.read.parquet(emb_path)
        kinds = docs.select(F.col("doc_id").alias("vec_id"), "kind")
        return (docs.select("doc_id", "text"), emb,
                spark.read.parquet(os.path.join(self.root, "test_set.parquet")),
                spark.read.parquet(os.path.join(self.root, "centroids.parquet")),
                emb.join(kinds.where("kind = 'job'"), "vec_id", "left_semi"),
                emb.join(kinds.where("kind = 'profile'"), "vec_id", "left_semi")
                .select(F.col("vec_id").alias("query_id"), "embedding"))

    def op(self, spark):
        from hrtech_etl_spark.functions.similarity import cosine_topk_batch
        from hrtech_etl_spark.operators.corpus import prepare_training_corpus

        s = self.shard
        if self.tr.enabled:
            return self._op_staged(spark, s)
        with self.tr.span("sources:read"):
            docs, emb, test, cents, jobs, profs = self._inputs(spark, s)
        with self.tr.span("corpus:prepare_training_corpus"):
            out = prepare_training_corpus(
                docs, "text", "doc_id", test_set=test, embeddings=emb,
                semantic_knobs={"centroids": cents, "threshold": self.SEM_THRESHOLD},
                boilerplate_frac=0.5, pack_max_len=self.PACK_MAX_LEN)
            rows = [tuple(r) for r in out.collect()]
        with self.tr.span("similarity:cosine_topk_batch"):
            top = cosine_topk_batch(jobs, profs, query_id_col="query_id", k=self.TOPK).collect()
        return s, out.columns, rows, top, None

    def _op_staged(self, spark, s):
        """The stages ``prepare_training_corpus`` composes, called one
        by one in its order and materialized after each, so the traced
        run can split the op's time by layer."""
        from hrtech_etl_spark.functions import dedup as dd
        from hrtech_etl_spark.functions import text as tx
        from hrtech_etl_spark.functions.similarity import cosine_topk_batch, semantic_dedup
        from hrtech_etl_spark.operators.corpus import chunk_documents, pack_sequences

        tr, idc, txt = self.tr, "doc_id", "text"
        with tr.span("sources:read"):
            docs, emb, test, cents, jobs, profs = self._inputs(spark, s)
        with tr.span("text:remove_boilerplate"):
            d = tx.remove_boilerplate(docs, txt, idc, max_doc_frac=0.5).localCheckpoint()
        with tr.span("dedup:drop_exact_duplicates"):
            d = dd.drop_exact_duplicates(d, txt, idc).localCheckpoint()
        with tr.span("dedup:minhash_lsh_pairs"):
            sh = dd.shingle_table(d, txt, idc, shingle_k=2, hashed=True, drop_empty=True)
            cand = dd.minhash_lsh_pairs(d, txt, idc, shingles=sh).localCheckpoint()
            n_cand = cand.count()
        with tr.span("dedup:jaccard_verify"):
            ver = dd.jaccard_verify(cand, d, txt, idc, threshold=0.5, shingles=sh).localCheckpoint()
            n_ver = ver.count()
        with tr.span("dedup:near_dup_clusters"):
            clusters = dd.near_dup_clusters(ver, d.select(idc), idc)
            keep = clusters.select(F.col("cluster").alias(idc)).distinct()
            d = d.join(keep, idc, "left_semi").localCheckpoint()
        with tr.span("similarity:semantic_dedup"):
            sem = semantic_dedup(emb, centroids=cents, threshold=self.SEM_THRESHOLD).localCheckpoint()
            alive = (sem.where(F.col("keep")).select(F.col("vec_id").alias(idc), "component")
                     .join(d.select(idc), idc, "left_semi").select("component"))
            drop = (sem.where(~F.col("keep")).select(F.col("vec_id").alias(idc), "component")
                    .join(alive, "component", "left_semi").select(idc))
            d = d.join(drop, idc, "left_anti").localCheckpoint()
        with tr.span("dedup:remove_contaminated"):
            d = dd.remove_contaminated(d, test, txt, idc).localCheckpoint()
        with tr.span("text:quality_redact"):
            d = d.where(tx.quality_score(F.col(txt)) >= 0.3)
            d = d.withColumn(txt, tx.redact_pii(F.col(txt))).localCheckpoint()
        with tr.span("corpus:chunk_documents"):
            keyed = chunk_documents(d, txt, idc, max_chars=2000, overlap=200).withColumn(
                "n_tokens", tx.token_count(F.col("chunk_text"))).withColumn(
                "__chunk_id", F.concat_ws(":", F.col(idc).cast("string"), F.col("chunk_idx"))
            ).localCheckpoint()
        with tr.span("corpus:pack_sequences"):
            packs = pack_sequences(keyed, "__chunk_id", "n_tokens", self.PACK_MAX_LEN).select(
                "__chunk_id", "pack_id", "oversize")
            out = keyed.join(packs, "__chunk_id").select(
                idc, "chunk_idx", "chunk_text", "n_tokens", "pack_id", "oversize")
            rows = [tuple(r) for r in out.collect()]
        with tr.span("similarity:cosine_topk_batch"):
            top = cosine_topk_batch(jobs, profs, query_id_col="query_id", k=self.TOPK).collect()
        counts = {"candidates": n_cand, "verified": n_ver, "scored": jobs.count()}
        return s, out.columns, rows, top, counts

    def check(self, result) -> bool:
        s, cols, rows, top, _ = result
        sh = self.corpus.shards[s]
        col = {c: j for j, c in enumerate(cols)}
        kept = {r[col["doc_id"]] for r in rows}
        for a, b in sh["exact"]:
            if a in kept and b in kept:
                return False
        packs: dict[str, int] = {}
        for r in rows:
            text = r[col["chunk_text"]]
            if ngrams13(text) & self.test_grams or EMAIL.search(text):
                return False
            if not r[col["oversize"]]:
                packs[r[col["pack_id"]]] = packs.get(r[col["pack_id"]], 0) + r[col["n_tokens"]]
        if any(v > self.PACK_MAX_LEN for v in packs.values()):
            return False
        digest = result_digest(cols, rows)
        if self.hashes.setdefault(s, digest) != digest:
            return False
        return self._topk_ok(sh, top)

    def _topk_ok(self, sh, top) -> bool:
        """Numpy brute-force cosine top-k; ids may differ from it only
        where the reference scores tie within rounding."""
        ids = np.array(sh["ids"])
        kinds = np.array(sh["kinds"])
        vecs = sh["vecs"].astype(np.float64)
        jobs, profs = ids[kinds == "job"], ids[kinds == "profile"]
        jv = vecs[kinds == "job"]
        jv = jv / np.linalg.norm(jv, axis=1, keepdims=True)
        got: dict[int, list] = {}
        for r in top:
            got.setdefault(r["query_id"], []).append((r["vec_id"], r["score"]))
        if set(got) != set(profs.tolist()):
            return False
        pos = {int(p): j for j, p in enumerate(ids)}
        job_pos = {int(j): n for n, j in enumerate(jobs)}
        for q, hits in got.items():
            qv = vecs[pos[q]] / np.linalg.norm(vecs[pos[q]])
            scores = jv @ qv
            kth = np.sort(scores)[::-1][min(self.TOPK, len(scores)) - 1]
            if len(hits) != min(self.TOPK, len(jobs)):
                return False
            for vid, sc in hits:
                ref = scores[job_pos[vid]]
                if abs(ref - sc) > 2e-6 or ref < kth - 2e-6:
                    return False
        return True

    def layers(self, spans: list[Span], ops: list[OpTrace], results: dict) -> dict:
        m = exec_metrics(spans, ops)
        c = [results[o.op][4] for o in ops]
        kept = [ratio(len({r[0] for r in results[o.op][2]}),
                      len(self.corpus.shards[results[o.op][0]]["ids"])) for o in ops]
        m.update({
            "dedup.s": layer_time(spans, ops, "dedup"),
            "dedup.candidate_pairs": med(x["candidates"] for x in c),
            "dedup.verified_per_candidate": med(ratio(x["verified"], x["candidates"]) for x in c),
            "similarity.s": layer_time(spans, ops, "similarity"),
            "similarity.scored_per_query": med(x["scored"] for x in c),
            "text.s": layer_time(spans, ops, "text"),
            "corpus.pack_s": span_time(spans, ops, "corpus:pack_sequences"),
            "corpus.docs_kept_ratio": med(kept),
            "sources.plan_s": layer_time(spans, ops, "sources"),
        })
        return m


WORKLOADS = {w.name: w for w in (SyncTicks, AnalyticsMix, CorpusPrep)}
