"""Seeded input generator for the benchmark workloads.

Everything the engine reads during a run is written here, from the
workload seed alone: the same seed gives byte-identical files (pyarrow
writes no timestamps into parquet metadata, JSON lines are rendered
from the same RNG stream). Each generator also keeps the structured
truth it generated — rows, valid events, planted duplicates — which
the reference checks use instead of re-reading what the engine wrote.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC = dt.timezone.utc


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return table.num_rows


# ---------------------------------------------------------------------------
# sync_ticks: CDC deltas of job rows + profile webhook payloads
# ---------------------------------------------------------------------------

SENIORITY = ["junior", "senior", "lead", "staff", "principal", "intern"]
ROLES = ["data engineer", "nurse", "accountant", "sales manager", "designer",
         "backend developer", "recruiter", "electrician", "analyst", "chef"]
STATUSES = np.array(["open", "closed", "draft"])
STATUS_P = [0.7, 0.2, 0.1]
BOARDS = np.array([f"b{i}" for i in range(8)])
#: the pull's WHERE keeps these statuses; HAVING drops this board
PULL_STATUSES = ["open", "closed"]
HAVING_BOARDS = [f"b{i}" for i in range(7)]

TICK_SECONDS = 3600
CLOCK0 = dt.datetime(2024, 1, 1, tzinfo=UTC)
JOB_SCHEMA = pa.schema([
    ("job_id", pa.string()),
    ("title", pa.string()),
    ("status", pa.string()),
    ("board_key", pa.string()),
    ("created_at", pa.timestamp("us", tz="UTC")),
    ("updated_at", pa.timestamp("us", tz="UTC")),
    ("created_month", pa.string()),
    ("payload", pa.string()),
])


class SyncTicks:
    """CDC stream of job rows and profile webhook files, one tick at a
    time, generated in tick order from one RNG stream.

    Tick 0 is a historical backfill (keys created over the previous
    year, so the month-partitioned target has many partitions); later
    ticks mix inserts with updates skewed toward recently created keys.
    Timestamps have one-second resolution, so many rows tie on
    ``updated_at``; the first inserts of each tick reuse the previous
    tick's last second, which only a tie-safe ``(updated_at, job_id)``
    cursor resumes without loss or duplication.
    """

    def __init__(self, seed: int, root: str, *, backfill_rows: int,
                 rows_per_tick: int, payloads_per_tick: int,
                 n_profiles: int):
        self.rng = np.random.default_rng([seed, 1])
        self.root = root
        self.backfill_rows = backfill_rows
        self.rows_per_tick = rows_per_tick
        self.payloads_per_tick = payloads_per_tick
        self.n_profiles = n_profiles
        self.jobs_dir = os.path.join(root, "src", "jobs")
        self.webhooks_dir = os.path.join(root, "webhooks")
        os.makedirs(self.jobs_dir, exist_ok=True)
        os.makedirs(self.webhooks_dir, exist_ok=True)
        self.ticks = 0
        self.n_keys = 0
        self.key_created: list[dt.datetime] = []
        self.last_pull_end: tuple[dt.datetime, str] | None = None
        self.job_rows: list[pa.Table] = []
        self.events: list[tuple] = []  # valid (event_id, profile_id, type, occurred_at)
        self.next_event = 0
        self.rows_generated = 0
        self.payloads_generated = 0
        self.malformed_generated = 0

    # -- jobs ---------------------------------------------------------------

    def _new_keys(self, n: int) -> list[str]:
        ids = [f"job-{k:08d}" for k in range(self.n_keys, self.n_keys + n)]
        self.n_keys += n
        return ids

    def _jobs_tick(self, t: int) -> pa.Table:
        rng = self.rng
        start = CLOCK0 + dt.timedelta(seconds=t * TICK_SECONDS)
        if t == 0:
            n_ins, n_upd = self.backfill_rows, 0
        else:
            n_upd = int(self.rows_per_tick * 0.6)
            n_ins = self.rows_per_tick - n_upd
        upd_idx: list[int] = []
        if n_upd:
            # recency skew: distance back from the newest key is
            # exponential, so recent keys take most of the updates
            back = rng.exponential(self.n_keys / 8.0, size=n_upd * 4).astype(int)
            idx = self.n_keys - 1 - np.clip(back, 0, self.n_keys - 1)
            _, first = np.unique(idx, return_index=True)
            upd_idx = [int(i) for i in idx[np.sort(first)][:n_upd]]
        ins_ids = self._new_keys(n_ins)
        secs = rng.integers(0, TICK_SECONDS, size=n_ins + len(upd_idx))
        upd_at = [start + dt.timedelta(seconds=int(s)) for s in secs]
        if t == 0:
            # backfill: created over the previous 12 months, last
            # updated during tick 0
            ages = rng.integers(1, 365, size=n_ins)
            created = [start - dt.timedelta(days=int(a)) for a in ages]
        else:
            created = list(upd_at[:n_ins])
            if self.last_pull_end is not None:
                # boundary ties: the first inserts share the previous
                # tick's last cursor second with larger job ids
                for i in range(min(5, n_ins)):
                    upd_at[i] = created[i] = self.last_pull_end[0]
        self.key_created.extend(created)
        ids = ins_ids + [f"job-{k:08d}" for k in upd_idx]
        created_all = created + [self.key_created[k] for k in upd_idx]
        n = len(ids)
        status = rng.choice(STATUSES, size=n, p=STATUS_P)
        if t > 0:
            status[:5] = "open"
        board = rng.choice(BOARDS, size=n)
        sen = rng.integers(0, len(SENIORITY), size=n)
        role = rng.integers(0, len(ROLES), size=n)
        salary = rng.integers(20, 200, size=n) * 1000
        remote = rng.random(n) < 0.3
        table = pa.table({
            "job_id": ids,
            "title": [f"{SENIORITY[a]} {ROLES[b]}" for a, b in zip(sen, role)],
            "status": status.tolist(),
            "board_key": board.tolist(),
            "created_at": pa.array(created_all, pa.timestamp("us", tz="UTC")),
            "updated_at": pa.array(upd_at, pa.timestamp("us", tz="UTC")),
            "created_month": [c.strftime("%Y-%m") for c in created_all],
            "payload": [json.dumps({"salary": int(s), "remote": bool(r)})
                        for s, r in zip(salary, remote)],
        }, schema=JOB_SCHEMA)
        # the cursor end after this tick: lexicographic max over rows
        # the pull's WHERE keeps
        keep = [i for i, s in enumerate(table["status"].to_pylist())
                if s in PULL_STATUSES]
        if keep:
            pairs = [(upd_at[i], ids[i]) for i in keep]
            best = max(pairs)
            if self.last_pull_end is None or best > self.last_pull_end:
                self.last_pull_end = best
        return table

    # -- webhooks -----------------------------------------------------------

    def _payloads_tick(self, t: int) -> list[str]:
        rng = self.rng
        start = CLOCK0 + dt.timedelta(seconds=t * TICK_SECONDS)
        lines = []
        types = ["profile.created", "profile.updated", "profile.deleted"]
        for _ in range(self.payloads_per_tick):
            eid = f"evt-{self.next_event:09d}"
            self.next_event += 1
            if rng.random() < 0.05:  # no matching resource
                pid = f"prof-x{int(rng.integers(0, 10**6)):06d}"
            else:
                pid = f"prof-{int(rng.zipf(1.3)) % self.n_profiles:06d}"
            u = rng.random()
            if u < 0.75:
                raw = types[int(rng.integers(0, 3))]
            elif u < 0.80:
                raw = "profile.archived"
            else:
                raw = ["profile.viewed", "candidate.moved"][int(rng.integers(0, 2))]
            ts = start + dt.timedelta(seconds=int(rng.integers(0, TICK_SECONDS)))
            body = {"id": eid, "type": raw, "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%S"),
                    "data": {"profile": {"id": pid}}}
            bad = rng.random()
            if bad < 0.10:
                self.malformed_generated += 1
                kind = int(rng.integers(0, 5))
                if kind == 0:
                    lines.append(json.dumps(body)[:-7])  # truncated JSON
                    continue
                if kind == 1:
                    del body["id"]
                elif kind == 2:
                    del body["type"]
                elif kind == 3:
                    body["data"] = {}
                else:
                    body["timestamp"] = "not-a-date"
            else:
                unified = {"profile.created": "created", "profile.updated": "updated",
                           "profile.deleted": "deleted"}.get(raw, "upserted")
                self.events.append((eid, pid, unified, ts))
            lines.append(json.dumps(body, sort_keys=True))
        return lines

    def land(self) -> dict:
        """Land the next tick's jobs delta and webhook file; return the
        item counts (delta rows, payload lines)."""
        t = self.ticks
        table = self._jobs_tick(t)
        _write(table, os.path.join(self.jobs_dir, f"part-{t:05d}.parquet"))
        lines = self._payloads_tick(t)
        with open(os.path.join(self.webhooks_dir, f"tick-{t:05d}.jsonl"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        self.job_rows.append(table)
        self.ticks += 1
        self.rows_generated += table.num_rows
        self.payloads_generated += len(lines)
        return {"rows": table.num_rows, "payloads": len(lines)}

    def all_jobs(self) -> pa.Table:
        return pa.concat_tables(self.job_rows)

    def events_table(self) -> pa.Table:
        ev = list(zip(*self.events)) if self.events else [[], [], [], []]
        return pa.table({
            "event_id": pa.array(ev[0], pa.string()),
            "profile_id": pa.array(ev[1], pa.string()),
            "type": pa.array(ev[2], pa.string()),
            "occurred_at": pa.array(ev[3], pa.timestamp("us", tz="UTC")),
        })


# ---------------------------------------------------------------------------
# analytics_mix: TPC-H-shaped star schema + event log
# ---------------------------------------------------------------------------

STAR_TABLES = ("region", "nation", "customer", "supplier", "part",
               "orders", "lineitem", "events")


def _ts(days_or_us: np.ndarray, base: str, unit: str) -> pa.Array:
    base_us = np.datetime64(base, "us").astype(np.int64)
    scale = 86_400_000_000 if unit == "D" else 1
    return pa.array(base_us + days_or_us.astype(np.int64) * scale, pa.timestamp("us"))


def gen_star(seed: int, out_dir: str, sf: float) -> dict[str, int]:
    """The star schema the registry queries read, at scale factor
    ``sf`` (sf0.1 ≈ 600k lineitem rows). Value domains follow the
    engine's fixture tables, so every query has non-empty groups."""
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_ev = int(200_000 * sf), int(1_500_000 * sf), int(1_000_000 * sf)
    r2 = lambda a: np.round(a, 2)  # noqa: E731
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": r2(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": rng.choice(segs, n_cust)})
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": r2(rng.uniform(-999.99, 9999.99, n_supp))})
    adj = np.array(["large", "small", "shiny", "matte", "polished", "brushed"])
    noun = np.array(["ring", "bolt", "gear", "panel", "valve", "spring"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "), rng.choice(noun, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(ptypes, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": r2(900.0 + (pk % 1000) / 10.0)})
    odays = rng.integers(0, 2405, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(np.array(["O", "P", "F"]), n_ord),
        "o_totalprice": r2(rng.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(odays, "1995-01-01", "D"),
        "o_orderpriority": rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n_ord)})
    per = rng.integers(1, 8, n_ord)
    lok = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    n_li = len(lok)
    starts = np.cumsum(per) - per
    lnum = np.arange(n_li) - np.repeat(starts, per) + 1
    tables["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": r2(rng.uniform(900.0, 105000.0, n_li)),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_li),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n_li),
        "l_shipdate": _ts(np.repeat(odays, per) + rng.integers(1, 122, n_li),
                          "1995-01-01", "D")})
    # distinct event times (a total order on ts alone), shuffled over ids
    span_us = 30 * 86_400_000_000
    offs = np.sort(rng.choice(span_us, size=n_ev, replace=False))
    rng.shuffle(offs)
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(offs, "2024-01-01", "us"),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": rng.choice(np.array(["signup", "click", "error", "view", "purchase"]), n_ev),
        "value": r2(rng.uniform(0.0, 560.0, n_ev)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    return {name: _write(t, os.path.join(out_dir, f"{name}.parquet"))
            for name, t in tables.items()}


# ---------------------------------------------------------------------------
# corpus_prep: HR text shards, embeddings, held-out test set
# ---------------------------------------------------------------------------

VOCAB = (
    "team role project customer product data service process quality "
    "experience skills training support design system growth planning "
    "delivery budget report strategy market client partner contract "
    "schedule safety patient office account sales software cloud network "
    "review hiring staff manager analysis research operations finance "
    "logistics warehouse retail kitchen clinic school campus lab studio"
).split()
STOP = "the and of to in for with on at by from as is are we our you".split()
BOILERPLATE = [
    "Acme Careers is an equal opportunity employer and values diversity.",
    "Apply online today; shortlisted candidates will be contacted within two weeks.",
]
DIM = 64
N_TOPICS = 8


def _sentence(rng, n):
    words = []
    for _ in range(n):
        words.append(STOP[int(rng.integers(0, len(STOP)))] if rng.random() < 0.3
                     else VOCAB[int(rng.integers(0, len(VOCAB)))])
    return " ".join(words).capitalize() + "."


def _body(rng, kind, uid):
    head = (f"Job {uid}: {SENIORITY[int(rng.integers(0, 6))]} {ROLES[int(rng.integers(0, 10))]}"
            if kind == "job" else f"Profile {uid} summary")
    lines = [head]
    lines += [_sentence(rng, int(rng.integers(8, 20))) for _ in range(int(rng.integers(3, 8)))]
    return lines


class Corpus:
    """``n_shards`` shards of job descriptions and profile summaries
    with planted hazards: exact duplicates, near duplicates (one word
    changed), semantic twins (new text, near-identical embedding),
    shared boilerplate lines, PII, and documents carrying a test-set
    passage. Ids are globally unique; embeddings are keyed by the same
    ids and clustered around ``N_TOPICS`` centroids."""

    def __init__(self, seed: int, root: str, *, n_shards: int, docs_per_shard: int,
                 n_test: int = 12):
        self.root = root
        self.n_shards = n_shards
        rng = np.random.default_rng([seed, 3])
        cents = rng.normal(size=(N_TOPICS, DIM))
        cents /= np.linalg.norm(cents, axis=1, keepdims=True)
        self.centroids = cents.astype(np.float32)
        self.test_passages = [" ".join(VOCAB[int(i)] for i in rng.integers(0, len(VOCAB), 30))
                              for _ in range(n_test)]
        self.shards: list[dict] = []
        next_id = 0
        for s in range(n_shards):
            ids, texts, kinds, vecs = [], [], [], []
            exact, contaminated = [], []
            for i in range(docs_per_shard):
                # hazards sit at fixed positions, so every seed plants the
                # same amount of each and only the text varies
                uid = next_id
                next_id += 1
                kind = ("job", "profile")[i % 2]
                topic = int(rng.integers(0, N_TOPICS))
                vec = self.centroids[topic] * 0.6 + rng.normal(scale=1 / 8.0, size=DIM)
                slot = i % 16
                if i > 4 and slot == 5:  # exact duplicate of an earlier doc
                    src = int(rng.integers(0, len(ids)))
                    text, vec = texts[src], vecs[src]
                    exact.append((ids[src], uid))
                elif i > 4 and slot == 9:  # near duplicate: one word swapped
                    src = int(rng.integers(0, len(ids)))
                    words = texts[src].split(" ")
                    j = int(rng.integers(1, len(words)))
                    words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
                    text, vec = " ".join(words), vecs[src] + rng.normal(scale=0.01, size=DIM)
                elif i > 4 and slot == 13:  # semantic twin: new words, same meaning
                    src = int(rng.integers(0, len(ids)))
                    text = "\n".join(_body(rng, kinds[src], uid))
                    vec = vecs[src] + rng.normal(scale=0.005, size=DIM)
                else:
                    lines = _body(rng, kind, uid)
                    if i % 5:
                        lines.insert(1, BOILERPLATE[0])
                        lines.append(BOILERPLATE[1])
                    if i % 7 == 3:
                        lines.append(f"Contact {kind}{uid}@example.com or "
                                     f"+1 415 555 {int(rng.integers(1000, 9999))}.")
                    if i % 20 == 11:
                        p = self.test_passages[int(rng.integers(0, n_test))]
                        lines.insert(2, p)
                        contaminated.append(uid)
                    text = "\n".join(lines)
                ids.append(uid)
                texts.append(text)
                kinds.append(kind)
                vecs.append(np.asarray(vec, dtype=np.float32))
            self.shards.append({"ids": ids, "texts": texts, "kinds": kinds,
                                "vecs": np.stack(vecs), "exact": exact,
                                "contaminated": contaminated})
        self.docs_generated = next_id

    def write(self) -> None:
        for s, sh in enumerate(self.shards):
            _write(pa.table({"doc_id": pa.array(sh["ids"], pa.int64()),
                             "text": sh["texts"], "kind": sh["kinds"]}),
                   os.path.join(self.root, "docs", f"shard-{s:03d}.parquet"))
            _write(pa.table({"vec_id": pa.array(sh["ids"], pa.int64()),
                             "embedding": pa.array(list(sh["vecs"]), pa.list_(pa.float32()))}),
                   os.path.join(self.root, "emb", f"shard-{s:03d}.parquet"))
        _write(pa.table({"text": self.test_passages}),
               os.path.join(self.root, "test_set.parquet"))
        _write(pa.table({"__cid": pa.array(np.arange(N_TOPICS), pa.int64()),
                         "__cvec": pa.array(list(self.centroids), pa.list_(pa.float32()))}),
               os.path.join(self.root, "centroids.parquet"))

    def shard_paths(self, s: int) -> tuple[str, str]:
        return (os.path.join(self.root, "docs", f"shard-{s:03d}.parquet"),
                os.path.join(self.root, "emb", f"shard-{s:03d}.parquet"))
