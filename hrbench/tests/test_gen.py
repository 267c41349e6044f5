"""Generator determinism: the same seed gives byte-identical files, and
the generators record how much they generated."""

from __future__ import annotations

import hashlib
import os

from hrbench import gen


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _sync(seed, root, ticks=3):
    g = gen.SyncTicks(seed, root, backfill_rows=300, rows_per_tick=120,
                      payloads_per_tick=80, n_profiles=200)
    infos = [g.land() for _ in range(ticks)]
    return g, infos


def test_sync_ticks_is_byte_identical_per_seed(tmp_path):
    a, ia = _sync(7, str(tmp_path / "a"))
    b, ib = _sync(7, str(tmp_path / "b"))
    c, _ = _sync(8, str(tmp_path / "c"))
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert ia == ib
    assert a.rows_generated == 300 + 2 * 120 == sum(i["rows"] for i in ia)
    assert a.payloads_generated == 3 * 80
    # every payload is either a valid event or a counted malformed one
    assert len(a.events) + a.malformed_generated == a.payloads_generated


def test_first_jobs_delta_is_non_empty_and_ties_cross_ticks(tmp_path):
    g, infos = _sync(3, str(tmp_path / "s"))
    assert infos[0]["rows"] > 0
    jobs = g.all_jobs().to_pydict()
    keys = list(zip(jobs["updated_at"], jobs["job_id"]))
    assert len(set(keys)) == len(keys), "a key has two versions at one instant"
    # tick 1 starts with inserts at tick 0's last cursor second
    t1 = g.job_rows[1].to_pydict()
    t0_max = max(u for u, s in zip(g.job_rows[0]["updated_at"].to_pylist(),
                                   g.job_rows[0]["status"].to_pylist())
                 if s in gen.PULL_STATUSES)
    assert t1["updated_at"][0] == t0_max


def test_star_schema_is_byte_identical_per_seed(tmp_path):
    ca = gen.gen_star(5, str(tmp_path / "a"), 0.001)
    cb = gen.gen_star(5, str(tmp_path / "b"), 0.001)
    assert ca == cb and ca["orders"] == 1500 and ca["lineitem"] > ca["orders"]
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    gen.gen_star(6, str(tmp_path / "c"), 0.001)
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_corpus_is_byte_identical_per_seed(tmp_path):
    digests = []
    for name in ("a", "b"):
        c = gen.Corpus(11, str(tmp_path / name), n_shards=2, docs_per_shard=60)
        c.write()
        digests.append(_digest(str(tmp_path / name)))
        assert c.docs_generated == 120
    assert digests[0] == digests[1]
    c = gen.Corpus(11, str(tmp_path / "c"), n_shards=2, docs_per_shard=60)
    planted = sum(len(s["exact"]) for s in c.shards)
    assert planted > 0
    for s in c.shards:
        texts = dict(zip(s["ids"], s["texts"]))
        assert all(texts[a] == texts[b] for a, b in s["exact"])
