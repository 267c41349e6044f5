"""Tiny-size runs of every workload against a real local Spark session:
each op's output matches its reference, and dropping one output row on
purpose is caught as a wrong result.

    python3 -m pytest hrbench/tests -q
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest

from hrbench import run as bench
from hrbench.trace import Tracer
from hrbench.workloads import WORKLOADS

TINY = {
    "sync_ticks": {"backfill_rows": 300, "rows_per_tick": 120, "payloads_per_tick": 60,
                   "n_profiles": 100},
    "analytics_mix": {"sf": 0.002},
    "corpus_prep": {"shards": 2, "docs_per_shard": 40},
}


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("bench"))
    bench.pin_environment(work, bench.load_config())
    s = bench.Session(work, trace=False)
    s.restart()
    yield s
    s.close()


def _drop_profile_row(w) -> None:
    """Rewrite one part file of the profiles target without its first row."""
    part = sorted(glob.glob(os.path.join(w.prof_target, "*.parquet")))[0]
    t = pq.read_table(part)
    pq.write_table(t.slice(1), part)


CORRUPT = {
    "sync_ticks": lambda w, res: (_drop_profile_row(w), res)[1],
    "analytics_mix": lambda w, res: (res[0], res[1], res[2][:-1]),
    "corpus_prep": lambda w, res: res[:3] + (res[3][:-1],) + res[4:],
}


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_workload_outputs_match_reference_and_a_dropped_row_is_caught(session, name, tmp_path):
    w = WORKLOADS[name](str(tmp_path), 1, TINY[name], Tracer())
    w.generate()
    w.reset(session.spark)
    wrong = 0
    for i in range(3):  # sync_ticks restores its snapshot before ops 1 and 2
        w.land(i)
        wrong += not w.check(w.op(session.spark))
    assert wrong == 0
    w.land(3)
    assert not w.check(CORRUPT[name](w, w.op(session.spark)))
