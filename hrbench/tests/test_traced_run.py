"""End to end through the runner with tracing on (its own JVM, so it
lives apart from the shared session of ``test_smoke.py``)."""

from __future__ import annotations

import json
import os

from hrbench import run as bench
from hrbench.tests.test_smoke import TINY
from hrbench.workloads import WORKLOADS, AnalyticsMix


def test_traced_run_prints_every_listed_per_layer_metric(tmp_path, monkeypatch):
    """End to end through the runner: a short traced sync_ticks run at
    tiny size reports every per-layer metric BENCHMARK.json lists."""
    monkeypatch.setattr(bench, "SETUP_REPS", 1)
    cfg = bench.load_config()
    cfg["sizes"]["sync_ticks"] = TINY["sync_ticks"]
    work = str(tmp_path / "w")
    bench.pin_environment(work, cfg)
    rec = bench.run("sync_ticks", 2, 6.0, True, work, cfg)
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as fh:
        listed = {m["name"] for m in json.load(fh)["per_layer"]}
    assert rec["wrong"] == 0 and rec["failed"] == 0 and rec["correct"]
    assert listed <= set(rec["metrics"])
    assert rec["metrics"]["upsert.s"][0] > 0
    assert rec["metrics"]["trace.attributed_p50_s"][0] > 0


class RaisingMix(AnalyticsMix):
    """Raises on the first timed op."""

    def land(self, i: int) -> int:
        self.raise_now = i == 0
        return super().land(i)

    def op(self, spark):
        if getattr(self, "raise_now", False):
            raise RuntimeError("injected failure")
        return super().op(spark)


def test_a_run_with_a_failed_op_is_not_correct(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "SETUP_REPS", 1)
    monkeypatch.setitem(WORKLOADS, "analytics_mix", RaisingMix)
    cfg = bench.load_config()
    cfg["sizes"]["analytics_mix"] = TINY["analytics_mix"]
    work = str(tmp_path / "w")
    bench.pin_environment(work, cfg)
    rec = bench.run("analytics_mix", 3, 3.0, False, work, cfg)
    assert rec["failed"] == 1 and rec["wrong"] == 0
    assert rec["attempted"] > rec["failed"]
    assert not rec["correct"]
