"""Re-record ``data/eventlog_small.jsonl``, the event-log fixture of
``test_stats.py``:

    python3 hrbench/tests/record_eventlog.py

Runs a two-query local job with the event log on — a parquet write of
1000 rows into 4 files, then a filtered read-back with a shuffle — and
keeps only the events and fields :func:`hrbench.trace.parse_event_log`
reads, so the fixture stays small.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))

KEEP = ("SparkListenerStageSubmitted", "SparkListenerTaskEnd", "SparkListenerJobStart",
        "SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate",
        "SparkListenerDriverAccumUpdates")


def _trim_plan(info: dict) -> dict:
    return {"metrics": [{"name": m["name"], "accumulatorId": m["accumulatorId"]}
                        for m in info.get("metrics", ())],
            "children": [_trim_plan(c) for c in info.get("children", ())]}


def trim(ev: dict) -> dict:
    kind = ev["Event"]
    if kind == "SparkListenerStageSubmitted":
        info = ev["Stage Info"]
        return {"Event": kind, "Stage Info": {k: info.get(k) for k in (
            "Stage ID", "Stage Attempt ID", "Submission Time")}}
    if kind == "SparkListenerTaskEnd":
        tm = ev.get("Task Metrics") or {}
        return {"Event": kind, "Stage ID": ev["Stage ID"],
                "Stage Attempt ID": ev.get("Stage Attempt ID", 0),
                "Task Metrics": {k: tm.get(k) for k in (
                    "Executor Run Time", "JVM GC Time", "Memory Bytes Spilled",
                    "Disk Bytes Spilled", "Input Metrics", "Output Metrics",
                    "Shuffle Write Metrics") if k in tm}}
    if kind == "SparkListenerJobStart":
        return {"Event": kind, "Submission Time": ev["Submission Time"]}
    if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
        out = {"Event": kind, "executionId": ev["executionId"],
               "sparkPlanInfo": _trim_plan(ev.get("sparkPlanInfo", {}))}
        if "time" in ev:
            out["time"] = ev["time"]
        return out
    return {"Event": kind, "executionId": ev["executionId"], "accumUpdates": ev["accumUpdates"]}


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
    from pyspark.sql import SparkSession

    with tempfile.TemporaryDirectory() as tmp:
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", "file://" + tmp)
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.rolling.enabled", "false")
                 .config("spark.ui.enabled", "false").getOrCreate())
        data = os.path.join(tmp, "data")
        spark.range(1000).selectExpr("id", "id % 7 AS k").repartition(4).write.parquet(data)
        spark.read.parquet(data).where("id >= 0").groupBy("k").count().collect()
        spark.stop()
        (log,) = [p for p in glob.glob(os.path.join(tmp, "*")) if os.path.isfile(p)]
        with open(log) as fh, open(os.path.join(HERE, "data", "eventlog_small.jsonl"), "w") as out:
            for line in fh:
                ev = json.loads(line)
                if ev.get("Event", "").endswith(KEEP):
                    out.write(json.dumps(trim(ev)) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
