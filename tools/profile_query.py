"""Per-query profiler for the optimization rounds (guide §1).

For each named registry query:
  - 1 untimed warm-up (janino codegen), then N timed materializations
    with the noop sink (guide §1.4: computes every column, no sink
    cost, no optimizer count() shortcuts) AND N with .count() (the
    bench's historical action, kept for comparability),
  - per-run Spark job list with durations/stage counts from the UI
    REST API (the session here enables the UI; the bench never does),
  - ``explain("formatted")`` written to --plans-dir/<query>_<tag>.txt.

Usage:
  python tools/profile_query.py --only q1,q2 [--sf-dir DIR] [--runs 2]
      [--plans-dir /tmp/plans --plan-tag before] [--json OUT]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hrtech_etl_spark.core.session import get_spark  # noqa: E402
from hrtech_etl_spark.workload import REGISTRY  # noqa: E402


def _rest(port: int, path: str):
    url = f"http://localhost:{port}/api/v1/{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def _app_id(spark) -> str:
    return spark.sparkContext.applicationId


def _jobs_since(spark, port: int, first_job_id: int) -> list[dict]:
    jobs = _rest(port, f"applications/{_app_id(spark)}/jobs")
    out = []
    for j in jobs:
        if j["jobId"] < first_job_id:
            continue
        dur = None
        if j.get("submissionTime") and j.get("completionTime"):
            from datetime import datetime

            fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
            t0 = datetime.strptime(j["submissionTime"].replace("GMT", ""), fmt.replace("%Z", ""))
            t1 = datetime.strptime(j["completionTime"].replace("GMT", ""), fmt.replace("%Z", ""))
            dur = round((t1 - t0).total_seconds(), 3)
        out.append(
            {
                "jobId": j["jobId"],
                "sec": dur,
                "desc": (j.get("description") or j.get("name", ""))[:100],
                "numTasks": j.get("numTasks"),
                "stages": len(j.get("stageIds", [])),
            }
        )
    out.sort(key=lambda d: d["jobId"])
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--only", required=True, help="comma-separated query names")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--plan-tag", default="before")
    ap.add_argument("--json", dest="json_out", default=None)
    ap.add_argument("--no-noop", action="store_true", help="skip the noop-sink timings")
    args = ap.parse_args()

    names = [n.strip() for n in args.only.split(",") if n.strip()]
    for n in names:
        if n not in REGISTRY:
            sys.exit(f"unknown query: {n}")

    spark = get_spark(
        app_name="hrtech-etl-spark-profile",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4050"},
    )
    sc = spark.sparkContext
    # Read the BOUND port back: if 4050 is taken (a second profiler),
    # Spark retries upward and REST calls against 4050 would silently
    # profile the other process's jobs.
    ui = sc.uiWebUrl or "http://localhost:4050"
    port = int(ui.rsplit(":", 1)[1])
    record: dict[str, dict] = {}

    for name in names:
        fn = REGISTRY[name].fn
        sc.setJobDescription(f"{name}: warmup")
        t0 = time.perf_counter()
        fn(spark, args.sf_dir).count()
        warm = time.perf_counter() - t0

        # explain capture (formatted)
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            df = fn(spark, args.sf_dir)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            with open(os.path.join(args.plans_dir, f"{name}_{args.plan_tag}.txt"), "w") as fh:
                fh.write(txt)

        counts, noops = [], []
        jobs_detail = None
        for i in range(args.runs):
            sc.setJobDescription(f"{name}: count run {i}")
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).count()
            counts.append(round(time.perf_counter() - t0, 3))
        if not args.no_noop:
            for i in range(args.runs):
                if i == args.runs - 1:
                    try:
                        existing = _rest(port, f"applications/{_app_id(spark)}/jobs")
                        first_free = max((j["jobId"] for j in existing), default=-1) + 1
                    except Exception:
                        first_free = 0
                sc.setJobDescription(f"{name}: noop run {i}")
                t0 = time.perf_counter()
                fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
                noops.append(round(time.perf_counter() - t0, 3))
                if i == args.runs - 1:
                    try:
                        jobs_detail = _jobs_since(spark, port, first_free)
                    except Exception as exc:  # UI quirk — profiling only
                        jobs_detail = [{"error": str(exc)}]
        record[name] = {
            "warm_first": round(warm, 3),
            "count_runs": counts,
            "noop_runs": noops,
            "jobs_last_noop": jobs_detail,
        }
        print(json.dumps({name: record[name]}, default=str))

    if args.json_out:
        with open(args.json_out, "w") as fh:
            json.dump(record, fh, indent=1, default=str)


if __name__ == "__main__":
    main()
