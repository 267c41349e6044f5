"""Repository benchmark: one run of one workload.

    python3 hrbench/run.py --workload sync_ticks --seed 1 --seconds 5 --trace 0

Runs one closed-loop workload (one client, ``local[nproc]``) against the
package's public API from the root of a checkout, checks every op's
output against an independent reference and prints, as the last line
of stdout, ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything it writes lives under ``.bench_work/`` (inputs,
Spark scratch, targets; removed at exit) and ``.bench_out/`` (spans).

End-to-end metrics (untraced ops only):

- ``setup_s``: median over ``SETUP_REPS`` repetitions of Spark session
  (re)start plus the workload's first call into the engine; input
  generation and reference answers run once, outside set-up and timing;
- ``cpu_s``: user + system CPU of the process tree (Python driver, JVM,
  Python workers) per op: per-kind medians (a registry query, a shard;
  every sync tick is one kind) averaged as one round that runs each
  kind once (see :func:`hrbench.measure.stratified`).

The same round gives the op latency figures ``op_p50_s`` and
``items_per_s``, which are printed but are not listed metrics: on a
shared host they follow other tenants' CPU steal (recorded per run by
the host witness). On a 4-vCPU shared VM whose steal ranged from 6 to
26 % over ten sync_ticks runs of the same code, the middle half of
those runs spread by 0.45 of the median in ``op_p50_s`` and by 0.10 in
``cpu_s``.

The timed phase runs at least ``--seconds`` and always ends at the end
of a round (every query of the mix, three sync ticks, one corpus
shard). Only set-up runs before it: a run is a fresh process, as a
batch job is, so the first execution of each query plan or corpus stage
(code generation, JIT) is part of the timed ops; sync_ticks' set-up
already merges into existing targets.

The op tail (the highest percentile with at least ten ops beyond it) is
printed with its percentile and op count once a run has twenty ops; it
is not one of the metrics, because a run of the listed length has fewer.
A run is correct only if no op raised and every op matched its
reference.

The traced run enables Spark's event log and alternates traced and
untraced ops, starting with a traced one, so the tracing overhead is
the difference of their medians within one run. The first (traced) op
also carries the first-execution cost, and on analytics_mix the traced
and untraced halves are different queries, so the figure is indicative.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: set-up repetitions per run; ``setup_s`` is their median
SETUP_REPS = 3


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def load_config() -> dict:
    with open(os.path.join(HERE, "config.json")) as fh:
        return json.load(fh)


def pin_environment(work: str, cfg: dict) -> None:
    """Session inputs, pinned before the JVM starts."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = cfg["session"]["SPARK_GRAFT_DRIVER_MEM"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


class Session:
    """Owns the SparkSession (and the JVM behind it) for one run."""

    def __init__(self, work: str, trace: bool):
        self.work, self.trace = work, trace
        self.spark = None
        self.event_dir = os.path.join(work, "eventlog")

    def restart(self) -> float:
        from hrtech_etl_spark.core.session import get_spark

        tmp = os.environ["TMPDIR"]
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        }
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + self.event_dir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app_name="hrbench", extra_conf=conf)
        return time.perf_counter() - t0

    def event_log(self) -> str:
        """Stop the session (flushing the log) and return its path."""
        app = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        return os.path.join(self.event_dir, app)

    def close(self) -> None:
        """Stop Spark and the JVM, and wait for every child to end."""
        from pyspark import SparkContext

        from hrbench.measure import tree

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        deadline = time.time() + 30
        while len(tree(os.getpid())) > 1 and time.time() < deadline:
            time.sleep(0.2)
        for pid in tree(os.getpid()):
            if pid != os.getpid():
                os.kill(pid, 9)


def run(workload: str, seed: int, seconds: float, trace: bool, work: str,
        cfg: dict) -> dict:
    """Set up, run the timed phase, and return the result record."""
    from hrbench import measure
    from hrbench.trace import Tracer, parse_event_log
    from hrbench.workloads import WORKLOADS, attribute, attributed

    units = listed_metrics("per_layer" if trace else "end_to_end")
    tracer = Tracer()
    w = WORKLOADS[workload](work, seed, cfg["sizes"][workload], tracer)
    t0 = time.perf_counter()
    w.generate()
    gen_s = time.perf_counter() - t0
    session = Session(work, trace)
    try:
        setups, starts = [], []
        for _ in range(SETUP_REPS):
            start_s = session.restart()
            starts.append(start_s)
            setups.append(start_s + w.reset(session.spark))
        spark = session.spark

        witness = measure.HostWitness()
        sampler = measure.RssSampler()
        sampler.start()
        lat, traced_lat, results, untraced = [], [], {}, []
        attempted = failed = wrong = 0
        t_timed = time.perf_counter()
        deadline = t_timed + seconds
        i = 0
        # the timed phase ends at the end of a round; a traced run also
        # goes on until it has tried a traced and an untraced op
        while (time.perf_counter() < deadline or not w.round_done()
               or (trace and i < 2)):
            n_items = w.land(i)
            traced = trace and i % 2 == 0
            tracer.enabled, tracer.op = traced, (i if traced else None)
            cpu0 = measure.tree_cpu()
            t_op = time.perf_counter()
            try:
                with tracer.span("op:" + workload):
                    res = w.op(spark)
            except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
                traceback.print_exc(file=sys.stderr)
                res = None
            dt = time.perf_counter() - t_op
            tracer.enabled = False
            cpu = measure.tree_cpu() - cpu0
            attempted += 1
            if res is None:
                failed += 1
            else:
                if traced:
                    traced_lat.append(dt)
                    results[i] = res
                else:
                    lat.append(dt)
                    untraced.append((w.kind(), dt, cpu, n_items))
                if not w.check(res):
                    wrong += 1
                    print(f"wrong result on op {i}", file=sys.stderr)
            i += 1
        timed_s = time.perf_counter() - t_timed
        sampler.stop()
        host = witness.report()

        summary = measure.summarize(lat) if lat else None
        record = {"attempted": attempted, "failed": failed, "wrong": wrong, "lat": lat,
                  "correct": wrong == 0 and failed == 0 and attempted > 0,
                  "summary": summary, "gen_s": gen_s, "generated": w.generated(),
                  "setups": setups, "starts": starts, "host": host,
                  "to_first_op_s": t_timed - T_START, "timed_s": timed_s,
                  "peak_rss_mb": sampler.peak_rss / 2**20}
        if not trace:
            strata = measure.stratified(untraced)
            record["latency"] = strata
            values = {"setup_s": statistics.median(setups), "cpu_s": strata["cpu_s"]}
            record["metrics"] = {k: (values[k], u) for k, u in units.items()}
            return record

        spans = tracer.spans
        log = parse_event_log(session.event_log())
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".bench_out", f"spans-{workload}-seed{seed}.jsonl"))
        ops = sorted(attribute(spans, log).values(), key=lambda o: o.op)
        layer = {k: 0.0 for k in units}
        layer.update(w.layers(spans, ops, results) if ops else {})
        traced_p50 = statistics.median(traced_lat) if traced_lat else 0.0
        layer.update({
            "session.start_s": starts[0],
            "exec.peak_rss_mb": record["peak_rss_mb"],
            "trace.overhead_s": traced_p50 - (summary["p50"] if summary else 0.0),
            "trace.attributed_p50_s": attributed(spans, ops),
            "trace.untraced_p50_s": summary["p50"] if summary else 0.0,
        })
        record["metrics"] = {k: (layer[k], u) for k, u in units.items()}
        return record
    finally:
        session.close()


def listed_metrics(kind: str) -> dict[str, str]:
    """{name: unit} of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json lists; a layer a workload never calls reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def main(argv=None) -> int:
    args = parse_args(argv)
    cfg = load_config()
    if args.workload not in cfg["sizes"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import hrtech_etl_spark  # noqa: F401 — the program under test
        import tools.oracle_check  # noqa: F401 — the registry's result hash
    except ImportError as exc:
        print(f"cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 3
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work, cfg)
    try:
        rec = run(args.workload, args.seed, args.seconds, bool(args.trace), work, cfg)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    s = rec["summary"]
    if s and s["tail_pct"] is not None:
        print(f"ops={s['n']} p50={s['p50']:.4f}s p{s['tail_pct']:g}={s['tail']:.4f}s "
              f"(tail = highest percentile with >=10 ops beyond it)")
    elif s:
        print(f"ops={s['n']} p50={s['p50']:.4f}s (no tail: fewer than 20 ops)")
    print(f"op latencies: {[round(x, 3) for x in rec['lat']]}")
    print(f"failed_ops={rec['failed']}/{rec['attempted']} "
          f"wrong_results={rec['wrong']} gen_s={rec['gen_s']:.2f} generated={rec['generated']}")
    print(f"setup reps: total {[round(x, 3) for x in rec['setups']]} "
          f"session start {[round(x, 3) for x in rec['starts']]} "
          f"process start to first timed op {rec['to_first_op_s']:.2f}s timed phase {rec['timed_s']:.2f}s")
    print(f"host: {json.dumps(rec['host'])} peak_rss_mb={rec['peak_rss_mb']:.1f}")
    if "latency" in rec:
        print(f"op_p50_s = {rec['latency']['p50']:.6g} s, items_per_s = "
              f"{rec['latency']['items_per_s']:.6g} 1/s (printed only: they follow host steal)")
    for k, (v, unit) in rec["metrics"].items():
        print(f"{k} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": rec["correct"],
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in rec["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
