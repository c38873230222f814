#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload interactive --seed 1 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 the per-layer metrics (and a per-layer table is printed
above it). Lines before it describe the run: seed, corpus sizes,
sample counts and the tail percentile of each timing.

The harness pins the environment from outside the engine package
(cores = the CPUs this process may use, a driver heap that fits the
machine, per-run Spark local and temp directories under
.perfbench/ that are removed afterwards, PYTHONPATH for the Python
workers) and starts Spark at local[cores] from this one driver process
with one closed-loop client.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3       # set-up runs per benchmark run; setup_s takes the median
DEADLINE_S = 170     # a run that is not done by then is killed (exit 3)
MB = 2 ** 20


def driver_mem_mb() -> int:
    """A sixth of the machine's memory, between 1 and 2 GiB — the
    engine's own default (16g) does not fit a small machine."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(1024, min(2048, total_kb // 1024 // 6))


def pin_env(work: str, trace: bool) -> str:
    """Environment for the Spark driver JVM and its Python workers;
    → the event-log directory (traced runs)."""
    dirs = {k: os.path.join(work, k) for k in ("local", "tmp", "events",
                                               "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_mem_mb()}m"
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    # every JVM, the spark-submit launcher's too: temp files in the run
    # directory and no hsperfdata files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={dirs['tmp']} "
                                       "-XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": dirs["warehouse"],
    }
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + dirs["events"],
                     "spark.eventLog.compress": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    return dirs["events"]


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and its Python workers,
    and wait until every process this run started has ended."""
    from pyspark import SparkContext

    from perfbench.procs import descendants, wait_gone
    kids = descendants(os.getpid())
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    left = wait_gone(kids, 30)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait_gone(left, 10)


def _abort() -> None:
    from perfbench.procs import descendants
    print(f"perfbench: run exceeded {DEADLINE_S} s, killed", file=sys.stderr)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    os._exit(3)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def run_workload(args, work: str) -> dict:
    events = pin_env(work, bool(args.trace))
    from perfbench.agg import median, timing_summary
    from perfbench.procs import RssSampler
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS, Run
    from search_engines_spark.session import get_spark

    sampler = RssSampler().start()
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark.sparkContext)
    run = Run(spark, args.seed, os.path.join(work, "data"), tracer)
    try:
        wl = WORKLOADS[args.workload](run)
        setup = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup()
            setup.append(time.perf_counter() - t0)
        wl.finish_setup()
        first = wl.run_pass()
        n_first = len(run.op_log)
        steady, t_loop = [], time.perf_counter()
        while (len(steady) < wl.passes
               or time.perf_counter() - t_loop < args.seconds):
            steady.append(wl.run_pass())
        traced = None
        if args.trace:
            tracer.recording = True
            traced = wl.run_pass()
            tracer.recording = False
            wl.probes()
        wl.check()
    finally:
        stop_spark(spark)
        sampler.stop()

    pass_s = median(p.wall for p in steady)
    lat = [x for p in steady for x in p.query_lat]
    qps = sum(p.n_queries for p in steady) / sum(p.query_s for p in steady)
    print(f"workload={args.workload} seed={args.seed} "
          f"cores={os.environ['SPARK_GRAFT_CPUS']} "
          f"driver_mem={os.environ['SPARK_DRIVER_MEM']} "
          f"corpus={json.dumps(wl.sizes())} steady_passes={len(steady)}")
    print(f"session_s={session_s:.3f} setup_runs_s="
          + ",".join(f"{x:.3f}" for x in setup)
          + " index_builds_s=" + ",".join(f"{x:.3f}" for x in wl.build_s)
          + f" prep_s={wl.prep_s:.3f}")
    print(timing_summary("pass_s", [p.wall for p in steady]))
    print(timing_summary("query_s", lat))
    for name, log in (("set-up writes and first pass", run.op_log[:n_first]),
                      ("later passes", run.op_log[n_first:])):
        by: dict[str, list] = {}
        for layer, secs in log:
            by.setdefault(layer, []).append(secs)
        print(f"{name}: " + " ".join(f"{k}={median(v):.3f}x{len(v)}"
                                     for k, v in by.items()))
    print(f"attempted={run.attempted} failed={run.failed} "
          f"failed_frac={run.failed / max(1, run.attempted):.4f} "
          f"peak_rss_mb={sampler.peak_mb:.1f} rss_samples={sampler.samples}")
    if not args.trace:
        metrics = {
            "setup_s": metric(session_s + median(setup) + wl.prep_s, "s"),
            "first_pass_s": metric(first.wall, "s"),
            "queries_per_s": metric(qps, "1/s"),
            "peak_rss_mb": metric(sampler.peak_mb, "MB"),
        }
        for k, v in metrics.items():
            print(f"{k:44s} {v['value']:14.4f} {v['unit']}")
    else:
        tracer.add_event_log(events)
        metrics = layer_metrics(wl, tracer, traced, pass_s)
        print(f"{'per-layer metric':44s} {'value':>14s} unit")
        for k, v in metrics.items():
            print(f"{k:44s} {v['value']:14.4f} {v['unit']}")
    return {"correct": run.failed == 0, "attempted": run.attempted,
            "failed": run.failed, "metrics": metrics}


LAYER_UNITS = {
    "parser.parse_s": "s",
    "engine.compile.prefetch_s": "s",
    "engine.compile.plan_s": "s",
    "spark.collect_s": "s",
    "spark.jobs_per_query": "count",
    "spark.stages_per_query": "count",
    "spark.tasks_per_query": "count",
    "spark.failed_tasks": "count",
    "spark.driver_self_s": "s",
    "spark.executor_run_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "engine.search_many.bm25_s": "s",
    "engine.search_many.indri_s": "s",
    "engine.daat.batch_s": "s",
    "engine.daat.fresh_s": "s",
    "engine.segments_many.struct_s": "s",
    "indexer.segments.decode_s": "s",
    "indexer.segments.blocks_read": "count",
    "indexer.segments.build_s": "s",
    "indexer.segments.bytes": "bytes",
    "indexer.segments.bytes_per_text_byte": "ratio",
    "indexer.build.postings_s": "s",
    "indexer.build.postings": "count",
    "indexer.merge.append_s": "s",
    "indexer.merge.delete_s": "s",
    "indexer.merge.compact_s": "s",
    "indexer.merge.bytes_rewritten": "bytes",
    "indexer.merge.live_generations": "count",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


def layer_metrics(wl, tracer, traced, pass_s: float) -> dict:
    """Per-layer numbers of the traced pass (0 for a layer the workload
    does not exercise), plus set-up and probe measurements."""
    from perfbench.agg import median
    T = tracer.layer_seconds
    tot = tracer.totals()
    nq = max(1, traced.n_queries)
    v = dict.fromkeys(LAYER_UNITS, 0.0)
    v.update({
        "parser.parse_s": T("parser"),
        "engine.compile.prefetch_s": max(0.0, T("engine.parse") - T("parser")),
        "engine.compile.plan_s": T("engine.compile.plan"),
        "spark.collect_s": T("spark.collect"),
        "spark.jobs_per_query": tot["jobs"] / nq,
        "spark.stages_per_query": tot["stages"] / nq,
        "spark.tasks_per_query": tot["tasks"] / nq,
        "spark.failed_tasks": tot["failed_tasks"],
        "spark.driver_self_s": tot["driver_self_s"],
        "spark.executor_run_s": tot["executor_run_s"],
        "spark.shuffle_read_bytes": tot["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "spark.spill_bytes": tot["spill_bytes"],
        "engine.search_many.bm25_s": T("engine.search_many.bm25"),
        "engine.search_many.indri_s": T("engine.search_many.indri"),
        "engine.daat.batch_s": T("engine.daat.batch"),
        "indexer.build.postings_s": median(wl.build_s),
        "indexer.build.postings": wl.n_postings,
        "trace.pass_s": traced.wall,
        "trace.overhead_s": traced.wall - pass_s,
    })
    v.update(wl.layers)
    return {k: metric(x, LAYER_UNITS[k]) for k, x in v.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("interactive", "batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1.0,
                    help="least length of the timed loop; it always runs "
                         "the workload's fixed number of passes first")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "search_engines_spark",
                                       "__init__.py")):
        print("perfbench: the engine package search_engines_spark/ is not "
              f"in {ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    watchdog = threading.Timer(DEADLINE_S, _abort)
    watchdog.daemon = True
    watchdog.start()
    try:
        result = run_workload(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass   # another run's directory is still there
    watchdog.cancel()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
