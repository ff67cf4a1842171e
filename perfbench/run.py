"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--smoke]

Runs one workload on local[nproc] in this process, checks its outputs and
prints, as the last stdout line, one JSON object: correct, attempted, failed
and metrics (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The line before it is a JSON report: the
environment record, measured traffic properties, per-query times and every
error. Spans of a traced run go to ``perfbench/_results/``.

Workloads (see BENCHMARK.json for why each exists):
  query_mix   closed loop: short gmall queries and an iterative curation
              query, in registry order at sf0.01, for a fixed number of
              passes
  ods_stream  open-loop replay of the behaviour-log and CDC topics: one
              file pair every PERIOD_S seconds for ``--seconds`` seconds

``--smoke`` shrinks every workload (sf0.001, three queries, a small
stream) so the benchmark's own tests can exercise it quickly.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.envinfo import PeakRss, environment  # noqa: E402

# one closed-loop list, run in registry order: short gmall queries
# (coordination-bound: plan construction, scan set-up, scheduling, AQE) and
# an iterative curation query (connected components: jobs run during plan
# construction, auto-sizing probes)
QUERY_MIX = {"uv_daily", "cdc_route_kafka", "dedup_clusters"}
SMOKE_QUERIES = {"uv_daily", "cdc_route_kafka", "kmeans_clusters"}
QUERY_SF = 0.01
SMOKE_SF = 0.001

END_TO_END = [
    ("setup_s", "s"), ("mix_s", "s"), ("query_geomean_s", "s"),
    ("freshness_mean_s", "s"),
    ("capacity_eps", "records/s"),
]
PER_LAYER = [
    ("queries.build_s", "s"), ("queries.exec_s", "s"), ("queries.build_jobs", "count"),
    ("queries.self_s", "s"), ("session.self_s", "s"),
    ("sources.self_s", "s"), ("operators.self_s", "s"),
    ("functions.self_s", "s"), ("functions.jobs", "count"),
    ("tuning.self_s", "s"), ("tuning.jobs", "count"),
    ("streaming.self_s", "s"), ("stateful.self_s", "s"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.idle_frac", "ratio"), ("exec.executor_run_s", "s"),
    ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
    ("exec.spill_mb", "MB"), ("exec.task_skew", "ratio"),
    ("stateful.update_s", "s"), ("stateful.commit_s", "s"),
    ("stateful.state_rows", "count"), ("stateful.state_mem_mb", "MB"),
    ("stateful.rows_dropped_late", "count"),
    ("streaming.add_batch_s", "s"), ("streaming.batches", "count"),
    ("streaming.plan_s", "s"), ("streaming.offsets_s", "s"),
    ("streaming.commit_s", "s"), ("streaming.start_s", "s"),
    ("streaming.dim_upsert_s", "s"), ("streaming.backlog_max_files", "count"),
    ("gen.late_max_s", "s"), ("trace.overhead_s", "s"), ("peak_rss_mb", "MB"),
]


def make_workload(name: str, seconds: float, smoke: bool):
    from perfbench.odsreplay import OdsReplay
    from perfbench.querymix import QueryMix

    if name == "query_mix":
        from gmall_flink_yb_spark.queries import QUERIES

        names = SMOKE_QUERIES if smoke else QUERY_MIX
        return QueryMix(name, [q for q in QUERIES if q in names],
                        SMOKE_SF if smoke else QUERY_SF)
    if name == "ods_stream":
        from perfbench.odsreplay import PERIOD_S, WARM_FILES

        # timed pairs are due at 0, PERIOD_S, ... up to ``seconds``
        files = WARM_FILES + int(seconds / PERIOD_S) + 1
        shape = (datagen.OdsShape(files=files, log_events=100, devices=60, orders=5)
                 if smoke else datagen.OdsShape(files=files))
        return OdsReplay(name, shape)
    raise ValueError(f"unknown workload {name!r}")


def _session(work: str):
    from gmall_flink_yb_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(workload: str, seed: int, seconds: float, trace: bool, smoke: bool,
        spark=None) -> tuple[dict, dict]:
    """Set up, measure and check one workload. Returns (result, report).
    With ``spark`` given (the tests), that session is used and kept."""
    from perfbench.tracing import Tracer

    tag = f"{workload}-s{seed}-t{int(trace)}{'-smoke' if smoke else ''}"
    work = os.path.join(ROOT, "perfbench", "_work", tag)
    results = os.path.join(ROOT, "perfbench", "_results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    env = environment()
    wl = make_workload(workload, seconds, smoke)
    tracer = Tracer() if trace else None
    own_session = spark is None
    with PeakRss() as rss:
        t = time.perf_counter()
        wl.generate(work, seed)
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        w0 = time.time()
        if own_session:
            spark = _session(work)
        session_s = time.perf_counter() - t
        if tracer is not None:
            tracer.add("session", "get_spark", w0, time.time(), None)
        t = time.perf_counter()
        wl.warm_up(spark)
        warm_s = time.perf_counter() - t
        t = time.perf_counter()
        measured = wl.measure(spark, seconds, tracer)
        measure_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.check(spark)
        check_s = time.perf_counter() - t
    report = measured.pop("_report", getattr(wl, "report", {}))
    metrics = dict(measured)
    metrics["setup_s"] = gen_s + session_s + warm_s
    metrics["peak_rss_mb"] = rss.peak / 1e6
    # every error is one failed operation: a query or check that raised, or
    # an output that differs from its reference
    failed = len(wl.errors)
    attempted = max(wl.attempted, 1)
    if tracer is not None:
        tracer.write_jsonl(os.path.join(results, f"trace-{tag}.jsonl"))
    if own_session:
        _stop(spark)
    shutil.rmtree(work, ignore_errors=True)
    units = dict(END_TO_END if not trace else PER_LAYER)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                    for k, u in units.items()},
    }
    full = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "smoke": smoke, "env": env, "error_rate": failed / attempted,
        "errors": wl.errors, "setup": {"gen_s": gen_s, "session_s": session_s,
                                       "warm_up_s": warm_s,
                                       "measure_s": measure_s, "check_s": check_s},
        "report": report, "metrics": metrics,
        "peak_rss_parts_mb": {k: v / 1e6 for k, v in rss.parts.items()},
    }
    with open(os.path.join(results, "runs.jsonl"), "a") as f:
        f.write(json.dumps(full, default=str) + "\n")
    return result, full


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["query_mix", "ods_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    work_tmp = os.path.join(ROOT, "perfbench", "_work", "tmp")
    os.makedirs(work_tmp, exist_ok=True)
    # before the engine is imported: it sizes local[] and shuffle partitions
    # from this variable; Spark's children inherit the path and temp dir
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = work_tmp
    # no JVM (launcher or driver) writes its perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        import gmall_flink_yb_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable: {e}", file=sys.stderr)
        return 2
    result, full = run(args.workload, args.seed, args.seconds, bool(args.trace), args.smoke)
    print(json.dumps(full, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
