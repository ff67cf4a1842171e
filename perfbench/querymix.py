"""Closed-loop query-mix workloads: one client runs the registry queries in
registry order, each materialized through the noop sink, and the next query
starts when the previous one has finished."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass

from perfbench import datagen, stats
from perfbench.tracing import (
    BENCH,
    StatusStore,
    Tracer,
    exec_metrics,
    innermost,
    layer_self_times,
)

TIMED_GROUP = "perfbench-timed"
TIMED_PASSES = 3


@dataclass
class QueryRecord:
    name: str
    build_s: float
    exec_s: float
    ok: bool

    @property
    def total_s(self) -> float:
        return self.build_s + self.exec_s


class QueryMix:
    """Workload over a fixed list of registered queries at scale ``sf``."""

    def __init__(self, name: str, queries: list[str], sf: float):
        self.name, self.queries, self.sf = name, queries, sf
        self.data_dir = ""
        self.outputs: dict[str, tuple[list[str], list[tuple]]] = {}
        self.errors: list[str] = []
        self.attempted = 0

    # -- set-up ------------------------------------------------------------
    def generate(self, work: str, seed: int) -> None:
        self.data_dir = os.path.join(work, "data")
        datagen.write_star_tables(self.data_dir, self.sf, seed)

    def warm_up(self, spark) -> None:
        """One untimed pass that collects every result for the oracle
        check and starts the Python workers and the JIT."""
        from gmall_flink_yb_spark.functions.cacheutil import release_cache
        from gmall_flink_yb_spark.queries import QUERIES

        for name in self.queries:
            self.attempted += 1
            spark.catalog.clearCache()
            try:
                df = QUERIES[name](spark, self.data_dir)
                self.outputs[name] = (df.columns, [tuple(r) for r in df.collect()])
                release_cache(df)
            except Exception as e:  # noqa: BLE001 - counted, run continues
                self.errors.append(f"{name}: warm-up raised {type(e).__name__}: {e}")

    # -- timed passes ------------------------------------------------------
    def _pass(self, spark, tracer: Tracer | None, tag: str) -> list[QueryRecord]:
        from gmall_flink_yb_spark.functions.cacheutil import release_cache
        from gmall_flink_yb_spark.queries import QUERIES

        sc = spark.sparkContext
        recs = []
        for name in self.queries:
            self.attempted += 1
            spark.catalog.clearCache()
            ok = True
            t0 = time.perf_counter()
            t1 = t0
            try:
                if tracer is None:
                    df = QUERIES[name](spark, self.data_dir)
                    t1 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                else:
                    sc.setJobGroup(f"{tag}:b:{name}", name)
                    with tracer.span("queries", f"build:{name}"):
                        df = QUERIES[name](spark, self.data_dir)
                    t1 = time.perf_counter()
                    sc.setJobGroup(f"{tag}:x:{name}", name)
                    with tracer.span("queries", f"exec:{name}"):
                        df.write.format("noop").mode("overwrite").save()
                release_cache(df)
            except Exception as e:  # noqa: BLE001 - counted, run continues
                ok = False
                self.errors.append(f"{name}: {type(e).__name__}: {e}")
            t2 = time.perf_counter()
            recs.append(QueryRecord(name, t1 - t0, t2 - t1, ok))
        return recs

    def measure(self, spark, seconds: float, tracer: Tracer | None) -> dict:
        """Untraced: TIMED_PASSES passes, returning the end-to-end metrics.
        Traced: two traced and two untraced passes (the overhead baseline),
        returning the per-layer metrics. A fixed count,
        not ``seconds``: the passes still speed up as the JIT warms, so runs
        compare only at the same pass numbers."""
        sc = spark.sparkContext
        passes: list[list[QueryRecord]] = []
        walls: list[float] = []
        if tracer is None:
            sc.setJobGroup(TIMED_GROUP, "timed passes")
            for _ in range(TIMED_PASSES):
                t = time.perf_counter()
                passes.append(self._pass(spark, None, ""))
                walls.append(time.perf_counter() - t)
            sc.setLocalProperty("spark.jobGroup.id", None)
            return self._end_to_end(spark, passes, walls)

        base_walls: list[float] = []
        traced_walls: list[float] = []
        # one discarded pass takes the first timed pass's JIT cost; then
        # untraced and traced passes in ABBA order, so that the speed-up
        # still under way favours neither side of the overhead
        self._pass(spark, None, "")
        try:
            for traced in (False, True, True, False):
                if not traced:
                    t = time.perf_counter()
                    self._pass(spark, None, "")
                    base_walls.append(time.perf_counter() - t)
                    continue
                p = len(traced_walls)
                tracer.install()
                t = time.perf_counter()
                with tracer.span(BENCH, f"pass:{p}"):
                    passes.append(self._pass(spark, tracer, f"p{p}"))
                traced_walls.append(time.perf_counter() - t)
                tracer.uninstall()
        finally:
            tracer.uninstall()
            sc.setLocalProperty("spark.jobGroup.id", None)
        return self._per_layer(spark, tracer, passes, traced_walls, base_walls)

    def _end_to_end(self, spark, passes, walls) -> dict:
        per_query: dict[str, list[float]] = {}
        latencies = []
        for recs in passes:
            for r in recs:
                if r.ok:
                    per_query.setdefault(r.name, []).append(r.total_s)
                    latencies.append(r.total_s)
        jobs = StatusStore(spark)
        records = jobs.summarize(jobs.group_jobs(TIMED_GROUP))["input_records"]
        return {
            "mix_s": stats.median(walls),
            "query_geomean_s": stats.geomean(
                [stats.median(v) for v in per_query.values()]
            ),
            # closed loop: a query is due when its predecessor finishes, so
            # its freshness is its own wall time
            "freshness_mean_s": statistics.fmean(latencies),
            "capacity_eps": records / sum(walls),
            "_report": {
                "passes": len(walls),
                "pass_s": walls,
                "latency_samples": len(latencies),
                # percentiles only where the sample supports them
                **{f"latency_p{pct:g}_s": stats.percentile(latencies, pct)
                   for pct in (50, 90) if stats.supported(len(latencies), pct)},
                "input_records_per_pass": records / len(walls),
                "per_query_median_s": {
                    k: stats.median(v) for k, v in per_query.items()
                },
            },
        }

    def _per_layer(self, spark, tracer, passes, traced_walls, base_walls) -> dict:
        n = len(traced_walls)
        jobs = StatusStore(spark)
        build_ids, exec_ids = [], []
        for p in range(n):
            for name in self.queries:
                build_ids += jobs.group_jobs(f"p{p}:b:{name}")
                exec_ids += jobs.group_jobs(f"p{p}:x:{name}")
        all_ids = sorted(build_ids + exec_ids)
        summary = jobs.summarize(all_ids, tasks=True)
        main = next(
            (s["thread"] for s in tracer.spans if s["name"].startswith("pass:")), None
        )
        # exec spans: each Spark job under the innermost open Python span
        py_spans = list(tracer.spans)
        job_layer: dict[str, int] = {}
        for jid in all_ids:
            j = jobs.job(jid)
            if j["start"] is None or j["end"] is None:
                continue
            host = innermost(py_spans, main, j["start"])
            tracer.add("exec", f"job:{jid}", j["start"], j["end"],
                       host["id"] if host else None, stages=j["stage_ids"])
            layer = host["layer"] if host else "queries"
            job_layer[layer] = job_layer.get(layer, 0) + 1
        own = layer_self_times(tracer.spans)
        build_s = sum(r.build_s for recs in passes for r in recs)
        exec_s = sum(r.exec_s for recs in passes for r in recs)
        out = {
            "queries.build_s": build_s / n,
            "queries.exec_s": exec_s / n,
            "queries.build_jobs": len(build_ids) / n,
            **exec_metrics(summary, sum(traced_walls),
                           spark.sparkContext.defaultParallelism, n),
            "trace.overhead_s": stats.median(traced_walls) - stats.median(base_walls),
            "_report": {"traced_pass_s": traced_walls, "untraced_pass_s": base_walls},
        }
        for layer in ("functions", "tuning", "operators", "sources"):
            out[f"{layer}.jobs"] = job_layer.get(layer, 0) / n
        for layer, s in own.items():
            out[f"{layer}.self_s"] = s / n
        return out

    # -- checks ------------------------------------------------------------
    def check(self, spark) -> None:
        """Compare each warm-up output with its DuckDB oracle (row count,
        column names, order-insensitive value hash); each mismatch is an
        error."""
        import duckdb

        from gmall_flink_yb_spark.queries import ORACLES
        from gmall_flink_yb_spark.schemas import TESTDATA_TABLES
        from tools.check_oracle import table_hash

        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.data_dir}/{t}.parquet')"
            )
        for name, (scols, srows) in self.outputs.items():
            self.attempted += 1
            res = con.sql(ORACLES[name])
            ocols, orows = res.columns, res.fetchall()
            if (len(srows) != len(orows) or sorted(scols) != sorted(ocols)
                    or table_hash(scols, srows) != table_hash(ocols, orows)):
                self.errors.append(f"{name}: differs from its DuckDB oracle")
        con.close()
