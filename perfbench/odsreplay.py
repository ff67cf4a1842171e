"""Open-loop replay of the two gmall ODS topics through the shipped
streaming wiring.

A generator thread writes one behaviour-log file and one CDC file every
``PERIOD_S`` seconds, on a schedule that does not wait for the engine. The
main thread runs replay rounds: each round starts, at once, every
``availableNow`` query whose source has unread files and waits until all of
them have finished. The period leaves room for one round per file pair, so
an engine that keeps up starts each round with one pair unread; a round that
starts with more than ``SUSTAINED_BACKLOG`` pairs unread means the offered
rate is not sustainable, and the report says so. Freshness is timed per
(file, query) from when the file was due to the commit of the micro-batch
that read it, taken from the query's checkpoint.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

from perfbench import datagen, stats
from perfbench.tracing import BENCH, StatusStore, Tracer, exec_metrics, layer_self_times

LOG_QUERIES = ("fanout", "is_new", "uv", "bounce")
CDC_QUERIES = ("cdc_routing", "order_wide")
ALL_QUERIES = LOG_QUERIES + CDC_QUERIES
# the order a round starts its queries in: the slowest first, so that the
# round does not wait on a slow query that was started last
ROUND_ORDER = ("cdc_routing", "order_wide", "bounce", "uv", "is_new", "fanout")
# file pairs put through every query during set-up, before the timed replay
WARM_FILES = 2
# one timed file pair per period: a round of all six queries over one pair
# takes 8-11 s on a 4-core x86 box (local[4]), and 12-16 s while other load
# shares the box, so an engine that keeps up leaves each round one pair to
# read; see CHANGES.md
PERIOD_S = 14.0
# file pairs a round may find unread before the rate counts as unsustainable
SUSTAINED_BACKLOG = 2
# micro-batch phases that run before addBatch, in the order a batch runs them
PRE_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning")
QUERY_GLOBS = {name: ("log", "*.json") for name in LOG_QUERIES}
QUERY_GLOBS.update({name: ("cdc", "*.json") for name in CDC_QUERIES})
BOUNCE_WINDOW_MS = 10_000
# table_process rows: orders and details route to kafka topics, user_info
# upserts a dim table; order_info updates have no row and are dropped
CONFIG_ROWS = [
    ("order_info", "insert", "kafka", "dwd_order_info",
     "id,user_id,province_id,total_amount,create_time", "id", None),
    ("order_detail", "insert", "kafka", "dwd_order_detail",
     "id,order_id,sku_id,sku_num,order_price,create_time", "id", None),
    ("user_info", "insert", "hbase", "dim_user_info", "id,version,name,gender", "id", None),
    ("user_info", "update", "hbase", "dim_user_info", "id,version,name,gender", "id", None),
]


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


@dataclass
class _Run:
    """One availableNow run of a query, from the call that started it to
    the end of its last micro-batch."""

    query: str
    query_id: str
    begin: float  # epoch s
    progress: list[dict]
    start_span: int | None = None

    @property
    def busy_s(self) -> float:
        return sum(p["durationMs"]["triggerExecution"] for p in self.progress) / 1000

    @property
    def end(self) -> float:
        return max((_ts(p) + p["durationMs"]["triggerExecution"] / 1000
                    for p in self.progress), default=self.begin)


@dataclass
class _Replay:
    """One replay tree: source dirs, outputs and checkpoints under ``root``."""

    root: str
    spark: object
    runs: list[_Run] = field(default_factory=list)

    def __post_init__(self):
        for d in ("log", "cdc", "out", "ckpt"):
            os.makedirs(os.path.join(self.root, d), exist_ok=True)
        from gmall_flink_yb_spark.schemas import TABLE_PROCESS_SCHEMA

        self.config = self.spark.createDataFrame(CONFIG_ROWS, TABLE_PROCESS_SCHEMA)

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    # -- stream definitions (module attributes, so a traced run sees them) --
    def _raw(self, topic: str, glob: str):
        from pyspark.sql.types import StringType, StructField, StructType

        from gmall_flink_yb_spark.streaming import pipelines

        return pipelines.read_file_stream(
            self.spark, self.path(topic),
            StructType([StructField("value", StringType())]), fmt="text", glob=glob,
        )

    def _sink(self, df, name: str):
        return (
            df.writeStream.format("parquet")
            .option("path", self.path("out", name))
            .option("checkpointLocation", self.path("ckpt", name))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    def start(self, name: str):
        from pyspark.sql import functions as F

        from gmall_flink_yb_spark.sources import cdc, readers
        from gmall_flink_yb_spark.streaming import pipelines, stateful

        topic, glob = QUERY_GLOBS[name]
        raw = self._raw(topic, glob)
        if topic == "log":
            clean, _dirty = readers.parse_log_stream(raw)
            if name == "fanout":
                return pipelines.start_log_split_fanout(
                    clean, self.path("out", name), self.path("ckpt", name)
                )
            return self._sink(_log_stream(clean, name, stateful, pipelines, F), name)
        env = cdc.debezium_to_envelope(raw)
        if name == "cdc_routing":
            return pipelines.start_cdc_routing(
                env, lambda: self.config, self.path("out", name), self.path("ckpt", name)
            )
        info, detail = _order_facts(env, F)
        return self._sink(_order_wide_out(pipelines.order_wide_stream(info, detail)), name)

    # -- rounds and progress ----------------------------------------------
    def unread(self, name: str) -> list[int]:
        """Indices of the files in the query's source it has not read yet."""
        import fnmatch

        topic, glob = QUERY_GLOBS[name]
        seen = self._source_log(name)
        return sorted(_file_index(fn) for fn in fnmatch.filter(os.listdir(self.path(topic)), glob)
                      if fn not in seen)

    def round(self, names, tracer: Tracer | None = None) -> None:
        """Start every named query, then wait until all have finished."""
        started = []
        for name in names:
            begin = time.time()
            sid = None
            if tracer is None:
                q = self.start(name)
            else:
                with tracer.span(BENCH, f"start:{name}") as sid:
                    q = self.start(name)
            started.append((name, begin, q, sid))
        for name, begin, q, sid in started:
            _await(name, q)
            self.runs.append(_Run(name, str(q.id), begin, _progress(q), sid))

    def _source_log(self, name: str) -> dict[str, int]:
        """File name -> the file source's own log offset for it."""
        out: dict[str, int] = {}
        src = self.path("ckpt", name, "sources", "0")
        if not os.path.isdir(src):
            return out
        for fn in os.listdir(src):
            if fn.startswith("."):
                continue
            with open(os.path.join(src, fn)) as f:
                for line in f:
                    line = line.strip()
                    if line.startswith("{"):
                        e = json.loads(line)
                        out[os.path.basename(e["path"])] = int(e["batchId"])
        return out

    def files_read(self, name: str) -> dict[str, int]:
        """File name -> id of the micro-batch that read it. The file source
        numbers its log by its own offsets, which the no-data batches of a
        stateful query do not advance; the query's offset log maps each
        batch to the source offset it read up to."""
        ends: dict[int, int] = {}
        d = self.path("ckpt", name, "offsets")
        for fn in os.listdir(d) if os.path.isdir(d) else []:
            if fn.isdigit():
                with open(os.path.join(d, fn)) as f:
                    lines = [x for x in f.read().splitlines() if x.strip()]
                ends[int(fn)] = int(json.loads(lines[-1])["logOffset"])
        out = {}
        for fn, offset in self._source_log(name).items():
            batches = [b for b, end in ends.items() if end >= offset]
            if batches:
                out[fn] = min(batches)
        return out

    def commit_times(self, name: str) -> dict[int, float]:
        d = self.path("ckpt", name, "commits")
        if not os.path.isdir(d):
            return {}
        return {
            int(fn): os.stat(os.path.join(d, fn)).st_mtime
            for fn in os.listdir(d) if fn.isdigit()
        }


def _log_stream(clean, name, stateful, pipelines, F):
    """The DWD/DWM forms over the parsed log: flat per-event columns."""
    ts = F.timestamp_millis(F.col("ts")).alias("ts")
    if name == "is_new":
        flat = clean.select(F.col("common.mid").alias("mid"), ts,
                            F.col("common.is_new").alias("is_new"))
        return stateful.correct_is_new_stream(flat, "mid", "ts", "is_new")
    pages = clean.filter(F.col("start").isNull()).select(
        F.col("common.mid").alias("mid"), ts,
        F.col("page.last_page_id").alias("last_page_id"),
    )
    entry = F.col("last_page_id").isNull() | (F.col("last_page_id") == "")
    if name == "uv":
        return pipelines.unique_visitors_stream(
            pages, key_col="mid", ts_col="ts", entry_filter=entry
        ).select("mid", "ts")
    events = pages.select("mid", "ts", entry.alias("is_entry")).withWatermark("ts", "1 second")
    return stateful.detect_bounce_stream(events, "mid", "ts", "is_entry", 10)


def _order_facts(env, F):
    """Typed order_info / order_detail inserts from the CDC envelope."""
    def col(name, typ):
        return F.col("after").getItem(name).cast(typ)

    ct = F.to_timestamp(F.col("after").getItem("create_time"), "yyyy-MM-dd HH:mm:ss")
    ins = F.col("type") == "insert"
    info = env.filter((F.col("tableName") == "order_info") & ins).select(
        col("id", "long").alias("id"), col("user_id", "long").alias("user_id"),
        col("province_id", "long").alias("province_id"),
        col("total_amount", "decimal(16,2)").alias("total_amount"),
        ct.alias("create_ts"),
    )
    detail = env.filter((F.col("tableName") == "order_detail") & ins).select(
        col("id", "long").alias("detail_id"), col("order_id", "long").alias("order_id"),
        col("sku_id", "long").alias("sku_id"), col("sku_num", "long").alias("sku_num"),
        col("order_price", "decimal(16,2)").alias("order_price"),
        ct.alias("create_ts"),
    )
    return info, detail


def _await(name: str, q) -> None:
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"{name}: {q.exception()}")


def _order_wide_out(wide):
    from pyspark.sql import functions as F

    return wide.select(
        F.col("l.id").alias("id"), F.col("r.detail_id").alias("detail_id"),
        F.col("l.user_id").alias("user_id"), F.col("r.sku_id").alias("sku_id"),
        F.col("r.order_price").alias("order_price"),
        F.col("l.create_ts").alias("order_ts"),
    )


class _Writer(threading.Thread):
    """Writes file pair k at ``due(k)``, the first after the warm-up files
    at ``start`` (each to a hidden name, then renamed, so a stream never
    lists a partial file)."""

    def __init__(self, replay: _Replay, plan: datagen.OdsPlan, start: float, period: float):
        super().__init__(daemon=True)
        self.replay, self.plan, self.start_at, self.period = replay, plan, start, period
        self.written: list[tuple[float, float]] = []  # (due, written), epoch s
        self.error: BaseException | None = None

    def due(self, k: int) -> float:
        return self.start_at + (k - WARM_FILES) * self.period

    def run(self) -> None:
        try:
            pairs = list(zip(self.plan.log_files, self.plan.cdc_files))
            for k, (log, cdc) in enumerate(pairs[WARM_FILES:], start=WARM_FILES):
                wait = self.due(k) - time.time()
                if wait > 0:
                    time.sleep(wait)
                for topic, data in (("log", log), ("cdc", cdc)):
                    _put(self.replay.path(topic), f"{topic}-{k:05d}.json", data)
                self.written.append((self.due(k), time.time()))
        except BaseException as e:  # noqa: BLE001 - re-raised by the main thread
            self.error = e


def _put(directory: str, name: str, data: bytes) -> None:
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "wb") as f:
        f.write(data)
    os.rename(tmp, os.path.join(directory, name))


class OdsReplay:
    def __init__(self, name: str, shape: datagen.OdsShape):
        self.name, self.shape = name, shape
        self.plan: datagen.OdsPlan | None = None
        self.work = ""
        self.errors: list[str] = []
        self.attempted = 0
        self.replay: _Replay | None = None
        self.report: dict = {}

    def generate(self, work: str, seed: int) -> None:
        self.work = work
        self.plan = datagen.ods_plan(self.shape, seed)

    def warm_up(self, spark) -> None:
        """Put the first WARM_FILES file pairs through every query; the timed
        replay continues from there."""
        replay = self.replay = _Replay(os.path.join(self.work, "replay"), spark)
        for k in range(WARM_FILES):
            _put(replay.path("log"), f"log-{k:05d}.json", self.plan.log_files[k])
            _put(replay.path("cdc"), f"cdc-{k:05d}.json", self.plan.cdc_files[k])
        replay.round(ROUND_ORDER)

    def measure(self, spark, seconds: float, tracer: Tracer | None) -> dict:
        replay = self.replay
        writer = _Writer(replay, self.plan, time.time() + 0.1, PERIOD_S)
        rounds: list[float] = []
        backlog: list[int] = []  # file pairs unread at each round's start
        lag: list[float] = []  # seconds since the oldest of them was due
        first_run = len(replay.runs)
        jobs_before = _job_count(spark)
        window_start = time.time()
        if tracer is not None:
            sc = spark.sparkContext
            # a foreachBatch body runs on a callback thread; Spark's local
            # properties there name the query and micro-batch it serves
            tracer.root_attrs = lambda: {
                "query_id": sc.getLocalProperty("sql.streaming.queryId"),
                "batch_id": sc.getLocalProperty("streaming.sql.batchId"),
            }
            tracer.install()
        writer.start()
        try:
            while True:
                if writer.error is not None:
                    raise writer.error
                writing = writer.is_alive()
                # only whole pairs: the writer may be between its two files
                ready = WARM_FILES + len(writer.written)
                unread = {n: [k for k in replay.unread(n) if k < ready] for n in ROUND_ORDER}
                names = [n for n in ROUND_ORDER if unread[n]]
                if not names:
                    if not writing:
                        break
                    time.sleep(0.05)
                    continue
                backlog.append(max(len(v) for v in unread.values()))
                lag.append(time.time() - writer.due(min(v[0] for v in unread.values() if v)))
                self.attempted += len(names)
                t = time.perf_counter()
                if tracer is None:
                    replay.round(names)
                else:
                    with tracer.span(BENCH, f"round:{len(rounds)}"):
                        replay.round(names, tracer)
                rounds.append(time.perf_counter() - t)
        finally:
            writer.join()
            if tracer is not None:
                tracer.uninstall()
                tracer.root_attrs = None
        window = (window_start, time.time())
        runs = replay.runs[first_run:]
        late = [w - d for d, w in writer.written]
        fresh = freshness_samples(
            {n: (replay.files_read(n), replay.commit_times(n)) for n in ALL_QUERIES},
            writer.due,
        )
        samples = [x for v in fresh.values() for x in v]
        self.report = {
            "traffic": self.plan.props,
            "period_s": PERIOD_S,
            "rounds": len(rounds),
            "round_s": rounds,
            "backlog_by_round": backlog,
            "lag_by_round_s": lag,
            "sustained": max(backlog) <= SUSTAINED_BACKLOG,
            # (query, start after the first due time, wall, [(batch s, rows)])
            "runs": [(r.query, round(r.begin - writer.start_at, 2), round(r.end - r.begin, 3),
                      [(p["durationMs"]["triggerExecution"] / 1000, p["numInputRows"])
                       for p in r.progress]) for r in runs],
            "freshness": {
                "samples": len(samples),
                # percentiles only where the sample supports them
                **{f"p{pct:g}_s": stats.percentile(samples, pct)
                   for pct in (50, 90) if stats.supported(len(samples), pct)},
                "mean_by_query_s": {n: statistics.fmean(v) for n, v in fresh.items() if v},
            },
            "backlog_max_files": max(backlog),
            "gen_late_max_s": max(late),
            "gen_late_p50_s": stats.median(late),
        }
        if not self.report["sustained"]:
            print(f"perfbench: ods_stream backlog reached {max(backlog)} file pairs "
                  f"(rounds {backlog}): the offered rate is not sustained",
                  file=sys.stderr)
        if tracer is not None:
            return self._per_layer(spark, tracer, runs, window, jobs_before)
        every = [p for r in runs for p in r.progress]
        data: dict[str, list[float]] = {}
        for r in runs:
            for p in r.progress:
                if p["numInputRows"] > 0:
                    data.setdefault(r.query, []).append(
                        p["durationMs"]["triggerExecution"] / 1000)
        return {
            "mix_s": stats.median(rounds),
            "query_geomean_s": stats.geomean([stats.median(v) for v in data.values()]),
            "freshness_mean_s": statistics.fmean(samples),
            "capacity_eps": sum(p["numInputRows"] for p in every)
            / sum(r.busy_s for r in runs),
            "_report": self.report,
        }

    def _per_layer(self, spark, tracer, runs, window, jobs_before) -> dict:
        t0, t1 = window
        python_spans = len(tracer.spans)
        batches = [p for r in runs for p in r.progress]

        def dur(*keys):
            return sum(p["durationMs"].get(k, 0) for p in batches for k in keys) / 1000

        state_ops = [op for p in batches for op in p.get("stateOperators", [])]
        last_run = {r.query: r for r in runs if r.progress}
        final_ops = [op for r in last_run.values()
                     for op in r.progress[-1].get("stateOperators", [])]
        store = StatusStore(spark)
        jobs = []
        for jid in range(jobs_before, _job_count(spark)):
            try:
                j = store.job(jid)
            except Py4JJavaError:  # evicted from the status store
                continue
            if j["start"] is not None and j["end"] is not None and t0 <= j["start"] <= t1:
                jobs.append(j)
        summary = store.summarize([j["job_id"] for j in jobs], tasks=True)
        nest_replay_spans(tracer, runs, jobs)
        own = layer_self_times(tracer.spans)
        lanes = sum(r.end - r.begin for r in runs)
        self.report["lane_s"] = lanes
        self.report["layer_self_s"] = own
        out = {
            "streaming.batches": float(len(batches)),
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.plan_s": dur("queryPlanning"),
            "streaming.offsets_s": dur("latestOffset", "getBatch"),
            "streaming.commit_s": dur("walCommit", "commitOffsets"),
            "streaming.start_s": sum(r.end - r.begin - r.busy_s for r in runs),
            "streaming.dim_upsert_s": sum(
                s["end"] - s["start"] for s in tracer.spans
                if s["name"] == "upsert_dim_parquet"
            ),
            "streaming.backlog_max_files": float(self.report["backlog_max_files"]),
            "gen.late_max_s": self.report["gen_late_max_s"],
            "stateful.update_s": sum(op.get("allUpdatesTimeMs", 0) for op in state_ops) / 1000,
            "stateful.commit_s": sum(op.get("commitTimeMs", 0) for op in state_ops) / 1000,
            "stateful.state_rows": float(sum(op.get("numRowsTotal", 0) for op in final_ops)),
            "stateful.state_mem_mb": sum(op.get("memoryUsedBytes", 0) for op in final_ops) / 1e6,
            "stateful.rows_dropped_late": float(sum(
                op.get("numRowsDroppedByWatermark", 0) for op in state_ops
            )),
            **exec_metrics(summary, t1 - t0, spark.sparkContext.defaultParallelism),
            # every round is traced here, so the overhead is the calibrated
            # cost of one rebound call times the calls recorded
            "trace.overhead_s": tracer.span_cost() * python_spans,
        }
        for layer, s in own.items():
            out[f"{layer}.self_s"] = s
        return out

    # -- checks ------------------------------------------------------------
    def _bounce_watermark_ms(self) -> float:
        """The event-time watermark the last bounce micro-batch ran with."""
        import datetime as dt

        last = [p for r in self.replay.runs if r.query == "bounce" for p in r.progress][-1]
        wm = last["eventTime"]["watermark"].replace("Z", "+00:00")
        return dt.datetime.fromisoformat(wm).timestamp() * 1000

    def check(self, spark) -> None:
        """Compare every stream output with the batch forms over the full
        generated input; each mismatch is an error. The comparisons are
        independent reads, so they run as concurrent Spark jobs."""
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import functions as F

        from gmall_flink_yb_spark.operators import bounce, log_split, routing, visitor
        from gmall_flink_yb_spark.sources import cdc, readers
        from gmall_flink_yb_spark.streaming import pipelines

        r = self.replay

        def out(name, *sub):
            return spark.read.parquet(r.path("out", name, *sub))

        def rows(df, *cols) -> list:
            return sorted(tuple(x) for x in df.select(*cols).collect())

        clean, _ = readers.parse_log_stream(spark.read.text(r.path("log")))
        clean = clean.persist()
        parts = log_split.split_log_stream(clean)
        ts = F.timestamp_millis(F.col("ts")).alias("ts")
        flat = clean.select(F.col("common.mid").alias("mid"), ts,
                            F.col("common.is_new").alias("is_new"))
        pages = clean.filter(F.col("start").isNull()).select(
            F.col("common.mid").alias("mid"), ts,
            F.col("page.last_page_id").alias("last_page_id"))
        entry = F.col("last_page_id").isNull() | (F.col("last_page_id") == "")
        # within a (device, day) the stream keeps the first row it reads,
        # the batch form the earliest: compare the visitor set
        day = F.to_date("ts").alias("day")
        # a device's last entry bounces by timeout only once the watermark
        # passes it; the stream cannot have emitted the ones still pending
        last = pages.groupBy("mid").agg(F.max("ts").alias("last_ts"))
        ts_ms = F.col("ts").cast("double") * 1000
        emitted = bounce.detect_bounce_batch(pages, "mid", "ts", entry, 10).join(
            last, "mid"
        ).filter(
            (F.col("ts") < F.col("last_ts"))
            | (ts_ms + BOUNCE_WINDOW_MS < F.lit(self._bounce_watermark_ms()))
        )

        env = cdc.debezium_to_envelope(spark.read.text(r.path("cdc"))).persist()
        routed = routing.route_cdc(env, r.config)
        after = F.col("after")
        latest = (routed["hbase"].select(
                      after.getItem("id").alias("id"),
                      F.to_json(after).alias("payload"),
                      after.getItem("version").alias("v"))
                  .groupBy("id").agg(F.max_by("payload", "v").alias("payload")))
        info, detail = _order_facts(env, F)
        wide = _order_wide_out(pipelines.order_wide_stream(info, detail))

        checks = {
            "fan-out counts": lambda: (
                {k: out("fanout", f"dwd_{k}_log").count() for k in parts},
                {k: v.count() for k, v in parts.items()}),
            "is_new": lambda: (
                rows(out("is_new"), "mid", "ts", "is_new_fixed"),
                rows(visitor.correct_is_new_batch(flat, "mid", "ts", "is_new"),
                     "mid", "ts", "is_new_fixed")),
            "unique visitors": lambda: (
                rows(out("uv"), "mid", day),
                rows(visitor.unique_visitors_batch(pages, "mid", "ts", entry_filter=entry),
                     "mid", day)),
            "bounce": lambda: (rows(out("bounce"), "mid", "ts"), rows(emitted, "mid", "ts")),
            "cdc kafka payloads": lambda: (
                rows(out("cdc_routing", "kafka_out"), "topic", "value"),
                rows(routing.to_kafka_payload(routed["kafka"]), "topic", "value")),
            "dim last-write-wins": lambda: (
                rows(pipelines.read_dim_parquet(
                    spark, r.path("out", "cdc_routing", "dim_dim_user_info")), "id", "payload"),
                rows(latest, "id", "payload")),
            "order wide": lambda: (
                rows(out("order_wide"), "id", "detail_id"), rows(wide, "id", "detail_id")),
        }
        try:
            with ThreadPoolExecutor(max_workers=4) as pool:
                results = {label: pool.submit(fn) for label, fn in checks.items()}
                for label, fut in results.items():
                    self.attempted += 1
                    got, want = fut.result()
                    if got != want:
                        self.errors.append(f"{label}: stream output differs from batch form")
        finally:
            clean.unpersist()
            env.unpersist()


def freshness_samples(reads: dict[str, tuple[dict[str, int], dict[int, float]]],
                      due) -> dict[str, list[float]]:
    """Per query, one sample per timed file it committed: seconds from the
    file's due time ``due(k)`` until the query committed the micro-batch
    that read it. ``reads`` maps each query to its (file name -> batch id,
    batch id -> commit time). The due time, not the write time: a generator
    that falls behind schedule shows as staleness."""
    out: dict[str, list[float]] = {}
    for query, (files_read, commits) in reads.items():
        out[query] = []
        for fn, batch in sorted(files_read.items()):
            k = _file_index(fn)
            if k >= WARM_FILES and batch in commits:
                out[query].append(commits[batch] - due(k))
    return out


def _file_index(fn: str) -> int:
    """k of ``log-0000k.json`` / ``cdc-0000k.json``."""
    return int(fn.split("-")[1].split(".")[0])


def _job_count(spark) -> int:
    """Jobs submitted so far (job ids are dense from 0)."""
    n = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return int(n if isinstance(n, int) else n.get())


def _ts(p: dict) -> float:
    """Epoch seconds at which a micro-batch started."""
    import datetime as dt

    return dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


_STREAM_JOB = re.compile(r"id = (\S+)\s+runId = \S+\s+batch = (\d+)")


def _batch_spans(tracer: Tracer, query: str, p: dict, parent: int | None) -> int:
    """One span per micro-batch from its progress record, with its
    ``durationMs`` phases as children laid out in the order a batch runs
    them (addBatch and commitOffsets end it). Returns the addBatch span."""
    start = _ts(p)
    end = start + p["durationMs"].get("triggerExecution", 0) / 1000
    sid = tracer.add("streaming", f"batch:{query}:{p['batchId']}", start, end,
                     parent, rows=p.get("numInputRows", 0))
    phases = {k: v / 1000 for k, v in p["durationMs"].items() if k != "triggerExecution"}
    add = phases.pop("addBatch", 0.0)
    commit = phases.pop("commitOffsets", 0.0)
    t = start
    for phase in PRE_PHASES + tuple(sorted(set(phases) - set(PRE_PHASES))):
        if phase in phases:
            tracer.add("streaming", f"phase:{phase}", t, t + phases[phase], sid)
            t += phases[phase]
    tracer.add("streaming", "phase:commitOffsets", end - commit, end, sid)
    return tracer.add("streaming", "phase:addBatch", end - commit - add, end - commit, sid)


def nest_replay_spans(tracer: Tracer, runs: list[_Run], jobs: list[dict]) -> None:
    """Build the replay's span tree: round > query run > micro-batch >
    phases. Spans of foreachBatch bodies (rooted on callback threads) and
    Spark jobs go under the addBatch phase of the micro-batch they served,
    a job under the innermost body span open when it was submitted; the
    state-store work a batch reports goes under its longest job."""
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    rounds = [s for s in spans if s["layer"] == BENCH and s["name"].startswith("round:")]
    add_batch: dict[tuple[str, str], int] = {}
    for r in runs:
        host = next((s["id"] for s in rounds if s["start"] <= r.begin <= s["end"]), None)
        rid = tracer.add(BENCH, f"run:{r.query}", r.begin, r.end, host)
        if r.start_span is not None:
            by_id[r.start_span]["parent"] = rid
        for p in r.progress:
            add_batch[(r.query_id, str(p["batchId"]))] = _batch_spans(tracer, r.query, p, rid)
    bodies: dict[tuple[str, str], list[dict]] = {}
    for s in spans:
        key = (s.get("query_id"), s.get("batch_id"))
        if s["parent"] is None and key in add_batch:
            s["parent"] = add_batch[key]
            bodies.setdefault(key, []).append(s)
    longest: dict[tuple[str, str], dict] = {}
    for j in jobs:
        m = _STREAM_JOB.search(j["description"] or "")
        key = (m.group(1), m.group(2)) if m else None
        host = add_batch.get(key)
        inner = [s for body in bodies.get(key, []) for s in spans
                 if s["thread"] == body["thread"] and s["layer"] != "exec"
                 and body["start"] <= s["start"] <= j["start"] < s["end"] <= body["end"]]
        if inner:
            host = max(inner, key=lambda s: s["start"])["id"]
        jid = tracer.add("exec", f"job:{j['job_id']}", j["start"], j["end"], host,
                         stages=j["stage_ids"])
        if key in add_batch and (
                key not in longest
                or j["end"] - j["start"] > longest[key]["end"] - longest[key]["start"]):
            longest[key] = {**j, "id": jid}
    by_id = {s["id"]: s for s in spans}
    for r in runs:
        for p in r.progress:
            key = (r.query_id, str(p["batchId"]))
            host = longest.get(key) or by_id[add_batch[key]]
            t, limit = host["start"], host["end"]
            for op in p.get("stateOperators", []):
                # task times summed over partitions, so clipped to the host
                for what in ("allUpdatesTimeMs", "commitTimeMs"):
                    e = min(t + op.get(what, 0) / 1000, limit)
                    if e > t:
                        tracer.add("stateful", f"state:{op.get('operatorName')}:{what}",
                                   t, e, host["id"], rows_total=op.get("numRowsTotal"),
                                   mem_b=op.get("memoryUsedBytes"))
                    t = e
