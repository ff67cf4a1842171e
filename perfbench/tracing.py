"""Spans, layer rebinding and Spark status-store readers for the traced run.

A span is (id, parent, layer, name, start, end) in epoch seconds. Spans stay
in memory and are written as JSONL when the run ends. Layer spans come from
rebinding the public functions of the package's layer modules in this
process only (``Tracer.install`` / ``uninstall``); Spark jobs become spans
of layer ``exec`` read back from the JVM status store, parented to the
innermost Python span open when the job was submitted.
"""

from __future__ import annotations

import functools
import importlib
import json
import pkgutil
import statistics
import sys
import threading
import time
import types
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

PACKAGE = "gmall_flink_yb_spark"

# layer -> modules whose public functions are rebound (``queries`` spans are
# recorded by the benchmark around each registry call instead)
LAYER_MODULES = {
    "session": [f"{PACKAGE}.session"],
    "sources": [f"{PACKAGE}.sources.readers", f"{PACKAGE}.sources.cdc"],
    "operators": [f"{PACKAGE}.operators"],
    "functions": [f"{PACKAGE}.functions"],
    "tuning": [f"{PACKAGE}.tuning"],
    "streaming": [f"{PACKAGE}.streaming.pipelines", f"{PACKAGE}.streaming.transport"],
    "stateful": [f"{PACKAGE}.streaming.stateful"],
}
LAYERS = ("session", "sources", "operators", "functions", "tuning", "queries",
          "streaming", "stateful", "exec")
# spans of the benchmark's own structure (a pass, a replay round): they give
# the tree its shape but no layer's self time
BENCH = "bench"


def _expand(module_name: str) -> list[types.ModuleType]:
    mod = importlib.import_module(module_name)
    mods = [mod]
    if hasattr(mod, "__path__"):
        for info in pkgutil.iter_modules(mod.__path__):
            mods.append(importlib.import_module(f"{module_name}.{info.name}"))
    return mods


class _Traced:
    """Callable stand-in for one public function. Pickles as the original
    (resolved by name on the worker, where nothing is rebound), so Spark
    closures that capture a rebound name still ship."""

    def __init__(self, fn, layer: str, tracer: "Tracer"):
        functools.update_wrapper(self, fn)
        self._fn, self._layer, self._tracer = fn, layer, tracer

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._layer, self._fn.__name__):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return getattr, (sys.modules[self._fn.__module__], self._fn.__name__)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = 0
        self._patched: list[tuple[object, str, object]] = []
        # called when a thread opens its first span (a Spark callback thread,
        # say): the attributes it returns say where that span belongs
        self.root_attrs = None

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _next_id(self) -> int:
        with self._lock:
            self._ids += 1
            return self._ids

    def _record(self, sid: int, parent: int | None, layer: str, name: str,
                start: float, end: float, attrs: dict) -> None:
        span = {"id": sid, "parent": parent, "layer": layer, "name": name,
                "start": start, "end": end, "thread": threading.get_ident(), **attrs}
        with self._lock:
            self.spans.append(span)

    def add(self, layer: str, name: str, start: float, end: float,
            parent: int | None, **attrs) -> int:
        """Record a span measured elsewhere (a Spark job, a micro-batch)."""
        sid = self._next_id()
        self._record(sid, parent, layer, name, start, end, attrs)
        return sid

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        """Time the block as a child of this thread's innermost open span."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        if parent is None and self.root_attrs is not None:
            attrs = {**self.root_attrs(), **attrs}
        sid = self._next_id()
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            stack.pop()
            self._record(sid, parent, layer, name, start, time.time(), attrs)

    # -- rebinding ---------------------------------------------------------
    def install(self) -> None:
        """Rebind every public function of the layer modules, in every
        module of the package that holds it, to a span-recording wrapper."""
        originals: dict[int, tuple[object, str]] = {}
        for layer, names in LAYER_MODULES.items():
            for name in names:
                for mod in _expand(name):
                    for attr, val in vars(mod).items():
                        if (isinstance(val, types.FunctionType)
                                and not attr.startswith("_")
                                and val.__module__ == mod.__name__):
                            originals[id(val)] = (val, layer)
        wrappers: dict[int, _Traced] = {}
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is None:
                    continue
                if id(val) not in wrappers:
                    wrappers[id(val)] = _Traced(val, hit[1], self)
                setattr(mod, attr, wrappers[id(val)])
                self._patched.append((mod, attr, val))

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()

    def span_cost(self, n: int = 5000) -> float:
        """Seconds one rebound call adds over a plain call (calibration
        spans are discarded)."""
        def noop():
            return None

        wrapped = _Traced(noop, "calibration", self)
        keep = len(self.spans)
        t = time.perf_counter()
        for _ in range(n):
            noop()
        plain = time.perf_counter() - t
        t = time.perf_counter()
        for _ in range(n):
            wrapped()
        traced = time.perf_counter() - t
        del self.spans[keep:]
        return max(traced - plain, 0.0) / n

    # -- output ------------------------------------------------------------
    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: (s["start"], s["id"])):
                f.write(json.dumps(s, default=str) + "\n")


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted((max(lo, start), min(hi, end)) for lo, hi in intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part covered by its children."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(s["start"], s["end"], kids.get(s["id"], []))
        for s in spans
    }


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """Self time summed per layer; ``BENCH`` spans count for none."""
    own = self_times(spans)
    out = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        if s["layer"] != BENCH:
            out[s["layer"]] = out.get(s["layer"], 0.0) + own[s["id"]]
    return out


def innermost(spans: list[dict], thread: int, t: float) -> dict | None:
    """The deepest span of ``thread`` open at time ``t``."""
    best = None
    for s in spans:
        if s["thread"] == thread and s["start"] <= t < s["end"]:
            if best is None or s["start"] >= best["start"]:
                best = s
    return best


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusStore:
    """Job, stage and task facts for finished jobs, read through
    ``statusTracker()`` and the JVM ``AppStatusStore`` (works with the UI
    disabled)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._stages: dict[int, dict] = {}

    def group_jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def job(self, job_id: int) -> dict:
        jd = self.store.job(job_id)
        info = self.sc.statusTracker().getJobInfo(job_id)
        desc = jd.description()
        return {
            "job_id": job_id,
            "start": _opt_ms(jd.submissionTime()),
            "end": _opt_ms(jd.completionTime()),
            "stage_ids": list(info.stageIds) if info is not None else [],
            "description": desc.get() if desc.isDefined() else "",
        }

    def stage(self, stage_id: int, tasks: bool = False) -> dict:
        if stage_id in self._stages and (not tasks or "task_s" in self._stages[stage_id]):
            return self._stages[stage_id]
        sd = self.store.lastStageAttempt(stage_id)
        st = {
            "stage_id": stage_id,
            "status": str(sd.status()),
            "tasks": int(sd.numCompleteTasks()),
            "run_s": sd.executorRunTime() / 1000.0,
            "input_records": int(sd.inputRecords()),
            "shuffle_read_b": int(sd.shuffleLocalBytesRead() + sd.shuffleRemoteBytesRead()),
            "shuffle_write_b": int(sd.shuffleWriteBytes()),
            "spill_b": int(sd.memoryBytesSpilled() + sd.diskBytesSpilled()),
        }
        if tasks:
            durs = []
            seq = self.store.taskList(stage_id, sd.attemptId(), 100_000)
            for i in range(seq.size()):
                d = seq.apply(i).duration()
                if d.isDefined():
                    durs.append(d.get() / 1000.0)
            st["task_s"] = durs
        self._stages[stage_id] = st
        return st

    def summarize(self, job_ids: list[int], tasks: bool = False) -> dict:
        """Totals over the distinct, executed stages of ``job_ids``."""
        seen: set[int] = set()
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "run_s": 0.0,
               "input_records": 0, "shuffle_read_b": 0, "shuffle_write_b": 0,
               "spill_b": 0, "task_s": []}
        for jid in job_ids:
            for sid in self.job(jid)["stage_ids"]:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.stage(sid, tasks)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                if st["status"] != "COMPLETE":
                    continue
                out["stages"] += 1
                for k in ("tasks", "run_s", "input_records", "shuffle_read_b",
                          "shuffle_write_b", "spill_b"):
                    out[k] += st[k]
                out["task_s"].extend(st.get("task_s", []))
        return out


def exec_metrics(summary: dict, wall_s: float, slots: int, passes: int = 1) -> dict:
    """The ``exec`` per-layer metrics from ``StatusStore.summarize`` (with
    task times) over ``wall_s`` seconds on ``slots`` task slots, per pass."""
    task_s = summary["task_s"]
    return {
        "exec.jobs": summary["jobs"] / passes,
        "exec.stages": summary["stages"] / passes,
        "exec.tasks": summary["tasks"] / passes,
        "exec.executor_run_s": summary["run_s"] / passes,
        "exec.idle_frac": 1.0 - summary["run_s"] / (wall_s * slots),
        "exec.shuffle_read_mb": summary["shuffle_read_b"] / 1e6 / passes,
        "exec.shuffle_write_mb": summary["shuffle_write_b"] / 1e6 / passes,
        "exec.spill_mb": summary["spill_b"] / 1e6 / passes,
        # the longest task against the typical one
        "exec.task_skew": max(task_s) / statistics.median(task_s) if task_s else 1.0,
    }
