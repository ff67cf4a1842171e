"""Tests for the benchmark's own math, generators, tracer and smoke runs.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import statistics
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
# the engine sizes local[] and shuffle partitions from this at import time
os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

from perfbench import datagen, stats  # noqa: E402
from perfbench.odsreplay import WARM_FILES, _Run, freshness_samples, nest_replay_spans  # noqa: E402
from perfbench.tracing import Tracer, covered, layer_self_times, self_times  # noqa: E402


# -- percentiles and means ---------------------------------------------------

def test_percentile_needs_ten_samples_beyond():
    assert stats.samples_beyond(100, 90) == 10
    assert stats.supported(100, 90)
    assert not stats.supported(99, 90)
    assert stats.supported(19, 50) is False
    assert stats.supported(20, 50)
    assert not stats.supported(999, 99)
    assert stats.supported(1000, 99)


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 90) == pytest.approx(4.6)
    assert stats.percentile([7.0], 90) == 7.0


def test_geomean():
    assert stats.geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert stats.geomean([2.0, 8.0, 4.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.geomean([])


# -- spans and self time -----------------------------------------------------

def _span(sid, parent, layer, start, end):
    return {"id": sid, "parent": parent, "layer": layer, "name": str(sid),
            "start": start, "end": end, "thread": 1}


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, [(1, 3), (2, 5), (7, 8)]) == pytest.approx(5)
    assert covered(0, 10, [(-5, 2), (9, 20)]) == pytest.approx(3)
    assert covered(0, 10, []) == 0


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, None, "queries", 0.0, 10.0),
        _span(2, 1, "functions", 1.0, 6.0),
        _span(3, 2, "tuning", 2.0, 3.0),
        _span(4, 2, "exec", 2.5, 5.0),   # overlaps its sibling
        _span(5, 1, "exec", 8.0, 9.0),
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(10 - 5 - 1)
    assert own[2] == pytest.approx(5 - 3)   # [2, 5] covered once
    assert own[3] == pytest.approx(1)
    layers = layer_self_times(spans)
    assert layers["queries"] == pytest.approx(4)
    assert layers["functions"] == pytest.approx(2)
    assert layers["exec"] == pytest.approx(3.5)
    assert sum(layers.values()) == pytest.approx(10.5)


def test_tracer_nests_spans_per_thread():
    tr = Tracer()
    with tr.span("queries", "outer") as outer:
        with tr.span("functions", "inner") as inner:
            time.sleep(0.01)
    by_id = {s["id"]: s for s in tr.spans}
    assert by_id[inner]["parent"] == outer
    assert by_id[outer]["parent"] is None
    assert by_id[outer]["start"] <= by_id[inner]["start"] <= by_id[inner]["end"] <= by_id[outer]["end"]


def test_rebinding_records_layer_spans_and_restores():
    from gmall_flink_yb_spark import tuning
    from gmall_flink_yb_spark.operators import routing

    original = routing.route_cdc
    tr = Tracer()
    tr.install()
    try:
        assert routing.route_cdc is not original
        assert routing.route_cdc.__wrapped__ is original
        assert tuning.session_base_partitions.__name__ == "session_base_partitions"
    finally:
        tr.uninstall()
    assert routing.route_cdc is original


# -- freshness ---------------------------------------------------------------

def test_freshness_is_timed_from_due_not_write():
    start, period = 1000.0, 0.5

    def due(k):
        return start + (k - WARM_FILES) * period

    k = WARM_FILES + 3
    # written 2 s late; the log query commits 0.25 s and the CDC query 1.5 s
    # after the write: one sample per (file, query), from the due time
    written = due(k) + 2.0
    reads = {"uv": ({f"log-{k:05d}.json": 7}, {7: written + 0.25}),
             "cdc_routing": ({f"cdc-{k:05d}.json": 4}, {4: written + 1.5})}
    assert freshness_samples(reads, due) == {
        "uv": [pytest.approx(2.25)], "cdc_routing": [pytest.approx(3.5)]}


def test_freshness_skips_uncommitted_and_warm_up_files():
    late = f"cdc-{WARM_FILES:05d}.json"
    reads = {"a": ({"cdc-00000.json": 0, late: 3}, {0: 5.0, 3: 9.0}),
             "b": ({"cdc-00000.json": 0, late: 1}, {0: 6.0})}
    assert freshness_samples(reads, lambda k: 0.0) == {"a": [9.0], "b": []}


def test_replay_spans_nest_without_double_counting():
    """Two queries run at once. A foreachBatch body span (on a callback
    thread), a Spark job inside it and the batch's state-store work must
    land under the micro-batch they served, so every layer's self time sums
    to no more than the time the two runs took."""
    t0 = 100.0
    tr = Tracer()
    tr.spans.append({"id": 0, "parent": None, "layer": "bench", "name": "round:0",
                     "start": t0, "end": t0 + 5, "thread": 1})
    tr._ids = 10

    def progress(batch, start, ms, phases, state=()):
        return {"batchId": batch, "numInputRows": 5,
                "timestamp": _iso(start), "durationMs": {"triggerExecution": ms, **phases},
                "stateOperators": list(state)}

    runs = [
        _Run("cdc_routing", "q1", t0, [progress(0, t0 + 0.5, 4000, {
            "latestOffset": 100, "queryPlanning": 200, "addBatch": 3500,
            "commitOffsets": 100})]),
        _Run("uv", "q2", t0, [progress(0, t0 + 0.5, 2000, {
            "queryPlanning": 300, "addBatch": 1600, "commitOffsets": 100},
            [{"operatorName": "dedupe", "allUpdatesTimeMs": 9000, "commitTimeMs": 50}])]),
    ]
    # the callback body of q1's batch 0 and its nested call
    tr.spans.append({"id": 1, "parent": None, "layer": "streaming",
                     "name": "upsert_dim_parquet", "start": t0 + 1.0, "end": t0 + 3.0,
                     "thread": 7, "query_id": "q1", "batch_id": "0"})
    tr.spans.append({"id": 2, "parent": 1, "layer": "streaming", "name": "read_dim_parquet",
                     "start": t0 + 1.1, "end": t0 + 1.5, "thread": 7})
    jobs = [
        {"job_id": 0, "start": t0 + 1.2, "end": t0 + 1.4, "stage_ids": [],
         "description": "\nid = q1\nrunId = r\nbatch = 0"},
        {"job_id": 1, "start": t0 + 1.0, "end": t0 + 2.2, "stage_ids": [],
         "description": "\nid = q2\nrunId = r\nbatch = 0"},
    ]
    nest_replay_spans(tr, runs, jobs)
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["job:0"]["parent"] == 2
    batch = by_name["batch:cdc_routing:0"]
    add = next(s for s in tr.spans
               if s["name"] == "phase:addBatch" and s["parent"] == batch["id"])
    assert by_name["upsert_dim_parquet"]["parent"] == add["id"]
    state = [s for s in tr.spans if s["layer"] == "stateful"]
    assert [s["parent"] for s in state] == [by_name["job:1"]["id"]]
    assert state[0]["end"] - state[0]["start"] == pytest.approx(1.2)  # clipped
    layers = layer_self_times(tr.spans)
    lanes = sum(r.end - r.begin for r in runs)
    assert sum(layers.values()) <= lanes + 1e-9
    assert layers["stateful"] == pytest.approx(1.2)
    assert layers["exec"] == pytest.approx(0.2)
    assert layers["streaming"] == pytest.approx(4.0 + 2.0 - 1.2 - 0.2)


def _iso(epoch: float) -> str:
    import datetime as dt

    return dt.datetime.fromtimestamp(epoch, dt.timezone.utc).isoformat().replace("+00:00", "Z")


# -- generators --------------------------------------------------------------

def test_ods_plan_is_byte_identical_per_seed():
    shape = datagen.OdsShape(files=4, log_events=120, devices=40, orders=4)
    a, b = datagen.ods_plan(shape, 7), datagen.ods_plan(shape, 7)
    assert a.log_files == b.log_files and a.cdc_files == b.cdc_files
    assert a.props == b.props
    c = datagen.ods_plan(shape, 8)
    assert c.log_files != a.log_files


def test_ods_plan_traffic_properties():
    shape = datagen.OdsShape(files=6)
    p = datagen.ods_plan(shape, 3).props
    assert 0.005 < p["dirty_share"] < 0.05
    assert 0.1 < p["hot_device_share"] < 0.3
    assert p["out_of_order_share"] > 0
    assert set(p["cdc_op_mix"]) == {"c", "u", "d"}
    assert p["events_per_file"] == shape.log_events


def test_star_tables_are_byte_identical_per_seed(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    sizes = datagen.write_star_tables(str(a), 0.001, 5)
    datagen.write_star_tables(str(b), 0.001, 5)
    assert datagen.dir_digest(str(a)) == datagen.dir_digest(str(b))
    assert sizes["lineitem"] == 6000 and sizes["documents"] == 500

    import pyarrow.parquet as pq

    from gmall_flink_yb_spark.schemas import TESTDATA_TABLES

    assert sorted(os.listdir(a)) == sorted(f"{t}.parquet" for t in TESTDATA_TABLES)
    assert pq.read_table(a / "events.parquet").num_rows == 1000
    assert hashlib.sha256((a / "orders.parquet").read_bytes()).hexdigest() != \
        hashlib.sha256((a / "customer.parquet").read_bytes()).hexdigest()


# -- smoke runs: generator, checks and tracer end to end ---------------------

@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from perfbench import run

    s = run._session(os.path.join(ROOT, "perfbench", "_work", "pytest"))
    yield s
    s.stop()


@pytest.mark.parametrize("workload", ["query_mix", "ods_stream"])
@pytest.mark.parametrize("trace", [False, True])
def test_smoke_run(spark, workload, trace):
    from perfbench import run

    result, full = run.run(workload, 1, 2.0, trace, smoke=True, spark=spark)
    assert result["correct"], full["errors"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    names = [n for n, _ in (run.PER_LAYER if trace else run.END_TO_END)]
    assert list(result["metrics"]) == names
    if not trace:
        for name in names:
            assert result["metrics"][name]["value"] > 0, name
    else:
        m = result["metrics"]
        assert m["exec.jobs"]["value"] > 0
        assert m["sources.self_s"]["value"] > 0
        # each span's time counts for one layer only
        own = sum(v["value"] for k, v in m.items() if k.endswith(".self_s"))
        if workload == "ods_stream":
            assert m["streaming.batches"]["value"] > 0
            assert m["stateful.rows_dropped_late"]["value"] == 0
            assert m["stateful.self_s"]["value"] > 0
            assert m["streaming.dim_upsert_s"]["value"] > 0
            assert own <= full["report"]["lane_s"]
        else:
            assert m["queries.build_s"]["value"] > 0
            assert own <= statistics.fmean(full["report"]["traced_pass_s"])
    assert set(full["env"]) >= {"nproc", "loadavg", "spark", "python", "tide"}
