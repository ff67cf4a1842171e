"""Connected-components tests: chain graphs need multiple propagation
rounds (diameter > 1), which the sf-corpus near-dup cliques never
exercise; also verifies disjoint clusters stay disjoint. Graphs this
small take the driver union-find path; the ``label_propagation`` fixture
forces the distributed min-label loop by dropping the driver bound."""

from __future__ import annotations

import pytest

from gmall_flink_yb_spark import tuning
from gmall_flink_yb_spark.functions.dedup import connected_components


@pytest.fixture
def label_propagation(monkeypatch):
    """Send every non-empty pair list through the min-label loop."""
    monkeypatch.setattr(tuning, "CC_DRIVER_MAX_PAIRS", 0)


def _components(pairs, **kw) -> dict:
    comps = connected_components(pairs, **kw).collect()
    return {r.node: r.component for r in comps}


def _global_temp_views(spark) -> set:
    if not spark.catalog.databaseExists("global_temp"):
        return set()
    return {v.name for v in spark.catalog.listTables("global_temp")}


def test_chain_and_disjoint_components(spark):
    # 1-2-3-4-5 chain (diameter 4 => ~4 rounds) + {10,11} + {20,21,22} clique
    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4), (4, 5),
            (10, 11),
            (20, 21), (21, 22), (20, 22),
        ],
        "id_a long, id_b long",
    )
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_reversed_edge_direction_irrelevant(spark):
    # min id on the b-side: label must still flow against edge direction
    pairs = spark.createDataFrame([(5, 1), (5, 3)], "id_a long, id_b long")
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 3: 1, 5: 1}


def test_driver_path_matches_label_propagation(spark, monkeypatch):
    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4), (4, 5),
            (10, 11),
            (20, 21), (21, 22), (20, 22),
            (7, 30), (30, 8),  # min in the middle of a chain
        ],
        "id_a long, id_b long",
    )
    driver = _components(pairs)
    monkeypatch.setattr(tuning, "CC_DRIVER_MAX_PAIRS", 0)
    assert _components(pairs) == driver


def test_long_path_needs_no_round_cap(spark):
    """A 200-node path has diameter 199: min-label propagation would need
    199 rounds and raises at max_iterations=15, while the driver
    union-find finishes it in one collect whatever the cap."""
    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id_a long, id_b long"
    )
    got = _components(pairs, max_iterations=15)
    assert got == {i: 1 for i in range(1, n + 1)}


def test_label_propagation_raises_at_round_cap(spark, label_propagation):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iterations=2)


def test_ten_thousand_node_chain_is_one_component(spark):
    n = 10_000
    # shuffled edge order and ids descending along the chain: the
    # smallest id sits at one end and every union meets it late
    from random import Random

    edges = [(n - i, n - i - 1) for i in range(n - 1)]
    Random(7).shuffle(edges)
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    assert _components(pairs) == {i: 1 for i in range(1, n + 1)}


def test_random_graph_driver_matches_label_propagation(spark, monkeypatch):
    from random import Random

    rng = Random(42)
    edges = [
        (rng.randrange(120), rng.randrange(120)) for _ in range(130)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    driver = _components(pairs)
    monkeypatch.setattr(tuning, "CC_DRIVER_MAX_PAIRS", 0)
    assert _components(pairs) == driver


def test_caller_session_aqe_untouched(spark, label_propagation):
    """The label loop disables AQE only in its private session — the
    caller's conf must never flip mid-loop (shared-session safety)."""
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    lp = connected_components(pairs)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert {r.node: r.component for r in lp.collect()} == want


def test_durable_checkpoint_mode(spark, tmp_path, label_propagation):
    """With a reliable checkpoint dir set, the label loop must route
    lineage truncation through df.checkpoint (files appear under the dir)
    and still produce correct components — the fault-tolerant cluster
    mode of _truncate_lineage."""
    import os

    sc = spark.sparkContext
    assert not sc.getCheckpointDir(), "fixture session should start bare"
    ckpt = str(tmp_path / "ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (20, 21)], "id_a long, id_b long"
        )
        want = {1: 1, 2: 1, 3: 1, 4: 1, 20: 20, 21: 20}
        assert _components(pairs) == want
        written = [
            os.path.join(root, f)
            for root, _, files in os.walk(ckpt)
            for f in files
        ]
        assert written, "reliable checkpoint dir was never written to"
    finally:
        # scala setCheckpointDir has no unset; clear via the underlying option
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.empty()
        )


def test_select_canonical_keep_best(spark):
    from pyspark.sql import Row

    from gmall_flink_yb_spark.functions.dedup import select_canonical

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, n_chars=10),
            Row(doc_id=2, n_chars=50),   # best of cluster {1,2,3}
            Row(doc_id=3, n_chars=50),   # tie -> smaller id 2 wins
            Row(doc_id=9, n_chars=1),    # singleton: always kept
        ]
    )
    comps = spark.createDataFrame(
        [Row(node=1, component=1), Row(node=2, component=1),
         Row(node=3, component=1)]
    )
    got = {
        r["doc_id"]: (r["component"], r["keep"])
        for r in select_canonical(docs, comps).collect()
    }
    assert got == {1: (1, 0), 2: (1, 1), 3: (1, 0), 9: (9, 1)}


def test_empty_pairs_returns_empty_not_nonconvergence(spark, monkeypatch):
    # zero-duplicates corpus: no pairs -> empty component table, NOT a
    # spurious "did not converge" (sum over zero rows is NULL, which the
    # convergence check must treat as 0 changes). A bound of -1 sends
    # even the empty list through the label loop.
    empty = spark.createDataFrame([], "id_a long, id_b long")
    for bound in (tuning.CC_DRIVER_MAX_PAIRS, -1):
        monkeypatch.setattr(tuning, "CC_DRIVER_MAX_PAIRS", bound)
        comps = connected_components(empty)
        assert comps.count() == 0
        assert comps.schema.simpleString() == (
            "struct<node:bigint,component:bigint>"
        )


def test_bad_column_cleans_up_loop_state(spark, monkeypatch):
    """An analysis error on a wrong id column must leave no loop-session
    temp view and no persisted frame behind, on either engine."""
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    views = _global_temp_views(spark)
    def cached() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = cached()
    for bound in (tuning.CC_DRIVER_MAX_PAIRS, 0):
        monkeypatch.setattr(tuning, "CC_DRIVER_MAX_PAIRS", bound)
        with pytest.raises(Exception):
            connected_components(pairs, id_a="no_such_col", id_b="id_b")
        assert _global_temp_views(spark) <= views  # no leaked _loop_* view
        assert cached() <= before
