"""Connected-components unit tests (operators/graph.py)."""

import pytest
from pyspark.sql import functions as F

from project_orbit_spark.operators.graph import (
    cluster_representatives,
    connected_components,
)


def _labels(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df)
    return {r["node"]: r["label"] for r in out.collect()}


def test_two_components(spark):
    got = _labels(spark, [(1, 2), (2, 3), (5, 6)])
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_long_chain_needs_multiple_rounds(spark):
    # diameter 9 — exercises the iteration loop well past round 1
    chain = [(i, i + 1) for i in range(10, 19)]
    got = _labels(spark, chain)
    assert set(got.values()) == {10}
    assert len(got) == 10


def test_direction_and_duplicates_ignored(spark):
    got = _labels(spark, [(2, 1), (1, 2), (2, 3), (2, 3)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_representatives_shape(spark):
    df = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "src long, dst long")
    reps = cluster_representatives(connected_components(df))
    rows = {r["doc_id"]: (r["cluster_id"], r["cluster_size"]) for r in reps.collect()}
    assert rows == {1: (1, 3), 2: (1, 3), 3: (1, 3), 5: (5, 2), 6: (5, 2)}


def test_max_iter_guard(spark):
    # neither path reaches the fixpoint of a 6-edge chain in one round:
    # propagation hands over and the two-phase budget raises
    df = spark.createDataFrame([(i, i + 1) for i in range(20, 26)], "src long, dst long")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(df, max_iter=1)


def _fallbacks(monkeypatch) -> list:
    """Record each hand-over from propagation to the two-phase path."""
    from project_orbit_spark.operators import graph

    calls = []
    real = graph.connected_components_two_phase

    def spy(*args):
        calls.append(args)
        return real(*args)

    monkeypatch.setattr(graph, "connected_components_two_phase", spy)
    return calls


def test_two_phase_long_chain(spark):
    from project_orbit_spark.operators.graph import connected_components_two_phase

    chain = [(i, i + 1) for i in range(30, 45)] + [(100, 101)]
    df = spark.createDataFrame(chain, "src long, dst long")
    got = {r["node"]: r["label"] for r in connected_components_two_phase(df).collect()}
    assert set(got.items()) == {(n, 30) for n in range(30, 46)} | {(100, 100), (101, 100)}


def test_two_phase_converges_in_log_rounds_where_propagation_cannot(spark, monkeypatch):
    """The SCALE.md argument pinned as behavior (VERDICT r12 #5): on a
    32-edge chain (diameter 32) min-label propagation moves the min
    one hop per round, so a 10-round budget runs out and hands over —
    while large-star/small-star contraction converges inside it
    (measured: 6 rounds; O(log n) per Kiveris et al. SoCC'14), and
    still raises on a budget too small for it. Same fixpoint, so the
    labels agree with the component minimum."""
    from project_orbit_spark.operators.graph import connected_components_two_phase

    chain = [(i, i + 1) for i in range(200, 232)]
    df = spark.createDataFrame(chain, "src long, dst long")
    want = {n: 200 for n in range(200, 233)}
    got = {
        r["node"]: r["label"]
        for r in connected_components_two_phase(df, max_iter=10).collect()
    }
    assert got == want
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components_two_phase(df, max_iter=2)

    calls = _fallbacks(monkeypatch)
    got = {r["node"]: r["label"] for r in connected_components(df, max_iter=10).collect()}
    assert len(calls) == 1
    assert got == want


def test_exhausted_propagation_falls_back_instead_of_raising(spark, monkeypatch):
    """The nightly-job safety net: a chain whose diameter outruns the
    propagation budget returns component-minimum labels through the
    two-phase fallback instead of raising."""
    chain = [(i, i + 1) for i in range(300, 324)] + [(400, 401)]
    df = spark.createDataFrame(chain, "src long, dst long")
    calls = _fallbacks(monkeypatch)
    got = {r["node"]: r["label"] for r in connected_components(df, max_iter=8).collect()}
    assert len(calls) == 1
    assert got == {**{n: 300 for n in range(300, 325)}, 400: 400, 401: 400}


def test_empty_edge_list_yields_empty_labeling(spark):
    # r18 fused-init contract: with zero edges there are zero
    # endpoints, so the labeling is empty and the loop never runs —
    # the common no-duplicates case of the dedup pipelines must not
    # pay propagation rounds (and must not raise at any max_iter).
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df, max_iter=1).collect() == []


def test_fused_init_round_one_labels_match_min_neighbor(spark):
    # r18: label init is fused into propagation round 1 (one grouped
    # aggregate over the symmetrized edges instead of a separate
    # distinct-nodes init job). A diameter-1 star converges in the
    # fused round + 1 detection round; labels are component minima.
    got = _labels(spark, [(10, 4), (10, 7), (10, 9)])
    assert got == {4: 4, 7: 4, 9: 4, 10: 4}


def test_self_loop_only_graph_is_its_own_fixpoint(spark):
    # every node's only neighbor is itself, so round 1 changes no label
    # (sum(label) == sum(node) on the init barrier) and the labeling
    # returns before any round — at any max_iter, 1 included
    df = spark.createDataFrame([(3, 3), (8, 8), (8, 8)], "src long, dst long")
    got = {r["node"]: r["label"] for r in connected_components(df, max_iter=1).collect()}
    assert got == {3: 3, 8: 8}


def test_pagerank_on_zero_pages_is_empty(spark, tmp_path):
    # 1/n is undefined with no pages: the ranking is empty, not a
    # driver-side ZeroDivisionError
    import pyarrow.parquet as pq

    from project_orbit_spark.operators.graph import pagerank_link_graph
    from tests.conftest import SF_DIR

    docs = pq.read_table(f"{SF_DIR}/documents.parquet")
    pq.write_table(docs.slice(0, 0), tmp_path / "documents.parquet")
    out = pagerank_link_graph(spark, str(tmp_path))
    assert out.columns == ["node", "rank_fp"]
    assert out.collect() == []
