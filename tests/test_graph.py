"""Connected-components operator on synthetic graphs (path / star / clique /
disjoint) — verifies the min-label propagation converges to the true
components independent of the corpus-driven query."""

from __future__ import annotations

import pytest

from weather_data_pipeline_spark.operators.graph import (
    component_sizes,
    connected_components,
)


@pytest.fixture(autouse=True)
def _force_distributed_cc(monkeypatch):
    # these tests are the distributed BSP loop's coverage; the r12 small-
    # graph union-find fast path would otherwise swallow every fixture-
    # sized graph (its own equivalence tests live at the bottom)
    from weather_data_pipeline_spark.operators import graph

    monkeypatch.setattr(graph, "_CC_LOCAL_MAX_ROWS", 0)


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "s long, d long")
    out = connected_components(df)
    return {r.node: r.component for r in out.collect()}


def test_path_graph_single_component(spark):
    # 0-1-2-3-4-5: diameter 5, exercises multi-round propagation
    got = _cc(spark, [(i, i + 1) for i in range(5)])
    assert got == {i: 0 for i in range(6)}


def test_disjoint_components(spark):
    got = _cc(spark, [(0, 1), (1, 2), (10, 11), (20, 21), (21, 22), (22, 20)])
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_star_and_sizes(spark):
    edges = [(100, i) for i in range(5)]  # star centred on 100, min label 0
    df = spark.createDataFrame(edges, "s long, d long")
    out = component_sizes(connected_components(df)).collect()
    assert {r.component for r in out} == {0}
    assert all(r.component_size == 6 for r in out)


def test_non_convergence_raises(spark):
    df = spark.createDataFrame([(i, i + 1) for i in range(6)], "s long, d long")
    with pytest.raises(RuntimeError):
        connected_components(df, max_iter=1)


def test_long_chain_converges_in_log_rounds(spark):
    # 151-node path, diameter 150: plain min-label propagation needs ~150
    # rounds — the sf0.3 scaling run proved real near-dup graphs hit this
    # (semantic dedup died at max_iter=25). Pointer jumping doubles reach
    # per round, so the default budget must now suffice with margin.
    got = _cc(spark, [(i, i + 1) for i in range(150)])
    assert got == {i: 0 for i in range(151)}


def test_chain_reversed_ids_converges(spark):
    # worst orientation: min id at the FAR end of the propagation direction
    got = _cc(spark, [(i + 1, i) for i in range(100)])
    assert got == {i: 0 for i in range(101)}


def test_pagerank_star_graph(spark):
    # star: 1..4 all point at 0; 0 points at 1. Hub 0 must dominate, the
    # reciprocal spoke 1 must beat the pure leaves 2/3/4 (which tie), and
    # the renormalized ranks must sum to 1.
    from weather_data_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 0), (0, 1)], "s long, d long"
    )
    ranks = {r.node: r.rank for r in pagerank(edges, n_iter=20).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    assert ranks[0] > ranks[1] > ranks[2]
    assert abs(ranks[2] - ranks[3]) < 1e-12 and abs(ranks[3] - ranks[4]) < 1e-12


def test_kcore_path_fully_peels(spark):
    from weather_data_pipeline_spark.operators.graph import k_core

    edges = spark.createDataFrame([(i, i + 1) for i in range(8)], "id_a long, id_b long")
    assert k_core(edges, k=2).count() == 0


def test_kcore_cycle_survives(spark):
    from weather_data_pipeline_spark.operators.graph import k_core

    n = 6
    edges = spark.createDataFrame(
        [(min(i, (i + 1) % n), max(i, (i + 1) % n)) for i in range(n)],
        "id_a long, id_b long",
    )
    got = {r.node: r.core_degree for r in k_core(edges, k=2).collect()}
    assert got == {i: 2 for i in range(n)}


def test_kcore_clique_plus_tail(spark):
    from weather_data_pipeline_spark.operators.graph import k_core

    # triangle 0-1-2 with a tail 2-3-4: tail peels, triangle stays
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    got = {r.node: r.core_degree for r in k_core(edges, k=2).collect()}
    assert got == {0: 2, 1: 2, 2: 2}


def test_kcore_nonconvergence_guard(spark):
    from weather_data_pipeline_spark.operators.graph import k_core

    import pytest as _pytest

    edges = spark.createDataFrame([(i, i + 1) for i in range(30)], "id_a long, id_b long")
    with _pytest.raises(RuntimeError):
        k_core(edges, k=2, max_rounds=3)


def test_kcore_peel_depth_equal_to_budget(spark):
    from weather_data_pipeline_spark.operators.graph import k_core

    # a 33-node path peels 2 edges/round -> 16 peel rounds to empty; the
    # +1 confirmation round means max_rounds=16 must SUCCEED (empty core),
    # matching the 16-round unrolled oracle, not raise
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(32)], "id_a long, id_b long"
    )
    assert k_core(edges, k=2, max_rounds=16).count() == 0


def test_pagerank_zero_iterations_returns_uniform_init(spark):
    # ADVICE r11: with n_iter=0 the deferred-normalization loop never runs;
    # the final projection must return the uniform 1/n init, not divide by
    # lit(None) and null every rank
    from weather_data_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 0), (0, 2)], "s long, d long")
    ranks = {r.node: r.rank for r in pagerank(edges, n_iter=0).collect()}
    assert ranks == {0: 1.0 / 3, 1: 1.0 / 3, 2: 1.0 / 3}


def test_local_cc_fast_path_matches_distributed(spark, monkeypatch):
    # r12: the union-find fast path must be bit-identical to the BSP loop —
    # (node, min id of its component) is the unique fixpoint both compute
    from weather_data_pipeline_spark.operators import graph

    edges = [
        (5, 3), (3, 9), (9, 5),          # cycle, min 3
        (100, 42), (42, 7),              # chain, min 7
        (1000, 1001),                    # pair
        (77, 77),                        # self-loop
    ]
    df = spark.createDataFrame(edges, "s long, d long")
    monkeypatch.setattr(graph, "_CC_LOCAL_MAX_ROWS", 10**9)
    local = sorted(tuple(r) for r in graph.connected_components(df).collect())
    monkeypatch.setattr(graph, "_CC_LOCAL_MAX_ROWS", 0)
    dist = sorted(tuple(r) for r in graph.connected_components(df).collect())
    assert local == dist
    # the fast path must be a LocalRelation (no Python-worker rescans)
    monkeypatch.setattr(graph, "_CC_LOCAL_MAX_ROWS", 10**9)
    plan = (
        graph.connected_components(df)._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_local_cc_empty_edges(spark, monkeypatch):
    from weather_data_pipeline_spark.operators import graph

    monkeypatch.setattr(graph, "_CC_LOCAL_MAX_ROWS", 10**9)
    df = spark.createDataFrame([], "s long, d long")
    assert graph.connected_components(df).count() == 0


def test_local_k_core_matches_distributed(spark, monkeypatch):
    # r12: the driver peel must equal the BSP peel — the k-core is the
    # unique maximal subgraph of min degree >= k, order-independent
    from weather_data_pipeline_spark.operators import graph

    n = 6
    edges = (
        [(min(i, (i + 1) % n), max(i, (i + 1) % n)) for i in range(n)]  # cycle
        + [(i + 10, i + 11) for i in range(8)]                          # path
        + [(20, 21), (21, 22), (20, 22), (22, 23)]                      # tri+tail
    )
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    for k in (1, 2, 3):
        monkeypatch.setattr(graph, "_CC_LOCAL_MAX_ROWS", 10**9)
        local = sorted(tuple(r) for r in graph.k_core(df, k=k).collect())
        monkeypatch.setattr(graph, "_CC_LOCAL_MAX_ROWS", 0)
        dist = sorted(tuple(r) for r in graph.k_core(df, k=k).collect())
        assert local == dist, (k, local, dist)


def test_local_paths_match_distributed_on_null_endpoints(spark, monkeypatch):
    # a null endpoint is no node: the distributed loops' endpoint joins
    # never match it, and the driver paths must give that same answer
    from weather_data_pipeline_spark.operators import graph

    df = spark.createDataFrame(
        [(1, 2), (2, None), (3, 4), (5, None)], "s long, d long"
    )

    def both(run):
        monkeypatch.setattr(graph, "_CC_LOCAL_MAX_ROWS", 10**9)
        local = sorted(tuple(r) for r in run().collect())
        monkeypatch.setattr(graph, "_CC_LOCAL_MAX_ROWS", 0)
        dist = sorted(tuple(r) for r in run().collect())
        assert local == dist
        return dist

    # node 5 keeps a component of its own on the distributed path
    assert both(lambda: graph.connected_components(df)) == [
        (1, 1), (2, 1), (3, 3), (4, 3), (5, 5)
    ]
    # and its only edge is peeled away with the other null edge
    assert both(lambda: graph.k_core(df, k=1, src="s", dst="d")) == [
        (1, 1), (2, 1), (3, 1), (4, 1)
    ]
