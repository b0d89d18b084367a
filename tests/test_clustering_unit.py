"""Unit tests for the connected-components core on synthetic graphs
with known transitive closures — the fixture's SimHash pair graph may
contain only trivial (size-2) components, which would never exercise
multi-hop propagation. These graphs do."""

from __future__ import annotations

from golang_etl_spark.operators.clustering import connected_components


def _clusters(spark, pairs, **kwargs):
    df = spark.createDataFrame(pairs, "doc_id_a LONG, doc_id_b LONG")
    rows = connected_components(df, **kwargs).collect()
    return {r["doc_id"]: r["label"] for r in rows}


def test_chain_collapses_to_one_component(spark):
    # 1-2-3-4-5-6: diameter 5, forces several propagation rounds;
    # A~B, B~C must transitively cluster even though A never pairs C
    got = _clusters(spark, [(i, i + 1) for i in range(1, 6)])
    assert got == {i: 1 for i in range(1, 7)}


def test_star_and_disjoint_components(spark):
    # star centered at 10 + separate pair + separate triangle
    pairs = [(10, 11), (10, 12), (10, 13), (20, 21), (30, 31), (31, 32), (30, 32)]
    got = _clusters(spark, pairs)
    assert got == {
        10: 10, 11: 10, 12: 10, 13: 10,
        20: 20, 21: 20,
        30: 30, 31: 30, 32: 30,
    }


def test_label_is_component_minimum_regardless_of_edge_order(spark):
    # the min id arrives via the "wrong end" of the chain: 9-8, 8-7,
    # 7-1 — label 1 must still flood the whole component
    got = _clusters(spark, [(9, 8), (8, 7), (7, 1)])
    assert got == {9: 1, 8: 1, 7: 1, 1: 1}


def test_two_chains_merged_by_bridge(spark):
    # two chains joined by a single bridge edge form one component
    pairs = [(1, 2), (2, 3), (101, 102), (102, 103), (3, 101)]
    got = _clusters(spark, pairs)
    assert set(got.values()) == {1}
    assert len(got) == 6


def test_deep_chain_converges_within_log_rounds(spark):
    # pointer doubling: a chain far deeper than MAX_CC_ITERS still
    # converges because labels jump through label-of-label each round
    # (O(log diameter) rounds, not O(diameter))
    from golang_etl_spark.operators.clustering import MAX_CC_ITERS

    depth = MAX_CC_ITERS * 3  # one-hop propagation alone could not finish
    # local_threshold=0 forces the distributed loop — the union-find
    # fast path would otherwise absorb a graph this small
    got = _clusters(
        spark, [(i, i + 1) for i in range(1, depth + 1)], local_threshold=0
    )
    assert got == {i: 1 for i in range(1, depth + 2)}


def test_raises_instead_of_silently_splitting_when_cap_hit(spark, monkeypatch):
    # if the cap IS hit, the contract is a loud failure, never
    # silently split labels — force it by shrinking the cap to 1 on a
    # chain that needs more than one doubling round
    import pytest
    from golang_etl_spark.operators import clustering

    monkeypatch.setattr(clustering, "MAX_CC_ITERS", 1)
    deep = [(i, i + 1) for i in range(1, 20)]
    df = spark.createDataFrame(deep, "doc_id_a LONG, doc_id_b LONG")
    with pytest.raises(RuntimeError, match="did not converge"):
        # force the distributed loop: the union-find fast path has no
        # iteration cap to hit (single-task DSU always finishes)
        connected_components(df, local_threshold=0).collect()


def test_driver_union_find_matches_label_propagation(spark):
    # the two execution paths of connected_components must agree: a
    # chain bridged into a star, plus a separate pair, with edges given
    # in both orientations and one repeated
    pairs = [(i, i + 1) for i in range(1, 8)] + [(8, 50), (50, 51), (52, 50)]
    pairs += [(50, 53), (99, 98), (2, 1)]
    local = _clusters(spark, pairs)
    assert local == _clusters(spark, pairs, local_threshold=0)
    want = {i: 1 for i in [*range(1, 9), *range(50, 54)]}
    assert local == {**want, 98: 98, 99: 98}


def test_driver_union_find_on_an_empty_pair_list(spark):
    assert _clusters(spark, []) == {}


def test_pagerank_conserves_probability_mass(spark, sf_dir):
    """On a dangling-free graph every PageRank iteration redistributes
    the full rank mass: after any number of damped steps the ranks
    still sum to 1 (teleport + propagated mass). Also: every vertex of
    the thresholded edge set appears, and ranks are positive."""
    from golang_etl_spark.operators.clustering import (
        _TRI_MIN_ORDERS,
        _brand_edges,
        graph_pagerank_fixed,
    )

    rows = graph_pagerank_fixed(spark, sf_dir).collect()
    total = sum(r["pagerank"] for r in rows)
    assert abs(total - 1.0) < 1e-6, total
    assert all(r["pagerank"] > 0 for r in rows)
    n_vertices = (
        _brand_edges(spark, sf_dir, _TRI_MIN_ORDERS)
        .selectExpr("u AS x")
        .union(_brand_edges(spark, sf_dir, _TRI_MIN_ORDERS).selectExpr("v AS x"))
        .distinct()
        .count()
    )
    assert len(rows) == n_vertices


# ---------------------------------------------------------------------------
# k-core peel kernel on synthetic graphs with known cores.
# ---------------------------------------------------------------------------
from golang_etl_spark.operators.clustering import kcore_peel  # noqa: E402


def _kcore(spark, edges, k, rounds):
    df = spark.createDataFrame(edges, "u LONG, v LONG")
    surv, deg = kcore_peel(df, k, rounds)
    out = (
        surv.join(deg, "vertex", "left")
        .select("vertex", "deg")
        .collect()
    )
    return {r["vertex"]: (r["deg"] or 0) for r in out}


def test_kcore_clique_survives_pendant_chain_peels(spark):
    # 5-clique (1..5) + pendant chain 5-6-7-8: chain vertices have
    # degree <= 2, so k=3 peels 8, then 7, then 6 (one per round —
    # cascade needs the multi-round loop); the clique survives with
    # residual degree 4 everywhere.
    clique = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    chain = [(5, 6), (6, 7), (7, 8)]
    got = _kcore(spark, clique + chain, k=3, rounds=4)
    assert got == {1: 4, 2: 4, 3: 4, 4: 4, 5: 4}


def test_kcore_fixed_rounds_is_a_snapshot_not_fixpoint(spark):
    # same graph, 1 round: only vertex 8 (deg 1) is gone; 6 and 7
    # still present with their residual degrees — pins that the
    # operator is the R-round snapshot the oracle unrolls, not the
    # converged core.
    clique = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    chain = [(5, 6), (6, 7), (7, 8)]
    got = _kcore(spark, clique + chain, k=2, rounds=1)
    assert 8 not in got
    assert got[7] == 1 and got[6] == 2


def test_kcore_empty_when_graph_too_sparse(spark):
    # a path graph has no 2-core at all once peeling converges
    path = [(i, i + 1) for i in range(1, 6)]
    got = _kcore(spark, path, k=2, rounds=4)
    assert got == {}
