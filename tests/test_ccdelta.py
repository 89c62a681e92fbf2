"""Incremental connected-components maintenance (canonicalize.cc_delta):
every case is pinned against full recompute on the edited edge set —
the same invariant the driver part kg_connection part=ccdelta certifies
cross-engine."""

from __future__ import annotations

import pytest

from entity_extraction_svc_spark.operators import canonicalize
from entity_extraction_svc_spark.operators.canonicalize import (
    cc_delta,
    connected_components,
)

# four components: a chain, a triangle, a pair, and a star
_EDGES = [
    ("a1", "a2"), ("a2", "a3"), ("a3", "a4"),          # chain
    ("b1", "b2"), ("b2", "b3"), ("b3", "b1"),          # triangle
    ("c1", "c2"),                                      # pair
    ("d0", "d1"), ("d0", "d2"), ("d0", "d3"),          # star
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string")


def _cc_map(df):
    return {r["node"]: r["comp"] for r in df.collect()}


def _check(spark, add=None, remove=None, base=_EDGES, distributed=False):
    edges = _df(spark, base)
    labels = connected_components(edges)
    with pytest.MonkeyPatch.context() as mp:
        if distributed:
            # only cc_delta's own clustering takes the distributed loop;
            # the input labels and the recompute below stay on union-find
            mp.setattr(canonicalize, "LOCAL_MAX_EDGES", 0)
        got = cc_delta(
            labels,
            add_edges=_df(spark, add) if add else None,
            remove_edges=_df(spark, remove) if remove else None,
            edges=edges if remove else None,
        )
    norm = {tuple(sorted(p)) for p in base}
    if remove:
        norm -= {tuple(sorted(p)) for p in remove}
    edited = [p for p in base if tuple(sorted(p)) in norm] + list(add or [])
    want = connected_components(_df(spark, edited))
    assert _cc_map(got) == _cc_map(want)
    return _cc_map(got)


def test_add_merges_two_components(spark):
    got = _check(spark, add=[("a4", "b1")])
    assert got["b3"] == "a1"  # merged component keeps the global min label


def test_add_chain_merges_three_components(spark):
    got = _check(spark, add=[("a1", "b1"), ("b2", "c2")])
    assert got["c1"] == got["a3"] == "a1"


def test_add_fresh_nodes_and_fresh_only_edge(spark):
    got = _check(spark, add=[("z9", "c1"), ("x1", "x2")])
    assert got["z9"] == "c1" and got["x1"] == got["x2"] == "x1"


def test_remove_splits_chain(spark):
    got = _check(spark, remove=[("a2", "a3")])
    assert got["a1"] == got["a2"] == "a1"
    assert got["a3"] == got["a4"] == "a3"


def test_remove_undirected_match_and_isolation(spark):
    # the stored orientation is (c1, c2); removing the REVERSED pair must
    # still cut it, and both isolated endpoints drop out of the label set
    got = _check(spark, remove=[("c2", "c1")])
    assert "c1" not in got and "c2" not in got


def test_remove_redundant_edge_no_split(spark):
    got = _check(spark, remove=[("b1", "b2")])  # triangle stays connected
    assert got["b1"] == got["b2"] == got["b3"] == "b1"


def test_combined_remove_then_add(spark):
    # split the chain AND re-bridge one half into the triangle: the
    # removal must be applied against the pre-edit state first
    got = _check(spark, remove=[("a2", "a3")], add=[("a4", "b2")])
    assert got["a1"] == got["a2"] == "a1"
    assert got["a3"] == got["a4"] == got["b1"] == "a3"


def test_remove_without_edges_raises(spark):
    labels = connected_components(_df(spark, _EDGES))
    with pytest.raises(ValueError, match="pre-edit"):
        cc_delta(labels, remove_edges=_df(spark, [("a1", "a2")]))


def test_forced_distributed_path_parity(spark):
    got = _check(
        spark, remove=[("a2", "a3")], add=[("a4", "b2"), ("n1", "n2")],
        distributed=True,
    )
    assert got["n1"] == "n1"


def test_distributed_cc_raises_without_convergence(spark, monkeypatch):
    # one hash-min + pointer-jump round cannot label a 13-node chain;
    # the loop must raise rather than return split components
    monkeypatch.setattr(canonicalize, "LOCAL_MAX_EDGES", 0)
    chain = _df(spark, [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(12)])
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=1)
    # the failed call leaves its symmetrized edge list uncached
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert set(_cc_map(connected_components(chain)).values()) == {"c00"}


def test_partitioning_invariance(spark):
    edges = _df(spark, _EDGES)
    labels = connected_components(edges)
    add = _df(spark, [("a1", "b1"), ("q1", "c2")])
    rem = _df(spark, [("d0", "d3")])
    one = _cc_map(cc_delta(labels, add, rem, edges))
    other = _cc_map(cc_delta(
        labels.repartition(7, "node"),
        add.repartition(3),
        rem.repartition(2),
        edges.repartition(5, "dst"),
    ))
    assert one == other
