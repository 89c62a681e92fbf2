"""Bounded multi-hop BFS over triples (operators/graphwalk.py).

Pins: minimal-distance semantics (a node reachable at hops 1 AND 2 reports
1), direction handling, early exit when the frontier drains before
max_hops, and engine parity — the DuckDB recursive-CTE rendition from
``bfs_oracle_sql`` must produce the identical (entity, dist) set on the
committed fixture KB.
"""

from __future__ import annotations

import duckdb
import pytest

from entity_extraction_svc_spark.operators.graphwalk import (
    bfs_distances,
    bfs_oracle_sql,
)

# a --> b --> c --> d, plus the a --> c shortcut and the off-ball x --> y
_EDGES = [
    ("a", "p1", "b"),
    ("b", "p1", "c"),
    ("c", "p2", "d"),
    ("a", "p3", "c"),
    ("x", "p1", "y"),
]


def _graph(spark):
    return spark.createDataFrame(_EDGES, "subj string, pred string, obj string")


def _dists(df) -> dict[str, int]:
    return {r["entity"]: r["dist"] for r in df.collect()}


def test_bfs_minimal_distance_out(spark):
    got = _dists(bfs_distances(_graph(spark), "a", max_hops=3))
    # c is reachable in 2 hops via b but the shortcut wins: dist 1
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_bfs_direction_in(spark):
    got = _dists(bfs_distances(_graph(spark), "d", max_hops=3, direction="in"))
    assert got == {"d": 0, "c": 1, "b": 2, "a": 2}


def test_bfs_direction_both_reaches_everything(spark):
    got = _dists(bfs_distances(_graph(spark), "d", max_hops=4, direction="both"))
    # undirected: d-c-{b,a}-... ; x/y stay unreachable (their component)
    assert got == {"d": 0, "c": 1, "b": 2, "a": 2}
    got_x = _dists(bfs_distances(_graph(spark), "x", max_hops=4, direction="both"))
    assert got_x == {"x": 0, "y": 1}


def test_bfs_hop_budget_truncates(spark):
    got = _dists(bfs_distances(_graph(spark), "a", max_hops=1))
    assert got == {"a": 0, "b": 1, "c": 1}


def test_bfs_early_exit_beyond_ball(spark):
    # budget far past the graph diameter: loop must drain, not spin
    got = _dists(bfs_distances(_graph(spark), "a", max_hops=25))
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_bfs_source_without_edges(spark):
    got = _dists(bfs_distances(_graph(spark), "zzz", max_hops=3))
    assert got == {"zzz": 0}


def test_bfs_bad_direction_raises(spark):
    with pytest.raises(ValueError):
        bfs_distances(_graph(spark), "a", direction="sideways")


@pytest.mark.parametrize("direction", ["out", "both"])
def test_bfs_oracle_parity_on_fixture_kb(spark, fixture_dir, direction):
    kb = spark.read.parquet(f"{fixture_dir}/kb_triples.parquet")
    got = sorted(
        (r["entity"], r["dist"])
        for r in bfs_distances(kb, "Q12418", max_hops=3,
                               direction=direction).collect()
    )
    sql = bfs_oracle_sql(
        f"SELECT * FROM read_parquet('{fixture_dir}/kb_triples.parquet')",
        "Q12418", 3, direction=direction,
    )
    want = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
    assert got == want
    assert len(got) > 1  # the fixture ball is non-trivial


# --- transitive closure (path doubling) --------------------------------------

from entity_extraction_svc_spark.operators.graphwalk import (  # noqa: E402
    closure_oracle_sql,
    transitive_closure,
)
from entity_extraction_svc_spark.operators.kgquery import match_bgp  # noqa: E402


def _pairs(df) -> dict[tuple[str, str], int]:
    return {(r["src"], r["dst"]): r["dist"] for r in df.collect()}


def test_closure_chain_with_shortcut(spark):
    got = _pairs(transitive_closure(_graph(spark)))
    # all-preds closure of the 5-edge graph; shortcut a->c wins over a->b->c
    assert got == {
        ("a", "b"): 1, ("b", "c"): 1, ("c", "d"): 1, ("a", "c"): 1,
        ("x", "y"): 1, ("a", "d"): 2, ("b", "d"): 2,
    }


def test_closure_pred_restricted(spark):
    got = _pairs(transitive_closure(_graph(spark), pred="p1"))
    assert got == {("a", "b"): 1, ("b", "c"): 1, ("x", "y"): 1, ("a", "c"): 2}


def test_closure_deep_chain_log_rounds(spark):
    # a 40-deep chain must close completely within the 16-round doubling
    # budget (ceil(log2 40) = 6 rounds) — the whole point of doubling
    edges = [(f"n{i}", "p", f"n{i+1}") for i in range(40)]
    df = spark.createDataFrame(edges, "subj string, pred string, obj string")
    got = _pairs(transitive_closure(df))
    assert len(got) == 40 * 41 // 2
    assert got[("n0", "n40")] == 40
    assert got[("n3", "n7")] == 4


def test_closure_cycle_terminates(spark):
    edges = [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "a")]
    df = spark.createDataFrame(edges, "subj string, pred string, obj string")
    got = _pairs(transitive_closure(df))
    # every ordered pair reachable, self-pairs at the cycle length
    assert got[("a", "a")] == 3 and got[("b", "b")] == 3
    assert got[("a", "b")] == 1 and got[("b", "a")] == 2
    assert len(got) == 9


def test_closure_oracle_parity(spark):
    rows = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in _EDGES)
    base = f"SELECT * FROM (VALUES {rows}) t(subj, pred, obj)"
    for pred in (None, "p1"):
        want = {(r[0], r[1]): r[2] for r in duckdb.sql(
            closure_oracle_sql(base, pred=pred)).fetchall()}
        got = _pairs(transitive_closure(_graph(spark), pred=pred))
        assert got == want


def test_closure_empty_pred(spark):
    assert transitive_closure(_graph(spark), pred="nope").count() == 0


def test_bgp_property_path_leg(spark):
    # taxonomy: cat -P279-> mammal -P279-> animal; typed instances via P31
    edges = [
        ("cat", "P279", "mammal"), ("mammal", "P279", "animal"),
        ("tom", "P31", "cat"), ("rex", "P31", "dog"),
        ("dog", "P279", "mammal"),
    ]
    df = spark.createDataFrame(edges, "subj string, pred string, obj string")
    got = sorted(
        (r["x"], r["cls"])
        for r in match_bgp(
            df,
            [("?x", "P31", "?t"), ("?t", "P279+", "?cls")],
            select=["x", "cls"],
        ).collect()
    )
    assert got == [
        ("rex", "animal"), ("rex", "mammal"),
        ("tom", "animal"), ("tom", "mammal"),
    ]


# --- shortest path reconstruction ---------------------------------------------

from entity_extraction_svc_spark.operators.graphwalk import (  # noqa: E402
    shortest_path,
    shortest_path_oracle_sql,
)


def _path(df) -> list[tuple[int, str]]:
    return sorted((r["step"], r["entity"]) for r in df.collect())


def test_shortest_path_prefers_shortcut(spark):
    # a->c direct beats a->b->c; c->d finishes it
    got = _path(shortest_path(_graph(spark), "a", "d", direction="out"))
    assert got == [(0, "a"), (1, "c"), (2, "d")]


def test_shortest_path_min_parent_tiebreak(spark):
    # two 2-hop routes x->{m,n}->z: the min-id middle node wins
    edges = [("x", "p", "n"), ("x", "p", "m"), ("n", "p", "z"), ("m", "p", "z")]
    df = spark.createDataFrame(edges, "subj string, pred string, obj string")
    got = _path(shortest_path(df, "x", "z", direction="out"))
    assert got == [(0, "x"), (1, "m"), (2, "z")]


def test_shortest_path_unreachable_and_self(spark):
    assert shortest_path(_graph(spark), "a", "nope").count() == 0
    assert _path(shortest_path(_graph(spark), "a", "a")) == [(0, "a")]


def test_shortest_path_respects_max_hops(spark):
    assert shortest_path(
        _graph(spark), "a", "d", max_hops=1, direction="out"
    ).count() == 0


def test_shortest_path_oracle_parity_on_fixture_kb(spark, fixture_dir):
    got = _path(shortest_path(
        spark.read.parquet(f"{fixture_dir}/kb_triples.parquet"),
        "Q12418", "Q2126369", max_hops=4,
    ))
    sql = shortest_path_oracle_sql(
        f"SELECT * FROM read_parquet('{fixture_dir}/kb_triples.parquet')",
        "Q12418", "Q2126369", 4,
    )
    want = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
    assert got == want
    assert len(got) >= 3  # the two Mona Lisas touch via a shared hub, not an edge


# --- incremental closure maintenance ------------------------------------------

from entity_extraction_svc_spark.operators import graphwalk  # noqa: E402
from entity_extraction_svc_spark.operators.graphwalk import closure_delta  # noqa: E402


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(s, "p", o) for s, o in pairs], "subj string, pred string, obj string"
    )


def _full(spark, pairs):
    return _pairs(transitive_closure(_edges_df(spark, pairs)))


def test_closure_delta_bridges_two_chains(spark):
    old = [("a", "b"), ("b", "c"), ("x", "y"), ("y", "z")]
    new = [("c", "x")]  # bridge: every old-left pair now reaches old-right
    base = transitive_closure(_edges_df(spark, old))
    got = _pairs(closure_delta(
        base, spark.createDataFrame(new, "src string, dst string")))
    assert got == _full(spark, old + new)
    assert got[("a", "z")] == 5


def test_closure_delta_improves_existing_distances(spark):
    old = [("a", "b"), ("b", "c"), ("c", "d")]
    new = [("a", "c")]  # a->c shortcut: a->c 2->1, a->d 3->2
    base = transitive_closure(_edges_df(spark, old))
    got = _pairs(closure_delta(
        base, spark.createDataFrame(new, "src string, dst string")))
    assert got == _full(spark, old + new)
    assert got[("a", "d")] == 2


def test_closure_delta_noop_and_cycle(spark):
    old = [("a", "b"), ("b", "c")]
    base = transitive_closure(_edges_df(spark, old))
    # re-asserting an existing edge changes nothing
    same = _pairs(closure_delta(
        base, spark.createDataFrame([("a", "b")], "src string, dst string")))
    assert same == _pairs(transitive_closure(_edges_df(spark, old)))
    # closing the loop c->a creates self-pairs and all reverse reachability
    got = _pairs(closure_delta(
        base, spark.createDataFrame([("c", "a")], "src string, dst string")))
    assert got == _full(spark, old + [("c", "a")])
    assert got[("a", "a")] == 3


def test_closure_delta_deep_extension(spark):
    # append a 20-node tail to a 20-node chain: the delta path crosses the
    # whole old closure; must converge inside max_iter
    old = [(f"n{i}", f"n{i+1}") for i in range(20)]
    new_rows = [(f"n{i}", f"n{i+1}") for i in range(20, 40)]
    base = transitive_closure(_edges_df(spark, old))
    got = _pairs(closure_delta(
        base, spark.createDataFrame(new_rows, "src string, dst string")))
    assert got == _full(spark, old + new_rows)
    assert got[("n0", "n40")] == 40


# --- deletion maintenance (DRed) ----------------------------------------------

from entity_extraction_svc_spark.operators.graphwalk import closure_delete  # noqa: E402


def _del(spark, all_pairs, deleted):
    remaining = [p for p in all_pairs if p not in deleted]
    full = transitive_closure(_edges_df(spark, all_pairs))
    got = _pairs(closure_delete(
        full,
        spark.createDataFrame(list(deleted), "src string, dst string"),
        spark.createDataFrame(remaining, "src string, dst string"),
    ))
    return got, _full(spark, remaining)


def test_closure_delete_breaks_chain(spark):
    # cutting the middle of a chain drops every crossing pair
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    got, want = _del(spark, pairs, [("c", "d")])
    assert got == want
    assert ("a", "e") not in got and ("a", "c") in got


def test_closure_delete_alternative_longer_path_survives(spark):
    # a->b->d dies with b->d, but a->c->c2->d re-derives at dist 3
    pairs = [("a", "b"), ("b", "d"), ("a", "c"), ("c", "c2"), ("c2", "d"),
             ("d", "e")]
    got, want = _del(spark, pairs, [("b", "d")])
    assert got == want
    assert got[("a", "d")] == 3 and got[("a", "e")] == 4


def test_closure_delete_cycle_opened(spark):
    # deleting the back-edge of a cycle removes self-pairs + reverse pairs
    pairs = [("a", "b"), ("b", "c"), ("c", "a")]
    got, want = _del(spark, pairs, [("c", "a")])
    assert got == want
    assert ("a", "a") not in got and ("c", "a") not in got


def test_closure_delete_reasserted_edge_is_kept(spark):
    # the same pair both deleted and re-asserted in one batch: the pair
    # survives at dist 1 via the s1 seed
    pairs = [("a", "b"), ("b", "c")]
    full = transitive_closure(_edges_df(spark, pairs))
    got = _pairs(closure_delete(
        full,
        spark.createDataFrame([("a", "b")], "src string, dst string"),
        spark.createDataFrame(pairs, "src string, dst string"),
    ))
    assert got == _full(spark, pairs)


def test_closure_delete_noop_on_irrelevant_edge(spark):
    # deleting an edge that exists nowhere in the closure changes nothing
    pairs = [("a", "b"), ("b", "c")]
    got, want = _del(spark, pairs + [("x", "y")], [("x", "y")])
    assert got == want == _full(spark, pairs)


def test_closure_delete_chained_rederivation(spark):
    # two stacked detours: re-deriving a->d needs the re-derived a->c
    # (affected composing with affected, the delta∘overlay loop case)
    pairs = [("a", "b"), ("b", "c"), ("c", "d"),
             ("a", "a2"), ("a2", "b"), ("b", "b2"), ("b2", "c")]
    got, want = _del(spark, pairs, [("a", "b"), ("b", "c")])
    assert got == want
    assert got[("a", "c")] == 4 and got[("a", "d")] == 5


def test_closure_delta_small_equals_distributed(spark, monkeypatch):
    # the adaptive in-process fast path and the distributed loop
    # (test-forced via SMALL_REGION_LIMIT=0) produce identical closures
    cases = [
        ([("a", "b"), ("b", "c"), ("x", "y"), ("y", "z")], [("c", "x")]),
        ([("a", "b"), ("b", "c"), ("c", "d")], [("a", "c")]),   # improve
        ([("a", "b"), ("b", "c")], [("c", "a")]),               # cycle
    ]
    for old, new in cases:
        base = transitive_closure(_edges_df(spark, old))
        new_df = spark.createDataFrame(new, "src string, dst string")
        small = _pairs(closure_delta(base, new_df))
        with monkeypatch.context() as m:
            m.setattr(graphwalk, "SMALL_REGION_LIMIT", 0)
            dist = _pairs(closure_delta(base, new_df))
        assert small == dist == _full(spark, old + new), (old, new)


def test_closure_delta_raises_without_convergence(spark, monkeypatch):
    # a 12-edge new chain needs several semi-naive rounds; one round
    # leaves pairs missing, so both paths must raise instead of
    # returning the truncated overlay
    old = [("a", "n0")]
    new = [(f"n{i}", f"n{i + 1}") for i in range(12)]
    base = transitive_closure(_edges_df(spark, old))
    new_df = spark.createDataFrame(new, "src string, dst string")
    assert _pairs(closure_delta(base, new_df)) == _full(spark, old + new)
    with pytest.raises(RuntimeError, match="did not converge"):
        closure_delta(base, new_df, max_iter=1)
    monkeypatch.setattr(graphwalk, "SMALL_REGION_LIMIT", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        closure_delta(base, new_df, max_iter=1)


def test_maintain_combined_remove_add_propagates(spark):
    # review finding: maintain_closure's remove+add interval must run
    # closure_delete with the PRE-addition survivors.  With the
    # post-addition head instead, the added edge (a,b) enters the delete
    # result at dist 1 on an affected key WITHOUT its consequences on
    # unaffected keys, and closure_delta then sees it as already-known
    # (no improvement -> no propagation): (x,z) keeps its stale dist.
    def tr(edges):
        return spark.createDataFrame(
            [(s, "P", d) for s, d in edges],
            "subj string, pred string, obj string",
        )

    old = [("a", "m"), ("m", "u"), ("u", "b"), ("b", "c"), ("c", "z"),
           ("x", "a"), ("x", "q1"), ("q1", "q2"), ("q2", "q3"),
           ("q3", "q4"), ("q4", "z")]
    new = [e for e in old if e != ("u", "b")] + [("a", "b")]

    clo_old = transitive_closure(tr(old))
    removed = spark.createDataFrame([("u", "b")], "src string, dst string")
    added = spark.createDataFrame([("a", "b")], "src string, dst string")
    survivors = spark.createDataFrame(
        [e for e in old if e != ("u", "b")], "src string, dst string"
    )
    # the exact composition plans/maintain.maintain_closure runs
    stepped = closure_delta(
        closure_delete(clo_old, removed, survivors), added
    )
    got = {(r.src, r.dst): r.dist for r in stepped.collect()}
    want = {(r.src, r.dst): r.dist
            for r in transitive_closure(tr(new)).collect()}
    assert got == want
    # the new shortcut must have propagated to the UNAFFECTED pair
    assert got[("x", "z")] == 4
