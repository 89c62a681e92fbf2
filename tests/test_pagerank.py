"""PageRank operator: hand-verified values, dangling mass, determinism."""

from __future__ import annotations

import pytest


def _pr_reference(edges, iterations=10, d=0.85):
    """Driver-side plain-Python PageRank with identical semantics
    (distinct edges, dangling redistribution) as the ground truth."""
    e = sorted(set(edges))
    nodes = sorted({s for s, _ in e} | {t for _, t in e})
    n = len(nodes)
    out = {}
    for s, _ in e:
        out[s] = out.get(s, 0) + 1
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        dangling = sum(r[v] for v in nodes if v not in out)
        contrib = {v: 0.0 for v in nodes}
        for s, t in e:
            contrib[t] += r[s] / out[s]
        r = {
            v: (1 - d) / n + d * (contrib[v] + dangling / n)
            for v in nodes
        }
    return {v: round(r[v], 6) for v in nodes}


def test_pagerank_matches_reference(spark):
    from entity_extraction_svc_spark.operators.pagerank import pagerank

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]
    got = {
        r.node: r.rank
        for r in pagerank(
            spark.createDataFrame(edges, "src string, dst string")
        ).collect()
    }
    want = _pr_reference(edges)
    assert set(got) == set(want)
    assert all(abs(got[v] - want[v]) < 2e-6 for v in want)
    # mass conservation: dangling redistribution keeps sum(rank) ~ 1
    assert abs(sum(got.values()) - 1.0) < 1e-4


def test_pagerank_parallel_edges_and_self_loop(spark):
    """Parallel edges collapse to one; self-loops feed their own rank."""
    from entity_extraction_svc_spark.operators.pagerank import pagerank

    edges = [("a", "b"), ("a", "b"), ("a", "b"), ("b", "a"), ("c", "c")]
    got = {
        r.node: r.rank
        for r in pagerank(
            spark.createDataFrame(edges, "src string, dst string")
        ).collect()
    }
    want = _pr_reference([("a", "b"), ("b", "a"), ("c", "c")])
    assert all(abs(got[v] - want[v]) < 2e-6 for v in want)


def test_pagerank_oracle_sql_parity(spark):
    """The generated unrolled SQL (the contract oracle) reproduces the
    Spark ranks bit-for-bit at round-6 on an asymmetric graph."""
    import duckdb

    from entity_extraction_svc_spark.operators.pagerank import (
        pagerank,
        pagerank_oracle_sql,
    )

    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("e", "a"),
             ("a", "c"), ("b", "d")]
    got = {
        r.node: r.rank
        for r in pagerank(
            spark.createDataFrame(edges, "src string, dst string"),
            iterations=6,
        ).collect()
    }
    union = " UNION ALL ".join(
        f"SELECT '{s}' AS src, '{t}' AS dst" for s, t in edges
    )
    want = dict(duckdb.sql(pagerank_oracle_sql(union, iterations=6)).fetchall())
    assert got == pytest.approx(want, abs=1e-9)


def test_pagerank_empty(spark):
    from entity_extraction_svc_spark.operators.pagerank import pagerank

    empty = spark.createDataFrame([], "src string, dst string")
    assert pagerank(empty).collect() == []


def test_entity_salience_composition(spark, pipeline):
    """Capstone composition: fused linking output -> within-document entity
    co-occurrence edges -> PageRank = corpus-level entity salience.  Pins
    that the KG pipeline's output schema feeds the graph operator directly
    and that the salient entities are the fixture's hub entities (the ones
    sharing documents with many others)."""
    from pyspark.sql import functions as F

    from entity_extraction_svc_spark.operators.pagerank import pagerank

    linked = pipeline.linked.filter(
        (F.col("rank") == 0) & F.col("qid").isNotNull()
    ).select("url", "qid")
    a, b = linked.alias("a"), linked.alias("b")
    edges = (
        a.join(b, (F.col("a.url") == F.col("b.url"))
               & (F.col("a.qid") != F.col("b.qid")))
        .select(F.col("a.qid").alias("src"), F.col("b.qid").alias("dst"))
        .distinct()
    )
    ranks = {r.node: r.rank for r in pagerank(edges, iterations=5).collect()}
    assert len(ranks) > 10
    assert abs(sum(ranks.values()) - 1.0) < 1e-3
    # the most-salient entity must be one that co-occurs broadly: compare
    # against the degree ranking (PageRank on a symmetric co-occurrence
    # graph correlates with degree; exact equality is not required, but
    # the top entity must sit in the degree top-3)
    deg = {r.src: r.n for r in edges.groupBy("src").agg(
        F.count("*").alias("n")).collect()}
    top_rank = max(ranks, key=ranks.get)
    top3_deg = sorted(deg, key=deg.get, reverse=True)[:3]
    assert top_rank in top3_deg


# --- personalized PageRank -------------------------------------------------

def _ppr(spark, edges, seeds, iterations):
    from entity_extraction_svc_spark.operators.pagerank import (
        personalized_pagerank,
    )

    df = personalized_pagerank(
        spark.createDataFrame(edges, "src string, dst string"),
        seeds, iterations=iterations,
    )
    return {r["node"]: r["rank"] for r in df.collect()}


def test_ppr_one_iteration_hand_computed(spark):
    # a -> b, seed a, d=0.85: r1(a) = 0.15, r1(b) = 0.85
    got = _ppr(spark, [("a", "b")], ["a"], iterations=1)
    assert got == {"a": 0.15, "b": 0.85}


def test_ppr_mass_conserved_and_locality(spark):
    # triangle a->b->c->a plus the disconnected d->e: mass stays on the
    # seed's component, unreachable nodes sit at exactly 0
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("d", "e")]
    got = _ppr(spark, edges, ["a"], iterations=10)
    assert got["d"] == 0.0 and got["e"] == 0.0
    assert abs(sum(got.values()) - 1.0) < 1e-4
    # everyone on the seed's cycle holds positive mass
    assert got["a"] > 0 and got["b"] > 0 and got["c"] > 0


def test_ppr_seed_outside_graph(spark):
    # a seed with no edges keeps the full teleport share of its own mass
    got = _ppr(spark, [("a", "b")], ["z"], iterations=3)
    assert got["z"] > 0.0 and got["a"] == 0.0 and got["b"] == 0.0


def test_ppr_empty_seeds_raise(spark):
    from entity_extraction_svc_spark.operators.pagerank import (
        personalized_pagerank,
    )

    with pytest.raises(ValueError):
        personalized_pagerank(
            spark.createDataFrame([("a", "b")], "src string, dst string"), []
        )


def test_ppr_oracle_sql_parity(spark):
    import duckdb

    from entity_extraction_svc_spark.operators.pagerank import ppr_oracle_sql

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("x", "a")]
    got = _ppr(spark, edges, ["a", "x"], iterations=6)
    sql = ppr_oracle_sql(
        "SELECT * FROM (VALUES " +
        ", ".join(f"('{s}', '{t}')" for s, t in edges) + ") v(src, dst)",
        ["a", "x"], iterations=6,
    )
    want = dict(duckdb.connect().execute(sql).fetchall())
    assert got == pytest.approx(want)


def test_ppr_with_every_node_seeded_equals_pagerank(spark):
    # a uniform seed set makes the PPR teleport the global one, so both
    # update forms must agree on the rounded ranks
    from entity_extraction_svc_spark.operators.pagerank import pagerank

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a"),
             ("c", "e")]
    nodes = sorted({v for e in edges for v in e})
    df = spark.createDataFrame(edges, "src string, dst string")
    want = {r.node: r.rank for r in pagerank(df, iterations=10).collect()}
    assert _ppr(spark, edges, nodes, iterations=10) == want


# --- warm start (round 5) -----------------------------------------------------

from entity_extraction_svc_spark.operators.pagerank import (  # noqa: E402
    pagerank,
    pagerank_warm,
)


def _ring_edges(spark, n, extra=()):
    rows = [(f"n{i}", f"n{(i + 1) % n}") for i in range(n)] + list(extra)
    return spark.createDataFrame(rows, "src string, dst string")


def test_pagerank_warm_cold_start_matches_pagerank(spark):
    e = _ring_edges(spark, 12, extra=[("n0", "n5"), ("n3", "n7")])
    cold = {r.node: r.rank for r in pagerank(e, iterations=6).collect()}
    warm, iters = pagerank_warm(e, init_ranks=None, max_iterations=6,
                                tol=None)
    # pagerank rounds at its boundary; the warm path stays full-precision
    # (rounding a big vector injects L1 noise a warm chain can't afford)
    got = {r.node: round(r.rank, 6) for r in warm.collect()}
    assert got == cold and iters == 6


def test_pagerank_warm_converges_faster_after_edit(spark):
    # damping 0.5: the L1 delta contracts ~0.5^t, so the tolerance is
    # reachable in ~20 cold iterations and the test stays fast; the
    # warm-vs-cold property is damping-independent
    base = _ring_edges(spark, 30, extra=[("n1", "n9"), ("n4", "n20")])
    prev, cold_iters = pagerank_warm(base, max_iterations=40, tol=1e-6,
                                     damping=0.5)
    edited = _ring_edges(spark, 30, extra=[("n1", "n9"), ("n4", "n20"),
                                           ("n2", "n11")])
    warm, warm_iters = pagerank_warm(edited, init_ranks=prev,
                                     max_iterations=40, tol=1e-6,
                                     damping=0.5)
    cold2, cold2_iters = pagerank_warm(edited, max_iterations=40, tol=1e-6,
                                       damping=0.5)
    # same fixpoint either way (round-6 equality within tolerance)
    w = {r.node: r.rank for r in warm.collect()}
    c = {r.node: r.rank for r in cold2.collect()}
    assert set(w) == set(c)
    assert max(abs(w[k] - c[k]) for k in w) < 1e-4
    # the warm path does strictly less work for the same tolerance
    assert warm_iters < cold2_iters, (warm_iters, cold2_iters)


def test_pagerank_warm_handles_node_set_change(spark):
    # departed nodes drop, new nodes enter at the floor; renormalization
    # keeps the vector a distribution
    old = _ring_edges(spark, 8)
    prev, _ = pagerank_warm(old, max_iterations=10, tol=None)
    new = _ring_edges(spark, 6, extra=[("n0", "m1"), ("m1", "n3")])
    warm, _ = pagerank_warm(new, init_ranks=prev, max_iterations=10,
                            tol=None)
    rows = warm.collect()
    nodes = {r.node for r in rows}
    assert "m1" in nodes and "n7" not in nodes
    assert abs(sum(r.rank for r in rows) - 1.0) < 1e-3


# --- weighted pagerank ---------------------------------------------------------

from entity_extraction_svc_spark.operators.pagerank import (  # noqa: E402
    pagerank,
    weighted_pagerank,
    weighted_pagerank_oracle_sql,
)


def test_weighted_constant_weight_equals_unweighted(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]
    uw = spark.createDataFrame(edges, "src string, dst string")
    w = spark.createDataFrame([(s, d, 7.0) for s, d in edges],
                              "src string, dst string, w double")
    got_u = {r.node: r.rank for r in pagerank(uw, 6).collect()}
    got_w = {r.node: r.rank for r in weighted_pagerank(w, iterations=6).collect()}
    assert got_u == got_w


def test_weighted_pull_follows_weight(spark):
    # a splits 9:1 between b and c -> b must outrank c (only source is a)
    w = spark.createDataFrame(
        [("a", "b", 9.0), ("a", "c", 1.0)],
        "src string, dst string, w double",
    )
    got = {r.node: r.rank for r in weighted_pagerank(w, iterations=8).collect()}
    assert got["b"] > got["c"]


def test_weighted_parallel_edges_sum(spark):
    # two (a,b,3) claims == one (a,b,6) claim
    two = spark.createDataFrame(
        [("a", "b", 3.0), ("a", "b", 3.0), ("a", "c", 6.0)],
        "src string, dst string, w double",
    )
    one = spark.createDataFrame(
        [("a", "b", 6.0), ("a", "c", 6.0)],
        "src string, dst string, w double",
    )
    ga = sorted(map(tuple, weighted_pagerank(two, iterations=5).collect()))
    gb = sorted(map(tuple, weighted_pagerank(one, iterations=5).collect()))
    assert ga == gb


def test_weighted_oracle_parity(spark):
    import duckdb

    edges = [("a", "b", 2.5), ("b", "c", 1.0), ("c", "a", 4.0),
             ("a", "c", 0.5), ("d", "a", 1.5)]
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    got = {r.node: r.rank for r in weighted_pagerank(df, iterations=6).collect()}
    rows = ", ".join(f"('{s}', '{d}', {w})" for s, d, w in edges)
    want = {r[0]: r[1] for r in duckdb.sql(
        weighted_pagerank_oracle_sql(
            f"SELECT * FROM (VALUES {rows}) t(src, dst, w)", 6)
    ).fetchall()}
    assert got == want


def test_weighted_rejects_nonpositive(spark):
    import pytest as _pt

    df = spark.createDataFrame([("a", "b", 0.0)],
                               "src string, dst string, w double")
    with _pt.raises(ValueError, match="non-positive"):
        weighted_pagerank(df)


def test_weighted_rejects_null_weight(spark):
    import pytest as _pt

    df = spark.createDataFrame([("a", "b", None), ("b", "c", 1.0)],
                               "src string, dst string, w double")
    with _pt.raises(ValueError, match="null or non-positive"):
        weighted_pagerank(df)
