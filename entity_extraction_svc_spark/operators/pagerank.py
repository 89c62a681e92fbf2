"""PageRank over the knowledge-graph edge list (entity importance).

The reference ranks entities per-request by connection counts and
mention-frequency heuristics (``annotators/entity_extraction_base/src/
entity_linking.py`` rel-ranking, and the top-people / top-triplets caches,
``wiki_parser``); a corpus-level engine wants the global version: a
stationary importance score over the whole triple store, usable as a link
prior or an export ranking.  Classic damped PageRank with dangling-mass
redistribution (Page et al. 1999):

    r'(v) = (1-d)/N + d * ( sum_{u -> v} r(u)/outdeg(u) + dangling/N )

Every variant (global, warm-start, weighted, personalized) runs the one
power iteration, ``_power_iterate``; they differ only in edge weights,
initial vector and teleport form.  Its execution shape (the one that
survives a 10^10-edge graph):
  - edges are (src, dst, w) rows — distinct pairs at w = 1, or
    weight-summed parallel edges; contributions are an equi-join of the
    rank vector to the edge list on ``src`` followed by a sum groupBy on
    ``dst`` — both shuffles hash-partition on node id, and AQE's skew
    split handles celebrity in-degree nodes.
  - the rank vector is ``localCheckpoint``-ed each iteration.  PERSIST IS
    NOT ENOUGH: a persisted DataFrame keeps its full logical plan, and
    the analyzer re-walks (and self-join-dedups) the whole lineage on
    every new iteration — measured per-iteration driver cost DOUBLES
    (1.2s, 1.0s, ..., 6.1s, 11.8s over 10 iterations on a 5-edge graph).
    localCheckpoint truncates the plan to the materialized RDD, making
    iterations O(1).  The executor-local tradeoff (state lost if an
    executor dies mid-run) is the standard one for iterative rank
    vectors; on an unreliable cluster point ``spark.sparkContext.
    setCheckpointDir`` at durable storage and swap in ``checkpoint()``.
  - the dangling mass is a scalar aggregate per iteration (an action on
    the already-materialized vector, not a collect of data rows).

Fixed iteration count (default 10) rather than convergence-delta: the
result is a pure function of (edges, iterations, damping) — deterministic
across engines, which is what the DuckDB oracle certifies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

DAMPING = 0.85
ITERATIONS = 10


def _edge_frame(edges: DataFrame, src_col: str, dst_col: str,
                weight_col: str | None = None) -> DataFrame:
    """Persisted (src, dst, w) edges: distinct pairs at ``w = 1.0``, or
    with ``weight_col`` parallel edges summing their weights."""
    pairs = [F.col(src_col).alias("src"), F.col(dst_col).alias("dst")]
    if weight_col is None:
        e = edges.select(*pairs).distinct().withColumn("w", F.lit(1.0))
    else:
        e = (
            edges.select(*pairs, F.col(weight_col).cast("double").alias("w"))
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
        )
    return e.persist(StorageLevel.MEMORY_AND_DISK)


def _node_frame(e: DataFrame, extra: DataFrame | None = None) -> DataFrame:
    """Persisted distinct endpoints of ``e`` (plus ``extra`` nodes)."""
    nodes = e.select(F.col("src").alias("node")).unionByName(
        e.select(F.col("dst").alias("node"))
    )
    if extra is not None:
        nodes = nodes.unionByName(extra)
    return nodes.distinct().persist(StorageLevel.MEMORY_AND_DISK)


def _uniform_update(n: int, damping: float):
    """r' = (1-d)/n + d * (contrib + dangling/n): uniform teleport."""
    return lambda contrib, dangling: (
        F.lit((1.0 - damping) / n)
        + F.lit(damping) * (contrib + F.lit(dangling / n))
    )


def _seeded_update(tp: Column, damping: float):
    """r' = (1-d)*s + d * (contrib + dangling*s): teleport and dangling
    mass restart on the seed indicator ``tp``."""
    return lambda contrib, dangling: (
        F.lit(1.0 - damping) * tp
        + F.lit(damping) * (contrib + F.lit(dangling) * tp)
    )


def _power_iterate(e: DataFrame, nodes: DataFrame, ranks: DataFrame,
                   update, max_iterations: int,
                   tol: float | None = None) -> tuple[DataFrame, int]:
    """The damped power iteration every PageRank variant runs over the
    (src, dst, w) edges ``e``: per iteration, the dangling mass as a
    scalar action, one contribution join + groupBy on ``dst``, and the
    ``update(contrib, dangling)`` rank column, ``localCheckpoint``-ed (the
    lineage cut of the module docstring).  ``tol``: stop once the L1
    change of the vector drops below it.  Returns (ranks, iterations_run).
    """
    outw = e.groupBy("src").agg(F.sum("w").alias("outw"))
    ranks = ranks.localCheckpoint(eager=True)
    iters_run = 0
    for _ in range(max_iterations):
        dangling = (
            ranks.join(outw, ranks["node"] == outw["src"], "left")
            .filter(F.col("outw").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .first()[0]
        )
        contrib = (
            ranks.join(e, ranks["node"] == e["src"])
            .join(outw, "src")
            .groupBy("dst")
            .agg(
                F.sum(F.col("rank") * F.col("w") / F.col("outw"))
                .alias("contrib")
            )
        )
        prev = ranks
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                update(F.coalesce("contrib", F.lit(0.0)), dangling)
                .alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
        iters_run += 1
        if tol is not None:
            delta = (
                ranks.alias("a")
                .join(prev.alias("b"), "node")
                .agg(F.sum(F.abs(F.col("a.rank") - F.col("b.rank"))))
                .first()[0]
            )
            if delta is not None and delta < tol:
                break
    return ranks, iters_run


def pagerank(edges: DataFrame, iterations: int = ITERATIONS,
             damping: float = DAMPING, src_col: str = "src",
             dst_col: str = "dst") -> DataFrame:
    """Rank every node of the directed graph ``edges``.

    Returns (node, rank) for all distinct endpoints; ranks sum to ~1.
    Parallel edges collapse to one (distinct), self-loops participate
    normally.  The returned frame is small-per-node (2 columns) and
    unpersisted — callers writing it out pay one final shuffle at most.
    """
    out, _ = pagerank_warm(edges, init_ranks=None,
                           max_iterations=iterations, tol=None,
                           damping=damping, src_col=src_col,
                           dst_col=dst_col)
    return out.select("node", F.round("rank", 6).alias("rank"))


def pagerank_warm(edges: DataFrame, init_ranks: DataFrame | None = None,
                  max_iterations: int = ITERATIONS,
                  tol: float | None = None,
                  damping: float = DAMPING, src_col: str = "src",
                  dst_col: str = "dst") -> tuple[DataFrame, int]:
    """:func:`pagerank` with WARM START + optional convergence stop — the
    maintenance twin of ``closure_delta``: after a crawl's edge edits, the
    previous rank vector is a near-fixpoint, so seeding from it reaches a
    given L1 tolerance in a fraction of the cold iterations (measured in
    BENCH.md §graph — the useful property for daily re-ranking of a
    10^10-edge store whose daily delta is tiny).

    ``init_ranks``: (node, rank) from a previous run (any graph version —
    nodes are outer-matched: departed nodes drop, new nodes enter at the
    uniform floor 1/n, and the vector renormalizes to sum 1 so the
    recurrence's invariant holds).  None = uniform cold start, exactly
    :func:`pagerank`.

    ``tol``: L1 stop — iterate until sum(|r_t - r_{t-1}|) < tol (one
    extra scalar aggregate per iteration, same sanctioned per-round
    driver action as the dangling mass) or ``max_iterations``.  None =
    fixed count, no early stop, bit-identical to :func:`pagerank` (the
    driver-pinned recurrence).

    Returns (ranks, iterations_run).
    """
    return _uniform_rank(_edge_frame(edges, src_col, dst_col), init_ranks,
                         max_iterations, tol, damping)


def _uniform_rank(e: DataFrame, init_ranks: DataFrame | None,
                  max_iterations: int, tol: float | None,
                  damping: float) -> tuple[DataFrame, int]:
    """Uniform-teleport ranks over the persisted edges ``e`` from the
    uniform or the renormalized ``init_ranks`` start (see
    :func:`pagerank_warm`); unpersists ``e``."""
    nodes = _node_frame(e)
    n = nodes.count()
    if n == 0:
        e.unpersist()
        nodes.unpersist()
        return nodes.select("node", F.lit(0.0).alias("rank")), 0
    if init_ranks is None:
        ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    else:
        seeded = nodes.join(
            init_ranks.select("node", F.col("rank").alias("_init")),
            "node", "left",
        ).select(
            "node",
            F.coalesce("_init", F.lit(1.0 / n)).alias("rank"),
        )
        total = seeded.agg(F.sum("rank")).first()[0] or 1.0
        ranks = seeded.select(
            "node", (F.col("rank") / F.lit(total)).alias("rank")
        )
    ranks, iters_run = _power_iterate(
        e, nodes, ranks, _uniform_update(n, damping), max_iterations, tol
    )
    # UNROUNDED on purpose: rounding to 6 places costs ~2.5e-7 L1 noise
    # PER NODE, which across a 10^7-node vector aggregates to ~1e-2 —
    # enough to swamp a small edit's true perturbation and erase the
    # warm-start advantage (measured: a 5-edge edit warm-started from a
    # rounded vector took 32 iterations, from the exact vector ~1/4 of
    # that).  :func:`pagerank` rounds at its boundary for the oracle
    # contract; warm-start chains keep full precision.
    for df in (nodes, e):
        df.unpersist()
    return ranks, iters_run


def pagerank_oracle_sql(edges_sql: str, iterations: int = ITERATIONS,
                        damping: float = DAMPING,
                        init_sql: str | None = None) -> str:
    """The UNROLLED ANSI-SQL equivalent (DuckDB-ready) of :func:`pagerank`
    for a fixed iteration count — generated here so the Spark operator and
    its oracle share one definition of the recurrence.

    ``edges_sql`` must select columns (src, dst); duplicates are removed
    identically to the Spark side.  ``init_sql`` (columns node, rank)
    seeds r0 the way :func:`pagerank_warm` does — outer-matched to the
    node set with a 1/n floor, then renormalized to sum 1.
    """
    d = damping
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    # iteration references its predecessor twice (dangling + contrib), so
    # un-materialized unrolling expands the tree 2^iterations times — the
    # planner never returns for 10 iterations.  Materialization makes the
    # oracle linear in `iterations`, mirroring the Spark side's per-
    # iteration localCheckpoint.
    parts = [
        f"WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM nodes)",
        "deg AS MATERIALIZED (SELECT src, count(*)::DOUBLE AS outd FROM e GROUP BY src)",
    ]
    if init_sql is None:
        parts.append(
            "r0 AS MATERIALIZED (SELECT node, 1.0 / nn.n AS rank "
            "FROM nodes, nn)"
        )
    else:
        parts.append(
            "seeded AS MATERIALIZED (SELECT nodes.node, "
            "coalesce(i.rank, 1.0 / nn.n) AS rank "
            f"FROM nodes CROSS JOIN nn LEFT JOIN ({init_sql}) i "
            "ON nodes.node = i.node)"
        )
        parts.append(
            "r0 AS MATERIALIZED (SELECT node, "
            "rank / (SELECT sum(rank) FROM seeded) AS rank FROM seeded)"
        )
    for i in range(1, iterations + 1):
        p, c = f"r{i - 1}", f"r{i}"
        parts.append(
            f"{c} AS MATERIALIZED (SELECT nodes.node, "
            f"(1 - {d}) / nn.n + {d} * (coalesce(ctb.contrib, 0) + dang.m / nn.n) AS rank "
            f"FROM nodes CROSS JOIN nn CROSS JOIN ("
            f"  SELECT coalesce(sum(rank), 0) AS m FROM {p} "
            f"  LEFT JOIN deg ON {p}.node = deg.src WHERE deg.src IS NULL) dang "
            f"LEFT JOIN ("
            f"  SELECT e.dst AS node, sum({p}.rank / deg.outd) AS contrib "
            f"  FROM {p} JOIN e ON {p}.node = e.src "
            f"  JOIN deg ON e.src = deg.src GROUP BY e.dst) ctb "
            f"ON nodes.node = ctb.node)"
        )
    body = ",\n".join(parts)
    return f"{body}\nSELECT node, round(rank, 6) AS rank FROM r{iterations}"


def weighted_pagerank(edges: DataFrame, weight_col: str = "w",
                      iterations: int = ITERATIONS,
                      damping: float = DAMPING, src_col: str = "src",
                      dst_col: str = "dst") -> DataFrame:
    """PageRank with per-edge weights: a node distributes its rank to its
    successors proportionally to edge weight instead of uniformly,

        r'(v) = (1-d)/N + d * ( sum_{u->v} r(u) * w(u,v)/outw(u) + dang/N )

    the natural form when edges carry evidence strength (triple
    confidence, co-occurrence PMI, alias purity).  Parallel edges SUM
    their weights (the multigraph semantics — two independent claims of
    the same fact double its pull), vs the unweighted operator's distinct.
    With a constant weight column the result equals :func:`pagerank`
    exactly (pinned by test), so this is a strict generalization kept
    separate from the driver-pinned unweighted recurrence.

    Zero- or negative-weight edges are rejected (they would corrupt the
    stochastic-matrix invariant silently).
    """
    e = _edge_frame(edges, src_col, dst_col, weight_col)
    bad = e.filter(F.col("w").isNull() | (F.col("w") <= 0)).count()
    if bad:
        e.unpersist()
        raise ValueError(
            f"{bad} edges have null or non-positive total weight"
        )
    ranks, _ = _uniform_rank(e, None, iterations, None, damping)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def weighted_pagerank_oracle_sql(edges_sql: str,
                                 iterations: int = ITERATIONS,
                                 damping: float = DAMPING) -> str:
    """Unrolled DuckDB equivalent of :func:`weighted_pagerank`.
    ``edges_sql`` must select (src, dst, w); parallel edges sum, exactly
    like the Spark side."""
    d = damping
    parts = [
        f"WITH e AS MATERIALIZED (SELECT src, dst, sum(w::DOUBLE) AS w "
        f"FROM ({edges_sql}) GROUP BY src, dst)",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM nodes)",
        "outw AS MATERIALIZED (SELECT src, sum(w) AS outw FROM e GROUP BY src)",
        "r0 AS MATERIALIZED (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn)",
    ]
    for i in range(1, iterations + 1):
        p, c = f"r{i - 1}", f"r{i}"
        parts.append(
            f"{c} AS MATERIALIZED (SELECT nodes.node, "
            f"(1 - {d}) / nn.n + {d} * (coalesce(ctb.contrib, 0) + dang.m / nn.n) AS rank "
            f"FROM nodes CROSS JOIN nn CROSS JOIN ("
            f"  SELECT coalesce(sum(rank), 0) AS m FROM {p} "
            f"  LEFT JOIN outw ON {p}.node = outw.src WHERE outw.src IS NULL) dang "
            f"LEFT JOIN ("
            f"  SELECT e.dst AS node, sum({p}.rank * e.w / outw.outw) AS contrib "
            f"  FROM {p} JOIN e ON {p}.node = e.src "
            f"  JOIN outw ON e.src = outw.src GROUP BY e.dst) ctb "
            f"ON nodes.node = ctb.node)"
        )
    body = ",\n".join(parts)
    return f"{body}\nSELECT node, round(rank, 6) AS rank FROM r{iterations}"


def personalized_pagerank(edges: DataFrame, seeds: list[str],
                          iterations: int = ITERATIONS,
                          damping: float = DAMPING, src_col: str = "src",
                          dst_col: str = "dst") -> DataFrame:
    """Personalized PageRank: teleport mass restarts at ``seeds`` instead
    of uniformly, so rank measures RELATEDNESS TO THE SEED SET rather than
    global importance — the corpus-level analogue of the reference's
    per-request entity-relatedness ranking (entity_linking.py rel-ranking
    scores candidates by connections to the OTHER entities in the
    document; PPR from those entities is the principled closure of that
    heuristic, cf. Haveliwala 2002).

        r'(v) = (1-d)*s(v) + d * ( sum_{u->v} r(u)/outdeg(u) + dangling*s(v) )

    with s(v) = 1/|seeds| on the seeds, 0 elsewhere; dangling mass also
    restarts at the seeds (the standard PPR convention — mass never leaks
    to unrelated nodes).  Nodes outside the seeds' forward ball keep rank
    exactly 0, which is what makes the operator cheap in practice: the
    support of the vector is the reachable set, not the corpus.

    ``seeds`` is a small literal list — the teleport indicator compiles to
    an ``isin`` codegen expression, no extra join.
    """
    if not seeds:
        raise ValueError("personalized_pagerank needs a non-empty seed list")
    k = float(len(seeds))
    e = _edge_frame(edges, src_col, dst_col)
    seed_nodes = edges.sparkSession.createDataFrame(
        [(s,) for s in seeds], "node string"
    )
    nodes = _node_frame(e, seed_nodes)
    tp = F.when(F.col("node").isin(seeds), F.lit(1.0 / k)).otherwise(F.lit(0.0))
    ranks, _ = _power_iterate(
        e, nodes, nodes.select("node", tp.alias("rank")),
        _seeded_update(tp, damping), iterations,
    )
    out = ranks.select("node", F.round("rank", 6).alias("rank")).localCheckpoint(
        eager=True
    )
    for df in (nodes, e):
        df.unpersist()
    return out


def ppr_oracle_sql(edges_sql: str, seeds: list[str],
                   iterations: int = ITERATIONS,
                   damping: float = DAMPING) -> str:
    """Unrolled DuckDB SQL for :func:`personalized_pagerank` — one shared
    recurrence definition, same AS-MATERIALIZED rationale as
    :func:`pagerank_oracle_sql`."""
    d = damping
    k = float(len(seeds))
    seed_vals = ", ".join(f"('{s}')" for s in seeds)
    seed_in = ", ".join(f"'{s}'" for s in seeds)
    parts = [
        f"WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e UNION "
        f"SELECT dst FROM e UNION SELECT * FROM (VALUES {seed_vals}) sv(node))",
        "deg AS MATERIALIZED (SELECT src, count(*)::DOUBLE AS outd FROM e GROUP BY src)",
        f"tp AS MATERIALIZED (SELECT node, CASE WHEN node IN ({seed_in}) "
        f"THEN 1.0 / {k} ELSE 0.0 END AS s FROM nodes)",
        "r0 AS MATERIALIZED (SELECT node, s AS rank FROM tp)",
    ]
    for i in range(1, iterations + 1):
        p, c = f"r{i - 1}", f"r{i}"
        parts.append(
            f"{c} AS MATERIALIZED (SELECT tp.node, "
            f"(1 - {d}) * tp.s + {d} * (coalesce(ctb.contrib, 0) + dang.m * tp.s) AS rank "
            f"FROM tp CROSS JOIN ("
            f"  SELECT coalesce(sum(rank), 0) AS m FROM {p} "
            f"  LEFT JOIN deg ON {p}.node = deg.src WHERE deg.src IS NULL) dang "
            f"LEFT JOIN ("
            f"  SELECT e.dst AS node, sum({p}.rank / deg.outd) AS contrib "
            f"  FROM {p} JOIN e ON {p}.node = e.src "
            f"  JOIN deg ON e.src = deg.src GROUP BY e.dst) ctb "
            f"ON tp.node = ctb.node)"
        )
    body = ",\n".join(parts)
    return f"{body}\nSELECT node, round(rank, 6) AS rank FROM r{iterations}"
