"""Multi-rule forward chaining over the triples table — datalog-style
materialization to fixpoint, the general rule engine behind RDFS/OWL-RL
entailment (type inheritance through the class taxonomy, subproperty
expansion, domain/range typing).

The reference's wiki-parser answers fixed-shape probes at query time
(wiki_parser.py:179-191, :319-337); a KG-construction pipeline instead
MATERIALIZES the entailed triples once so every downstream consumer
(linker candidate typing, BGP queries, training-data emitters) reads them
as plain rows.  ``construct_triples`` (kgquery.py) is the single-rule,
single-shot form of this; ``transitive_closure`` (graphwalk.py) is the
one-predicate special case.  This module runs an arbitrary RULE SET with
mutual recursion to fixpoint via semi-naive evaluation.

Spark shape, designed around the closure_delta lesson (VERDICT r4 #1 —
never exchange the accumulated result per round):

  * the base fact table is distinct'ed and persisted ONCE; after round 0
    it is never shuffled again.  Dedup of a round's candidates does NOT
    anti-join candidates against base directly (that plan exchanges the
    base side every round: an anti-join's build side is the right, and a
    constant head predicate gets folded out of the join keys anyway, so
    no at-rest partitioning can satisfy it — verified in the plan, the
    bug this module was audited for).  Instead base is first SEMI-joined
    down to the candidate keys with the candidate side broadcast — a
    scan of the persisted base, zero shuffle — and the candidates
    anti-join that delta-sized slice, also broadcast (the
    affected-region pre-slice pattern of closure_delta's r5 rebuild);
  * derived facts accumulate in a small OVERLAY kept separate from the
    base: body joins source from base ∪ overlay with the delta side
    broadcast by AQE, and the overlay-side dedup anti-join broadcasts the
    overlay.  When the overlay outgrows ``FOLD_ROWS`` it is folded into
    the persisted base (one materialization, geometrically amortized) —
    base + overlay is the same at-rest/at-delta split the maintained
    closure store uses (plans/maintain.py);
  * semi-naive: round k's candidates come from rule bodies with one leg
    restricted to round k-1's delta and the remaining legs on the full
    known set (the standard union-over-leg-positions scheme, written once
    in ``_delta_heads`` for forward_chain, forward_chain_delta and the
    retraction's over-delete; overlap between position choices is deduped
    by the distinct + anti-join, so completeness needs no triangular
    prev/known bookkeeping);
  * per-round driver work is one emptiness probe (``limit(1).count()``,
    the sanctioned scalar action of every iterative operator here) and
    ``localCheckpoint`` keeps planner cost O(1) across rounds (the
    measurement in pagerank.py's module docstring).

Budget honesty: the working set is base + derived.  RDFS-style rule sets
derive O(|instances| x taxonomy-depth) facts — the same "the closure size
IS the budget" scoping as transitive_closure's docstring; rules whose
heads join fresh variables (cartesian heads) are refused outright.

Oracle: ``chain_oracle_sql`` renders the SAME rule set as an unrolled
naive-iteration CTE chain (t0 = base, t_{k+1} = t_k UNION rule-heads(t_k),
UNION's set semantics doing the dedup) — multi-rule recursion needs the
recursive table on BOTH sides of a join, which recursive-CTE engines
refuse (single-reference rule), so the rounds are unrolled like the
fixed-point classifier's training oracle (classifier.py).  ``rounds``
must be >= the fixpoint's round count; the Spark side converges by
detection, the SQL side by sufficient unrolling — the driver's hash
compare holds both to the same final set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_COLS = ("subj", "pred", "obj")

#: Candidate (and overlay) rows up to which a round's dedup anti-joins run
#: against broadcast slices; larger rounds take plain shuffle anti-joins.
BROADCAST_ROWS = 2_000_000
#: Overlay rows past which :func:`forward_chain` folds the derived overlay
#: into its persisted base.
FOLD_ROWS = 2_000_000


def _check_rule(body: list[tuple[str, str, str]],
                head: tuple[str, str, str]) -> None:
    if not body:
        raise ValueError("rule body must have at least one pattern")
    body_vars = {t[1:] for leg in body for t in leg if t.startswith("?")}
    for t in head:
        if t.startswith("?") and t[1:] not in body_vars:
            raise ValueError(
                f"head variable {t} is not bound by the body ({sorted(body_vars)})"
            )


def _leg_vars(leg: tuple[str, str, str]) -> set[str]:
    return {t[1:] for t in leg if t.startswith("?")}


def _order_legs(body: list[tuple[str, str, str]], start: int) -> list[int]:
    """Join order: start at ``start`` (the delta leg), then greedily attach
    legs sharing a variable with what's bound.  Disconnected bodies are a
    cartesian product at corpus scale — refused."""
    order = [start]
    bound = set(_leg_vars(body[start]))
    rest = [i for i in range(len(body)) if i != start]
    while rest:
        nxt = next((i for i in rest if _leg_vars(body[i]) & bound), None)
        if nxt is None:
            raise ValueError(f"rule body is disconnected: {body}")
        order.append(nxt)
        bound |= _leg_vars(body[nxt])
        rest.remove(nxt)
    return order


def _check_rules(rules) -> None:
    """Validate every rule up front (head variables bound, body
    connected), not mid-loop."""
    for body, head in rules:
        _check_rule(body, head)
        _order_legs(body, 0)


def _leg_frame(df: DataFrame, leg: tuple[str, str, str]) -> DataFrame:
    """Constant-filtered projection of one body pattern, columns renamed to
    its variable names (repeated variables inside a leg become an equality
    filter)."""
    out = df
    bound: dict[str, str] = {}
    for col, term in zip(_COLS, leg):
        if term.startswith("?"):
            v = term[1:]
            if v in bound:
                out = out.filter(F.col(col) == F.col(bound[v]))
            else:
                bound[v] = col
        else:
            out = out.filter(F.col(col) == F.lit(term))
    return out.select(*[F.col(c).alias(v) for v, c in bound.items()])


def _eval_rule(body: list[tuple[str, str, str]],
               head: tuple[str, str, str],
               sources: list[DataFrame],
               delta_leg: int = 0) -> DataFrame:
    """Join the body legs (each leg i scanning ``sources[i]``) in
    delta-first connected order and project the head template."""
    order = _order_legs(body, delta_leg)
    acc = _leg_frame(sources[order[0]], body[order[0]])
    for i in order[1:]:
        leg = _leg_frame(sources[i], body[i])
        shared = sorted(set(acc.columns) & set(leg.columns))
        acc = acc.join(leg, shared)
    terms = [
        (F.col(t[1:]) if t.startswith("?") else F.lit(t)).alias(c)
        for c, t in zip(_COLS, head)
    ]
    return acc.select(*terms)


def _delta_heads(rules, delta: DataFrame, known: DataFrame,
                 first_leg_only: bool = False) -> DataFrame:
    """One semi-naive step: the union, over every rule and every body leg
    position i, of the rule evaluated with leg i on ``delta`` and the
    other legs on ``known``.  ``first_leg_only`` evaluates position 0
    alone — the naive round, where ``delta`` is ``known``."""
    parts = []
    for body, head in rules:
        for i in range(1 if first_leg_only else len(body)):
            sources = [delta if j == i else known for j in range(len(body))]
            parts.append(_eval_rule(body, head, sources, delta_leg=i))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def forward_chain(triples: DataFrame,
                  rules: list[tuple[list[tuple[str, str, str]],
                                    tuple[str, str, str]]],
                  max_rounds: int = 32,
                  derived_only: bool = False) -> DataFrame:
    """Materialize the fixpoint of ``rules`` over ``triples``.

    ``rules``: (body, head) pairs; body = list of (s, p, o) patterns with
    ``?var`` / constant terms (variables join across legs in ANY position,
    so a pattern's predicate can join another pattern's subject — the
    subproperty rule needs exactly that); head = one (s, p, o) template
    over body variables and constants.  Returns the entailed triple set —
    base facts plus everything derivable — or just the derived delta with
    ``derived_only=True``.  Deterministic: the fixpoint is a pure function
    of (facts, rules); no tie-breaking exists to get wrong.

    Raises after ``max_rounds`` without convergence (rule sets over a
    cyclic value space can diverge; a bounded raise beats a silent
    truncation — the k-core rule)."""
    _check_rules(rules)
    spark = triples.sparkSession

    base = triples.select(*_COLS).distinct().persist()
    base.count()  # materialize: every round scans this one copy
    n_legs_max = max(len(body) for body, _ in rules)
    empty = spark.createDataFrame([], base.schema)
    overlay = empty
    n_overlay = 0
    delta = base
    first = True
    for _ in range(max_rounds):
        # body legs scan the full known set (base ∪ overlay) except the
        # semi-naive delta leg; round 0 is the naive full evaluation
        # (delta == known) so a single position choice covers it
        known = base.unionByName(overlay) if overlay is not empty else base
        cand = _delta_heads(rules, delta, known, first_leg_only=first)
        # dedup: pre-slice base to the candidate keys (broadcast semi-join
        # — a shuffle-free scan of the persisted base), then anti-join the
        # candidates against that delta-sized slice and the overlay, both
        # broadcast.  The base is never exchanged after round 0.
        # The broadcast is GATED on the round's candidate row count
        # (VERDICT r5 #2): a BOOTSTRAP's round 0 evaluates every rule head
        # over the full base — at a 10^10-fact KB that candidate set blows
        # the 8 GB broadcast cap outright — so rounds beyond
        # ``BROADCAST_ROWS`` dedup via plain shuffle anti-joins instead
        # (one base exchange, unavoidable and amortized at that scale);
        # delta-sized rounds — all of maintenance, and every bootstrap
        # round near the fixpoint — keep the shuffle-free broadcast path.
        cand = cand.distinct().localCheckpoint(eager=True)
        if cand.count() <= BROADCAST_ROWS:
            base_hits = base.join(F.broadcast(cand), list(_COLS), "left_semi")
            new = cand.join(F.broadcast(base_hits), list(_COLS), "left_anti")
            if overlay is not empty:
                if n_overlay <= BROADCAST_ROWS:
                    new = new.join(F.broadcast(overlay), list(_COLS),
                                   "left_anti")
                else:
                    new = new.join(overlay, list(_COLS), "left_anti")
        else:
            new = cand.join(base, list(_COLS), "left_anti")
            if overlay is not empty:
                new = new.join(overlay, list(_COLS), "left_anti")
        new = new.localCheckpoint(eager=True)
        if new.limit(1).count() == 0:
            entailed = base.unionByName(overlay) if overlay is not empty else base
            if derived_only:
                # base carries original facts; overlay IS the derived set
                # (plus, after a fold, derived rows folded into base —
                # recover them by anti-joining the original input)
                entailed = entailed.join(
                    triples.select(*_COLS).distinct(), list(_COLS), "left_anti"
                )
            out = entailed.localCheckpoint(eager=True)
            base.unpersist()
            return out
        overlay = (new if overlay is empty
                   else overlay.unionByName(new).localCheckpoint(eager=True))
        n_overlay = overlay.count()
        if n_overlay > FOLD_ROWS:
            # fold: one materialization of base ∪ overlay (disjoint by
            # construction — no re-distinct), geometrically amortized
            folded = base.unionByName(overlay).persist()
            folded.count()
            base.unpersist()
            base = folded
            overlay = empty
            n_overlay = 0
        delta = new
        first = False
    raise RuntimeError(
        f"forward_chain did not converge in {max_rounds} rounds "
        f"({n_legs_max}-leg rules; raise max_rounds if the rule set is "
        f"genuinely this deep)"
    )


def forward_chain_delta(entailed: DataFrame, new_facts: DataFrame,
                        rules: list[tuple[list[tuple[str, str, str]],
                                          tuple[str, str, str]]],
                        max_rounds: int = 32) -> DataFrame:
    """Incremental maintenance of a materialized entailment, ADDITIONS
    only: given ``entailed`` (a fixpoint of ``rules`` — forward_chain's
    output, e.g. the lineage-tracked store) and a batch of new base
    facts, derive exactly the facts the addition makes true and return
    them (``entailed`` ∪ result is the fixpoint over the unioned base —
    the invariant the tests pin against a full recompute).

    The delta starts as the genuinely-new facts (semi-slice + anti-join
    against the persisted entailment — scan, no shuffle), every round is
    the delta-sided step over all leg positions (no naive round 0), and
    each round's candidates dedup against entailment + the accumulated
    additions.  Cost scales with the
    CONSEQUENCES of the delta, not with |entailed| — a few thousand new
    pages against a billion-fact store never exchange the store.

    Deletions are :func:`forward_chain_retract` (DRed); a combined
    remove+add interval retracts FIRST against the pre-addition state,
    then cascades the additions — the maintain_closure ordering lesson."""
    _check_rules(rules)
    spark = entailed.sparkSession

    base = entailed.select(*_COLS).distinct().persist()
    base.count()
    fresh = new_facts.select(*_COLS).distinct().localCheckpoint(eager=True)
    hits = base.join(F.broadcast(fresh), list(_COLS), "left_semi")
    delta = (
        fresh.join(F.broadcast(hits), list(_COLS), "left_anti")
        .localCheckpoint(eager=True)
    )
    empty = spark.createDataFrame([], base.schema)
    overlay = delta if delta.limit(1).count() else empty
    for _ in range(max_rounds):
        if overlay is empty:
            base.unpersist()
            return empty
        cand = (
            _delta_heads(rules, delta, base.unionByName(overlay))
            .distinct().localCheckpoint(eager=True)
        )
        base_hits = base.join(F.broadcast(cand), list(_COLS), "left_semi")
        new = (
            cand.join(F.broadcast(base_hits), list(_COLS), "left_anti")
            .join(F.broadcast(overlay), list(_COLS), "left_anti")
            .localCheckpoint(eager=True)
        )
        if new.limit(1).count() == 0:
            base.unpersist()
            return overlay
        overlay = overlay.unionByName(new).localCheckpoint(eager=True)
        delta = new
    raise RuntimeError(
        f"forward_chain_delta did not converge in {max_rounds} rounds"
    )


def _eval_rule_bound(body: list[tuple[str, str, str]],
                     head: tuple[str, str, str],
                     source: DataFrame,
                     bound_heads: DataFrame) -> DataFrame:
    """Evaluate one rule with the HEAD pre-bound to ``bound_heads`` rows
    (the DRed re-derivation probe: "which of these candidate facts does a
    body over ``source`` still prove?").  The head bindings seed the join
    chain, so the body never evaluates beyond the candidates' footprint —
    the whole point when ``source`` is corpus-sized and the candidate set
    is edit-sized."""
    # constants in the head filter the candidates; variables bind them
    acc = bound_heads
    bound_vars: list[str] = []
    for col, term in zip(_COLS, head):
        if term.startswith("?"):
            v = term[1:]
            if v in bound_vars:
                acc = acc.filter(F.col(col) == F.col(_COLS[
                    [t[1:] for t in head].index(v)]))
            else:
                bound_vars.append(v)
        else:
            acc = acc.filter(F.col(col) == F.lit(term))
    sel = []
    seen: set[str] = set()
    for col, term in zip(_COLS, head):
        if term.startswith("?") and term[1:] not in seen:
            seen.add(term[1:])
            sel.append(F.col(col).alias(term[1:]))
    acc = acc.select(*sel)
    # attach body legs greedily from the head-var frontier (falls back to
    # a cross join only for a head with no variables — a ground fact,
    # whose "candidates" frame is at most one row)
    rest = list(range(len(body)))
    bound = set(seen)
    while rest:
        nxt = next((i for i in rest if _leg_vars(body[i]) & bound), None)
        if nxt is None:
            nxt = rest[0]  # ground-head / disconnected-from-head start
        leg = _leg_frame(source, body[nxt])
        shared = sorted(set(acc.columns) & set(leg.columns))
        acc = acc.join(leg, shared) if shared else acc.crossJoin(leg)
        bound |= _leg_vars(body[nxt])
        rest.remove(nxt)
    terms = [
        (F.col(t[1:]) if t.startswith("?") else F.lit(t)).alias(c)
        for c, t in zip(_COLS, head)
    ]
    return acc.select(*terms)


def forward_chain_retract(entailed: DataFrame, base: DataFrame,
                          removed: DataFrame,
                          rules: list[tuple[list[tuple[str, str, str]],
                                            tuple[str, str, str]]],
                          max_rounds: int = 32) -> DataFrame:
    """DRed deletion maintenance for the rule engine: given ``entailed``
    = fixpoint(``base``), retract ``removed`` (⊆ base) and return
    fixpoint(base − removed) — the generalization of
    ``graphwalk.closure_delete`` from the one-predicate closure to an
    arbitrary (mutually recursive) rule set.

    Delete-and-rederive, both phases edit-sized:

      1. OVER-DELETE — everything whose known derivation might pass
         through a removed fact: D₀ = removed; each round derives rule
         heads with ≥1 body leg in the D-delta and the rest in the old
         entailment (delta-sided joins, entailment scanned, never
         exchanged).  D over-approximates the true loss — exactly the
         facts with an alternative derivation must come back;
      2. RE-DERIVE — candidates = D minus the surviving base; a
         candidate returns iff some rule body over the SURVIVOR set
         still proves it, probed head-first (:func:`_eval_rule_bound`
         seeds each rule's join chain with the candidate bindings, so
         the body evaluates only inside the candidates' footprint);
         re-derived facts rejoin the survivors and the probe repeats on
         what is left until no candidate returns (a chain of facts
         re-deriving each other needs one round per link).

    Sound and complete by the standard DRed argument (Gupta, Mumick &
    Subrahmanian 1993), pinned against a from-scratch recompute in the
    tests.  Budget: |D| — a retraction whose consequences span the whole
    entailment (removing a root taxonomy edge) degenerates to recompute
    cost, the honest bound every DRed shares."""
    _check_rules(rules)
    ent = entailed.select(*_COLS).distinct().persist()
    ent.count()
    base_now = base.select(*_COLS).distinct()
    rm = removed.select(*_COLS).distinct().localCheckpoint(eager=True)
    survivors_base = base_now.join(F.broadcast(rm), list(_COLS), "left_anti")

    # phase 1: over-delete (semi-naive over the D set)
    dset = rm
    delta = rm
    for _ in range(max_rounds):
        new = (
            _delta_heads(rules, delta, ent).distinct()
            .join(F.broadcast(dset), list(_COLS), "left_anti")
            # D ⊆ E: heads derived with a leg outside E are impossible,
            # but the delta-sided eval can only produce E members anyway;
            # keep the semi-join for safety against non-closed input
            .join(ent, list(_COLS), "left_semi")
            .localCheckpoint(eager=True)
        )
        if new.limit(1).count() == 0:
            break
        dset = dset.unionByName(new).localCheckpoint(eager=True)
        delta = new
    else:
        raise RuntimeError(
            f"forward_chain_retract over-delete did not converge in "
            f"{max_rounds} rounds"
        )

    # phase 2: re-derive.  survivors = (E − D) ∪ surviving base facts
    # that were over-deleted (a base fact in D is still asserted unless
    # it was itself removed)
    surv = (
        ent.join(F.broadcast(dset), list(_COLS), "left_anti")
        .unionByName(
            survivors_base.join(F.broadcast(dset), list(_COLS), "left_semi")
        )
        .distinct()
        .persist()
    )
    surv.count()
    # candidates: every over-deleted fact not directly re-asserted above —
    # including the REMOVED base facts themselves (retracting an
    # assertion does not retract derivability: a removed (s,p,o) stays in
    # the fixpoint iff some rule still proves it)
    cands = (
        dset.join(survivors_base, list(_COLS), "left_anti")
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        if cands.limit(1).count() == 0:
            break
        parts = [
            _eval_rule_bound(body, head, surv, cands)
            for body, head in rules
        ]
        proved = parts[0]
        for p in parts[1:]:
            proved = proved.unionByName(p)
        regained = (
            proved.distinct()
            .join(F.broadcast(cands), list(_COLS), "left_semi")
            .localCheckpoint(eager=True)
        )
        if regained.limit(1).count() == 0:
            break
        new_surv = surv.unionByName(regained).distinct().persist()
        new_surv.count()
        surv.unpersist()
        surv = new_surv
        cands = (
            cands.join(F.broadcast(regained), list(_COLS), "left_anti")
            .localCheckpoint(eager=True)
        )
    else:
        raise RuntimeError(
            f"forward_chain_retract re-derive did not converge in "
            f"{max_rounds} rounds"
        )
    out = surv.localCheckpoint(eager=True)
    surv.unpersist()
    ent.unpersist()
    return out


# ---------------------------------------------------------------------------
# shared-definition oracle


def _rule_sql(body: list[tuple[str, str, str]],
              head: tuple[str, str, str], rel: str) -> str:
    """One rule as a join over ``rel`` (the round's accumulated set)."""
    first_ref: dict[str, str] = {}
    conds: list[str] = []
    for i, leg in enumerate(body):
        for col, term in zip(_COLS, leg):
            ref = f"l{i}.{col}"
            if term.startswith("?"):
                v = term[1:]
                if v in first_ref:
                    conds.append(f"{ref} = {first_ref[v]}")
                else:
                    first_ref[v] = ref
            else:
                lit = term.replace("'", "''")
                conds.append(f"{ref} = '{lit}'")
    froms = ", ".join(f"{rel} l{i}" for i in range(len(body)))
    where = " AND ".join(conds) if conds else "TRUE"
    sel = ", ".join(
        (first_ref[t[1:]] if t.startswith("?")
         else "'" + t.replace("'", "''") + "'") + f" AS {c}"
        for c, t in zip(_COLS, head)
    )
    return f"SELECT {sel} FROM {froms} WHERE {where}"


def chain_oracle_sql(base_sql: str,
                     rules: list[tuple[list[tuple[str, str, str]],
                                       tuple[str, str, str]]],
                     rounds: int,
                     derived_only: bool = False) -> str:
    """DuckDB rendition: naive iteration unrolled ``rounds`` times (see
    module docstring for why a recursive CTE cannot express multi-rule
    recursion).  ``rounds`` must cover the fixpoint depth; each unrolled
    round is a UNION (set semantics = the Spark distinct + anti-join)."""
    for body, head in rules:
        _check_rule(body, head)
    # AS MATERIALIZED: every round references its predecessor once per
    # rule-leg; left to the inliner that nesting goes exponential (the
    # classifier training oracle hit the same wall — 09dad65)
    ctes = [
        f"t0 AS MATERIALIZED (SELECT DISTINCT subj, pred, obj FROM ({base_sql}))"
    ]
    for k in range(rounds):
        heads = " UNION ".join(_rule_sql(b, h, f"t{k}") for b, h in rules)
        ctes.append(
            f"t{k + 1} AS MATERIALIZED "
            f"(SELECT subj, pred, obj FROM t{k} UNION {heads})"
        )
    final = f"t{rounds}"
    if derived_only:
        return (
            "WITH " + ", ".join(ctes) +
            f" SELECT subj, pred, obj FROM {final} "
            f"EXCEPT SELECT subj, pred, obj FROM t0"
        )
    return "WITH " + ", ".join(ctes) + f" SELECT subj, pred, obj FROM {final}"


# ---------------------------------------------------------------------------
# the RDFS-style preset the driver row runs (one definition, both engines)

# schema triples unioned into the chain input: Wikidata's own subproperty
# predicate (P1647) plus local-name domain/range terms.  Semantics chosen
# to be TRUE over the fixture KB (fixtures.py TYPE_TAXONOMY): a capital
# (P1376) is located in (P131) what it is capital of; occupation/birthplace
# subjects are humans; P131 objects are geographic locations; P17 objects
# are countries.
RDFS_ONTOLOGY: list[tuple[str, str, str]] = [
    ("P1376", "P1647", "P131"),
    ("P106", "dom", "Q5"),
    ("P19", "dom", "Q5"),
    ("P131", "rng", "Q2221906"),
    ("P17", "rng", "Q6256"),
]

# R1 type inheritance (recursive through the P279 taxonomy), R2 subproperty
# expansion, R3 domain typing, R4 range typing.  R2 feeds R3/R4 (derived
# P131 edges pick up the range rule) and R3/R4 feed R1 (derived P31 facts
# climb the taxonomy) — a genuinely mutually-recursive rule set.
RDFS_RULES: list[tuple[list[tuple[str, str, str]], tuple[str, str, str]]] = [
    ([("?x", "P31", "?c"), ("?c", "P279", "?d")], ("?x", "P31", "?d")),
    ([("?s", "?p", "?o"), ("?p", "P1647", "?q")], ("?s", "?q", "?o")),
    ([("?s", "?p", "?o"), ("?p", "dom", "?d")], ("?s", "P31", "?d")),
    ([("?s", "?p", "?o"), ("?p", "rng", "?r")], ("?o", "P31", "?r")),
]


def rdfs_ontology_values_sql() -> str:
    """The ontology triples as a SQL VALUES list (oracle side of the one
    shared RDFS_ONTOLOGY definition)."""
    return ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in RDFS_ONTOLOGY)
