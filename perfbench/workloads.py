"""The two workloads: generated inputs, set-up step, one timed pass, and
the checks on its outputs.

Each workload exposes the same surface to ``run.py``:

* ``generate()`` writes the seeded inputs (benchmark-side, not timed as
  set-up);
* ``setup_step(spark)`` is the program's own per-job set-up (broadcast
  build, input listing), timed once, cold, as part of set-up;
* ``warmup(spark)`` runs passes until the timed ones start warm (one
  round on a slice of the input, or several passes);
* ``run_pass(spark)`` runs one closed-loop pass and returns its raw
  outputs; only this call is timed;
* ``check(raw)`` checks those outputs, untimed, into a :class:`PassResult`;
* ``final_checks(spark)`` runs the untimed checks that need a whole job;
* ``layer_metrics(recs, job_groups, traced)`` folds the traced run's
  stage records and traced passes into per-layer metrics.

Every call into a layer's public function runs under ``self.groups``, which
names the Spark job group when the pass is traced.  ``build_fused`` runs on
the driver (gazetteer read, tagger and linker dictionaries, broadcasts)
before any stage of its plan; ``Groups.timed`` records those calls as
driver spans so a traced pass wall splits into stages plus driver work.
"""

from __future__ import annotations

import os
import pickle
import random
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import eventlog
import gen

FLOOR = 0.95            # link P/R, triples F1, ngram pair P/R
MINHASH_FLOOR = 0.80    # LSH recall of planted pairs (probabilistic)
TEXT_FLOOR = 1.0        # extracted text is byte-identical for every url


@dataclass
class PassResult:
    docs: int
    ok: bool
    quality: dict[str, float] = field(default_factory=dict)
    counts: dict[str, float] = field(default_factory=dict)
    stolen: float = 0.0  # share of the CPUs' wanted time stolen in the pass


class Groups:
    """Job-group scopes and driver spans, active only while a pass is
    traced."""

    def __init__(self):
        self.enabled = False
        self.sc = None
        self.driver_spans: list[tuple[float, float]] = []  # epoch ms

    def timed(self, fn):
        """``fn`` with each call recorded as a driver span while traced."""
        def call(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            t0 = time.time() * 1000
            try:
                return fn(*args, **kwargs)
            finally:
                self.driver_spans.append((t0, time.time() * 1000))
        return call

    @contextmanager
    def __call__(self, name: str):
        if not self.enabled or self.sc is None:
            yield
            return
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


def link_pr(top: dict, gold: dict) -> tuple[float, float]:
    tp = sum(1 for k, q in top.items() if gold.get(k) == q)
    return (tp / len(top) if top else 0.0, tp / len(gold) if gold else 1.0)


def set_f1(got: set, gold: set) -> float:
    if not got and not gold:
        return 1.0
    tp = len(got & gold)
    return 2 * tp / (len(got) + len(gold))


class Goldens:
    """Golden top-1 links of a KB directory and the golden triples of any
    url subset (golden link QIDs x whitelisted KB triples, the fixture
    generator's own rule)."""

    def __init__(self, kb_dir: str):
        from entity_extraction_svc_spark.fixtures import TRIPLE_WHITELIST

        wl = set(TRIPLE_WHITELIST)
        self.by_url: dict[str, list[tuple[int, int, str]]] = defaultdict(list)
        gl = pq.read_table(f"{kb_dir}/golden_links.parquet")
        for u, s, e, q in zip(*(gl[c].to_pylist() for c in ("url", "start", "end", "qid"))):
            self.by_url[u].append((s, e, q))
        kt = pq.read_table(f"{kb_dir}/kb_triples.parquet")
        self.kb: dict[str, list[tuple]] = defaultdict(list)
        for t in zip(*(kt[c].to_pylist() for c in ("subj", "pred", "obj"))):
            if t[1] in wl:
                self.kb[t[0]].append(t)

    def links(self, urls) -> dict:
        return {(u, s, e): q for u in urls for s, e, q in self.by_url.get(u, ())}

    def triples(self, urls) -> set:
        qids = {q for u in urls for _, _, q in self.by_url.get(u, ())}
        return {t for q in qids for t in self.kb.get(q, ())}


def _top1(linked) -> dict:
    from pyspark.sql import functions as F

    rows = (linked.filter((F.col("rank") == 0) & F.col("qid").isNotNull())
            .select("url", "start", "end", "qid").collect())
    return {(r[0], r[1], r[2]): r[3] for r in rows}


def kb_image(kb_dir: str) -> dict:
    """sources.kb figures: linker-dictionary build time and the pickled
    size of the three broadcast values the fused plan ships."""
    from entity_extraction_svc_spark.operators.tagger import load_tagger
    from entity_extraction_svc_spark.plans.fused import _fine_tag_lookup
    from entity_extraction_svc_spark.sources.kb import (
        collect_linker_dicts,
        read_dim_rows,
    )

    t0 = time.perf_counter()
    d = collect_linker_dicts(None, kb_dir)
    build_s = time.perf_counter() - t0
    gaz = read_dim_rows(None, f"{kb_dir}/gazetteer.parquet")
    size = sum(len(pickle.dumps(v, protocol=pickle.HIGHEST_PROTOCOL))
               for v in (d, load_tagger(gaz), _fine_tag_lookup(gaz)))
    return {"sources.kb.dicts_build_s": build_s,
            "sources.kb.broadcast_bytes": float(size)}


def spark_layer(prefix: str, recs, n_passes: int) -> dict:
    """Generic per-layer stage figures, per traced pass."""
    t = {k: v / max(n_passes, 1) for k, v in eventlog.totals(recs).items()}
    return {f"{prefix}.stage_run_ms": t["run_ms"],
            **{f"{prefix}.{k}": t[k] for k in eventlog.SUMMED if k != "run_ms"}}


def fused_stage_metrics(recs, n_passes: int) -> dict:
    """plans.fused: the stages that ran the fused mapInPandas."""
    spreads = [r.task_spread() for r in recs]
    return {**spark_layer("plans.fused", recs, n_passes),
            "plans.fused.tasks": sum(r.tasks for r in recs) / max(n_passes, 1),
            "plans.fused.task_ms_max_over_median":
                statistics.median(spreads) if spreads else 0.0}


# ---------------------------------------------------------------------------
# kg-resume-widekb
# ---------------------------------------------------------------------------

class KgResumeWideKb:
    """Checkpointed resume loop, HTML source, fixed batch slices, over a
    seed-generated wide KB.  One timed pass is one resume round."""

    name = "kg-resume-widekb"
    source = "html"
    n_entities = 5_000
    # a round's fixed Spark costs (anti-join, broadcasts, three appends,
    # metrics repair, triples count) take 4-6 s on 4 cores; 400 pages of
    # about 5.5 ms each give the per-document layers about a third of a round
    batch_docs = 400
    n_pages = 6 * batch_docs
    sample_docs = 200

    def __init__(self, root: str, seed: int, groups: Groups):
        self.dir = os.path.join(root, self.name)
        self.seed = seed
        self.groups = groups
        self.drain = 0
        self.files_per_round: list[int] = []

    def generate(self) -> dict:
        info = gen.write_widekb(self.dir, self.n_entities, self.n_pages, self.seed)
        self.gold = Goldens(self.dir)
        self.pages_table = pq.read_table(f"{self.dir}/pages.parquet")
        self._new_drain()
        return info

    def _new_drain(self) -> None:
        self.drain += 1
        self.out = os.path.join(self.dir, f"out-{self.drain}")
        self.committed = 0

    def _round(self, spark, out_dir: str, batch: int):
        from entity_extraction_svc_spark.plans import lineage

        build_fused = lineage.build_fused
        lineage.build_fused = self.groups.timed(build_fused)
        try:
            with self.groups("plans.lineage"):
                return lineage.run_to_completion(
                    spark, f"{self.dir}/pages.parquet", self.dir, out_dir,
                    source=self.source, batch_docs=batch, max_rounds=1)[0]
        finally:
            lineage.build_fused = build_fused

    def setup_step(self, spark) -> None:
        from entity_extraction_svc_spark.plans.fused import build_fused

        build_fused(spark, spark.read.parquet(f"{self.dir}/pages.parquet"),
                    self.dir, source=self.source)

    def warmup(self, spark) -> None:
        self._round(spark, os.path.join(self.dir, "out-warmup"), 100)

    @staticmethod
    def _files(d: str) -> set[str]:
        return {os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs}

    def run_pass(self, spark):
        if self.committed + self.batch_docs > self.n_pages:
            self._new_drain()
        before = self._files(self.out)
        t0 = time.perf_counter()
        stats = self._round(spark, self.out, self.batch_docs)
        return before, stats, time.perf_counter() - t0

    def check(self, raw) -> PassResult:
        before, stats, wall = raw
        added = self._files(self.out) - before
        self.files_per_round.append(len(added))
        self.committed += stats["n_pages"]
        urls = set(pq.read_table(os.path.join(self.out, "lineage"),
                                 columns=["url"])["url"].to_pylist())
        got = self._triples()
        new_rows = sum(pq.read_metadata(p).num_rows for p in added
                       if "/triples/" in p and p.endswith(".parquet"))
        f1 = set_f1(got, self.gold.triples(urls))
        ok = (stats["n_pages"] == self.batch_docs and len(urls) == self.committed
              and f1 >= FLOOR)
        return PassResult(stats["n_pages"], ok, {"triples_f1": f1},
                          {"round_s": wall, "triples_rows": new_rows})

    def _triples(self) -> set:
        t = pq.read_table(os.path.join(self.out, "triples"))
        return set(zip(t["subj"].to_pylist(), t["pred"].to_pylist(),
                       t["obj"].to_pylist()))

    def final_checks(self, spark) -> list[PassResult]:
        """Golden links of the committed urls of the current drain, linked
        again by the fused plan, and the extracted text of every page
        against the generator's text."""
        from entity_extraction_svc_spark.operators.extract import extract_text
        from entity_extraction_svc_spark.plans.fused import build_fused

        pages = spark.read.parquet(f"{self.dir}/pages.parquet")
        lineage = spark.read.parquet(os.path.join(self.out, "lineage")).select("url")
        # the pages file is one split: spread the committed pages over the
        # cores so the check does not link them on one
        linked, _ = build_fused(spark, pages.join(lineage, "url").repartition(4),
                                self.dir, source=self.source)
        top = _top1(linked)
        urls = set(pq.read_table(os.path.join(self.out, "lineage"),
                                 columns=["url"])["url"].to_pylist())
        p, r = link_pr(top, self.gold.links(urls))
        expected = dict(zip(self.pages_table["url"].to_pylist(),
                            self.pages_table["text"].to_pylist()))
        rows = extract_text(pages).select("url", "text").collect()
        frac = sum(1 for u, t in rows if expected.get(u) == t) / len(expected)
        return [PassResult(len(urls), min(p, r) >= FLOOR,
                           {"link_precision": p, "link_recall": r}),
                PassResult(len(rows), frac >= TEXT_FLOOR,
                           {"text_identical_frac": frac})]

    def doc_sample(self) -> list[tuple]:
        idx = sorted(random.Random(self.seed).sample(
            range(self.pages_table.num_rows), self.sample_docs))
        t = self.pages_table.take(idx)
        return list(zip(t["url"].to_pylist(), t["html"].to_pylist(),
                        t["lang"].to_pylist()))

    def layer_metrics(self, recs, job_groups, traced) -> dict:
        passes = [r for _, _, r in traced]
        n = len(passes)
        lin = [r for r in recs if r.group == "plans.lineage"]
        fused = [r for r in lin if r.ran_python()]
        trip = [r for r in lin if (r.write_path or "").endswith("/triples")]
        commit = [r for r in lin if (r.write_path or "").endswith("/lineage")]
        # the slice phase of a round: the resume anti-join, limit and
        # persist, i.e. every stage that starts before the fused stage
        anti = []
        for start, wall, _ in traced:
            mine = [r for r in lin if start <= r.submit_ms <= start + 1000 * wall]
            py = [r.submit_ms for r in mine if r.ran_python()]
            anti += [r for r in mine if py and r.submit_ms < min(py)]
        jobs = sum(1 for g in job_groups.values() if g == "plans.lineage")
        rows = statistics.median(p.counts["triples_rows"] for p in passes) if passes else 0
        return {**fused_stage_metrics(fused, n),
                **spark_layer("operators.triples", trip, n),
                "operators.triples.rows_out": float(rows),
                **spark_layer("plans.lineage", lin, n),
                "plans.lineage.round_s":
                    statistics.median(p.counts["round_s"] for p in passes) if passes else 0.0,
                "plans.lineage.antijoin_ms": eventlog.wall_union_ms(anti) / max(n, 1),
                "plans.lineage.commit_write_ms": eventlog.wall_union_ms(commit) / max(n, 1),
                "plans.lineage.jobs_per_round": jobs / max(n, 1),
                "plans.lineage.files_per_round":
                    statistics.median(self.files_per_round) if self.files_per_round else 0.0}


# ---------------------------------------------------------------------------
# curate-dedup
# ---------------------------------------------------------------------------

class CurateDedup:
    """ngram_jaccard_pairs and minhash_dup_pairs at threshold 0.5 over a
    Zipf-vocabulary documents table with planted near-duplicates."""

    name = "curate-dedup"
    source = None
    n_docs = 2000
    threshold = 0.5
    warmup_passes = 4
    # the stop-shingle cap scaled to the corpus (the default 1000 is 2% of
    # an sf1.0 corpus): the Zipf head then reaches the hot-shingle branch
    max_df = n_docs // 20

    def __init__(self, root: str, seed: int, groups: Groups):
        self.dir = os.path.join(root, self.name)
        self.seed = seed
        self.groups = groups

    def generate(self) -> dict:
        info = gen.write_dedup_docs(self.dir, self.n_docs, self.seed)
        texts = pq.read_table(f"{self.dir}/documents.parquet")["text"].to_pylist()
        self.sets = [gen.trigram_set(t) for t in texts]
        df: dict[str, int] = defaultdict(int)
        for s in self.sets:
            for sh in s:
                df[sh] += 1
        self.hot = frozenset(sh for sh, c in df.items() if c > self.max_df)
        planted = pq.read_table(f"{self.dir}/planted_pairs.parquet").to_pylist()
        self.planted = {(r["id_a"], r["id_b"]) for r in planted}
        self.expected = {p for p in self.planted
                         if self.jaccard(*p) >= self.threshold}
        return {**info, "hot_shingles": len(self.hot),
                "planted_over_threshold": len(self.expected)}

    def jaccard(self, a: int, b: int) -> float:
        """The operator's documented semantics: shared shingles exclude the
        stop-shingles (df > max_df), the union uses the full set sizes."""
        sa, sb = self.sets[a], self.sets[b]
        shared = len((sa & sb) - self.hot)
        return round(shared / (len(sa) + len(sb) - shared), 6)

    def _docs(self, spark):
        return spark.read.parquet(f"{self.dir}/documents.parquet")

    def run_pass(self, spark):
        from entity_extraction_svc_spark.operators.dedup import (
            minhash_dup_pairs,
            ngram_jaccard_pairs,
        )

        docs = self._docs(spark)
        t0 = time.perf_counter()
        with self.groups("operators.dedup.ngram"):
            ng = ngram_jaccard_pairs(docs, threshold=self.threshold,
                                     max_df=self.max_df).collect()
        t1 = time.perf_counter()
        with self.groups("operators.dedup.minhash"):
            mh = minhash_dup_pairs(docs, threshold=self.threshold).collect()
        t2 = time.perf_counter()
        spark.catalog.clearCache()  # ngram_jaccard_pairs persists its shingle sets
        return ng, mh, t1 - t0, t2 - t1

    def check(self, raw) -> PassResult:
        ng, mh, ngram_s, minhash_s = raw
        exact = sum(1 for a, b, j in ng
                    if abs(self.jaccard(a, b) - j) < 1e-9 and j >= self.threshold)
        got = {(a, b) for a, b, _ in ng}
        prec = exact / len(ng) if ng else 0.0
        rec = (len(got & self.expected) / len(self.expected)
               if self.expected else 1.0)
        mrec = (len({(a, b) for a, b, _ in mh} & self.planted) / len(self.planted)
                if self.planted else 1.0)
        ok = min(prec, rec) >= FLOOR and mrec >= MINHASH_FLOOR
        return PassResult(self.n_docs, ok,
                          {"dedup_pair_precision": prec, "dedup_pair_recall": rec,
                           "minhash_pair_recall": mrec},
                          {"ngram_s": ngram_s, "minhash_s": minhash_s,
                           "verified_pairs": len(ng)})

    def setup_step(self, spark) -> None:
        self._docs(spark).count()

    def warmup(self, spark) -> None:
        # pass walls keep falling over the first four passes (about 6 s, 5 s,
        # 4 s, then a steady 3.3 s on 4 cores) while the JVM compiles the
        # hot paths; the timed passes start at the steady level
        for _ in range(self.warmup_passes):
            self.run_pass(spark)

    def final_checks(self, spark) -> list[PassResult]:
        return []

    def doc_sample(self) -> list[tuple]:
        return []

    def layer_metrics(self, recs, job_groups, traced) -> dict:
        passes = [r for _, _, r in traced]
        n = len(passes)
        ng = [r for r in recs if r.group == "operators.dedup.ngram"]
        dd = [r for r in recs if (r.group or "").startswith("operators.dedup")]
        coll = sum(r.node_sum("Join", "number of output rows", "shingle#")
                   for r in ng)
        # the final dropDuplicates over (id_a, id_b): the smallest of the
        # partial/final aggregate outputs
        agg = defaultdict(int)
        for r in ng:
            for (node, s, metric, acc), v in r.node_metrics.items():
                if (node == "HashAggregate" and metric == "number of output rows"
                        and "keys=[id_a#" in s and "functions=[]" in s):
                    agg[acc] += v
        cand = min(agg.values()) / max(n, 1) if agg else 0.0
        verified = statistics.median(p.counts["verified_pairs"] for p in passes) if passes else 0
        med = lambda k: statistics.median(p.counts[k] for p in passes) if passes else 0.0  # noqa: E731
        return {**spark_layer("operators.dedup", dd, n),
                "operators.dedup.ngram_s": med("ngram_s"),
                "operators.dedup.minhash_s": med("minhash_s"),
                "operators.dedup.shingle_stage_ms":
                    eventlog.totals([r for r in ng if r.ran_python()])["run_ms"] / max(n, 1),
                "operators.dedup.collision_rows": coll / max(n, 1),
                "operators.dedup.candidate_pairs": cand,
                "operators.dedup.verified_pairs": float(verified),
                "operators.dedup.verify_yield": verified / cand if cand else 0.0}


WORKLOADS = {w.name: w for w in (KgResumeWideKb, CurateDedup)}
