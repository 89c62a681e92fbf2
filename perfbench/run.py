"""Benchmark of the KG pipeline and the curation operators on local[4].

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload kg-resume-widekb --seed 1 --seconds 10 --trace 0

Workloads (``workloads.py``): ``kg-resume-widekb`` and ``curate-dedup``.
Inputs are generated from ``--seed`` under ``.perfbench_work/`` in the
checkout; the package only reads those files.

``--trace 0`` measures the end-to-end metrics with tracing off: set-up time,
throughput over a closed loop of passes (one client: a pass is submitted
when the previous one has returned), peak memory of the process tree and
the outputs' quality.  ``--trace 1`` measures the per-layer metrics: Spark
passes alternate between traced (event log attached, job groups set) and
untraced, the event log is folded into per-stage records per job group, and
a seeded page sample runs through the per-document layers with spans on.

Every line but the last is a human-readable ``workload metric value unit``
report; the last line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.  The stage records and spans of a traced run are
written to ``.perfbench_work/trace-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

PKG = "entity_extraction_svc_spark"
WORK = ".perfbench_work"
MASTER = "local[4]"
# The package's own driver-memory setting (SPARK_GRAFT_DRIVER_MEM).  At its
# 8g default the collector grows the driver heap to 1.8-3.5 GB from run to
# run by GC timing alone; under a 2g cap the heap stays below the cap (about
# 1 GB resident), so it still grows with what the program holds.
DRIVER_MEM = "2g"
MIN_PASSES = 3
# a traced run alternates untraced and traced passes: at least two of each
MIN_TRACED_PASSES = 4
# how long the run waits for its child processes to end before killing them
REAP_TIMEOUT_S = 30.0

END_TO_END = {"setup_s": "s", "docs_per_s": "docs/s", "peak_rss_python_mb": "MB",
              "quality_min": "ratio"}

_SPARK_GENERIC = {"stage_run_ms": "ms", "gc_ms": "ms",
                  "shuffle_read_rows": "count", "shuffle_read_bytes": "bytes",
                  "shuffle_write_rows": "count", "shuffle_write_bytes": "bytes",
                  "spill_bytes": "bytes"}
PER_LAYER = {
    "sources.kb.dicts_build_s": "s",
    "sources.kb.broadcast_bytes": "bytes",
    "functions.htmltext.busy_ms_per_doc": "ms",
    "functions.htmltext.bytes_in_per_doc": "bytes",
    "operators.chunker.busy_ms_per_doc": "ms",
    "operators.chunker.chunks_per_doc": "count",
    "operators.tagger.tag_batch_ms_per_doc": "ms",
    "operators.tagger.decode_ms_per_doc": "ms",
    "operators.tagger.mentions_per_doc": "count",
    "operators.linker.self_ms_per_doc": "ms",
    "operators.linker.rank_ms_per_doc": "ms",
    "operators.linker.cand_miss_ms_per_doc": "ms",
    "operators.linker.cand_lookups": "count",
    "operators.linker.cand_cache_hit_ratio": "ratio",
    "plans.fused.tasks": "count",
    "plans.fused.task_ms_max_over_median": "ratio",
    "plans.fused.driver_build_ms": "ms",
    **{f"plans.fused.{k}": u for k, u in _SPARK_GENERIC.items()},
    **{f"operators.triples.{k}": u for k, u in _SPARK_GENERIC.items()},
    "operators.triples.rows_out": "count",
    **{f"plans.lineage.{k}": u for k, u in _SPARK_GENERIC.items()},
    "plans.lineage.round_s": "s",
    "plans.lineage.antijoin_ms": "ms",
    "plans.lineage.commit_write_ms": "ms",
    "plans.lineage.jobs_per_round": "count",
    "plans.lineage.files_per_round": "count",
    **{f"operators.dedup.{k}": u for k, u in _SPARK_GENERIC.items()},
    "operators.dedup.ngram_s": "s",
    "operators.dedup.minhash_s": "s",
    "operators.dedup.shingle_stage_ms": "ms",
    "operators.dedup.collision_rows": "count",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.verify_yield": "ratio",
    "trace.traced_docs_per_s": "docs/s",
    "trace.untraced_docs_per_s": "docs/s",
    "trace.overhead_frac": "ratio",
    "trace.stage_wall_coverage": "ratio",
    "trace.pass_wall_coverage": "ratio",
    "trace.doc_sample_docs": "count",
    "trace.doc_ms_per_doc": "ms",
    "trace.doc_coverage": "ratio",
    "trace.doc_unattributed_ms_per_doc": "ms",
}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def prepare_env(run_dir: str, eventlog_dir: str | None) -> None:
    """Keep every file Spark, the JVM and the workers write inside the
    run directory, and enable the event log from outside the package."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR (the package zip lands there)
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    confs = [f"spark.local.dir={tmp}", "spark.ui.showConsoleProgress=false",
             f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"]
    if eventlog_dir:
        os.makedirs(eventlog_dir)
        confs += ["spark.eventLog.enabled=true",
                  f"spark.eventLog.dir=file://{eventlog_dir}",
                  "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell"


class Session:
    """The Spark session of the run."""

    def __init__(self):
        self.spark = None
        self.proc = None
        self.logging = True  # the event log, when enabled, starts attached

    def start(self):
        from entity_extraction_svc_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", master=MASTER)
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        self.proc = self.proc or sc._gateway.proc
        return self.spark

    def eventlog(self, attached: bool) -> None:
        """Attach or detach the event-log listener of the live context.
        Detaching drains the listener queue, so the log on disk is complete
        up to that point."""
        jsc = self.spark.sparkContext._jsc.sc()
        logger = jsc.eventLogger()
        if attached == self.logging or not logger.isDefined():
            return
        self.logging = attached
        bus = jsc.listenerBus()
        if attached:
            bus.addToEventLogQueue(logger.get())
        else:
            bus.removeListener(logger.get())

    def close(self) -> None:
        """Stop the context and the driver JVM, and wait for the JVM to
        exit; its Python workers end with it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
            SparkContext._gateway = None
        if self.proc is not None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=30)
            self.proc = None


def reap_children() -> None:
    """Wait for every process this run started to end; kill what stays."""
    import procrss

    deadline = time.monotonic() + REAP_TIMEOUT_S
    while procrss.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in procrss.descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while time.monotonic() < deadline + 10:
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break


def closed_loop(run, check, budget_s: float, before=None,
                min_passes: int = MIN_PASSES):
    """Run ``run`` back to back until ``budget_s`` of pass walls have
    elapsed and at least ``min_passes`` passes are done.  Only ``run`` is
    timed; ``check`` turns its output into a PassResult between passes,
    and the loop sets the result's ``stolen`` share.  Returns
    [(start_epoch_ms, wall_s, result)]."""
    import procrss

    out = []
    while len(out) < min_passes or sum(w for _, w, _ in out) < budget_s:
        if before:
            before(len(out))
        ticks = procrss.cpu_ticks()
        epoch, t0 = time.time() * 1000, time.perf_counter()
        raw = run()
        wall = time.perf_counter() - t0
        stolen = procrss.stolen_share(ticks, procrss.cpu_ticks())
        r = check(raw)
        r.stolen = stolen
        out.append((epoch, wall, r))
    return out


def docs_per_s(passes, unstolen: bool = True) -> float:
    """Docs of the median pass over the median pass wall.  With
    ``unstolen``, each wall first loses the share of the CPUs' wanted time
    that the hypervisor gave to other guests during the pass."""
    walls = [w * (1 - r.stolen) if unstolen else w for _, w, r in passes]
    return statistics.median(r.docs for _, _, r in passes) / statistics.median(walls)


def measure(args, wl, session, groups, spark, report) -> tuple[list, dict]:
    """The timed passes of one run.  Returns (all pass results, traced-run
    context for the per-layer fold)."""
    results, ctx = [], {}
    if not args.trace:
        passes = closed_loop(lambda: wl.run_pass(spark), wl.check, args.seconds)
        results += [r for _, _, r in passes]
        report("docs_per_s", docs_per_s(passes), "docs/s")
        report("docs_per_s_wall", docs_per_s(passes, unstolen=False), "docs/s")
        report("stolen_frac", statistics.median(r.stolen for _, _, r in passes), "ratio")
        report("passes", len(passes), "count")
        report("pass_s_median", statistics.median(w for _, w, _ in passes), "s")
        report("pass_s_max", max(w for _, w, _ in passes), "s")
        return results, ctx

    def traced_pass(i: int) -> bool:
        # untraced, traced, traced, untraced, ...: both kinds see early and
        # late passes alike
        return i % 4 in (1, 2)

    def toggle(i: int) -> None:
        groups.enabled = traced_pass(i)
        session.eventlog(groups.enabled)

    passes = closed_loop(lambda: wl.run_pass(spark), wl.check, args.seconds,
                         before=toggle, min_passes=MIN_TRACED_PASSES)
    session.eventlog(False)
    groups.enabled = False
    results += [r for _, _, r in passes]
    traced = [p for i, p in enumerate(passes) if traced_pass(i)]
    untraced = [p for i, p in enumerate(passes) if not traced_pass(i)]
    d_tr, d_un = docs_per_s(traced), docs_per_s(untraced)
    report("docs_per_s", d_un, "docs/s")
    ctx["layer"] = {"trace.traced_docs_per_s": d_tr,
                    "trace.untraced_docs_per_s": d_un,
                    "trace.overhead_frac": (d_un - d_tr) / d_un}
    ctx["traced"] = traced
    sample = wl.doc_sample()
    if sample:
        import doctrace

        ds = doctrace.run_sample(wl.dir, sample)
        ctx["layer"].update(ds["metrics"])
        ctx["spans"] = ds["spans"]
        ctx["note"] = doctrace.NOTE
    return results, ctx


def fold_trace(wl, ev_dir: str, ctx: dict) -> tuple[dict, list]:
    """Per-layer metrics of a traced run (every PER_LAYER name; 0 where
    the workload does not run the layer) and the stage records."""
    import eventlog
    import workloads

    events = eventlog.read_events(ev_dir)
    windows = [(s, s + 1000 * w) for s, w, _ in ctx["traced"]]
    recs = [r for r in eventlog.stages(events) if r.group and any(
        s <= r.submit_ms and r.complete_ms <= e + 100 for s, e in windows)]
    layer = {k: 0.0 for k in PER_LAYER}
    layer.update(ctx["layer"])
    layer.update(wl.layer_metrics(recs, eventlog.job_groups(events), ctx["traced"]))
    if wl.source:
        layer.update(workloads.kb_image(wl.dir))
    wall_ms = sum(e - s for s, e in windows)
    stage_spans = [(r.submit_ms, r.complete_ms) for r in recs]
    sql_spans = [(s, e) for s, e in eventlog.sql_spans(events)
                 if any(ws <= s and e <= we + 100 for ws, we in windows)]
    layer["plans.fused.driver_build_ms"] = (
        eventlog.union_ms(wl.groups.driver_spans) / len(windows))
    layer["trace.stage_wall_coverage"] = eventlog.union_ms(stage_spans) / wall_ms
    layer["trace.pass_wall_coverage"] = eventlog.union_ms(
        stage_spans + sql_spans + wl.groups.driver_spans) / wall_ms
    unknown = set(layer) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
    return layer, eventlog.as_json(recs)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        fail(f"run from the repository root: ./{PKG}/ not found in {root}")
    sys.path.insert(0, root)
    sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))
    import procrss
    import workloads

    if args.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; "
             f"choose from {sorted(workloads.WORKLOADS)}")
    work = os.path.join(root, WORK)
    run_dir = os.path.join(work, f"{args.workload}-seed{args.seed}-"
                                 f"trace{args.trace}-{os.getpid()}")
    ev_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    prepare_env(run_dir, ev_dir)
    import entity_extraction_svc_spark as pkg

    if not os.path.abspath(pkg.__file__).startswith(root + os.sep):
        fail(f"{PKG} imported from {pkg.__file__}, not from {root}")

    groups = workloads.Groups()
    wl = workloads.WORKLOADS[args.workload](os.path.join(run_dir, "inputs"),
                                            args.seed, groups)
    session = Session()
    lines: list[tuple[str, float, str]] = []

    def report(name, value, unit):
        lines.append((name, value, unit))

    try:
        with procrss.TreeRss() as rss:
            t0 = time.perf_counter()
            info = wl.generate()
            report("gen_s", time.perf_counter() - t0, "s")
            ticks = procrss.cpu_ticks()
            t0 = time.perf_counter()
            spark = session.start()
            session_s = time.perf_counter() - t0
            groups.sc = spark.sparkContext
            # the cold first call: first input read, dictionary builds and
            # broadcasts
            t0 = time.perf_counter()
            wl.setup_step(spark)
            step_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            wl.warmup(spark)
            warm_s = time.perf_counter() - t0
            # net of stolen time, as the pass walls are
            setup_s = session_s + step_s + warm_s
            stolen = procrss.stolen_share(ticks, procrss.cpu_ticks())
            report("setup_session_s", session_s, "s")
            report("setup_step_s", step_s, "s")
            report("setup_warmup_s", warm_s, "s")
            report("setup_s_wall", setup_s, "s")
            report("setup_stolen_frac", stolen, "ratio")
            report("setup_s", setup_s * (1 - stolen), "s")

            results, ctx = measure(args, wl, session, groups, spark, report)
            spark = session.spark
            results += wl.final_checks(spark)
            rss.sample()
            session.close()
        reap_children()

        attempted = len(results)
        failed = sum(1 for r in results if not r.ok)
        report("peak_rss_mb", rss.peak / 2**20, "MB")
        report("peak_rss_python_mb", rss.peak_python / 2**20, "MB")
        report("failed_frac", failed / attempted, "ratio")
        quality: dict[str, float] = {}
        for r in results:
            for k, v in r.quality.items():
                quality[k] = min(v, quality.get(k, v))
        for k, v in sorted(quality.items()):
            report(k, v, "ratio")
        report("quality_min", min(v for k, v in quality.items()
                                  if k != "minhash_pair_recall"), "ratio")

        if args.trace:
            layer, stage_recs = fold_trace(wl, ev_dir, ctx)
            with open(os.path.join(work, f"trace-{args.workload}-seed{args.seed}.json"),
                      "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "inputs": info, "metrics": layer,
                           "stages": stage_recs, "spans": ctx.get("spans", []),
                           "note": ctx.get("note")}, f)
            metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            by_name = {n: v for n, v, _ in lines}
            metrics = {k: {"value": by_name[k], "unit": u} for k, u in END_TO_END.items()}
        for k, v in info.items():
            print(f"{args.workload} input.{k} {v} count")
        for name, value, unit in lines:
            print(f"{args.workload} {name} {value:.6g} {unit}")
        if args.trace:
            for k, u in PER_LAYER.items():
                print(f"{args.workload} {k} {layer[k]:.6g} {u}")
            if "note" in ctx:
                print(f"{args.workload} note: {ctx['note']}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}), flush=True)
        return 0
    finally:
        if session.proc is not None:
            session.close()
        reap_children()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
