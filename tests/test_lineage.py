"""Checkpoint/resume: a run killed midway resumes idempotently (north rule)."""

from __future__ import annotations

import tempfile

import duckdb
from pyspark.sql import functions as F

from entity_extraction_svc_spark.plans import lineage as L
from entity_extraction_svc_spark.schemas import PAGES


def test_resume_after_partial_run(spark, fixture_dir):
    out = tempfile.mkdtemp(prefix="kg_ckpt_")
    pages_path = f"{fixture_dir}/pages.parquet"

    # simulated crash: only 60 of 203 docs processed before the kill
    s1 = L.run_checkpointed(spark, pages_path, fixture_dir, out, max_docs=60)
    assert s1["n_pages"] == 60
    lin1 = spark.read.parquet(L.lineage_path(out))
    assert lin1.select("url").distinct().count() == 60

    # resume: drains the remaining 146, never reprocesses a url
    s2 = L.run_checkpointed(spark, pages_path, fixture_dir, out)
    assert s2["n_pages"] == 146
    lin = spark.read.parquet(L.lineage_path(out))
    assert lin.count() == lin.select("url").distinct().count() == 206

    # a third run is a no-op (idempotence)
    s3 = L.run_checkpointed(spark, pages_path, fixture_dir, out)
    assert s3["n_pages"] == 0

    # the union of partial runs equals the single-run golden triple set
    got = {(r.subj, r.pred, r.obj) for r in L.read_triples(spark, out).collect()}
    want = {
        tuple(r)
        for r in duckdb.sql(
            f"select subj, pred, obj from '{fixture_dir}/golden_triples.parquet'"
        ).fetchall()
    }
    assert got == want

    # metrics table aggregates lineage per (run, partition)
    met = spark.read.parquet(L.metrics_path(out))
    assert met.agg(F.sum("n_urls")).first()[0] == 206
    assert {r.run_id for r in met.select("run_id").distinct().collect()} == {
        s1["run_id"], s2["run_id"]
    }

    # snapshot time-travel: as_of run1 shows only run1's triples (a strict
    # subset), as_of run2 equals the full current state
    t1 = {(r.subj, r.pred, r.obj)
          for r in L.read_triples(spark, out, as_of=s1["run_id"]).collect()}
    t2 = {(r.subj, r.pred, r.obj)
          for r in L.read_triples(spark, out, as_of=s2["run_id"]).collect()}
    assert t1 < t2 == got
    assert len(t1) == s1["n_triples"]


def test_torn_states_self_heal(spark, fixture_dir):
    """Deterministic versions of the states a SIGKILL between appends
    leaves behind (tools/rehearse_kill_resume.py aims kills at the same
    window by wall clock; here we construct each state exactly).

    State A — killed after the lineage commit, before repair_metrics:
    metrics rows for that run are missing.  The NEXT run must backfill
    them (metrics run_ids == lineage run_ids, sum(n_urls) exact).

    State B — killed after the triples append + snapshot, before the
    lineage commit: urls uncommitted, orphan triple files on disk.  The
    next run must reprocess those urls; reads dedupe the duplicate
    triples; each url is counted in exactly ONE committed run."""
    import glob
    import os
    import tempfile

    out = tempfile.mkdtemp(prefix="kg_torn_")
    pages_path = f"{fixture_dir}/pages.parquet"

    # --- State A: commit run1, then delete its metrics (pre-repair kill)
    s1 = L.run_checkpointed(spark, pages_path, fixture_dir, out, max_docs=60)
    for f in glob.glob(os.path.join(L.metrics_path(out), "*")):
        os.remove(f)
    spark.catalog.refreshByPath(L.metrics_path(out))

    # --- State B: append run-X triples + snapshot WITHOUT a lineage commit
    from entity_extraction_svc_spark.plans.fused import build_fused

    done = L.processed_urls(spark, out)
    slice2 = (spark.read.parquet(pages_path)
              .join(done, "url", "left_anti").limit(60).persist())
    _, t2 = build_fused(spark, slice2, fixture_dir)
    t2.write.mode("append").parquet(L.triples_path(out))
    L._write_snapshot(out, "deadbeefcafe", seq=len(L._read_snapshots(out)),
                      files=[])
    slice2.unpersist()
    spark.catalog.refreshByPath(L.triples_path(out))

    # --- drain: both torn states must heal with no double counting
    L.run_to_completion(spark, pages_path, fixture_dir, out, batch_docs=100)
    lin = spark.read.parquet(L.lineage_path(out))
    assert lin.count() == lin.select("url").distinct().count() == 206

    met = spark.read.parquet(L.metrics_path(out))
    assert met.agg(F.sum("n_urls")).first()[0] == 206  # A backfilled, B once
    met_ids = {r.run_id for r in met.select("run_id").distinct().collect()}
    lin_ids = {r.run_id for r in lin.select("run_id").distinct().collect()}
    assert met_ids == lin_ids  # no orphan metrics, nothing missing
    assert s1["run_id"] in met_ids  # the deleted run1 metrics came back

    # orphan triples from state B deduped away on read
    got = {(r.subj, r.pred, r.obj) for r in L.read_triples(spark, out).collect()}
    want = {
        tuple(r)
        for r in duckdb.sql(
            f"select subj, pred, obj from '{fixture_dir}/golden_triples.parquet'"
        ).fetchall()
    }
    assert got == want


def test_compaction(spark, fixture_dir):
    """compact_triples: file count collapses, reads and post-compaction
    time travel are unchanged, expired history raises, and the
    mid-compaction crash window (both file generations live) still reads
    correctly by set semantics."""
    import os
    import tempfile

    out = tempfile.mkdtemp(prefix="kg_compact_")
    pages_path = f"{fixture_dir}/pages.parquet"

    s1 = L.run_checkpointed(spark, pages_path, fixture_dir, out, max_docs=60)
    s2 = L.run_checkpointed(spark, pages_path, fixture_dir, out, max_docs=60)
    mid = {(r.subj, r.pred, r.obj) for r in L.read_triples(spark, out).collect()}

    # each append writes at least one file, so one bucket is fewer files
    stats = L.compact_triples(spark, out, num_buckets=1)
    assert stats["files_after"] == 1 < stats["files_before"]
    assert {(r.subj, r.pred, r.obj)
            for r in L.read_triples(spark, out).collect()} == mid
    # time travel: the compaction state, and the run it equals, both work
    assert {(r.subj, r.pred, r.obj)
            for r in L.read_triples(spark, out, as_of=stats["run_id"]).collect()} == mid
    assert {(r.subj, r.pred, r.obj)
            for r in L.read_triples(spark, out, as_of=s2["run_id"]).collect()} == mid
    # earlier history is expired
    import pytest

    with pytest.raises(ValueError, match="expired"):
        L.read_triples(spark, out, as_of=s1["run_id"])

    # appends continue on top of the compacted base
    s3 = L.run_checkpointed(spark, pages_path, fixture_dir, out)
    full = {(r.subj, r.pred, r.obj) for r in L.read_triples(spark, out).collect()}
    assert {(r.subj, r.pred, r.obj)
            for r in L.read_triples(spark, out, as_of=s3["run_id"]).collect()} == full
    import duckdb as _duck

    want = {tuple(r) for r in _duck.sql(
        f"select subj, pred, obj from '{fixture_dir}/golden_triples.parquet'"
    ).fetchall()}
    assert full == want

    # crash window: a second compaction killed after moving files + manifest
    # but BEFORE deleting the old generation == both generations live.
    # Emulate by copying the current files under spare names, then writing
    # a compaction pass over the doubled dir — reads stay exact throughout.
    tp = L.triples_path(out)
    import shutil

    for f in list(os.listdir(tp)):
        if f.endswith(".parquet") and not f.startswith("_"):
            shutil.copy(os.path.join(tp, f), os.path.join(tp, f"dup-{f}"))
    spark.catalog.refreshByPath(tp)
    assert {(r.subj, r.pred, r.obj)
            for r in L.read_triples(spark, out).collect()} == full
    stats2 = L.compact_triples(spark, out, num_buckets=4)
    assert stats2["files_after"] <= 4
    assert {(r.subj, r.pred, r.obj)
            for r in L.read_triples(spark, out).collect()} == full


def _store_from(out: str, src: str) -> None:
    """A triples store holding one file: a copy of ``src``."""
    import os
    import shutil

    os.makedirs(L.triples_path(out))
    shutil.copy(src, os.path.join(L.triples_path(out), "part-00000.parquet"))


def test_compaction_fills_every_bucket(spark, fixture_dir):
    """compact_triples and retract_triples hash the subject once, so every
    one of ``num_buckets`` buckets gets rows and becomes one file."""
    import glob
    import os

    golden = f"{fixture_dir}/golden_triples.parquet"
    out = tempfile.mkdtemp(prefix="kg_buckets_")
    _store_from(out, golden)
    assert L.compact_triples(spark, out, num_buckets=4)["files_after"] == 4
    assert len(glob.glob(os.path.join(L.triples_path(out), "*.parquet"))) == 4

    out = tempfile.mkdtemp(prefix="kg_buckets_")
    _store_from(out, golden)
    drop = spark.read.parquet(golden).limit(1)
    stats = L.retract_triples(spark, out, drop, num_buckets=4)
    assert stats["removed"] == 1 and stats["files_after"] == 4


def test_round_n_triples_counts_its_own_appends(spark, fixture_dir):
    """A round's ``n_triples`` is the rows of the files it appended (its
    distinct triples), not the distinct triples of the whole store."""
    import pyarrow.parquet as pq

    out = tempfile.mkdtemp(prefix="kg_ntriples_")
    pages_path = f"{fixture_dir}/pages.parquet"
    L.run_checkpointed(spark, pages_path, fixture_dir, out, max_docs=60)
    s2 = L.run_checkpointed(spark, pages_path, fixture_dir, out, max_docs=60)
    snap = [s for s in L._read_snapshots(out) if s["run_id"] == s2["run_id"]][0]
    added = sum(pq.read_metadata(f).num_rows for f in snap["files"])
    r2 = L.read_triples(spark, out, as_of=s2["run_id"])
    assert s2["n_triples"] == added < r2.count()


def test_processed_urls_raises_on_read_failure(spark, monkeypatch):
    """Only a missing lineage table means "nothing committed"; an empty one
    reads as no urls, and any other read failure propagates instead of
    making the round relink every committed url."""
    import os

    from pyspark.sql.readwriter import DataFrameReader

    import pytest

    def fail(self, *paths, **options):
        raise OSError("transient read failure")

    out = tempfile.mkdtemp(prefix="kg_lin_err_")
    monkeypatch.setattr(DataFrameReader, "parquet", fail)
    with pytest.raises(OSError, match="transient"):
        L.processed_urls(spark, out)
    monkeypatch.undo()

    assert L.processed_urls(spark, out) is None
    os.makedirs(L.lineage_path(out))
    assert L.processed_urls(spark, out).count() == 0


def test_vacuum_orphans(spark, fixture_dir):
    """vacuum_triples removes only snapshot-unreferenced debris (a run
    killed between append and snapshot), leaves committed state intact,
    and composes with compaction (pre-compaction files already deleted by
    the compactor are simply absent)."""
    import os
    import tempfile

    out = tempfile.mkdtemp(prefix="kg_vac_")
    pages_path = f"{fixture_dir}/pages.parquet"

    L.run_checkpointed(spark, pages_path, fixture_dir, out, max_docs=60)

    # orphan debris: an append that never reached its snapshot
    from entity_extraction_svc_spark.plans.fused import build_fused

    done = L.processed_urls(spark, out)
    sl = (spark.read.parquet(pages_path)
          .join(done, "url", "left_anti").limit(40).persist())
    _, t = build_fused(spark, sl, fixture_dir)
    t.write.mode("append").parquet(L.triples_path(out))
    sl.unpersist()
    spark.catalog.refreshByPath(L.triples_path(out))

    before = {(r.subj, r.pred, r.obj)
              for r in L.read_triples(spark, out).collect()}
    st = L.vacuum_triples(spark, out)
    assert st["removed"] > 0
    # committed state unchanged: vacuum dropped only uncommitted rows
    committed = {(r.subj, r.pred, r.obj)
                 for r in L.read_triples(spark, out).collect()}
    assert committed <= before
    # second vacuum is a no-op
    assert L.vacuum_triples(spark, out)["removed"] == 0

    # the orphaned urls were never committed -> drain reprocesses them
    L.run_to_completion(spark, pages_path, fixture_dir, out, batch_docs=100)
    import duckdb as _duck

    want = {tuple(r) for r in _duck.sql(
        f"select subj, pred, obj from '{fixture_dir}/golden_triples.parquet'"
    ).fetchall()}
    got = {(r.subj, r.pred, r.obj)
           for r in L.read_triples(spark, out).collect()}
    assert got == want

    # composes with compaction: compact, then vacuum keeps the base
    L.compact_triples(spark, out, num_buckets=4)
    assert L.vacuum_triples(spark, out)["removed"] == 0
    files = [f for f in os.listdir(L.triples_path(out))
             if f.endswith(".parquet")]
    assert len(files) <= 4
    assert {(r.subj, r.pred, r.obj)
            for r in L.read_triples(spark, out).collect()} == want


def test_compaction_rerun_after_crash_window(spark, fixture_dir):
    """A compaction killed between the file moves and the manifest write
    leaves its attempt files as unreferenced debris.  The RERUN must not
    collide with them (attempt-unique names) nor delete its own output —
    committed triples survive byte-for-byte."""
    import os
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="kg_crashcompact_")
    pages_path = f"{fixture_dir}/pages.parquet"
    L.run_to_completion(spark, pages_path, fixture_dir, out, batch_docs=100)
    want = {(r.subj, r.pred, r.obj)
            for r in L.read_triples(spark, out).collect()}

    # crashed attempt: files moved in under the NEXT seq with some uuid,
    # no manifest written
    tp = L.triples_path(out)
    seq = len(L._read_snapshots(out))
    for i, f in enumerate(sorted(
            x for x in os.listdir(tp) if x.endswith(".parquet"))):
        shutil.copy(os.path.join(tp, f),
                    os.path.join(tp, f"compact-{seq:06d}-deadcafe-{i:05d}.parquet"))
    spark.catalog.refreshByPath(tp)

    stats = L.compact_triples(spark, out, num_buckets=4)
    got = {(r.subj, r.pred, r.obj)
           for r in L.read_triples(spark, out).collect()}
    assert got == want
    # the manifest's files all exist (the rerun did not delete its output)
    snap = [s for s in L._read_snapshots(out) if s["run_id"] == stats["run_id"]][0]
    assert snap["files"] and all(os.path.exists(f) for f in snap["files"])
    # debris from the crashed attempt is gone
    assert not [f for f in os.listdir(tp) if "deadcafe" in f]


def test_vacuum_is_path_spelling_robust(spark, fixture_dir):
    """vacuum_triples compares snapshot liveness by basename: reaching the
    same store through a different path spelling (symlink here) must not
    make committed files look orphaned."""
    import os
    import tempfile

    out = tempfile.mkdtemp(prefix="kg_vacsym_")
    pages_path = f"{fixture_dir}/pages.parquet"
    L.run_checkpointed(spark, pages_path, fixture_dir, out, max_docs=60)

    alias = out + "_alias"
    os.symlink(out, alias)
    assert L.vacuum_triples(spark, alias)["removed"] == 0
    lin = spark.read.parquet(L.lineage_path(out))
    assert lin.count() == 60  # nothing deleted, store intact


def test_max_docs_round_links_on_every_core(spark, fixture_dir, monkeypatch):
    """A ``max_docs`` limit collapses the slice to one partition; the round
    spreads it, so the fused pass runs on more than one partition of the
    local[4] session and the lineage rows carry more than one partition
    id.  The metrics repair still writes its few rows as one file."""
    import glob
    import os

    seen = []
    build_fused = L.build_fused

    def spy(spark_, pages, *args, **kwargs):
        seen.append(pages.rdd.getNumPartitions())
        return build_fused(spark_, pages, *args, **kwargs)

    monkeypatch.setattr(L, "build_fused", spy)
    out = tempfile.mkdtemp(prefix="kg_spread_")
    s = L.run_checkpointed(spark, f"{fixture_dir}/pages.parquet",
                           fixture_dir, out, max_docs=60)
    assert s["n_pages"] == 60
    assert seen and seen[0] > 1
    lin = spark.read.parquet(L.lineage_path(out))
    assert lin.select("partition_id").distinct().count() > 1
    met = spark.read.parquet(L.metrics_path(out))
    assert met.agg(F.sum("n_urls")).first()[0] == 60
    assert len(glob.glob(os.path.join(L.metrics_path(out), "*.parquet"))) == 1


def _jobs_in(spark, group: str, fn):
    """Run ``fn`` under job group ``group``; return (its result, the Spark
    jobs it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_repair_metrics_on_a_consistent_store_runs_no_job(spark, fixture_dir):
    """Every committed run has metrics, so the repair decides from the
    manifests and the metrics files alone and launches no Spark job; with
    a run's metrics gone it aggregates that run's lineage and writes them
    back."""
    import glob
    import os

    import pyarrow.parquet as pq

    out = tempfile.mkdtemp(prefix="kg_repair_jobs_")
    pages_path = f"{fixture_dir}/pages.parquet"
    s1 = L.run_checkpointed(spark, pages_path, fixture_dir, out, max_docs=60)
    L.run_checkpointed(spark, pages_path, fixture_dir, out, max_docs=60)
    n, jobs = _jobs_in(spark, "repair-consistent",
                       lambda: L.repair_metrics(spark, out))
    assert (n, jobs) == (0, 0)

    met = spark.read.parquet(L.metrics_path(out))
    run1 = [r.asDict() for r in met.filter(F.col("run_id") == s1["run_id"])
            .orderBy("partition_id").collect()]
    for f in glob.glob(os.path.join(L.metrics_path(out), "*.parquet")):
        if pq.read_table(f, columns=["run_id"])["run_id"][0].as_py() == s1["run_id"]:
            os.remove(f)
    spark.catalog.refreshByPath(L.metrics_path(out))
    n, jobs = _jobs_in(spark, "repair-torn", lambda: L.repair_metrics(spark, out))
    assert n == len(run1) and jobs > 0
    met = spark.read.parquet(L.metrics_path(out))
    assert [r.asDict() for r in met.filter(F.col("run_id") == s1["run_id"])
            .orderBy("partition_id").collect()] == run1


def test_a_compaction_retires_a_phantom_run(spark, fixture_dir):
    """A run killed between its snapshot manifest and its lineage commit
    has no lineage rows, so it stays a repair candidate and costs each
    repair a lineage scan.  A compaction repairs the store before its
    manifest and the repair looks no further back than the latest
    compaction: after it the repair launches no Spark job, and a run torn
    before it (lineage committed, metrics lost) keeps its metrics."""
    import glob
    import os

    import pyarrow.parquet as pq

    out = tempfile.mkdtemp(prefix="kg_phantom_")
    pages_path = f"{fixture_dir}/pages.parquet"
    L.run_checkpointed(spark, pages_path, fixture_dir, out, max_docs=60)
    L._write_snapshot(out, "deadbeefcafe", seq=len(L._read_snapshots(out)),
                      files=[])
    s2 = L.run_checkpointed(spark, pages_path, fixture_dir, out, max_docs=60)
    n, jobs = _jobs_in(spark, "repair-phantom",
                       lambda: L.repair_metrics(spark, out))
    assert n == 0 and jobs > 0

    met = spark.read.parquet(L.metrics_path(out))
    want = sorted((r.asDict() for r in met.collect()), key=repr)
    for f in glob.glob(os.path.join(L.metrics_path(out), "*.parquet")):
        if pq.read_table(f, columns=["run_id"])["run_id"][0].as_py() == s2["run_id"]:
            os.remove(f)
    spark.catalog.refreshByPath(L.metrics_path(out))

    L.compact_triples(spark, out, num_buckets=4)
    n, jobs = _jobs_in(spark, "repair-compacted",
                       lambda: L.repair_metrics(spark, out))
    assert (n, jobs) == (0, 0)
    met = spark.read.parquet(L.metrics_path(out))
    assert sorted((r.asDict() for r in met.collect()), key=repr) == want


def _store_state(out: str) -> dict:
    """The committed store as files and rows: the lineage rows, the
    snapshot manifests and the metrics files with their rows."""
    import glob
    import os

    import pyarrow.parquet as pq

    def rows(files):
        return sorted((r for f in files for r in pq.read_table(f).to_pylist()),
                      key=repr)

    met = sorted(glob.glob(os.path.join(L.metrics_path(out), "*.parquet")))
    return {"lineage": rows(glob.glob(os.path.join(L.lineage_path(out),
                                                   "*.parquet"))),
            "manifests": sorted(os.listdir(L.snapshots_path(out))),
            "metrics_files": len(met), "metrics": rows(met)}


def _stream_slice(spark, fixture_dir):
    return (spark.read.schema(PAGES).parquet(f"{fixture_dir}/pages.parquet")
            .orderBy("url").limit(40))


def test_a_replayed_stream_batch_commits_nothing(spark, fixture_dir):
    """Spark replays a micro-batch whose commit ran but whose stream
    checkpoint did not land, under the same run_id: the replay leaves the
    lineage rows, manifests and metrics as they were, and launches no
    Spark job."""
    out = tempfile.mkdtemp(prefix="kg_replay_")
    first = L.commit_slice(spark, _stream_slice(spark, fixture_dir),
                           fixture_dir, out, "stream-0")
    assert first["n_pages"] == 40
    before = _store_state(out)
    again, jobs = _jobs_in(spark, "replay", lambda: L.commit_slice(
        spark, _stream_slice(spark, fixture_dir), fixture_dir, out,
        "stream-0"))
    assert again == {"run_id": "stream-0", "n_pages": 0, "n_triples": 0}
    assert jobs == 0
    assert _store_state(out) == before


def test_a_replay_after_a_torn_commit_restores_metrics_once(spark,
                                                           fixture_dir):
    """The batch committed its lineage but lost its metrics file: the
    replay's repair writes the metrics back once, and the replay adds no
    lineage rows."""
    import glob
    import os

    out = tempfile.mkdtemp(prefix="kg_replay_torn_")
    L.commit_slice(spark, _stream_slice(spark, fixture_dir), fixture_dir,
                   out, "stream-0")
    before = _store_state(out)
    for f in glob.glob(os.path.join(L.metrics_path(out), "*.parquet")):
        os.remove(f)
    spark.catalog.refreshByPath(L.metrics_path(out))
    again = L.commit_slice(spark, _stream_slice(spark, fixture_dir),
                           fixture_dir, out, "stream-0")
    assert again["n_pages"] == 0
    assert _store_state(out) == before


def test_a_round_plans_its_slice_without_a_job(spark, fixture_dir,
                                              monkeypatch):
    """The pages are read with their declared schema, so a round over a
    committed store plans its resume anti-join and slice without a Spark
    job (an inferred schema costs a job per round)."""
    out = tempfile.mkdtemp(prefix="kg_plan_jobs_")
    pages_path = f"{fixture_dir}/pages.parquet"
    L.run_to_completion(spark, pages_path, fixture_dir, out)
    monkeypatch.setattr(L, "commit_slice", lambda spark, pages, *a, **k: pages)
    pages, jobs = _jobs_in(spark, "plan-round", lambda: L.run_checkpointed(
        spark, pages_path, fixture_dir, out, max_docs=60))
    assert jobs == 0
    assert pages.columns == PAGES.fieldNames()
    assert pages.count() == 0


def test_batch_rounds_and_stream_batches_share_one_commit(spark, fixture_dir):
    """A batch round, a streaming micro-batch and a second batch round in
    one out dir: time travel to the last commit reads the current state,
    and every run, the stream's included, has manifests and metrics."""
    import os

    import pyarrow.parquet as pq

    from entity_extraction_svc_spark.streaming.ingest import (
        ingest_stream,
        stream_run_id,
    )

    out = tempfile.mkdtemp(prefix="kg_mixed_")
    pages_path = f"{fixture_dir}/pages.parquet"
    L.run_checkpointed(spark, pages_path, fixture_dir, out, max_docs=100)

    done = set(pq.read_table(L.lineage_path(out), columns=["url"])["url"]
               .to_pylist())
    pages = pq.read_table(pages_path)
    todo = [i for i, u in enumerate(pages["url"].to_pylist()) if u not in done]
    src = tempfile.mkdtemp(prefix="kg_mixed_src_")
    pq.write_table(pages.take(todo[:60]), os.path.join(src, "part-0.parquet"))
    q = ingest_stream(spark, src, fixture_dir, out,
                      tempfile.mkdtemp(prefix="kg_mixed_ckpt_"))
    q.awaitTermination(300)

    last = L.run_checkpointed(spark, pages_path, fixture_dir, out)
    assert last["n_pages"] == 206 - 160

    def rows(df):
        return {(r.subj, r.pred, r.obj) for r in df.collect()}

    assert rows(L.read_triples(spark, out, as_of=last["run_id"])) == \
        rows(L.read_triples(spark, out))
    lin = spark.read.parquet(L.lineage_path(out))
    met = spark.read.parquet(L.metrics_path(out))
    lin_ids = {r.run_id for r in lin.select("run_id").distinct().collect()}
    met_ids = {r.run_id for r in met.select("run_id").distinct().collect()}
    assert met_ids == lin_ids and stream_run_id(q.id, 0) in met_ids
    assert len(met_ids) == 3
    assert met.agg(F.sum("n_urls")).first()[0] == 206


def test_a_uri_out_dir_is_refused(spark, fixture_dir):
    """The manifests and the metrics are local files: a URI out dir raises
    before the round links anything, instead of writing a literal ``s3:``
    directory."""
    import os

    import pytest

    cwd = os.getcwd()
    os.chdir(tempfile.mkdtemp(prefix="kg_uri_"))
    try:
        with pytest.raises(ValueError, match="not a local path"):
            L.run_checkpointed(spark, f"{fixture_dir}/pages.parquet",
                               fixture_dir, "s3://bucket/kg", max_docs=10)
        assert os.listdir(".") == []
    finally:
        os.chdir(cwd)
