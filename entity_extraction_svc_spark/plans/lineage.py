"""Checkpoint / resume with per-partition lineage + metrics (north rule).

The reference's stats collector persists request/response docs to MongoDB
(``agent/stats_collector/db.py:23-47``); at batch scale that becomes an
append-only **lineage table**: one row per (run_id, partition_id, url) with
the per-url metrics (mentions found, links found, max link score), plus a
per-partition **metrics table** aggregating the same.

Resume semantics (idempotent):

    to_do = source pages LEFT ANTI JOIN lineage ON url

so a killed run resumes exactly where its last *committed* write ended.
Writes are append-mode parquet; an Iceberg deployment swaps the appends for
snapshot commits with no code change above this module (SURVEY.md §4
"checkpoint/resume").  Because a url is processed by exactly one run, the
union of per-run triple outputs is the full-run output (triples are
set-semantic: ``read_triples`` applies DISTINCT across run directories).

At 10^12 docs the anti-join is a shuffle on url between the source and the
lineage table — both sides pruned to the url column; AQE picks a broadcast
anti-join while the lineage side is still small.

A ``max_docs`` slice is spread over the session's default parallelism
before it is persisted: the limit yields a single partition, and the fused
Python pass over it would otherwise run on one core.

One commit, :func:`commit_slice`, serves batch rounds and streaming
micro-batches, in three Spark actions: the collect of the round's metrics
(it fills the slice, linked and lineage caches), the triples append and the
lineage append (the commit point).  The snapshot manifest, the appended
triples count and the metrics file are driver-side writes to the local
filesystem, the stand-in for table-format commits, so ``out_dir`` must be a
local path (a URI raises ``ValueError``).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from entity_extraction_svc_spark.plans.fused import build_fused
from entity_extraction_svc_spark.schemas import LINEAGE, METRICS, PAGES


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


def lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, "lineage")


def metrics_path(out_dir: str) -> str:
    return os.path.join(out_dir, "metrics")


def triples_path(out_dir: str) -> str:
    return os.path.join(out_dir, "triples")


def processed_urls(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The committed urls, or None when no lineage table exists yet.  Any
    other read failure propagates: read as "nothing committed", it would make
    the round relink and re-commit every committed url."""
    path = lineage_path(out_dir)
    try:
        return spark.read.schema(LINEAGE).parquet(path).select("url")
    except AnalysisException:
        return None


def per_url_metrics(pages: DataFrame, linked: DataFrame, run_id: str) -> DataFrame:
    """One lineage row per processed url: partition id, mention/link counts,
    max link score.  The partition id is the output partition of the url
    join that attaches the counts to ``pages``.  When AQE broadcasts the
    counts (the usual case: one small row per url) that is the ``pages``
    partition that carried the url, which is also the partition the fused
    pass linked it on; under a sort-merge join it is the url's shuffle
    partition.  Pages with zero mentions still get a lineage row (they are
    processed — resume must skip them).  ``link_doc`` emits one rank-0 row
    per mention, so those rows count the mentions."""
    rank0 = F.col("rank") == 0
    per_url = linked.groupBy("url").agg(
        F.count(F.when(rank0, 1)).alias("n_mentions"),
        F.count(F.when(rank0 & F.col("qid").isNotNull(), 1)).alias("n_linked"),
        F.max(F.when(rank0, F.col("conf"))).alias("max_link_score"),
    )
    return (
        pages.select("url")
        .join(per_url, "url", "left")
        .select(
            F.lit(run_id).alias("run_id"),
            F.spark_partition_id().alias("partition_id"),
            "url",
            F.coalesce("n_mentions", F.lit(0)).cast("int").alias("n_mentions"),
            F.coalesce("n_linked", F.lit(0)).cast("int").alias("n_linked"),
            F.col("max_link_score").cast("double"),
        )
    )


def _metric_rows(lineage: DataFrame) -> list:
    """The per-(run_id, partition_id) metrics of ``lineage`` rows, collected
    to the driver (at most one row per partition of a round)."""
    return sorted(lineage.groupBy("run_id", "partition_id").agg(
        F.count("*").alias("n_urls"),
        F.sum("n_mentions").alias("n_mentions"),
        F.sum("n_linked").alias("n_linked"),
        F.max("max_link_score").alias("max_link_score"),
    ).collect())


def commit_slice(spark: SparkSession, pages: DataFrame, kb_dir: str,
                 out_dir: str, run_id: str, source: str = "html") -> dict:
    """The commit of a batch round and of a streaming micro-batch: repair
    earlier runs' metrics, link ``pages``, then triples append, snapshot
    manifest, lineage append (the commit point) and metrics, under
    ``run_id``.  Returns ``run_id``, ``n_pages`` (the urls committed) and
    ``n_triples`` (the distinct triples appended); an empty slice appends
    nothing.

    A ``run_id`` that already has metrics commits nothing and launches no
    Spark job: Spark replays a micro-batch whose commit ran but whose
    stream checkpoint did not land, under the same run_id
    (``streaming.ingest.stream_run_id``).  So a run_id must name one
    slice, never a second one.  The check follows the repair, so a run
    torn between its lineage append and its metrics write counts as
    committed too, while a run killed before its lineage append has no
    metrics and commits again."""
    if run_id in _repair(spark, out_dir)[1]:
        return {"run_id": run_id, "n_pages": 0, "n_triples": 0}
    # the slice is read by the fused pass and by the lineage rows: persist
    # it so both see the same pages (a limit is re-evaluated lazily)
    pages = pages.persist()
    linked, triples = build_fused(spark, pages, kb_dir, source=source)
    linked = linked.persist()
    lineage = per_url_metrics(pages, linked, run_id).persist()
    # the one action that fills the three caches.  It precedes the lineage
    # append: lineage's plan holds the resume anti-join, and after the
    # append and refresh an action would re-plan it and link the NEXT slice
    metrics = _metric_rows(lineage)
    n_pages = sum(r.n_urls for r in metrics)
    n_triples = 0
    if n_pages:
        before = _parquet_files(triples_path(out_dir))
        triples.write.mode("append").parquet(triples_path(out_dir))
        added = sorted(_parquet_files(triples_path(out_dir)) - before)
        _write_snapshot(out_dir, run_id, seq=len(_read_snapshots(out_dir)),
                        files=added)
        # materialize_triples applies distinct, so rows written = distinct
        n_triples = sum(pq.read_metadata(f).num_rows for f in added)
        # the lineage append is the COMMIT POINT: a crash above it leaves
        # these urls uncommitted and the next resume reprocesses them (the
        # duplicate triples dedupe on read; the snapshot is a phantom only
        # its run_id reaches).  A crash after it leaves the run without
        # metrics, which the next repair backfills: no url counts twice.
        lineage.write.mode("append").parquet(lineage_path(out_dir))
        # refresh the session's file listings so the next anti-join (and
        # any open reader) sees this commit
        spark.catalog.refreshByPath(lineage_path(out_dir))
        spark.catalog.refreshByPath(triples_path(out_dir))
        _write_metrics(spark, out_dir, metrics)
    for df in (lineage, linked, pages):
        df.unpersist()
    return {"run_id": run_id, "n_pages": n_pages, "n_triples": n_triples}


def run_checkpointed(
    spark: SparkSession,
    pages_path: str,
    kb_dir: str,
    out_dir: str,
    source: str = "html",
    max_docs: int | None = None,
    run_id: str | None = None,
) -> dict:
    """One resumable pipeline run: :func:`commit_slice` the source pages
    absent from the lineage table.

    ``max_docs`` bounds the slice (used by tests to simulate a run killed
    midway; a production run leaves it None).  Returns run stats;
    ``n_pages`` is the urls committed and ``n_triples`` the distinct
    triples this round appended.
    """
    _require_local(out_dir)
    # the declared schema: an inferred one costs every round a Spark job
    pages = spark.read.schema(PAGES).parquet(pages_path)
    done = processed_urls(spark, out_dir)
    if done is not None:
        pages = pages.join(done, "url", "left_anti")
    if max_docs is not None:
        # the limit collapses the slice to one partition: spread it so the
        # fused pass over it runs on every core
        pages = pages.limit(max_docs).repartition(
            spark.sparkContext.defaultParallelism)
    return commit_slice(spark, pages, kb_dir, out_dir, run_id or new_run_id(),
                        source=source)


def run_to_completion(spark: SparkSession, pages_path: str, kb_dir: str,
                      out_dir: str, source: str = "html",
                      batch_docs: int | None = None, max_rounds: int = 100) -> list[dict]:
    """Drive run_checkpointed until the anti-join drains (the resume loop)."""
    stats = []
    for _ in range(max_rounds):
        s = run_checkpointed(spark, pages_path, kb_dir, out_dir,
                             source=source, max_docs=batch_docs)
        stats.append(s)
        if s["n_pages"] == 0 or batch_docs is None:
            break
    return stats


def repair_metrics(spark: SparkSession, out_dir: str) -> int:
    """Backfill the metrics rows of every committed run that has none.

    Metrics are a pure aggregation of committed lineage, written after the
    commit point, so a torn state (a kill between a run's lineage append and
    its metrics write) only leaves that run without metrics, and a url
    reprocessed after a crash is counted in exactly one committed run.

    The candidates are the run_ids of the snapshot manifests written after
    the latest compaction minus the run_ids in the metrics table, both read
    on the driver from small files.  On a consistent store there is none
    and the repair launches no Spark job; otherwise it aggregates the
    candidates' lineage rows and writes them as a round does.
    :func:`commit_slice` runs the repair first, so the next round heals a
    torn state, and :func:`compact_triples` and :func:`retract_triples` run
    it before their manifest, so every run before a compaction has its
    metrics.  A run killed before its lineage commit has no rows: it stays
    a candidate, and costs each repair a filtered lineage scan, only until
    the next compaction.  It assumes one
    writer per ``out_dir``: a concurrent run between its lineage commit and
    its metrics write would be counted twice.  Returns the number of
    backfilled (run_id, partition_id) rows."""
    return _repair(spark, out_dir)[0]


def _repair(spark: SparkSession, out_dir: str) -> tuple[int, set[str]]:
    """:func:`repair_metrics`, also returning the run_ids that have
    metrics once it is done, so a commit reads the metrics files once."""
    snaps = _read_snapshots(out_dir)
    last = max((s["seq"] for s in snaps if s.get("compaction")), default=-1)
    runs = {s["run_id"] for s in snaps if s["seq"] > last}
    have = _metrics_run_ids(out_dir)
    missing = runs - have
    if not missing:
        return 0, have
    # a missing lineage table is an expected state (nothing committed);
    # any other read failure propagates
    try:
        lin = spark.read.schema(LINEAGE).parquet(lineage_path(out_dir))
    except AnalysisException:
        return 0, have
    rows = _metric_rows(lin.filter(F.col("run_id").isin(sorted(missing))))
    if rows:
        _write_metrics(spark, out_dir, rows)
    return len(rows), have | {r.run_id for r in rows}


def _metrics_run_ids(out_dir: str) -> set[str]:
    return {r for f in _parquet_files(metrics_path(out_dir))
            for r in pq.read_table(f, columns=["run_id"])["run_id"].to_pylist()}


def _write_metrics(spark: SparkSession, out_dir: str, rows: list) -> None:
    """Append ``rows`` to the metrics table as one file written on the
    driver.  It is written outside ``metrics/`` and renamed in, so a kill
    leaves no partial file that a ``metrics/*.parquet`` reader would see."""
    table = pa.Table.from_pylist([r.asDict() for r in rows],
                                 schema=to_arrow_schema(METRICS))
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(out_dir, f"_tmp-{name}")
    pq.write_table(table, tmp)
    os.makedirs(metrics_path(out_dir), exist_ok=True)
    os.replace(tmp, os.path.join(metrics_path(out_dir), name))
    spark.catalog.refreshByPath(metrics_path(out_dir))


def _require_local(out_dir: str) -> None:
    """The manifests are local files: refuse a URI instead of writing a
    literal ``s3:`` directory next to a half-committed round."""
    if re.match(r"[A-Za-z][A-Za-z0-9+.-]*:", out_dir):
        raise ValueError(
            f"out_dir {out_dir!r} is not a local path: snapshot manifests "
            "and metrics are committed with local file operations")


def _parquet_files(d: str) -> set[str]:
    """The data files of a parquet directory (empty when it is absent)."""
    if not os.path.isdir(d):
        return set()
    return {os.path.join(d, f) for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith(("_", "."))}


def _move_into(src: str, dst_dir: str, prefix: str) -> list[str]:
    """Rename the parquet files Spark wrote under ``src`` into ``dst_dir``
    as ``<prefix>-<i>.parquet``, in name order; returns their new paths.
    The prefix carries the attempt's uuid, so a rerun after a crash
    between the moves and the manifest never renames onto a file of the
    crashed attempt, which the rerun then deletes as old (a manifest
    pointing at nothing = data loss)."""
    moved = []
    for i, f in enumerate(sorted(
            x for x in os.listdir(src) if x.endswith(".parquet"))):
        dst = os.path.join(dst_dir, f"{prefix}-{i:05d}.parquet")
        os.replace(os.path.join(src, f), dst)
        moved.append(dst)
    return moved


def vacuum_triples(spark: SparkSession, out_dir: str) -> dict:
    """Delete triple files no snapshot references — the debris of runs
    killed between the triples append and the snapshot write (Iceberg's
    remove_orphan_files stand-in; pairs with ``compact_triples`` the way
    rewrite_data_files pairs with orphan GC).

    Safe by the commit protocol: an unreferenced file belongs to a run
    that never reached its snapshot, so its urls are absent from lineage
    and WILL be reprocessed — the rows are either already duplicated by a
    later committed run or about to be recreated.  Never deletes
    snapshot-referenced files; a compaction manifest resets the live set,
    so files only pre-compaction snapshots reference are removed too
    (their history is already expired for time travel).

    Run it while no writer is active (like remove_orphan_files' retention
    guard): a concurrent run between its append and its snapshot write
    would look orphaned and lose its in-flight files."""
    p = triples_path(out_dir)
    if not os.path.isdir(p):
        return {"removed": 0, "kept": 0}
    snaps = _read_snapshots(out_dir)
    live: set[str] = set()
    for snap in snaps:
        # liveness by BASENAME (file names embed a uuid): manifests carry
        # the writing run's path spelling, and a different spelling of this
        # out_dir would make every committed file look orphaned
        names = {os.path.basename(x) for x in snap["files"]}
        if snap.get("compaction"):
            live = names
        else:
            live.update(names)
    removed = 0
    for f in list(os.listdir(p)):
        if (f.endswith(".parquet") and not f.startswith("_")
                and f not in live):
            os.remove(os.path.join(p, f))
            removed += 1
    if removed:
        spark.catalog.refreshByPath(p)
    return {"removed": removed, "kept": len(live)}


def snapshots_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_snapshots")


def _write_snapshot(out_dir: str, run_id: str, seq: int, files: list[str],
                    compaction: bool = False,
                    retraction: bool = False,
                    removed_files: list[str] | None = None) -> None:
    """Manifest-based snapshot (the parquet-only stand-in for an Iceberg
    snapshot commit): one JSON per run listing the triple files it added.
    ``read_triples(as_of=run_id)`` time-travels by unioning manifests up to
    that run — the SURVEY §7.4 degradation path when no table format is
    available.  A ``compaction`` manifest REPLACES the file set accumulated
    so far (rewrite_data_files + expire_snapshots in one)."""
    _require_local(out_dir)
    os.makedirs(snapshots_path(out_dir), exist_ok=True)
    with open(os.path.join(snapshots_path(out_dir), f"{seq:06d}-{run_id}.json"), "w") as f:
        snap = {"run_id": run_id, "seq": seq, "files": sorted(files),
                "compaction": compaction, "retraction": retraction}
        if removed_files:
            snap["removed_files"] = sorted(removed_files)
        json.dump(snap, f)


def compact_triples(spark: SparkSession, out_dir: str,
                    num_buckets: int = 32) -> dict:
    """Rewrite the triples store into ``num_buckets`` subject-hash files
    and collapse snapshot history up to the latest commit — the
    parquet-manifest stand-in for Iceberg's rewrite_data_files +
    expire_snapshots.  At 10^12 docs the append-per-run layout is the
    operational pain point (thousands of runs, each with its own files);
    compaction restores a bounded file count and subject-hash locality in one job.

    Crash-safe BY SET SEMANTICS, no atomic swap needed: compacted files
    are moved into the live dir BEFORE the manifest, and the old files
    deleted only after it — every intermediate state holds a superset of
    the triple set, and ``read_triples`` applies DISTINCT, so a kill at
    any point leaves reads correct and a re-run of ``compact_triples``
    finishes the job (pinned in test_lineage.py).  Lineage/metrics are NOT
    compacted here: they lack set semantics, so safe rewrite needs a real
    table-format commit (the documented Iceberg swap-in point).

    Time travel after compaction: ``as_of`` any run at-or-after the
    compaction (and the run immediately before it, whose state the base
    equals) keeps working; earlier history is expired and raises.

    Like the rest of this module's manifest machinery, the file moves are
    local-FS os-level operations — the deliberate stand-in scope (module
    docstring): under a real table format this whole function IS
    ``rewrite_data_files`` + ``expire_snapshots`` and the os calls become
    table commits."""
    p = triples_path(out_dir)
    old = _parquet_files(p)
    if not old:  # fresh/drained out dir: nothing to compact
        return {"run_id": None, "files_before": 0, "files_after": 0}
    snaps = _read_snapshots(out_dir)
    seq = len(snaps)
    run_id = f"compact{seq}-{uuid.uuid4().hex[:8]}"
    tmp = os.path.join(out_dir, f"_compact_tmp_{seq}")
    (
        spark.read.parquet(p).distinct()
        .repartition(num_buckets, "subj")
        .write.mode("overwrite").parquet(tmp)
    )
    moved = _move_into(tmp, p, f"compact-{seq:06d}-{run_id.split('-')[-1]}")
    # manifest lands while BOTH file generations are live: a crash here
    # only costs disk (duplicate rows), never rows.  The repair before it
    # leaves no run the later repairs would have to look back for
    _repair(spark, out_dir)
    _write_snapshot(out_dir, run_id, seq=seq, files=moved, compaction=True)
    for f in old - set(moved):
        os.remove(f)
    shutil.rmtree(tmp, ignore_errors=True)
    spark.catalog.refreshByPath(p)
    return {"run_id": run_id, "files_before": len(old),
            "files_after": len(moved)}


def retract_triples(spark: SparkSession, out_dir: str,
                    to_remove: DataFrame,
                    num_buckets: int = 32) -> dict:
    """First-class RETRACTION commit (the stand-in for an Iceberg DELETE,
    VERDICT r4 #2's missing producer): rewrite the store without the
    given (subj, pred, obj) rows and commit as a compaction snapshot —
    after which ``maintain_closure`` sees the edge disappear from the
    head and applies DRed :func:`~..operators.graphwalk.closure_delete`.
    The daily-crawl flow is therefore expressible end to end: ingest runs
    append, page retractions call this, closure maintenance reconciles.

    Commit order is compact_triples' (write-new -> manifest -> delete-
    old) with one honestly-different property: a retraction is the ONE
    store operation whose purpose is to violate "every intermediate state
    is a superset", so its visible COMMIT POINT is the old-file deletion
    at the end — head (directory) reads keep showing the retracted rows
    until then, a kill before it leaves the retraction pending, and
    re-running the same call completes it (idempotent: the anti-join
    rewrites the same survivor set).  No kept row is ever at risk: by the
    time any old file is deleted, every survivor is committed in the new
    generation AND referenced by the manifest.  Under a real table format
    this whole function is a single MERGE/DELETE commit and the window
    disappears (the documented Iceberg swap-in point).
    """
    p = triples_path(out_dir)
    old = _parquet_files(p)
    if not old:
        return {"run_id": None, "removed": 0}
    keys = ["subj", "pred", "obj"]
    rm = to_remove.select(keys).distinct().localCheckpoint(eager=True)
    cur = spark.read.parquet(p).distinct().localCheckpoint(eager=True)
    n_before = cur.count()
    remaining = cur.join(rm, keys, "left_anti")
    snaps = _read_snapshots(out_dir)
    seq = len(snaps)
    run_id = f"retract{seq}-{uuid.uuid4().hex[:8]}"
    attempt = run_id.split("-")[-1]
    tmp = os.path.join(out_dir, f"_retract_tmp_{seq}")
    (
        remaining
        .repartition(num_buckets, "subj")
        .write.mode("overwrite").parquet(tmp)
    )
    moved = _move_into(tmp, p, f"retract-{seq:06d}-{attempt}")
    # removed-rows sidecar BEFORE the manifest that references it (a
    # kill in between leaves a harmless orphan file, never a manifest
    # pointing at nothing) — this is what makes the pre-retraction state
    # exactly time-travelable (read_triples: post-state ∪ sidecar)
    actually_removed = cur.join(rm, keys, "left_semi")
    side_dir = os.path.join(out_dir, "_retractions")
    side_tmp = os.path.join(out_dir, f"_retract_side_tmp_{seq}")
    actually_removed.coalesce(1).write.mode("overwrite").parquet(side_tmp)
    os.makedirs(side_dir, exist_ok=True)
    side_files = _move_into(side_tmp, side_dir, f"removed-{seq:06d}-{attempt}")
    shutil.rmtree(side_tmp, ignore_errors=True)
    _repair(spark, out_dir)  # as in compact_triples
    _write_snapshot(out_dir, run_id, seq=seq, files=moved, compaction=True,
                    retraction=True, removed_files=side_files)
    for f in old - set(moved):
        os.remove(f)  # the retraction's visible commit point
    shutil.rmtree(tmp, ignore_errors=True)
    spark.catalog.refreshByPath(p)
    n_after = spark.read.parquet(p).distinct().count()
    return {"run_id": run_id, "removed": n_before - n_after,
            "files_after": len(moved)}


def _read_snapshots(out_dir: str) -> list[dict]:
    _require_local(out_dir)
    p = snapshots_path(out_dir)
    if not os.path.isdir(p):
        return []
    out = []
    for name in sorted(os.listdir(p)):
        if name.endswith(".json"):
            with open(os.path.join(p, name)) as f:
                out.append(json.load(f))
    return out


def read_triples(spark: SparkSession, out_dir: str,
                 as_of: str | None = None) -> DataFrame:
    """The materialized KG across committed runs (set semantics).

    ``as_of=<run_id>`` time-travels to the state after that run's commit
    using the snapshot manifests; default reads the current state."""
    if as_of is None:
        return spark.read.parquet(triples_path(out_dir)).distinct()
    snaps = _read_snapshots(out_dir)
    by_id = {s["run_id"]: s for s in snaps}
    if as_of not in by_id:
        raise ValueError(f"unknown snapshot run_id: {as_of}")
    target_seq = by_id[as_of]["seq"]
    compact_seqs = [s["seq"] for s in snaps if s.get("compaction")]
    latest_compact = max(compact_seqs, default=-1)
    # a compaction expires history: only the state at-or-after it — plus
    # the run immediately before it, whose state the base file set equals
    # exactly — remains addressable
    if target_seq < latest_compact - 1:
        raise ValueError(
            f"snapshot {as_of} (seq {target_seq}) was expired by the "
            f"compaction at seq {latest_compact}"
        )
    removed_files: list[str] = []
    if target_seq == latest_compact - 1:
        latest = next(s for s in snaps if s["seq"] == latest_compact)
        # the plain seq-1 redirect is only sound for true compactions
        # (identical state); a RETRACTION commit changes state, so it
        # carries its removed rows as a side parquet and the pre-retraction
        # state reads as post-state ∪ removed (a retraction without the
        # side file reports expired)
        if latest.get("retraction"):
            removed_files = list(latest.get("removed_files") or [])
            if not removed_files:
                raise ValueError(
                    f"snapshot {as_of} (seq {target_seq}) was expired by "
                    f"the retraction at seq {latest_compact} (no removed-"
                    f"rows sidecar recorded)"
                )
        target_seq = latest_compact  # post-state (∪ sidecar if retraction)
    files: list[str] = []
    for snap in snaps:
        if snap["seq"] > target_seq:
            break
        if snap.get("compaction"):
            files = list(snap["files"])  # REPLACES accumulated history
        else:
            files.extend(snap["files"])
    if not files:
        raise ValueError(f"snapshot {as_of} carries no files")
    # rebase onto THIS call's out_dir spelling: manifests carry the
    # writing run's path strings, which may be relative/differently-rooted
    files = [os.path.join(triples_path(out_dir), os.path.basename(f))
             for f in files]
    out = spark.read.parquet(*files)
    if removed_files:
        side = [os.path.join(out_dir, "_retractions", os.path.basename(f))
                for f in removed_files]
        out = out.unionByName(spark.read.parquet(*side))
    return out.distinct()
