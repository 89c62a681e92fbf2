"""Structured Streaming ingestion of the pages table.

The reference is request/response (no stream semantics, SURVEY.md §2.10);
at corpus scale the natural streaming shape is *incremental ingestion*: new
WARC page files land in a directory (or an Iceberg snapshot), a file-source
stream picks them up, and each micro-batch runs the SAME fused batch plan
via ``foreachBatch`` and commits it with the batch rounds' own commit,
``plans.lineage.commit_slice``, under the run_id of :func:`stream_run_id`
— so streaming and batch share one implementation and one output layout:
triples append, snapshot manifest (``read_triples(as_of=<that run_id>)``
time-travels to it), lineage append, metrics rows, and the metrics repair
that heals a torn earlier commit.

``trigger(availableNow=True)`` drains the backlog and stops — the
catch-up/resume mode; a production deployment leaves the default trigger
on for continuous tailing.  Exactly-once here = file-source checkpointing
(each input file enters exactly one micro-batch) + set-semantic triples +
per-url lineage rows carrying the batch id.  A replayed micro-batch (its
commit ran, its stream checkpoint did not land) finds its run_id in the
metrics table and commits nothing.  The run_id names the query as well as
the batch: batch ids restart at 0 with every new checkpoint, and a second
feed into the same out dir must not read as a replay of the first.

``windowed_page_counts`` is the event-time side: pages-per-window with a
watermark on ``warc_ts`` to bound state and admit late pages.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entity_extraction_svc_spark.schemas import PAGES


def stream_pages(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-source stream of page files landing in src_dir."""
    return (
        spark.readStream.schema(PAGES)
        .option("maxFilesPerTrigger", 16)
        .parquet(src_dir)
    )


def stream_run_id(query_id: str, batch_id: int) -> str:
    """``stream-<query tag>-<batch_id>``: the run_id a micro-batch commits
    under.  The tag is the first 12 hex digits of the streaming query's id,
    which persists across restarts from the checkpoint and is new for a new
    checkpoint, so a replayed batch keeps its run_id and another stream's
    batch with the same id does not share it."""
    return f"stream-{query_id.replace('-', '')[:12]}-{batch_id}"


def ingest_stream(spark: SparkSession, src_dir: str, kb_dir: str, out_dir: str,
                  checkpoint_dir: str, source: str = "html",
                  available_now: bool = True):
    """Stream pages -> one ``commit_slice`` per micro-batch.

    Returns the started StreamingQuery; callers awaitTermination()."""
    from entity_extraction_svc_spark.plans import lineage as L

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the stream thread carries its query's id as a local property
        qid = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
        L.commit_slice(spark, batch_df, kb_dir, out_dir,
                       run_id=stream_run_id(qid, batch_id), source=source)

    writer = (
        stream_pages(spark, src_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup(pages_stream: DataFrame, watermark: str = "24 hours") -> DataFrame:
    """Stateful cross-batch exact dedup: the first page per normalized-text
    fingerprint passes; later copies (typical crawl re-fetches) drop.

    Built-in streaming state (`dropDuplicates` keyed on the fingerprint)
    does the bookkeeping; the event-time watermark bounds the state store —
    a re-fetch older than the watermark may pass again, which is the right
    trade at web scale (state can't grow with the crawl forever)."""
    from entity_extraction_svc_spark.operators.dedup import _norm_text

    fp = F.md5(_norm_text("text"))
    return (
        pages_stream.withColumn("fp_md5", fp)
        .withWatermark("warc_ts", watermark)
        .dropDuplicates(["fp_md5"])
    )


def windowed_page_counts(pages_stream: DataFrame, window: str = "1 hour",
                         watermark: str = "2 hours") -> DataFrame:
    """Event-time pages-per-language-per-window with late-data watermark —
    the streaming-aggregation surface (state bounded by the watermark)."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n_pages",
        )
    )


def stream_nt_lines(spark: SparkSession, src_dir: str,
                    max_files: int = 16) -> DataFrame:
    """File-source stream of N-Triples text files landing in src_dir."""
    return (
        spark.readStream
        .option("maxFilesPerTrigger", max_files)
        .text(src_dir)
    )


def kb_ingest_stream(spark: SparkSession, src_dir: str, out_dir: str,
                     checkpoint_dir: str, upsert: bool = False,
                     available_now: bool = True):
    """Streaming custom-KB ingest: N-Triples files land in ``src_dir``,
    each micro-batch parses (``sources.ntriples.parse_ntriples`` — full
    escape/lang-tag/datatype handling) and commits into the
    lineage-tracked triple store at ``out_dir`` — the S7 ingest direction
    for continuous feeds, with S8's single-entity-replace semantics
    behind ``upsert=True``.

    Crash/replay safety, batch by batch:

    * append mode: ``write.mode("append")`` + the store's SET semantics
      (reads apply DISTINCT; compaction collapses) — a replayed batch
      re-appends the same rows, which dedupe away.  Exactly-once file
      admission comes from the stream checkpoint.
    * upsert mode: the batch's subjects are first RETRACTED from the
      store head (:func:`~..plans.lineage.retract_triples` — a
      crash-safe compaction-shaped commit), then the new rows append.
      A replayed batch retracts whatever the crashed attempt appended
      for those subjects and re-appends — convergent, because
      retraction keys on the batch's SUBJECT set, not on row identity.

    The store directory must be dedicated to this feed (schema
    (subj, pred, obj)); mixing with the pipeline's triples store would
    merge schemas unpredictably.  Returns the started StreamingQuery.
    """
    from entity_extraction_svc_spark.plans import lineage as L
    from entity_extraction_svc_spark.sources.ntriples import parse_ntriples

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        triples = parse_ntriples(batch_df).persist()
        if triples.isEmpty():
            triples.unpersist()
            return
        p = L.triples_path(out_dir)
        if upsert and os.path.isdir(p):
            store = spark.read.parquet(p)
            subjects = triples.select("subj").distinct()
            to_rm = store.join(subjects, "subj", "semi").select(
                "subj", "pred", "obj"
            )
            L.retract_triples(spark, out_dir, to_rm)
        triples.write.mode("append").parquet(p)
        spark.catalog.refreshByPath(p)
        triples.unpersist()

    writer = (
        stream_nt_lines(spark, src_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
