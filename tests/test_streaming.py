"""Streaming ingestion: the file-source stream through the fused plan must
produce the same triples as the batch pipeline, exactly once per url."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import duckdb
from pyspark.sql import functions as F

from entity_extraction_svc_spark.plans import lineage as L
from entity_extraction_svc_spark.streaming.ingest import (
    ingest_stream,
    stream_pages,
    stream_run_id,
    windowed_page_counts,
)


def _staged_src(fixture_dir: str) -> str:
    """Stage the fixture pages as multiple files 'landing' in a stream dir."""
    src = tempfile.mkdtemp(prefix="kg_stream_src_")
    import pyarrow.parquet as pq

    table = pq.read_table(f"{fixture_dir}/pages.parquet")
    per = (table.num_rows + 3) // 4
    for s in range(4):
        sl = table.slice(s * per, per)
        if sl.num_rows:
            pq.write_table(sl, os.path.join(src, f"part-{s:05d}.parquet"))
    return src


def test_stream_ingest_matches_goldens(spark, fixture_dir):
    src = _staged_src(fixture_dir)
    out = tempfile.mkdtemp(prefix="kg_stream_out_")
    ckpt = tempfile.mkdtemp(prefix="kg_stream_ckpt_")
    q = ingest_stream(spark, src, fixture_dir, out, ckpt)
    q.awaitTermination(300)

    got = {(r.subj, r.pred, r.obj) for r in L.read_triples(spark, out).collect()}
    want = {
        tuple(r)
        for r in duckdb.sql(
            f"select subj, pred, obj from '{fixture_dir}/golden_triples.parquet'"
        ).fetchall()
    }
    assert got == want

    lin = spark.read.parquet(L.lineage_path(out))
    assert lin.count() == lin.select("url").distinct().count() == 206

    # restart on the same checkpoint: backlog already consumed -> no new work
    q2 = ingest_stream(spark, src, fixture_dir, out, ckpt)
    q2.awaitTermination(300)
    spark.catalog.refreshByPath(L.lineage_path(out))
    assert spark.read.parquet(L.lineage_path(out)).count() == 206

    shutil.rmtree(src)


def _golden_triples(fixture_dir: str) -> set:
    return {tuple(r) for r in duckdb.sql(
        f"select subj, pred, obj from '{fixture_dir}/golden_triples.parquet'"
    ).fetchall()}


def test_two_streams_into_one_out_dir_commit_every_page(spark, fixture_dir):
    """Two feeds with their own checkpoints commit into one out dir: both
    start at batch id 0, and neither batch reads as a replay of the other,
    so every page is linked and committed exactly once."""
    import pyarrow.parquet as pq

    table = pq.read_table(f"{fixture_dir}/pages.parquet")
    half = table.num_rows // 2
    out = tempfile.mkdtemp(prefix="kg_two_streams_out_")
    queries = []
    for sl in (table.slice(0, half), table.slice(half)):
        src = tempfile.mkdtemp(prefix="kg_two_streams_src_")
        pq.write_table(sl, os.path.join(src, "part-00000.parquet"))
        q = ingest_stream(spark, src, fixture_dir, out,
                          tempfile.mkdtemp(prefix="kg_two_streams_ckpt_"))
        q.awaitTermination(300)
        queries.append(q)

    got = {(r.subj, r.pred, r.obj) for r in L.read_triples(spark, out).collect()}
    assert got == _golden_triples(fixture_dir)
    lin = spark.read.parquet(L.lineage_path(out))
    assert lin.count() == lin.select("url").distinct().count() == 206
    met = spark.read.parquet(L.metrics_path(out))
    assert {r.run_id for r in met.select("run_id").distinct().collect()} == \
        {stream_run_id(q.id, 0) for q in queries}
    assert met.agg(F.sum("n_urls")).first()[0] == 206


def test_a_replayed_micro_batch_commits_nothing(spark, fixture_dir):
    """Batch 0 committed, but its stream checkpoint commit is lost: the
    restarted query replays batch 0 under the same run_id, and the replay
    adds no lineage row, manifest or metrics file."""
    src = _staged_src(fixture_dir)
    out = tempfile.mkdtemp(prefix="kg_replay_out_")
    ckpt = tempfile.mkdtemp(prefix="kg_replay_ckpt_")
    q = ingest_stream(spark, src, fixture_dir, out, ckpt)
    q.awaitTermination(300)

    def state():
        return (spark.read.parquet(L.lineage_path(out)).count(),
                sorted(os.listdir(L.snapshots_path(out))),
                sorted(os.listdir(L.metrics_path(out))))

    before = state()
    assert before[0] == 206
    # batch 0's entry in the commit log, and its checksum
    for f in ("0", ".0.crc"):
        os.remove(os.path.join(ckpt, "commits", f))
    q2 = ingest_stream(spark, src, fixture_dir, out, ckpt)
    q2.awaitTermination(300)
    assert q2.id == q.id
    # the replay ran batch 0 again, and read none of its rows
    assert [(p["batchId"], p["numInputRows"])
            for p in q2.recentProgress] == [(0, 0)]
    spark.catalog.refreshByPath(L.lineage_path(out))
    assert state() == before
    shutil.rmtree(src)


def test_stream_dedup_state(spark, fixture_dir):
    """Cross-batch stateful dedup: duplicated fixture bodies collapse to one
    surviving page per fingerprint across the whole stream."""
    from entity_extraction_svc_spark.streaming.ingest import stream_dedup

    src = _staged_src(fixture_dir)
    out = tempfile.mkdtemp(prefix="kg_sdedup_out_")
    ckpt = tempfile.mkdtemp(prefix="kg_sdedup_ckpt_")
    q = (
        stream_dedup(stream_pages(spark, src))
        .select("url", "fp_md5")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out)
    n_fp = duckdb.sql(
        "select count(distinct md5(trim(regexp_replace(lower(coalesce(text,'')),"
        f" '\\s+', ' ', 'g')))) from '{fixture_dir}/pages.parquet'"
    ).fetchone()[0]
    assert got.count() == got.select("fp_md5").distinct().count() == n_fp
    assert got.count() < 200  # the corpus really contains duplicates
    shutil.rmtree(src)


def test_stateful_crawl_counters(spark, fixture_dir):
    """applyInPandasWithState: per-lang counters accumulate across the
    micro-batches of the backlog (maxFilesPerTrigger=16 over 4 files still
    batches, state carries the running totals)."""
    from entity_extraction_svc_spark.streaming.state import crawl_counters

    src = _staged_src(fixture_dir)
    out = tempfile.mkdtemp(prefix="kg_state_out_")
    ckpt = tempfile.mkdtemp(prefix="kg_state_ckpt_")
    stream = stream_pages(spark, src).withWatermark("warc_ts", "1 hour")
    q = (
        crawl_counters(stream)
        .writeStream.foreachBatch(
            lambda df, _id: df.write.mode("append").parquet(out)
        )
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out)
    # the LAST update per lang carries the final running totals
    final = {
        r.lang: r.n_pages
        for r in got.orderBy("lang", "n_pages").collect()
    }
    want = {
        lang: n
        for (lang, n) in duckdb.sql(
            f"select lang, count(*) from '{fixture_dir}/pages.parquet' group by 1"
        ).fetchall()
    }
    assert final == want
    shutil.rmtree(src)


def test_windowed_counts_semantics(spark, fixture_dir):
    """The windowed aggregation runs as a batch plan too (same code path
    semantics): fixture warc_ts values are 1s apart from t0."""
    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    # batch equivalent of the streaming agg (window + groupBy)
    agg = (
        pages.groupBy(F.window("warc_ts", "1 minute").alias("w"), "lang")
        .agg(F.count("*").alias("n_pages"))
    )
    rows = agg.collect()
    assert sum(r.n_pages for r in rows) == 206
    # 200 docs at 1s apart span at least 3 one-minute windows
    assert len({r.w.start for r in rows}) >= 3

    # and the streaming variant is accepted by the engine (plan validates)
    s = windowed_page_counts(stream_pages(spark, _staged_src(fixture_dir)))
    assert s.isStreaming


def test_stream_rowlocal_curation_gates(spark):
    """The row-local curation gates (PII scan/redact, quality stats,
    hash_split) are pure column expressions, so the SAME operator code
    runs unchanged on a streaming DataFrame — no forEachBatch escape
    hatch needed.  Batch parity on identical rows is exact."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from entity_extraction_svc_spark.operators.privacy import pii_redact
    from entity_extraction_svc_spark.operators.sampling import hash_split
    from entity_extraction_svc_spark.operators.textstats import doc_stats

    rows = [
        (0, "plain prose with some of the usual stopwords in it"),
        (1, "mail me at a@b.org or call +1 (415) 555-0199 now"),
        (2, ""),
    ]
    src = tempfile.mkdtemp(prefix="kg_stream_gates_")
    pq.write_table(
        pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                  "text": pa.array([r[1] for r in rows], pa.string())}),
        f"{src}/part-0.parquet",
    )
    batch_df = spark.read.parquet(src)
    stream_df = spark.readStream.schema("doc_id long, text string").parquet(src)

    def run_stream(df):
        q = (
            df.writeStream.format("memory")
            .queryName("gates_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.sql("select * from gates_out").collect()
        spark.catalog.dropTempView("gates_out")
        return out

    composed = doc_stats(stream_df).join(
        hash_split(stream_df.select("doc_id")).select("doc_id", "split"), "doc_id"
    )
    got = {r.doc_id: (r.n_ws_tokens, r.split) for r in run_stream(composed)}
    want = {
        r.doc_id: (r.n_ws_tokens, r.split)
        for r in doc_stats(batch_df)
        .join(hash_split(batch_df.select("doc_id")).select("doc_id", "split"),
              "doc_id")
        .collect()
    }
    assert got == want and len(got) == 3
    # redaction as a pure projection on the stream
    red = {r.doc_id: r.redacted for r in run_stream(pii_redact(stream_df))}
    assert red[1] == "mail me at [EMAIL] or call [PHONE] now"


def test_curate_stream_matches_batch_for_rowlocal_gates(spark, tmp_path):
    """Streaming curation through foreachBatch: verdicts for the batch-
    size-invariant gates equal the one-shot batch run on the same docs,
    the redacted corpus carries only survivors, and a checkpoint restart
    admits no file twice.  (Near-dup resolution is batch-scoped by
    documented design — this corpus has its dup pair inside one file.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from entity_extraction_svc_spark.plans.curate import curation_report
    from entity_extraction_svc_spark.streaming.curate import curate_stream

    prose = ("the quick brown fox jumps over the lazy dog and then the "
             "dog wakes up to chase the fox around the yard for a while")
    rows = [
        (0, prose + " first version with enough clean words to pass"),
        (1, prose + " first version with enough clean words to pass"),
        (2, "buy buy buy " * 30),
        (3, "x"),
        (4, "separate clean document with plenty of ordinary words in it "
            "that should simply pass and mail me at a@b.org please"),
    ]
    src = str(tmp_path / "src"); out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    import os
    os.makedirs(src)
    pq.write_table(
        pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                  "text": pa.array([r[1] for r in rows], pa.string())}),
        f"{src}/part-0.parquet",
    )
    q = curate_stream(spark, src, out, ckpt)
    q.awaitTermination(180)

    rep = {r.doc_id: r for r in spark.read.parquet(f"{out}/report.parquet").collect()}
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = {r.doc_id: r for r in curation_report(docs, None).collect()}
    for k in want:
        assert (rep[k].quality_keep, rep[k].repetition_keep, rep[k].keep) == (
            want[k].quality_keep, want[k].repetition_keep, want[k].keep)
    corpus = {r.doc_id: r.text for r in spark.read.parquet(f"{out}/corpus.parquet").collect()}
    assert set(corpus) == {k for k, v in want.items() if v.keep}
    assert "[EMAIL]" in corpus[4] and "a@b.org" not in corpus[4]

    # restart on the same checkpoint: no re-admission, outputs unchanged
    n_rep = spark.read.parquet(f"{out}/report.parquet").count()
    q2 = curate_stream(spark, src, out, ckpt)
    q2.awaitTermination(120)
    spark.catalog.refreshByPath(f"{out}/report.parquet")
    assert spark.read.parquet(f"{out}/report.parquet").count() == n_rep


def test_curate_stream_cross_batch_neardup(spark, tmp_path):
    """A near-dup pair SPLIT ACROSS two micro-batches is caught: the later
    arrival is dropped with dup_keeper_id pointing at the already-shipped
    keeper, via the persisted band-signature store (survivors only)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from entity_extraction_svc_spark.streaming.curate import curate_stream

    prose = ("the quick brown fox jumps over the lazy dog and then the "
             "dog wakes up to chase the fox around the yard for a while")
    distinct = ("an entirely different report about harvest schedules in "
                "the northern valley with plenty of ordinary words in it "
                "that should simply pass the quality gate today")
    src = str(tmp_path / "src"); out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def _write(name, rows):
        pq.write_table(
            pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                      "text": pa.array([r[1] for r in rows], pa.string())}),
            f"{src}/{name}",
        )

    _write("f0.parquet", [(0, prose + " first version with enough words"),
                          (4, distinct)])
    q = curate_stream(spark, src, out, ckpt)
    q.awaitTermination(180)

    # second batch arrives later: 10 near-dups the ALREADY-SHIPPED 0
    _write("f1.parquet", [(10, prose + " first version with enuff words"),
                          (11, distinct.replace("harvest", "irrigation")
                                       .replace("valley", "plateau")
                                       .replace("report", "summary")
                                       .replace("northern", "eastern"))])
    q2 = curate_stream(spark, src, out, ckpt)
    q2.awaitTermination(180)

    spark.catalog.refreshByPath(f"{out}/report.parquet")
    rep = {r.doc_id: r for r in
           spark.read.parquet(f"{out}/report.parquet").collect()}
    assert rep[0].keep and rep[4].keep
    assert not rep[10].keep and not rep[10].dup_keep
    assert rep[10].dup_keeper_id == 0      # keeper is the shipped doc
    assert rep[10].quality_keep            # only the dup gate dropped it
    assert rep[11].keep

    spark.catalog.refreshByPath(f"{out}/corpus.parquet")
    corpus = {r.doc_id for r in
              spark.read.parquet(f"{out}/corpus.parquet").collect()}
    assert corpus == {0, 4, 11}

    # store carries survivors only, partitioned by band/pfx
    store = spark.read.parquet(f"{out}/sig_store.parquet")
    assert set(r.doc_id for r in store.select("doc_id").distinct().collect()) \
        == {0, 4, 11}
    assert {"band", "pfx"} <= set(store.columns)


def test_cross_dup_pairs_same_id_replay_guard(spark):
    """A replayed batch probing a store that already contains its OWN rows
    (at-least-once foreachBatch) must not pair a document with itself."""
    from entity_extraction_svc_spark.operators.dedup import (
        cross_dup_pairs,
        minhash_band_rows,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
         (2, "one two three four five six seven eight nine ten eleven")],
        "doc_id long, text string",
    )
    rows = minhash_band_rows(docs)
    assert cross_dup_pairs(rows, rows, threshold=0.1).count() == 0


def test_cross_dup_pairs_store_duplicates_dont_overflow_cap(spark):
    """At-least-once replay doubles the store's rows; the duplicates must
    not inflate the hot-bucket cap's counts (a real bucket just under
    max_bucket would otherwise be dropped whole, silently missing its
    cross-batch dups)."""
    from entity_extraction_svc_spark.operators.dedup import (
        cross_dup_pairs,
        minhash_band_rows,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    probe = minhash_band_rows(spark.createDataFrame(
        [(100, shared)], "doc_id long, text string"))
    # 3 stored near-identical docs -> a 3-member bucket per band
    store = minhash_band_rows(spark.createDataFrame(
        [(1, shared), (2, shared), (3, shared)], "doc_id long, text string"))
    doubled = store.union(store)  # replayed append

    # cap of 4: the REAL bucket (3 members) fits, the doubled count (6)
    # would overflow it — dedupe inside cross_dup_pairs must keep the
    # bucket alive and find all three pairs
    hits = cross_dup_pairs(probe, doubled, threshold=0.9, max_bucket=4)
    assert {r.id_store for r in hits.collect()} == {1, 2, 3}


# --- streaming custom-KB ingest (S7/S8 for continuous feeds) -------------------


def _write_nt(path, lines):
    import os
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for ln in lines:
            f.write(ln + "\n")


def test_kb_ingest_stream_append_and_upsert(spark, tmp_path):
    from entity_extraction_svc_spark.plans import lineage as L
    from entity_extraction_svc_spark.streaming.ingest import kb_ingest_stream

    src = str(tmp_path / "nt_in")
    out = str(tmp_path / "kb_store")
    ck = str(tmp_path / "ck1")
    _write_nt(f"{src}/a.nt", [
        '<http://we/Q1> <http://wl/label> "Ada" .',
        '<http://we/Q1> <http://wpd/P31> <http://we/Q5> .',
        '<http://we/Q2> <http://wl/label> "Paris"@fr .',
    ])
    q = kb_ingest_stream(spark, src, out, ck)
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.read.parquet(L.triples_path(out)).collect()}
    assert got == {("Q1", "label", "Ada"), ("Q1", "P31", "Q5"),
                   ("Q2", "label", "Paris")}

    # second file: upsert replaces ALL of Q1's rows, leaves Q2 untouched
    _write_nt(f"{src}/b.nt", [
        '<http://we/Q1> <http://wl/label> "Ada Lovelace" .',
    ])
    q2 = kb_ingest_stream(spark, src, out, ck, upsert=True)
    q2.awaitTermination(120)
    got = {tuple(r) for r in
           spark.read.parquet(L.triples_path(out)).distinct().collect()}
    assert got == {("Q1", "label", "Ada Lovelace"),
                   ("Q2", "label", "Paris")}


def test_kb_ingest_stream_restart_is_noop(spark, tmp_path):
    from entity_extraction_svc_spark.plans import lineage as L
    from entity_extraction_svc_spark.streaming.ingest import kb_ingest_stream

    src = str(tmp_path / "nt_in")
    out = str(tmp_path / "kb_store")
    ck = str(tmp_path / "ck")
    _write_nt(f"{src}/a.nt", ['<http://we/Q9> <http://wpd/P31> <http://we/Q5> .'])
    q = kb_ingest_stream(spark, src, out, ck)
    q.awaitTermination(120)
    n1 = spark.read.parquet(L.triples_path(out)).distinct().count()
    # same checkpoint, no new files: restart admits nothing
    q2 = kb_ingest_stream(spark, src, out, ck)
    q2.awaitTermination(120)
    n2 = spark.read.parquet(L.triples_path(out)).distinct().count()
    assert n1 == n2 == 1
