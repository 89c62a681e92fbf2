"""Physical-plan regression tests: the properties that matter at 100 TB.

These lock in what `.explain("formatted")` showed during tuning — if a
refactor reintroduces a full-column scan, drops a broadcast, or turns the
top-k into a global sort, these fail before any benchmark does.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_fused_scan_prunes_columns(spark, fixture_dir):
    """The pages scan must read only (url, html, lang) — never text/warc_ts
    (html dominates row size; the rest is pure waste at petabyte scan)."""
    from entity_extraction_svc_spark.plans.fused import build_fused

    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    linked, _ = build_fused(spark, pages, fixture_dir)
    plan = _plan(linked)
    assert "ReadSchema: struct<url:string,html:binary,lang:string>" in plan
    # one narrow pass: no exchange anywhere before the UDF
    assert "Exchange" not in plan


def test_triples_plan_broadcast_semi_and_pushdown(spark, fixture_dir):
    """Triples materialization: pred whitelist reaches the parquet scan as a
    pushed filter; the distinct-QID set broadcasts (never shuffles the
    triple store); output repartitions by subject hash."""
    from entity_extraction_svc_spark.plans.fused import build_fused

    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    _, triples = build_fused(spark, pages, fixture_dir)
    plan = _plan(triples)
    assert "PushedFilters: [In(pred, " in plan
    assert "BroadcastHashJoin LeftSemi" in plan.replace("  ", " ")
    assert "hashpartitioning(subj" in plan


def test_cosine_topk_plan(spark):
    """Top-k must be TakeOrderedAndProject (no global sort) with the query
    vector broadcast and the id filter pushed to the scan."""
    from entity_extraction_svc_spark.operators.simsearch import cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    plan = _plan(cosine_topk(emb, 0, 10))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "PushedFilters: [IsNotNull(vec_id), Not(EqualTo(vec_id,0))]" in plan


def test_mentions_scan_prunes_columns(pipeline):
    """The mentions artifact is the fused pass stopped before the linker:
    it reads only (url, html, lang) and never shuffles (the fine-tag
    lookup is a broadcast dict, not a join)."""
    plan = _plan(pipeline.mentions)
    assert "ReadSchema: struct<url:string,html:binary,lang:string>" in plan
    assert "Exchange" not in plan


def test_minhash_is_shuffle_free(spark):
    """Signature computation is row-local: no DATA-DEPENDENT exchange in
    the plan.  The one allowed exchange is the round-robin scan widening
    (r6, scanwide.widen_scan) that spreads an under-split small file over
    the cores — never a hash/range partitioning."""
    from entity_extraction_svc_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = _plan(minhash_signatures(docs))
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_widen_scan_logs_a_failed_probe(spark, monkeypatch, caplog):
    """A probe that fails leaves the input as it is and says so in the
    log, naming the exception."""
    import logging

    from entity_extraction_svc_spark.operators import scanwide

    def failing_probe(self):
        raise RuntimeError("probe unavailable")

    df = spark.range(10)
    monkeypatch.setattr(type(df), "rdd", property(failing_probe))
    with caplog.at_level(logging.WARNING, logger=scanwide.__name__):
        assert scanwide.widen_scan(df) is df
    assert "RuntimeError: probe unavailable" in caplog.text


def test_bucketed_triples_join_has_no_exchange(spark, fixture_dir, tmp_path):
    """Co-located joins: a subj-subj self-join (2-hop traversal) over the
    bucketed triples table plans WITHOUT any Exchange — the bucketing
    contract that removes the dominant shuffle from graph traversals at
    trillion-triple scale."""
    from pyspark.sql import functions as F

    from entity_extraction_svc_spark.operators.triples import (
        write_triples_bucketed,
    )

    triples = spark.read.parquet(f"{fixture_dir}/kb_triples.parquet")
    spark.sql("DROP TABLE IF EXISTS t_bucketed")
    write_triples_bucketed(triples, "t_bucketed", num_buckets=8,
                           path=str(tmp_path / "t_bucketed"))
    t = spark.table("t_bucketed")
    # the fixture table is tiny so the planner would broadcast; disable it
    # to expose the sort-merge path a trillion-triple store would take
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = t.alias("a").join(t.alias("b"),
                                   F.col("a.subj") == F.col("b.subj"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # no shuffle: both sides bucket-aligned
        assert "SortMergeJoin" in plan
        assert joined.count() > 0
        # per-subject agg over the bucketed table: also exchange-free
        agg = t.groupBy("subj").count()
        agg_plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in agg_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
