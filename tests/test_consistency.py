"""Output-shape consistency sweep + SQL-API surface.

The reference's test_html.py posts real pages and asserts all ten parallel
response arrays stay consistent at both nesting levels; the relational
analogue: per-mention candidate ranks are dense from 0, mention ids are
dense per url, and every linked row references a detected mention.  Plus the
spark.sql surface over the same tables (the engine is DataFrame *and* SQL).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_linked_rank_sequences_dense(pipeline):
    bad = (
        pipeline.linked.groupBy("url", "mention_id")
        .agg(
            F.count("*").alias("n"),
            F.min("rank").alias("rmin"),
            F.max("rank").alias("rmax"),
            F.countDistinct("rank").alias("rdist"),
        )
        .filter(
            (F.col("rmin") != 0)
            | (F.col("rmax") != F.col("n") - 1)
            | (F.col("rdist") != F.col("n"))
        )
        .count()
    )
    assert bad == 0
    # top-5 cut (reference num_entities_to_return=5)
    assert pipeline.linked.agg(F.max("rank")).first()[0] <= 4


def test_every_linked_row_has_a_mention(pipeline):
    """Linked spans are exactly the detected mention spans (no orphans)."""
    m = pipeline.mentions.select("url", "start", "end").distinct()
    l = pipeline.linked.select("url", "start", "end").distinct()
    assert l.join(m, ["url", "start", "end"], "left_anti").count() == 0


def test_confidence_bounds_and_ordering(pipeline):
    rows = pipeline.linked.filter(F.col("qid").isNotNull()).select(
        "url", "mention_id", "rank", "conf"
    ).collect()
    by_mention: dict = {}
    for r in rows:
        by_mention.setdefault((r.url, r.mention_id), []).append((r.rank, r.conf))
    for spans in by_mention.values():
        spans.sort()
        confs = [c for _, c in spans]
        assert all(0.0 <= c <= 1.0 for c in confs)
        # the reference's 20-iteration smoothing makes confs non-increasing
        assert all(a >= b for a, b in zip(confs, confs[1:])), confs


def test_sql_api_surface(spark, pipeline, fixture_dir):
    """The same tables queried through spark.sql: join linked mentions to the
    KB and aggregate triples per tag — the SQL face of the engine."""
    pipeline.linked.createOrReplaceTempView("linked")
    spark.read.parquet(f"{fixture_dir}/kb_entities.parquet").createOrReplaceTempView(
        "kb_entities"
    )
    out = spark.sql(
        """
        SELECT e.tag, count(DISTINCT l.qid) AS n_entities,
               count(*) AS n_mentions
        FROM linked l JOIN kb_entities e ON l.qid = e.qid
        WHERE l.rank = 0
        GROUP BY e.tag
        ORDER BY n_mentions DESC
        """
    ).collect()
    assert sum(r.n_mentions for r in out) == pipeline.linked.filter(
        (F.col("rank") == 0) & F.col("qid").isNotNull()
    ).count()
    assert {r.tag for r in out} <= {
        "PER", "CITY", "COUNTRY", "ORG", "BUSINESS", "FAC", "WORK_OF_ART",
        "LITERARY_WORK", "FILM", "SONG", "PRODUCT",
    }


_LINK_PAGES = """
import json, sys
sys.path.insert(0, sys.argv[1])
import pyarrow.parquet as pq
from entity_extraction_svc_spark.functions import htmltext
from entity_extraction_svc_spark.operators.tagger import load_tagger
from entity_extraction_svc_spark.plans import fused
from entity_extraction_svc_spark.sources.kb import collect_linker_dicts
kb = sys.argv[2]
gaz = pq.read_table(f"{kb}/gazetteer.parquet").to_pylist()
tagger = load_tagger(gaz)
d = collect_linker_dicts(None, kb)
rows = []
for p in pq.read_table(f"{kb}/pages.parquet").to_pylist():
    if p["url"].endswith(("/00000001", "/00000021")):
        text = htmltext.preprocess_html(p["html"])
        rows += fused.link_page(d, tagger, fused._fine_tag_lookup(gaz),
                                p["url"], text, p["lang"] or "en")
print(json.dumps(rows, sort_keys=True))
"""


def test_conn_scores_do_not_depend_on_the_hash_seed(fixture_dir):
    """``link_page`` gives identical rows, connection scores included,
    under two ``PYTHONHASHSEED`` values (the driver-side linker gets a
    random seed unless one is set).  The two pages are ones whose scores
    moved with the seed while the connection scoring walked Python sets."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = []
    for seed in ("1", "2"):
        p = subprocess.run(
            [sys.executable, "-c", _LINK_PAGES, repo, fixture_dir],
            env={**os.environ, "PYTHONHASHSEED": seed},
            capture_output=True, text=True, check=True)
        out.append(json.loads(p.stdout))
    assert out[0] and out[0] == out[1]
    assert any(r["conn_score_notag"] for r in out[0])
