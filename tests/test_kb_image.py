"""The fused plan builds its KB broadcast image once per KB and rebuilds
it when the KB files or the model spec change."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest

from entity_extraction_svc_spark.plans import fused
from entity_extraction_svc_spark.plans.fused import KB_IMAGE_FILES


@pytest.fixture
def images(monkeypatch):
    """Record the broadcast handles each build_fused call plans with."""
    seen = []
    fused_link = fused.fused_link

    def spy(pages, tagger_bc, dicts_bc, fine_bc, source="html"):
        seen.append((tagger_bc, dicts_bc, fine_bc))
        return fused_link(pages, tagger_bc, dicts_bc, fine_bc, source)

    monkeypatch.setattr(fused, "fused_link", spy)
    return seen


def _same(a, b) -> bool:
    return all(x is y for x, y in zip(a, b))


def _build(spark, kb_dir):
    pages = spark.read.parquet(f"{kb_dir}/pages.parquet").limit(5)
    return fused.build_fused(spark, pages, kb_dir)


@pytest.fixture
def kb_copy(tmp_path, fixture_dir):
    for name in (*KB_IMAGE_FILES, "pages"):
        shutil.copy(os.path.join(fixture_dir, f"{name}.parquet"), tmp_path)
    return str(tmp_path)


def test_two_builds_reuse_the_broadcasts(spark, fixture_dir, images):
    _build(spark, fixture_dir)
    linked, _ = _build(spark, fixture_dir)
    assert _same(images[0], images[1])
    assert linked.filter("rank = 0 and qid is not null").count() > 0


def test_rewritten_kb_file_rebuilds(spark, kb_copy, images):
    _build(spark, kb_copy)
    path = os.path.join(kb_copy, "kb_aliases.parquet")
    table = pq.read_table(path)
    pq.write_table(table.slice(0, table.num_rows - 1), path)
    _build(spark, kb_copy)
    _build(spark, kb_copy)
    assert not _same(images[0], images[1])
    assert _same(images[1], images[2])


def test_model_spec_change_rebuilds(spark, kb_copy, images, monkeypatch):
    from entity_extraction_svc_spark.operators.tagger import (
        TwoHeadedGazetteerTagger,
    )

    monkeypatch.delenv("SPARK_KG_MODEL", raising=False)
    _build(spark, kb_copy)
    monkeypatch.setenv("SPARK_KG_MODEL", "gazetteer2")
    _build(spark, kb_copy)
    assert not _same(images[0], images[1])
    assert isinstance(images[1][0].value, TwoHeadedGazetteerTagger)


def test_kb_without_local_stat_builds_per_call(spark, fixture_dir, images):
    uri = "file://" + os.path.abspath(fixture_dir)
    assert fused._kb_image_key(spark.sparkContext, uri) is None
    _build(spark, uri)
    _build(spark, uri)
    assert not _same(images[0], images[1])


def test_concurrent_callers_share_one_build(spark, kb_copy):
    """Threads asking for a not-yet-built image all get the one build."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [pool.submit(fused.kb_broadcasts, spark, kb_copy)
                       for _ in range(8)]
            results = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert all(_same(results[0], r) for r in results[1:])
