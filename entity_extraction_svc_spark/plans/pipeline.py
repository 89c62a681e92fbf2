"""End-to-end pipeline assembly: pages -> ... -> triples.

The named artifacts of one KG build, all lazily-built DataFrames over the
same pages:

    extracted  extract_text (pandas UDF): the byte-identical text per url
    mentions   plans.fused.fused_mentions: extract -> chunk -> NER decode
               -> fine-tag lookup, one narrow mapInPandas
    linked     plans.fused.build_fused: the same pass through the linker
    triples    the broadcast semi-join against the KB triples, subject-hash
               partitioned

Every artifact runs the fused plan's per-document code; the only wide
exchanges are the ones inside the triples materialization.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from entity_extraction_svc_spark.operators.extract import extract_text
from entity_extraction_svc_spark.plans.fused import (
    build_fused,
    fused_mentions,
    kb_broadcasts,
)


@dataclass
class PipelineArtifacts:
    pages: DataFrame
    extracted: DataFrame
    mentions: DataFrame
    linked: DataFrame
    triples: DataFrame


def build_pipeline(
    spark: SparkSession,
    pages_path: str,
    kb_dir: str,
    source: str = "html",
) -> PipelineArtifacts:
    return build_pipeline_df(spark, spark.read.parquet(pages_path), kb_dir,
                             source)


def build_pipeline_df(
    spark: SparkSession,
    pages: DataFrame,
    kb_dir: str,
    source: str = "html",
) -> PipelineArtifacts:
    linked, triples = build_fused(spark, pages, kb_dir, source)
    # the image build_fused just built (kb_broadcasts keeps one per local KB)
    tagger_bc, fine_bc, _ = kb_broadcasts(spark, kb_dir)
    return PipelineArtifacts(
        pages,
        extract_text(pages, source=source),
        fused_mentions(pages, tagger_bc, fine_bc, source),
        linked,
        triples,
    )
