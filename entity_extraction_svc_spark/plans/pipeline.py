"""End-to-end pipeline assembly: pages -> ... -> triples.

One lazily-built DataFrame DAG (SURVEY.md §3.1 Spark equivalent):

    read -> extract_text (pandas UDF) -> chunk (mapInPandas, 1->N)
         -> offset-shift window -> detect_mentions (mapInPandas)
         -> classify_tags (broadcast join) -> link (cogrouped applyInPandas)
         -> triples (broadcast semi-join) -> subject-hash partitioned write

Wide operations: the url window/cogroup shuffle and the final subject-hash
repartition — everything else is narrow and stays in one stage per branch.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from entity_extraction_svc_spark.operators.chunker import chunk
from entity_extraction_svc_spark.operators.eltags import classify_tags
from entity_extraction_svc_spark.operators.extract import extract_text
from entity_extraction_svc_spark.operators.linker import link_entities_df
from entity_extraction_svc_spark.operators.ner import (
    detect_mentions,
    with_offset_shift,
)
from entity_extraction_svc_spark.operators.tagger import load_tagger
from entity_extraction_svc_spark.operators.triples import materialize_triples
from entity_extraction_svc_spark.sources.kb import collect_linker_dicts


@dataclass
class PipelineArtifacts:
    pages: DataFrame
    extracted: DataFrame
    chunks: DataFrame
    mentions: DataFrame
    linked: DataFrame
    triples: DataFrame


def build_pipeline(
    spark: SparkSession,
    pages_path: str,
    kb_dir: str,
    source: str = "html",
    input_partitions: int | None = None,
) -> PipelineArtifacts:
    """``input_partitions`` spreads a small single-file input across workers
    (a test/bench concern only — a production table arrives in many splits
    and maxPartitionBytes governs; forcing a repartition there would shuffle
    the full html payload for nothing)."""
    pages = spark.read.parquet(pages_path)
    if input_partitions is not None:
        pages = pages.repartition(input_partitions)
    return build_pipeline_df(spark, pages, kb_dir, source)


def build_pipeline_df(
    spark: SparkSession,
    pages: DataFrame,
    kb_dir: str,
    source: str = "html",
    cache_chunks: bool = True,
) -> PipelineArtifacts:
    """``cache_chunks`` persists the chunk table (MEMORY_AND_DISK): it feeds
    BOTH cogroup sides of the link stage (mentions derive from it too), so
    without the cache the extract+chunk subtree executes twice per action.
    The chunk table is the cheapest full-corpus representation (html is
    dropped, text deduped per chunk) — at cluster scale this is the stage
    you'd checkpoint to scratch storage instead."""
    from pyspark import StorageLevel

    extracted = extract_text(pages, source=source)
    chunks = with_offset_shift(chunk(extracted))
    if cache_chunks:
        chunks = chunks.persist(StorageLevel.MEMORY_AND_DISK)

    from entity_extraction_svc_spark.sources.kb import read_dim_rows

    gaz_df = spark.read.parquet(f"{kb_dir}/gazetteer.parquet")
    gaz_rows = read_dim_rows(spark, f"{kb_dir}/gazetteer.parquet")
    tagger_bc = spark.sparkContext.broadcast(load_tagger(gaz_rows))
    dicts_bc = spark.sparkContext.broadcast(collect_linker_dicts(spark, kb_dir))

    raw_mentions = detect_mentions(chunks, tagger_bc)
    mentions = classify_tags(raw_mentions, gaz_df)
    linked = link_entities_df(mentions, chunks, dicts_bc)

    kb_triples = spark.read.parquet(f"{kb_dir}/kb_triples.parquet")
    triples = materialize_triples(linked, kb_triples)
    return PipelineArtifacts(pages, extracted, chunks, mentions, linked, triples)
