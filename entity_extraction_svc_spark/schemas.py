"""Fixed StructType schemas for every stage of the pipeline.

The reference is row-oriented and schemaless-in-code (positional ragged
lists, SURVEY.md §1.1); here every stage boundary is a fixed schema so
Catalyst can prune/push down and Arrow batches stay typed.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---- input table (BASELINE.json input_hint) --------------------------------
PAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# ---- extracted text --------------------------------------------------------
EXTRACTED = StructType(
    [
        StructField("url", StringType(), False),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# ---- doc -> chunk explode (reference ner_chunker.py:67-179) ----------------
SENT_OFFSET = StructType(
    [StructField("s", IntegerType(), False), StructField("e", IntegerType(), False)]
)
CHUNKS = StructType(
    [
        StructField("url", StringType(), False),
        StructField("chunk_id", IntegerType(), False),
        StructField("chunk_text", StringType(), False),
        StructField("sentences", ArrayType(StringType()), False),
        StructField("sentences_offsets", ArrayType(SENT_OFFSET), False),
    ]
)

# ---- mention rows (after NER decode + doc-offset merge) --------------------
TAG_PROBA = StructType(
    [StructField("proba", DoubleType(), False), StructField("tag", StringType(), False)]
)
MENTIONS = StructType(
    [
        StructField("url", StringType(), False),
        StructField("mention_id", LongType(), False),
        StructField("substr", StringType(), False),
        StructField("start", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("sent_id", IntegerType(), False),
        StructField("tag", StringType(), False),
        StructField("proba", DoubleType(), False),
        StructField("tags_with_probas", ArrayType(TAG_PROBA), True),
    ]
)

# ---- linked candidates (top-5 per mention) ---------------------------------
LINKED = StructType(
    [
        StructField("url", StringType(), False),
        StructField("mention_id", LongType(), False),
        StructField("substr", StringType(), False),
        StructField("start", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("rank", IntegerType(), False),
        StructField("qid", StringType(), True),
        StructField("conf", DoubleType(), True),
        StructField("page", StringType(), True),
        StructField("ent_tag", StringType(), True),
        StructField("substr_score", DoubleType(), True),
        StructField("num_rels", LongType(), True),
        StructField("conn_score_notag", LongType(), True),
        StructField("conn_score_tag", LongType(), True),
    ]
)

# ---- triples ----------------------------------------------------------------
TRIPLES = StructType(
    [
        StructField("subj", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj", StringType(), False),
    ]
)

# ---- KB tables (FIXTURES.md §2; mirrors src/queries.py:2-4 + pickle dicts) --
KB_ENTITIES = StructType(
    [
        StructField("qid", StringType(), False),
        StructField("label", StringType(), False),
        StructField("num_rels", LongType(), False),
        StructField("tag", StringType(), False),
        StructField("page", StringType(), True),
        StructField("descr", StringType(), True),
        StructField("p31", ArrayType(StringType()), True),
        StructField("p131", ArrayType(StringType()), True),
        StructField("p641", ArrayType(StringType()), True),
        StructField("image_link", StringType(), True),
        StructField("categories", ArrayType(StringType()), True),
        StructField("dbpedia_types", ArrayType(StringType()), True),
    ]
)
KB_ALIASES = StructType(
    [
        StructField("alias", StringType(), False),
        StructField("qid", StringType(), False),
        StructField("name_or_alias", StringType(), False),
    ]
)

# ---- lineage / metrics (north rule: per-partition lineage rows) -------------
LINEAGE = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("url", StringType(), False),
        StructField("n_mentions", IntegerType(), False),
        StructField("n_linked", IntegerType(), False),
        StructField("max_link_score", DoubleType(), True),
    ]
)
METRICS = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("n_urls", LongType(), False),
        StructField("n_mentions", LongType(), True),
        StructField("n_linked", LongType(), True),
        StructField("max_link_score", DoubleType(), True),
    ]
)
