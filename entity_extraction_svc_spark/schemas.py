"""Fixed StructType schemas for the pipeline's tables.

The reference is row-oriented and schemaless-in-code (positional ragged
lists, SURVEY.md §1.1); here the input, the triples and the
lineage/metrics tables have fixed schemas so Catalyst can prune/push down
and reads skip schema inference.  The mention and linked row schemas sit
with the code that emits them (``plans.fused.MENTIONS_SCHEMA``,
``operators.linker.LINKED_SCHEMA``).
"""

from __future__ import annotations

from pyspark.sql.types import (
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

# ---- triples ----------------------------------------------------------------
TRIPLES = StructType(
    [
        StructField("subj", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj", StringType(), False),
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
