"""Benchmark decontamination: eval-set n-gram overlap detection.

Before training on a web corpus you must find (and usually drop) documents
that textually overlap the evaluation benchmarks, or downstream eval
numbers are meaningless.  The standard recipe (GPT-3 appendix C,
arXiv:2005.14165; Dodge et al. C4 audit, arXiv:2104.08758) flags a
training document when it shares any word n-gram (n in the 8-13 range)
with any eval document.

Scale shape: the eval side is always small (benchmarks are 10^3-10^5
rows), the corpus side is the 100 TB one.  So the corpus is NEVER
shuffled on the gram: eval n-grams are collected into a distinct set and
broadcast-joined against the corpus n-grams; the per-document overlap
count is a map-side-combinable groupBy on ``doc_id``.  The plan is
scan -> tokenizer pass (each document's distinct n-grams, row-local) ->
broadcast semi-join -> partial agg: one narrow shuffle of the (tiny)
surviving matches only.

The n-grams are the dedup module's shingles (``dedup._py_shingles`` in
the ``dedup.token_rows`` pass, short documents included) so
contamination, MinHash and Jaccard all agree on what "the same n-gram"
means.

The reference service has no decontamination stage (it is a per-request
annotator); this is part of the training-data surface the engine adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_extraction_svc_spark.operators.dedup import _py_shingles, token_rows

# 8-gram default: GPT-3 used 13-grams on very long documents; C4/Dodge use
# shorter windows. 8 keeps short eval rows (questions, prompts) detectable.
DEFAULT_N = 8


def _grams(docs: DataFrame, n: int, text_col: str) -> DataFrame:
    """(<the other columns of docs>, gram): each document's DISTINCT word
    n-grams, deduplicated row-locally so (doc, gram) rows are unique
    without a shuffle."""
    keep = [c for c in docs.columns if c != text_col]
    return token_rows(
        docs, lambda toks: (list(dict.fromkeys(_py_shingles(toks, n))),),
        "_g array<string>", text_col,
    ).select(*keep, F.explode("_g").alias("gram"))


def eval_ngrams(eval_docs: DataFrame, n: int = DEFAULT_N,
                text_col: str = "text") -> DataFrame:
    """Distinct word n-grams of the eval set: one ``gram`` column.

    This is the broadcast side; dedupe BEFORE broadcasting so the hash
    relation holds each gram once however often benchmarks repeat it.
    """
    return _grams(eval_docs.select(text_col), n, text_col).distinct()


def contamination(docs: DataFrame, eval_docs: DataFrame,
                  n: int = DEFAULT_N, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Per-document contamination report against an eval set.

    Returns (id, n_overlap, contaminated): the number of DISTINCT n-grams
    the document shares with any eval document, and the flag a filter
    would act on.  Every input document gets a row (clean docs report 0),
    so the output is a total audit, not just the hit list.
    """
    hits = (
        _grams(docs.select(id_col, text_col), n, text_col)
        .join(F.broadcast(eval_ngrams(eval_docs, n, text_col)), "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_overlap"))
    )
    return docs.select(id_col).join(hits, id_col, "left").select(
        id_col,
        F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
        (F.coalesce("n_overlap", F.lit(0)) > 0).alias("contaminated"),
    )


def decontaminate(docs: DataFrame, eval_docs: DataFrame,
                  n: int = DEFAULT_N, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Drop every contaminated document (all input columns preserved).
    The broadcast anti-join keeps the corpus unshuffled."""
    bad = (
        _grams(docs.select(id_col, text_col), n, text_col)
        .join(F.broadcast(eval_ngrams(eval_docs, n, text_col)), "gram")
        .select(id_col)
        .distinct()
    )
    return docs.join(bad, id_col, "left_anti")
