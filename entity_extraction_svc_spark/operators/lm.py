"""Corpus-trained n-gram LM scoring (CCNet-style quality bucketing).

CCNet (arXiv:1911.00359) ranks web documents by the perplexity of a
language model and keeps the low-perplexity head/middle; the same score
drives mixture weighting in most LLM data pipelines.  A full neural LM is
out of scope (and out of sandbox), but the classic add-k-smoothed bigram
model is exactly expressible as two relational passes, scales to 100 TB,
and produces the same head/middle/tail ordering signal:

  pass 1 (train): explode (w1, w2) bigrams -> groupBy counts.  Both the
    bigram and unigram tables are wordcount-shaped shuffles with map-side
    partial aggregation; vocabulary size V is a 1-row aggregate.
  pass 2 (score): explode each document's bigrams WITH multiplicity, join
    the count tables on (w1, w2) / w1, and average -log2 p(w2 | w1) per
    document.  The joins are plain equi-joins on token keys — AQE handles
    the Zipf skew ("the", "of") via skew-join splitting, and the model
    tables can be broadcast when the vocabulary is bounded.

    p(w2 | w1) = (c(w1 w2) + k) / (c(w1) + k * V)

Scoring the training corpus itself (the usual audit) guarantees c(w1) > 0;
scoring fresh text against a trained model hits unseen histories, where
the left joins coalesce both counts to 0 and the formula degrades to the
uniform k / (k V) floor — no special-casing, no NaNs.

Tokens and n-grams come from the dedup module's tokenizer pass
(``dedup.token_rows``) so LM scores, shingles and fingerprints agree on
token identity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_extraction_svc_spark.operators.dedup import token_rows

DEFAULT_K = 0.5
LOG2 = 0.6931471805599453  # ln(2); log2(x) = ln(x)/ln(2), identical in DuckDB


def _doc_ngrams(docs: DataFrame, text_col: str, id_col: str,
                n: int) -> DataFrame:
    """(id, w1, ..., wn) with multiplicity, one row per run of n adjacent
    tokens: the tokenizer pass emits the n position-aligned token slices
    of each document, and Catalyst zips and explodes them."""
    ws = [f"w{i}" for i in range(1, n + 1)]

    def aligned(toks):
        m = max(len(toks) - n + 1, 0)
        return tuple(toks[i:i + m] for i in range(n))

    slices = token_rows(docs.select(id_col, text_col), aligned,
                        ", ".join(f"{w} array<string>" for w in ws), text_col)
    return (
        slices.select(id_col, F.explode(F.arrays_zip(*ws)).alias("_g"))
        .select(id_col, *[F.col(f"_g.{w}").alias(w) for w in ws])
    )


def train_bigram_lm(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> tuple[DataFrame, DataFrame]:
    """Count tables (unigrams: w, c1; bigrams: w1, w2, c12) over the corpus.

    Unigram counts are token occurrences (all positions), the standard MLE
    denominator approximation; both aggregations are map-side combinable.
    """
    uni = (
        _doc_ngrams(docs, text_col, id_col, 1)
        .groupBy(F.col("w1").alias("w"))
        .agg(F.count("*").alias("c1"))
    )
    bi = (
        _doc_ngrams(docs, text_col, id_col, 2)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
    )
    return uni, bi


def score_cross_entropy(docs: DataFrame, model=None,
                        k: float = DEFAULT_K, text_col: str = "text",
                        id_col: str = "doc_id", order: int = 2) -> DataFrame:
    """Per-document cross-entropy in bits/token (lower = more "natural"
    under the corpus distribution, the CCNet ordering).

    ``order=2`` (default): add-k bigram, returns (id, n_bigrams,
    cross_entropy).  ``order=3``: Jelinek-Mercer-interpolated trigram
    (``score_cross_entropy_interpolated``), returns (id, n_trigrams,
    cross_entropy).  Documents shorter than the order have no n-grams and
    score NULL (not 0 — "no evidence" must not sort as "perfectly
    natural").  ``model`` defaults to training on ``docs`` itself (the
    self-audit).
    """
    if order == 3:
        return score_cross_entropy_interpolated(
            docs, model, k, DEFAULT_LAMBDAS, text_col, id_col)
    if order != 2:
        raise ValueError(f"unsupported n-gram order {order}")
    uni, bi = model if model is not None else train_bigram_lm(docs, text_col, id_col)
    # V as a 1-row dimension, crossJoined so scoring stays one lazy plan
    vocab = uni.agg(F.count("*").alias("_v"))
    scored = (
        _doc_ngrams(docs, text_col, id_col, 2)
        .join(bi, ["w1", "w2"], "left")
        .join(uni, F.col("w1") == uni["w"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(id_col),
            (
                -(
                    F.log(
                        (F.coalesce("c12", F.lit(0)) + F.lit(k))
                        / (F.coalesce("c1", F.lit(0)) + F.lit(k) * F.col("_v"))
                    )
                    / F.lit(LOG2)
                )
            ).alias("_bits"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("_bits"), 6).alias("cross_entropy"),
    )
    return docs.select(id_col).join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        "cross_entropy",
    )


# Jelinek-Mercer weights (trigram, bigram, unigram) — fixed, not EM-tuned:
# the label must be a pure function of (document, corpus), like every
# other gate here
DEFAULT_LAMBDAS = (0.5, 0.3, 0.2)


def train_trigram_lm(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> tuple[DataFrame, DataFrame, DataFrame]:
    """(unigrams, bigrams, trigrams) count tables — the bigram table serves
    both as the trigram history denominator c(w1 w2) and the middle
    interpolation order's numerator c(w2 w3)."""
    uni, bi = train_bigram_lm(docs, text_col, id_col)
    tri = (
        _doc_ngrams(docs, text_col, id_col, 3)
        .groupBy("w1", "w2", "w3")
        .agg(F.count("*").alias("c123"))
    )
    return uni, bi, tri


def score_cross_entropy_interpolated(
        docs: DataFrame,
        model: tuple[DataFrame, DataFrame, DataFrame] | None = None,
        k: float = DEFAULT_K, lambdas: tuple[float, float, float] = DEFAULT_LAMBDAS,
        text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document cross-entropy under a Jelinek-Mercer-interpolated
    trigram model — the higher-order CCNet-style scorer:

      p(w3 | w1 w2) = l3*(c123+k)/(c12_h+kV) + l2*(c23+k)/(c2+kV)
                    + l1*(c3+k)/(N+kV)

    Each order is the same add-k estimator the bigram path uses; unseen
    histories degrade order by order toward the uniform floor, so fresh
    text scores without special cases.  All five model joins are
    token-keyed equi-joins (AQE splits the Zipf-head skew); shape is the
    bigram scorer's with one more wordcount pass.  Returns
    (id, n_trigrams, cross_entropy); docs with < 3 tokens score NULL."""
    l3, l2, l1 = lambdas
    uni, bi, tri = (model if model is not None
                    else train_trigram_lm(docs, text_col, id_col))
    dims = uni.agg(
        F.count("*").alias("_v"), F.sum("c1").cast("double").alias("_n")
    )
    kv = F.lit(k) * F.col("_v")
    p3 = (F.coalesce("c123", F.lit(0)) + F.lit(k)) / (
        F.coalesce("c12_h", F.lit(0)) + kv)
    p2 = (F.coalesce("c23", F.lit(0)) + F.lit(k)) / (
        F.coalesce("c1_2", F.lit(0)) + kv)
    p1 = (F.coalesce("c1_3", F.lit(0)) + F.lit(k)) / (F.col("_n") + kv)
    scored = (
        _doc_ngrams(docs, text_col, id_col, 3)
        .join(tri, ["w1", "w2", "w3"], "left")
        .join(bi.select(F.col("w1"), F.col("w2"),
                        F.col("c12").alias("c12_h")), ["w1", "w2"], "left")
        .join(bi.select(F.col("w1").alias("w2"), F.col("w2").alias("w3"),
                        F.col("c12").alias("c23")), ["w2", "w3"], "left")
        .join(uni.select(F.col("w").alias("w2"),
                         F.col("c1").alias("c1_2")), "w2", "left")
        .join(uni.select(F.col("w").alias("w3"),
                         F.col("c1").alias("c1_3")), "w3", "left")
        .crossJoin(F.broadcast(dims))
        .select(
            F.col(id_col),
            (-(F.log(F.lit(l3) * p3 + F.lit(l2) * p2 + F.lit(l1) * p1)
               / F.lit(LOG2))).alias("_bits"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").alias("n_trigrams"),
        F.round(F.avg("_bits"), 6).alias("cross_entropy"),
    )
    return docs.select(id_col).join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_trigrams", F.lit(0)).cast("long").alias("n_trigrams"),
        "cross_entropy",
    )


def perplexity_bucket(docs: DataFrame, head: float = 4.0, middle: float = 8.0,
                      k: float = DEFAULT_K, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """CCNet head/middle/tail assignment by fixed bits/token thresholds
    (fixed, not quantile, so the label is a pure function of the document
    + model — stable under corpus growth, like sampling.hash_split).
    Unscoreable docs (< 2 tokens) land in 'tail'."""
    ce = score_cross_entropy(docs, None, k, text_col, id_col)
    return ce.select(
        id_col,
        "n_bigrams",
        "cross_entropy",
        F.when(F.col("cross_entropy") <= head, "head")
        .when(F.col("cross_entropy") <= middle, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
