"""Text-analysis operators for large-scale training-data pipelines.

Language-ID (stopword-ratio heuristic), quality scoring (length / punct /
stopword ratios), token counting (whitespace + BPE-ish regex), and document
fingerprinting.  All pure built-in column expressions (JVM-side, whole-stage
codegen) — no Python in the hot path, so they survive a 100 TB scan at full
parquet throughput with column pruning (only ``text`` is read).  The one
exception is the Gopher repetition statistics, which count n-grams in the
dedup module's tokenizer pass.

The reference's analogues are its mention filters and normalization chain
(``annotators/entity_extraction_base/server.py:131-140``,
``src/entity_detection_parser.py:154-249``); these generalize them into
corpus-level per-document statistics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small fixed head of the English stopword list (functions/stopwords.py holds
# the full NLTK list); kept literal so the DuckDB oracle can embed the same
# set.  Order-insensitive membership only.
LANG_ID_STOPWORDS = (
    "the of and to in a is that it was for on are with as be at by this have "
    "from or had not but what all were when we there can an your which their"
).split()

# BPE-ish word/punct tokenizer — the reference's NER word tokenizer
# (src/torch_transformers_preprocessor.py:73): [\w']+|[^\w ]
TOKEN_RE = r"[\w']+|[^\w\s]"


def _tokens(col: Column) -> Column:
    """Whitespace tokens of lowercased text (empty strings removed)."""
    return F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != "")


def stat_exprs(text_col: str = "text") -> dict[str, Column]:
    """The per-document statistic COLUMNS (rounded, final form) keyed by
    their ``doc_stats`` output names.  Exposed so composed pipelines
    (``plans/curate``) can inline the quality gate into one projection
    instead of a per-id join — same expressions, zero extra scan."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    toks = _tokens(text)
    n_ws = F.size(toks)
    n_re = F.size(F.filter(F.regexp_extract_all(text, F.lit(TOKEN_RE), 0), lambda t: t != ""))
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    sw = F.array([F.lit(w) for w in LANG_ID_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_ws > 0, n_stop / n_ws).otherwise(F.lit(0.0))
    mean_tok = F.when(
        n_ws > 0,
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)) / n_ws,
    ).otherwise(F.lit(0.0))
    # quality: long enough, not punctuation soup, some stopwords (prose-like);
    # an empty document scores 0
    quality = F.when(
        n_chars > 0,
        F.least(n_ws / F.lit(50.0), F.lit(1.0)) * F.lit(0.4)
        + (F.lit(1.0) - F.least(punct_ratio * F.lit(4.0), F.lit(1.0))) * F.lit(0.3)
        + F.least(stop_ratio * F.lit(3.0), F.lit(1.0)) * F.lit(0.3),
    ).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars.cast("long"),
        "n_ws_tokens": n_ws.cast("long"),
        "n_re_tokens": n_re.cast("long"),
        "punct_ratio": F.round(punct_ratio, 6),
        "stopword_ratio": F.round(stop_ratio, 6),
        "mean_token_len": F.round(mean_tok, 6),
        "quality_score": F.round(quality, 6),
    }


def doc_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality statistics.

    Columns: n_chars, n_ws_tokens (whitespace), n_re_tokens (word/punct
    regex), punct_ratio, stopword_ratio, mean_token_len, quality_score.
    """
    e = stat_exprs(text_col)
    return docs.select(
        F.col(id_col), *[c.alias(name) for name, c in e.items()]
    )


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            threshold: float = 0.08) -> DataFrame:
    """N-gram/stopword heuristic language ID: English iff the share of
    whitespace tokens that are common-English stopwords exceeds ``threshold``
    and the text is ASCII-dominant; Cyrillic-dominant text -> 'ru'."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    toks = _tokens(text)
    n = F.size(toks)
    sw = F.array([F.lit(w) for w in LANG_ID_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n_cyr = F.length(text) - F.length(F.regexp_replace(text, r"[Ѐ-ӿ]", ""))
    ratio = F.when(n > 0, n_stop / n).otherwise(F.lit(0.0))
    pred = (
        F.when(F.length(text) == 0, F.lit("unk"))
        .when(n_cyr * 2 > F.length(text), F.lit("ru"))
        .when(ratio >= threshold, F.lit("en"))
        .otherwise(F.lit("unk"))
    )
    return docs.select(
        F.col(id_col), F.round(ratio, 6).alias("stopword_ratio"),
        pred.alias("lang_pred"),
    )


def quality_exprs(text_col: str = "text", min_score: float = 0.5,
                  min_tokens: int = 5,
                  max_punct_ratio: float = 0.2) -> tuple[Column, Column]:
    """(keep, reasons) as inline column expressions over the text — the
    joinless form of ``quality_filter`` (same rounded stats, identical
    verdicts).  Composed pipelines select these next to other row-local
    gates so Catalyst bundles everything into one scan."""
    e = stat_exprs(text_col)
    reasons = F.array_compact(
        F.array(
            F.when(e["n_ws_tokens"] < min_tokens, F.lit("too_short")),
            F.when(e["punct_ratio"] > max_punct_ratio, F.lit("punct_soup")),
            F.when(e["quality_score"] < min_score, F.lit("low_quality")),
        )
    )
    return (F.size(reasons) == 0), reasons


def quality_filter(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                   min_score: float = 0.5, min_tokens: int = 5,
                   max_punct_ratio: float = 0.2) -> DataFrame:
    """Training-corpus keep/drop decision with reason codes.

    Returns (id, keep, reasons) where reasons lists every violated rule —
    the auditable form a data pipeline needs (silent drops are undebuggable
    at 10^12 docs).  Pure column expressions over doc_stats."""
    keep, reasons = quality_exprs(text_col, min_score, min_tokens,
                                  max_punct_ratio)
    return docs.select(
        F.col(id_col), keep.alias("keep"), reasons.alias("reasons")
    )


def fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic document fingerprint: md5 of the whitespace-normalized
    lowercased text (the exact-dedup key), plus a 64-bit rolling-hash variant
    (first 15 md5 hex chars as an integer — cheap to band/partition on)."""
    norm = F.trim(F.regexp_replace(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+", " "))
    md5 = F.md5(norm)
    return docs.select(
        F.col(id_col),
        md5.alias("fp_md5"),
        F.conv(F.substring(md5, 1, 15), 16, 10).cast("long").alias("fp_int64"),
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition statistics (Rae et al. 2021, arXiv:2112.11446 §A1.1)
# ---------------------------------------------------------------------------

def repetition_stats(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document repetition measures from the Gopher/MassiveText quality
    rules: the character fraction covered by the MOST FREQUENT word 2-gram,
    and the character fraction covered by DUPLICATED word 5-grams.

    Both are counted per document in the dedup module's tokenizer pass
    (``dedup.token_rows``): a hash count over the document's n-grams is
    linear, row-local, and needs no shuffle.  The most frequent 2-gram is
    picked by count with a (count, length) tie-break — a long
    once-occurring gram must not out-score a short high-count one.

    Character accounting uses len(gram)*count (gram text includes its
    separating spaces), normalized by the normalized-text length — the same
    definition the DuckDB oracle reproduces.
    """
    from collections import Counter

    from entity_extraction_svc_spark.operators.dedup import (
        _norm_text,
        _py_shingles,
        token_rows,
    )

    def coverage(toks):
        top = max((c, len(g)) for g, c in Counter(_py_shingles(toks, 2)).items())
        dup = sum(c * len(g) for g, c in Counter(_py_shingles(toks, 5)).items()
                  if c > 1)
        return top[0] * top[1], dup

    counted = token_rows(
        docs.select(id_col, text_col,
                    F.length(_norm_text(text_col)).alias("_n_chars")),
        coverage, "_top2 bigint, _dup5 bigint", text_col,
    )
    n_chars = F.greatest(F.col("_n_chars"), F.lit(1))
    return counted.select(
        id_col,
        F.round(F.col("_top2") / n_chars, 6).alias("top_2gram_char_frac"),
        F.round(F.col("_dup5") / n_chars, 6).alias("dup_5gram_char_frac"),
    )


def repetition_filter(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      max_top2: float = 0.20,
                      max_dup5: float = 0.15) -> DataFrame:
    """Gopher repetition gate: drop documents whose most-common 2-gram
    covers > ``max_top2`` of characters or whose duplicated 5-grams cover
    > ``max_dup5`` (the published thresholds are 0.20 / 0.15)."""
    stats = repetition_stats(docs, text_col, id_col)
    return stats.select(
        id_col,
        "top_2gram_char_frac",
        "dup_5gram_char_frac",
        (
            (F.col("top_2gram_char_frac") <= max_top2)
            & (F.col("dup_5gram_char_frac") <= max_dup5)
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# web-corpus hygiene: URL parsing + per-domain caps
# ---------------------------------------------------------------------------

URL_HOST_RE = r"^[a-z][a-z0-9+.-]*://([^/?#]+)"
URL_PATH_RE = r"^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)"


def url_parts(pages: DataFrame, url_col: str = "url",
              extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """host / registered-domain-ish suffix / path as column expressions
    (regexp in codegen — the DuckDB oracle uses the identical patterns).
    ``extra_cols`` ride along through the projection (cap_per_domain needs
    its order column to survive)."""
    host = F.regexp_extract(F.lower(F.col(url_col)), URL_HOST_RE, 1)
    parts = F.split(host, r"\.")
    n = F.size(parts)
    domain = F.when(
        n >= 2,
        F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1)),
    ).otherwise(host)
    return pages.select(
        F.col(url_col),
        host.alias("host"),
        domain.alias("domain"),
        F.regexp_extract(F.lower(F.col(url_col)), URL_PATH_RE, 1).alias("path"),
        *[F.col(c) for c in extra_cols],
    )


def cap_per_domain(pages: DataFrame, max_per_domain: int,
                   url_col: str = "url",
                   order_col: str | None = None) -> DataFrame:
    """Keep at most ``max_per_domain`` pages per registered domain — the
    standard crawl-balance step (one boilerplate-heavy host must not
    dominate the training mix).  Deterministic: rank by ``order_col``
    (default: the url itself) within domain; one shuffle on domain with the
    same AQE skew handling every windowed op gets.
    """
    from pyspark.sql.window import Window

    extras = (order_col,) if order_col and order_col != url_col else ()
    parts = url_parts(pages.select(url_col, *extras), url_col, extras)
    # deterministic total order: order_col can tie across pages, the url
    # cannot — rank by (order_col, url)
    order = [order_col, url_col] if extras else [url_col]
    w = Window.partitionBy("domain").orderBy(*order)
    keep = (
        parts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= max_per_domain)
        .select(url_col, "domain", F.col("rnk").alias("domain_rank"))
    )
    return pages.join(keep, url_col)
