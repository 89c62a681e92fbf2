"""Deterministic document embeddings via the feature-hashing trick.

A learned encoder is the production embedder; at pipeline-plumbing level the
hashing trick (Weinberger et al. 2009, arXiv:0902.2206) gives a REAL,
scalable, model-free embedding: token ``t`` adds ``sign(h(t))`` to bucket
``h(t) mod dim``; the vector is L2-normalized.  Properties that matter here:

* row-local and stateless — the bucket sums run per document in the
  dedup module's tokenizer pass, with no vocabulary, so a 100 TB scan
  needs no shuffle;
* md5-derived hashing, so the DuckDB oracle reproduces every component
  bit-for-bit (same trick as operators/dedup.py);
* identical texts embed identically (cos = 1), token-overlapping texts
  correlate — exactly what the downstream dedup/ANN operators key on.

This closes the documents -> embeddings -> (semantic_dedup | ANN index)
loop without external data: ``hash_embed(documents)`` feeds every operator
that takes an ``embedding array`` column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_extraction_svc_spark.operators.dedup import _py_h64, token_rows


def hash_embed(docs: DataFrame, dim: int = 16, text_col: str = "text",
               id_col: str = "doc_id",
               out_col: str = "embedding") -> DataFrame:
    """(id, embedding: array<double>) — signed feature-hash embedding.

    The tokenizer pass (``dedup.token_rows``) sums each document's signed
    token hashes into ``dim`` buckets; the sums are small integers, exact
    in a double whatever the order.  The L2 normalization and the
    ``round(v / norm, 6)`` stay in Catalyst: ``F.round`` rounds HALF_UP,
    numpy and Python round half-to-even.
    """
    def buckets(toks):
        raw = [0.0] * dim
        for t in toks:
            h = _py_h64(t)
            raw[h % dim] += 1.0 if h >> 8 & 1 else -1.0
        return (raw,)

    staged = token_rows(docs.select(id_col, text_col), buckets,
                        "_raw array<double>", text_col)
    norm = F.sqrt(
        F.aggregate("_raw", F.lit(0.0), lambda acc, v: acc + v * v)
    )
    vec = F.transform("_raw", lambda v: F.round(v / F.greatest(norm, F.lit(1e-12)), 6))
    return staged.select(F.col(id_col), vec.alias(out_col))
