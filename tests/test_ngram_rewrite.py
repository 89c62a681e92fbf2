"""Equivalence tests for the r6 ngram_jaccard_pairs rewrite.

The operator moved from a windowed inverted-index self-join + pair groupBy
to a prefix-filtered candidate join (crc32 total order, order-statistics
count bound) with row-local array verification.  These tests pin the OUTPUT
against a direct pure-Python reference implementing the r2 semantics
exactly: candidates share >= 1 shingle with df <= max_df, n_shared counts
only such shingles, the denominator uses full distinct sizes, jaccard is
rounded to 6 then thresholded.
"""

from __future__ import annotations

import random
import re
from collections import Counter

import pytest

_TRIM = "".join(chr(i) for i in range(0x21))


def _ref_pairs(rows, threshold, max_df=1000, n=3):
    """Pure-Python rendition of the pre-rewrite semantics."""
    sets, nall = {}, {}
    for id_, text in rows:
        s = re.sub(r"\s+", " ", (text or "").lower(), flags=re.ASCII)
        toks = [t for t in s.strip(_TRIM).split(" ") if t]
        if len(toks) >= n:
            shs = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
        else:
            shs = {" ".join(toks)}
        sets[id_], nall[id_] = shs, len(shs)
    df = Counter(s for shs in sets.values() for s in shs)
    hot = {s for s, c in df.items() if c > max_df}
    out = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len((sets[a] - hot) & (sets[b] - hot))
            if inter == 0:
                continue  # old plan: no candidate without a capped shared shingle
            j = inter / (nall[a] + nall[b] - inter)
            if round(j, 6) >= threshold:
                out[(a, b)] = j
    return out


def _corpus(seed=7, n_docs=120):
    """Random small-vocab corpus with engineered near-dups and edge docs."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(n_docs):
        toks = [rng.choice(vocab) for _ in range(rng.randint(8, 40))]
        rows.append((i, " ".join(toks)))
    # near-dups: mutate ~15% of tokens of some docs
    for i in range(0, 40, 4):
        toks = rows[i][1].split(" ")
        for _ in range(max(1, len(toks) // 7)):
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
        rows.append((1000 + i, " ".join(toks)))
    # exact dups, empties, tiny docs, whitespace junk, null text
    rows += [
        (2001, rows[3][1]),
        (2002, ""),
        (2003, ""),
        (2004, None),
        (2005, "w1"),
        (2006, "w1 w2"),
        (2007, "w1 w2"),
        (2008, "w1  w2\t w3\n"),
        (2009, "w1 w2 w3"),
    ]
    return rows


def _run(spark, rows, threshold, **kw):
    from entity_extraction_svc_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.jaccard
           for r in ngram_jaccard_pairs(docs, threshold=threshold, **kw).collect()}
    spark.catalog.clearCache()
    return got


@pytest.mark.parametrize("threshold", [0.25, 0.5, 0.8])
def test_matches_reference(spark, threshold):
    rows = _corpus()
    want = _ref_pairs(rows, threshold)
    got = _run(spark, rows, threshold)
    assert set(got) == set(want)
    for k, j in want.items():
        assert abs(got[k] - round(j, 6)) < 1e-9


def test_max_df_cap_matches_reference(spark):
    """A small cap exercises the hot-shingle literal array_except branch."""
    rows = _corpus(seed=11, n_docs=80)
    want = _ref_pairs(rows, 0.4, max_df=10)
    got = _run(spark, rows, 0.4, max_df=10)
    assert set(got) == set(want)
    for k, j in want.items():
        assert abs(got[k] - round(j, 6)) < 1e-9


def test_hot_fallback_branch_matches(spark, monkeypatch):
    """Forcing HOT_LITERAL_LIMIT to 0 runs the anti-join re-aggregation
    branch (plain string order there) — output must be unchanged."""
    from entity_extraction_svc_spark.operators import dedup

    rows = _corpus(seed=13, n_docs=60)
    want = _ref_pairs(rows, 0.4, max_df=10)
    monkeypatch.setattr(dedup, "HOT_LITERAL_LIMIT", 0)
    got = _run(spark, rows, 0.4, max_df=10)
    assert set(got) == set(want)


def test_tiny_doc_channel(spark):
    """Pairs whose required overlap is <= 1 (both docs 1-2 shingles) must
    surface via the tiny-doc channel, including single-shared-shingle
    pairs the >= 2 collision filter would drop."""
    rows = [
        (1, "a b"),          # 1 shingle: "a b"
        (2, "a b"),          # identical -> jaccard 1.0
        (3, "a b c d"),      # 2 shingles
        (4, "b c d e"),      # shares "b c d" with 3 -> 1/(2+2-1)=1/3
        (5, "zz yy"),
    ]
    got = _run(spark, rows, 0.3)
    want = _ref_pairs(rows, 0.3)
    assert set(got) == set(want)
    assert got[(1, 2)] == 1.0
    assert abs(got[(3, 4)] - round(1 / 3, 6)) < 1e-9


def test_non_broadcast_verify_path(spark):
    """broadcast_docs_limit=0 forces the AQE-planned verify joins; the
    pair set must not change."""
    rows = _corpus(seed=17, n_docs=60)
    want = _ref_pairs(rows, 0.5)
    got = _run(spark, rows, 0.5, broadcast_docs_limit=0)
    assert set(got) == set(want)


def test_py_norm_tokens_matches_jvm(spark):
    """The one tokenizer splits exactly the Catalyst normalizer's text into
    non-empty tokens, and the tokenizer pass's n=3 shingles are the DuckDB
    oracle's wherever DuckDB normalizes a text as the JVM does."""
    import duckdb

    from __spark_entry__ import _NORM, _SHINGLES
    from entity_extraction_svc_spark.operators.dedup import (
        _norm_text,
        _py_norm_tokens,
        _py_shingles,
        token_rows,
    )

    texts = [
        "", None, "  ", "\t\n", "A  B\tC", "a\x0bb", "Mixed CASE  txt",
        "trailing  ", "  leading", "woßrd", "İstanbul",
        "a b", "x " * 5, "\x01ab c\x02", "\x00 x",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    jvm = {r["i"]: r["norm"] for r in df.select(
        "i", _norm_text("text").alias("norm")).collect()}
    for i, t in enumerate(texts):
        toks = _py_norm_tokens(t)
        assert " ".join(toks) == jvm[i], (i, t)
        assert "" not in toks, (i, t)

    emitted = {r["i"]: r["sh"] for r in token_rows(
        df, lambda toks: (_py_shingles(toks, 3),), "sh array<string>"
    ).collect()}
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    oracle = {i: (norm, sh) for i, norm, sh in con.execute(
        f"SELECT i, {_NORM}, {_SHINGLES} FROM documents").fetchall()}
    agree = [i for i in jvm if oracle[i][0] == jvm[i]]
    # DuckDB's \s (RE2) leaves out \x0b, and its lower maps İ to a plain
    # i where the JVM keeps the combining dot: the only edge inputs it
    # normalizes apart from the JVM
    assert sorted(set(jvm) - set(agree)) == [
        texts.index("a\x0bb"), texts.index("İstanbul")]
    for i in agree:
        assert emitted[i] == oracle[i][1], (i, texts[i])
