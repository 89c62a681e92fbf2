"""Substring-level dedup: duplicated token windows, maximal spans,
keep-first stripping, and winnowed fingerprints (Lee et al. 2022 policy,
Schleimer et al. 2003 winnowing guarantee)."""

import hashlib

import pytest

from entity_extraction_svc_spark.operators.dedup import (
    strip_dup_spans,
    substring_dup_spans,
    substring_dup_windows,
    substring_windows,
    winnow_dup_groups,
    winnow_fingerprints,
)


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta u1 t1"),
            (2, "p2 alpha beta gamma delta epsilon zeta eta theta o2"),
            (3, "totally different words here nothing shared at all"),
            (4, "short one"),
            (5, "short one"),
            (6, "Alpha  BETA gamma\tdelta epsilon zeta eta theta x y"),
        ],
        "doc_id int, text string",
    )


def test_windows_positions_and_short_docs(spark, corpus):
    occ = substring_windows(corpus, k=4)
    rows = {(r.doc_id, r.pos): (r.wlen, r.wh) for r in occ.collect()}
    # doc 1 has 10 tokens -> 7 windows, all wlen 4
    assert {(d, p) for (d, p) in rows if d == 1} == {(1, p) for p in range(1, 8)}
    assert all(rows[(1, p)][0] == 4 for p in range(1, 8))
    # short doc -> one whole-text window at pos 1, wlen = token count
    assert rows[(4, 1)][0] == 2
    # hash is md5 of the window text (engine-portable definition)
    expect = hashlib.md5(b"alpha beta gamma delta").hexdigest()
    assert rows[(1, 1)][1] == expect
    # normalization: case/whitespace folds, so doc 6 shares doc 1's windows
    assert rows[(6, 1)][1] == expect


def test_dup_windows_keeper_and_counts(spark, corpus):
    dups = {r.wh: r for r in substring_dup_windows(corpus, k=4).collect()}
    w1 = hashlib.md5(b"alpha beta gamma delta").hexdigest()
    assert dups[w1].n_occ == 3 and dups[w1].n_docs == 3
    assert (dups[w1].keeper_id, dups[w1].keeper_pos) == (1, 1)
    short = hashlib.md5(b"short one").hexdigest()
    assert dups[short].n_occ == 2 and dups[short].keeper_id == 4
    # no singleton hashes leak through
    assert all(r.n_occ > 1 for r in dups.values())


def test_spans_merge_maximal_run(spark, corpus):
    spans = {
        (r.doc_id, r.span_start): (r.span_end, r.span_tokens)
        for r in substring_dup_spans(corpus, k=4).collect()
    }
    # docs 1/2/6 share an 8-token run; doc 2's copy starts at token 2
    assert spans[(1, 1)] == (8, 8)
    assert spans[(2, 2)] == (9, 8)
    assert spans[(6, 1)] == (8, 8)
    # short exact dups: span covers the whole 2-token doc (capped by wlen)
    assert spans[(4, 1)] == (2, 2)
    assert spans[(5, 1)] == (2, 2)
    # the unique doc has no spans
    assert not any(d == 3 for (d, _s) in spans)


def test_strip_keeps_first_occurrence_only(spark, corpus):
    out = {
        r.doc_id: r.text_stripped
        for r in strip_dup_spans(corpus, k=4).collect()
    }
    # keeper copy (lowest doc id) survives verbatim (normalized)
    assert out[1] == "alpha beta gamma delta epsilon zeta eta theta u1 t1"
    # later copies lose the repeated block but keep their unique tokens
    assert out[2] == "p2 o2"
    assert out[6] == "x y"
    # untouched doc rides through normalized
    assert out[3] == "totally different words here nothing shared at all"
    # whole-doc duplicate is fully stripped, not resurrected
    assert out[4] == "short one"
    assert out[5] == ""


def test_winnow_guarantee_shared_run(spark):
    # any shared run of >= k + w - 1 tokens must share a fingerprint,
    # whatever the alignment: embed the same 10-token run (k=4, w=4 ->
    # guarantee at >= 7) at every offset 0..6 in otherwise-unique docs
    run = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"
    rows = [(0, "base0 " * 0 + run)]
    for off in range(1, 7):
        prefix = " ".join(f"u{off}x{j}" for j in range(off))
        rows.append((off, f"{prefix} {run}"))
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    fp = winnow_fingerprints(docs, k=4, w=4)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.h)
    base = by_doc[0]
    for off in range(1, 7):
        assert base & by_doc[off], f"offset {off} shares no fingerprint"


def test_winnow_matches_reference_implementation(spark):
    # pin the selected set against a direct python re-implementation of
    # leftmost-min winnowing over the same md5-derived 60-bit hashes
    text = "a b c a b c d e f g a b c d x y z w v u"
    k, w = 3, 4
    docs = spark.createDataFrame([(1, text)], "doc_id int, text string")
    toks = text.split()
    grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
    hs = [
        int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams
    ]
    expected = set()
    for i in range(max(len(hs) - w + 1, 1)):
        window = hs[i:i + w]
        m = min(window)
        expected.add((window.index(m) + i + 1, m))
    got = {(r.pos, r.h) for r in winnow_fingerprints(docs, k=k, w=w).collect()}
    assert got == expected


def test_winnow_short_doc_still_fingerprinted(spark):
    docs = spark.createDataFrame(
        [(1, "only two"), (2, "only two")], "doc_id int, text string"
    )
    groups = winnow_dup_groups(docs, k=4, w=4).collect()
    assert len(groups) == 1 and groups[0].n_docs == 2
    assert groups[0].keeper_id == 1


def test_winnow_density_reduction(spark, corpus):
    # the scale claim: selected fingerprints ~ 2/(w+1) of window count
    full = substring_windows(corpus, k=4).count()
    sel = winnow_fingerprints(corpus, k=4, w=4).count()
    assert sel < full


def test_empty_docs_excluded(spark):
    # zero-token docs have no substrings — they must not form dup groups
    # (and the empty string is NULL-vs-'' engine-dependent in SQL oracles)
    docs = spark.createDataFrame(
        [(1, ""), (2, ""), (3, "   "), (4, "real words here now"),
         (5, None), (6, None), (7, "\t\n\x0b ")],
        "doc_id int, text string",
    )
    assert {r.doc_id for r in substring_windows(docs, k=4).collect()} == {4}
    assert substring_dup_windows(docs, k=4).count() == 0
    assert substring_dup_spans(docs, k=4).count() == 0
    assert {r.doc_id for r in winnow_fingerprints(docs, k=4, w=4).collect()} == {4}
    stripped = {r.doc_id: r.text_stripped
                for r in strip_dup_spans(docs, k=4).collect()}
    assert stripped == {1: "", 2: "", 3: "", 4: "real words here now",
                        5: "", 6: "", 7: ""}


def test_strip_protects_keepers_under_overlap(spark):
    # review counterexample: occurrences of two DIFFERENT duplicated
    # windows overlap so that one window's removable occurrence covers
    # the other window's keeper tokens.  k=2; '0' = "q r", 'a' = "p q r",
    # 'b' = "p q": window (p,q)'s keeper is ('a',1) but window (q,r)'s
    # keeper is ('0',1), making ('a',2) removable — without keeper
    # protection that removal deletes the q of ('a',1) and NO verbatim
    # copy of "p q" survives anywhere
    docs = spark.createDataFrame(
        [("0", "q r"), ("a", "p q r"), ("b", "p q")],
        "doc_id string, text string",
    )
    out = {r.doc_id: r.text_stripped
           for r in strip_dup_spans(docs, k=2).collect()}
    # the keeper copies survive verbatim...
    assert "p q" in out["a"]
    assert out["0"] == "q r"
    # ...and the non-keeper copies are removed
    assert out["b"] == ""
    # doc a's own "q r" copy is a NON-keeper of window (q,r): its
    # unprotected token r is removed (the documented partial removal),
    # leaving exactly the protected keeper block
    assert out["a"] == "p q"


def _python_passes(df) -> int:
    """The ``MapInPandas`` passes in ``df``'s final adaptive plan, after
    an action (the plan's text up to its ``== Initial Plan ==``)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0].count("MapInPandas")


def test_substring_ops_run_one_window_pass(spark, corpus):
    # the window stream is read once: spans tokenize once, and stripping
    # adds only the rebuild of the affected documents
    assert _python_passes(substring_dup_spans(corpus, k=4)) == 1
    assert _python_passes(strip_dup_spans(corpus, k=4)) <= 2
