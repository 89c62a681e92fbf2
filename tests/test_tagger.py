"""The model seam: O-threshold soft decode (N4), tag_batch protocol,
MergeMarkups MISC gating (T2), HF gating — each against a plain-Python
oracle (hand-traced expected values from the reference semantics:
entity_detection_parser.py:108-138, torch_transformers_preprocessor.py:231-356).
"""

from __future__ import annotations

import numpy as np
import pytest

from entity_extraction_svc_spark.operators.tagger import (
    HFTokenTagger,
    SoftGazetteerTagger,
    TaggedText,
    build_tags_init,
    decode_tagged,
    load_tagger,
    merge_markups_text,
    tags_from_probas,
)

TAGS = build_tags_init(["LOC", "PER"])  # O, B-LOC, I-LOC, B-PER, I-PER

GAZ_ROWS = [
    {"surface": "Paris", "coarse_tag": "LOC", "fine_tag": "CITY", "num_rels": 5},
    {"surface": "Marie Curie", "coarse_tag": "PER", "fine_tag": "PER", "num_rels": 9},
]


# ---------------------------------------------------------------------------
# N4: O-threshold decode
# ---------------------------------------------------------------------------

def _oracle_tags_from_probas(probas, tags_init, thres):
    """Independent literal re-implementation of the reference rule."""
    tags, tps = [], []
    for p in probas:
        best = max(range(len(p)), key=lambda i: p[i])
        if p[0] < thres:
            best = max(range(1, len(p)), key=lambda i: p[i])
        tags.append(tags_init[best])
        tps.append(p[best])
    return tags, tps


def test_o_threshold_long_text():
    """5 tokens -> thres 0.81: p(O)=0.85 stays O even with a non-O runner-up;
    p(O)=0.79 forces the best non-O tag."""
    probas = np.array([
        [0.85, 0.10, 0.05, 0.00, 0.00],   # O kept (0.85 >= 0.81)
        [0.79, 0.15, 0.06, 0.00, 0.00],   # forced B-LOC @ 0.15
        [0.05, 0.90, 0.05, 0.00, 0.00],   # B-LOC @ 0.9
        [0.90, 0.05, 0.05, 0.00, 0.00],   # O
        [0.82, 0.00, 0.00, 0.18, 0.00],   # O kept (0.82 >= 0.81)
    ])
    tags, tps = tags_from_probas(probas, TAGS, short_text=False)
    o_tags, o_tps = _oracle_tags_from_probas(probas.tolist(), TAGS, 0.81)
    assert tags == o_tags == ["O", "B-LOC", "B-LOC", "O", "O"]
    assert tps == pytest.approx(o_tps)
    assert tps[1] == pytest.approx(0.15)


def test_o_threshold_short_text_uses_090():
    """<=3 tokens -> thres 0.9 (entity_detection_parser.py:108-111): the
    same p(O)=0.85 row that stayed O in a long text is forced non-O."""
    row = [0.85, 0.10, 0.05, 0.00, 0.00]
    probas = np.array([row, row, row])
    short, _ = tags_from_probas(probas, TAGS, short_text=True)
    long_, _ = tags_from_probas(np.array([row] * 4), TAGS, short_text=False)
    assert short == ["B-LOC"] * 3
    assert long_ == ["O"] * 4


def test_decode_tagged_end_to_end():
    """Soft probas -> N4 -> BIO decode: a borderline B/I run becomes one
    mention with the mean proba of its tokens (round 4)."""
    tokens = ["visited", "Marie", "Curie", "today", "definitely"]
    offsets = [(0, 7), (8, 13), (14, 19), (20, 25), (26, 36)]
    probas = np.array([
        [0.95, 0.00, 0.00, 0.05, 0.00],
        [0.20, 0.00, 0.00, 0.80, 0.00],   # B-PER
        [0.30, 0.00, 0.00, 0.00, 0.70],   # I-PER
        [0.95, 0.05, 0.00, 0.00, 0.00],
        [0.92, 0.08, 0.00, 0.00, 0.00],
    ])
    out = decode_tagged(TaggedText(tokens, offsets, probas), TAGS)
    assert out == [("marie curie", 8, 19, round((0.8 + 0.7) / 2, 4), "PER")]


# ---------------------------------------------------------------------------
# stand-in parity: soft gazetteer == round-1 hard gazetteer
# ---------------------------------------------------------------------------

def test_soft_gazetteer_matches_hard():
    from entity_extraction_svc_spark.operators.ner import (
        GazetteerTagger,
        decode_bio,
        tokenize_with_offsets,
    )

    texts = [
        "Marie Curie moved to Paris.",
        "paris",                          # 1 token -> short-text threshold
        "Nothing notable here at all.",
        "",
    ]
    soft = SoftGazetteerTagger.from_rows(GAZ_ROWS)
    hard = GazetteerTagger.from_rows(GAZ_ROWS)
    tagged = soft.tag_batch(texts)
    for text, tt in zip(texts, tagged):
        tokens, offsets = tokenize_with_offsets(text)
        if tokens:
            tags, probas = hard.tag(tokens)
            expect = decode_bio(tokens, tags, probas, offsets)
        else:
            expect = []
        assert decode_tagged(tt, soft.tags_init) == expect


def test_soft_overrides_flow_through_spark(spark):
    """Synthetic borderline probabilities flow through the DISTRIBUTED
    fused_mentions path and match the local plain-Python decode."""
    from entity_extraction_svc_spark.functions.htmltext import preprocess_text
    from entity_extraction_svc_spark.plans.fused import fused_mentions

    over = {
        "ambiguous": {"O": 0.79, "B-LOC": 0.15, "I-LOC": 0.06},  # forced B-LOC
        "borderline": {"O": 0.85, "B-PER": 0.15},                # stays O (long)
    }
    tagger = SoftGazetteerTagger.from_rows(GAZ_ROWS, soft_overrides=over)
    texts = [
        "the ambiguous borderline case appeared in reports yesterday",
        "Marie Curie saw the ambiguous sign",
    ]
    pages = spark.createDataFrame(
        [(f"u{i}", t) for i, t in enumerate(texts)],
        "url string, text string",
    )
    sc = spark.sparkContext
    got = {
        (r.url, r.substr, r.start, r.end, r.proba, r.tag)
        for r in fused_mentions(pages, sc.broadcast(tagger), sc.broadcast({}),
                                source="text").collect()
    }
    expect = set()
    for i, t in enumerate(texts):
        # one short sentence is one chunk of the preprocessed text
        for substr, start, end, proba, tag in decode_tagged(
            tagger.tag_batch([preprocess_text(t)])[0], tagger.tags_init
        ):
            expect.add((f"u{i}", substr, start, end, proba, tag))
    assert got == expect
    assert ("u0", "ambiguous", 4, 13, 0.15, "LOC") in got  # N4 fired
    assert not any(s == "borderline" for (_, s, *_rest) in got)


# ---------------------------------------------------------------------------
# T2: MergeMarkups MISC gating
# ---------------------------------------------------------------------------

FINE = ["PER", "LOC", "ORG"]


def _mm(tokens, y_types, y_spans, **kw):
    return merge_markups_text(tokens, y_types, y_spans, FINE,
                              stopwords={"the"}, **kw)


def test_merge_markups_basic_span():
    out = _mm(
        ["Paris", "Hilton", "visited"],
        [[0.6, 0.3, 0.1], [0.8, 0.1, 0.1], [0.1, 0.1, 0.8]],
        ["B-PER", "I-PER", "O"],
    )
    assert out["y"] == ["B-PER", "I-PER", "O"]
    assert out["entities"] == ["Paris Hilton"]
    assert out["positions"] == [[0, 1]]
    assert out["tags"] == ["PER"] and out["probas"] == [0.7]


def test_merge_markups_misc_gate_088():
    """MISC span: conf 0.95 > 0.88 keeps the fine tag; conf 0.5 <= 0.88 is
    dropped entirely (the deployed INCLUDE_MISC=1/MISC_THRES=0.88 knobs)."""
    confident = _mm(["rome"], [[0.95, 0.04, 0.01]], ["B-MISC"])
    assert confident["entities"] == ["rome"] and confident["tags"] == ["PER"]
    weak = _mm(["rome"], [[0.5, 0.4, 0.1]], ["B-MISC"])
    assert weak["entities"] == [] and weak["y"] == ["O"]
    # exactly at the threshold: strict > means dropped
    edge = _mm(["rome"], [[0.88, 0.1, 0.02]], ["B-MISC"])
    assert edge["entities"] == []


def test_merge_markups_include_misc_off():
    out = _mm(["rome"], [[0.95, 0.04, 0.01]], ["B-MISC"], include_misc=False)
    assert out["y"] == ["O"] and out["entities"] == []


def test_merge_markups_two_word_rule():
    """Non-MISC gate: conf must clear long_ent_thres, OR ent_thres when the
    span is <= 2 words.  conf=0.35 with thresholds (0.4, 0.3): a 2-word span
    passes via ent_thres, a 3-word span fails both."""
    two = _mm(
        ["Acme", "Corp", "x"],
        [[0.1, 0.2, 0.35]] * 3,
        ["B-ORG", "I-ORG", "O"],
        long_ent_thres=0.4, ent_thres=0.3,
    )
    assert two["entities"] == ["Acme Corp"] and two["tags"] == ["ORG"]
    three = _mm(
        ["Acme", "Corp", "Intl"],
        [[0.1, 0.2, 0.35]] * 3,
        ["B-ORG", "I-ORG", "I-ORG"],
        long_ent_thres=0.4, ent_thres=0.3,
    )
    assert three["entities"] == [] and three["y"] == ["O", "O", "O"]


def test_merge_markups_i_after_o_opens():
    out = _mm(
        ["went", "Paris", "today"],
        [[0.1, 0.1, 0.8], [0.2, 0.7, 0.1], [0.1, 0.1, 0.8]],
        ["O", "I-LOC", "O"],
    )
    assert out["entities"] == ["Paris"] and out["tags"] == ["LOC"]


def test_merge_markups_stopword_skipped_but_tagged():
    """A stopword entity gets its y BIO labels but is not emitted."""
    out = _mm(["the"], [[0.2, 0.7, 0.1]], ["B-LOC"])
    assert out["y"] == ["B-LOC"] and out["entities"] == []


def test_merge_markups_top_n():
    out = _mm(
        ["Paris"], [[0.2, 0.7, 0.1]], ["B-LOC"], top_n=2,
    )
    assert out["tags"] == [["LOC", "PER"]]
    assert out["probas"] == [[0.7, 0.2]]
    misc = _mm(["Paris"], [[0.2, 0.91, 0.1]], ["B-MISC"], top_n=2)
    assert misc["tags"] == [["MISC", "LOC"]]


def test_merge_markups_distributed_matches_local(spark):
    """The port inside mapInPandas == the same port on the driver."""
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401

    cases = [
        (["Paris", "Hilton"], [[0.6, 0.3, 0.1], [0.8, 0.1, 0.1]], ["B-PER", "I-PER"]),
        (["rome"], [[0.95, 0.04, 0.01]], ["B-MISC"]),
        (["rome"], [[0.5, 0.4, 0.1]], ["B-MISC"]),
    ]
    df = spark.createDataFrame(
        [(i, t, [list(map(float, r)) for r in ty], sp)
         for i, (t, ty, sp) in enumerate(cases)],
        "id long, tokens array<string>, y_types array<array<double>>, "
        "y_spans array<string>",
    )

    def run(batches):
        for pdf in batches:
            rows = []
            for i, t, ty, sp in zip(pdf["id"], pdf["tokens"], pdf["y_types"],
                                    pdf["y_spans"]):
                out = merge_markups_text(list(t), [list(r) for r in ty],
                                         list(sp), FINE, stopwords={"the"})
                rows.append({
                    "id": int(i),
                    "entities": out["entities"],
                    "tags": [str(x) for x in out["tags"]],
                })
            yield pd.DataFrame(rows, columns=["id", "entities", "tags"])

    got = {
        r.id: (list(r.entities), list(r.tags))
        for r in df.mapInPandas(
            run, "id long, entities array<string>, tags array<string>"
        ).collect()
    }
    for i, (t, ty, sp) in enumerate(cases):
        out = merge_markups_text(t, ty, sp, FINE, stopwords={"the"})
        assert got[i] == (out["entities"], [str(x) for x in out["tags"]])


# ---------------------------------------------------------------------------
# model switch + HF gating
# ---------------------------------------------------------------------------

def test_load_tagger_switch(monkeypatch):
    assert isinstance(load_tagger(GAZ_ROWS), SoftGazetteerTagger)
    monkeypatch.setenv("SPARK_KG_MODEL", "hf:some/checkpoint")
    t = load_tagger(GAZ_ROWS)
    assert isinstance(t, HFTokenTagger) and t.checkpoint == "some/checkpoint"
    monkeypatch.setenv("SPARK_KG_MODEL", "bogus")
    with pytest.raises(ValueError):
        load_tagger(GAZ_ROWS)


def test_hf_tagger_honest_gate_and_weightless_pickle():
    import pickle

    t = HFTokenTagger("bert-base-cased")
    state = pickle.loads(pickle.dumps(t)).__dict__
    assert state["checkpoint"] == "bert-base-cased"
    assert state["tags_init"] is None  # no weights/vocab in the broadcast
    try:
        import torch  # noqa: F401

        pytest.skip("torch present; gate not exercised")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        t.tag_batch(["hello world"])


def test_hf2_two_headed_spec_end_to_end(spark, fixture_dir, monkeypatch):
    """ROADMAP #5: a weightless hf2:<spans>|<types> spec drops into
    build_fused exactly like hf: — the tagger broadcasts WITHOUT weights
    (coarse_of dim data rides along, fine_tags does not), the plan builds,
    and executing without torch surfaces the honest NotImplementedError
    from the executor-side lazy load."""
    import pickle

    from entity_extraction_svc_spark.operators.tagger import (
        HFTwoHeadedTagger,
        load_tagger,
    )
    from entity_extraction_svc_spark.plans.fused import build_fused

    t = load_tagger(GAZ_ROWS, spec="hf2:org/spans-ckpt|org/types-ckpt")
    assert isinstance(t, HFTwoHeadedTagger)
    assert t.spans_checkpoint == "org/spans-ckpt"
    assert t.types_checkpoint == "org/types-ckpt"
    assert t.coarse_of == {"CITY": "LOC", "PER": "PER"}
    # single-checkpoint form serves both heads
    t1 = load_tagger(GAZ_ROWS, spec="hf2:org/both")
    assert t1.spans_checkpoint == t1.types_checkpoint == "org/both"

    t.fine_tags = ["CITY", "PER"]  # simulate a loaded executor copy
    t._sub_cache = {"hello": 2}
    state = pickle.loads(pickle.dumps(t)).__dict__
    assert state["fine_tags"] is None and "_sub_cache" not in state
    assert state["coarse_of"] == {"CITY": "LOC", "PER": "PER"}
    assert state["misc_thres"] == 0.88

    try:
        import torch  # noqa: F401

        pytest.skip("torch present; honest gate not exercised")
    except ImportError:
        pass

    monkeypatch.setenv("SPARK_KG_MODEL", "hf2:org/spans-ckpt|org/types-ckpt")
    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet").limit(2)
    linked, triples = build_fused(spark, pages, fixture_dir)  # plan builds
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import PythonException

    with pytest.raises((PythonException, Py4JJavaError)) as ex:
        linked.count()
    assert "NotImplementedError" in str(ex.value)


def test_two_headed_pipeline_misc_gate(spark, fixture_dir):
    """SPARK_KG_MODEL=gazetteer2: the two-headed decode runs IN-pipeline
    through merge_markups.  A MISC span with type confidence > 0.88 keeps
    its fine tag and still links; one at 0.5 is gated out entirely; default
    (non-misc, conf 0.97) pages link exactly as the single-head path."""
    import duckdb

    from entity_extraction_svc_spark.operators.tagger import (
        TwoHeadedGazetteerTagger,
        decode_two_headed,
    )
    from entity_extraction_svc_spark.plans.fused import (
        _fine_tag_lookup,
        fused_link,
        link_page,
    )
    from entity_extraction_svc_spark.sources.kb import (
        collect_linker_dicts,
        read_dim_rows,
    )

    gaz_rows = read_dim_rows(spark, f"{fixture_dir}/gazetteer.parquet")
    overrides = {
        "paris": {"misc": True, "conf": 0.95},    # gate passes, fine kept
        "louvre": {"misc": True, "conf": 0.5},    # gate drops the span
    }
    tagger = TwoHeadedGazetteerTagger.from_rows(gaz_rows, overrides=overrides)

    text = "The Mona Lisa is held at the Louvre in Paris."
    rec = tagger.tag_batch([text])[0]
    got = decode_two_headed(rec, tagger)
    by_sub = {m[0]: m for m in got}
    assert "louvre" not in by_sub            # 0.5 <= 0.88: gated out
    assert by_sub["paris"][4] == "CITY"      # 0.95 > 0.88: fine tag kept
    assert by_sub["paris"][5] == "GPE"
    assert by_sub["mona lisa"][4] == "WORK_OF_ART"  # non-misc default path

    # distributed == local oracle, and the surviving mentions still link
    pages = spark.createDataFrame(
        [("u1", text, "en")], "url string, text string, lang string"
    )
    dicts_bc = spark.sparkContext.broadcast(
        collect_linker_dicts(spark, fixture_dir)
    )
    fine_bc = spark.sparkContext.broadcast(_fine_tag_lookup(gaz_rows))
    tagger_bc = spark.sparkContext.broadcast(tagger)
    linked = fused_link(pages, tagger_bc, dicts_bc, fine_bc, source="text")
    rows = linked.filter("rank = 0").collect()
    local = link_page(dicts_bc.value, tagger, fine_bc.value, "u1",
                      text if text.endswith(".") else text + ".")
    # same text goes through preprocess_text in fused; compare the qid map
    got_spark = {r.substr: r.qid for r in rows}
    got_local = {m["substr"]: m["qid"] for m in local if m["rank"] == 0}
    assert got_spark == got_local
    assert got_spark.get("paris") == "Q90"
    assert "louvre" not in got_spark


def test_two_headed_fused_mentions(spark, fixture_dir):
    """fused_mentions accepts a two-headed tagger: coarse tag from the
    merge_markups decode, fine tag from the types head (no fine lookup),
    equal to the local decode."""
    from entity_extraction_svc_spark.operators.tagger import (
        TwoHeadedGazetteerTagger,
        decode_two_headed,
    )
    from entity_extraction_svc_spark.plans.fused import fused_mentions
    from entity_extraction_svc_spark.sources.kb import read_dim_rows

    gaz_rows = read_dim_rows(spark, f"{fixture_dir}/gazetteer.parquet")
    tagger = TwoHeadedGazetteerTagger.from_rows(gaz_rows)
    text = "The Mona Lisa is held at the Louvre in Paris."
    pages = spark.createDataFrame(
        [("u1", text, "en")], "url string, text string, lang string"
    )
    sc = spark.sparkContext
    got = {
        (r.substr, r.tag, r.fine_tag)
        for r in fused_mentions(pages, sc.broadcast(tagger), sc.broadcast({}),
                                source="text").collect()
    }
    expect = {
        (substr, coarse, None if fine == "MISC" else fine)
        for substr, _s, _e, _p, fine, coarse in decode_two_headed(
            tagger.tag_batch([text])[0], tagger)
    }
    assert got == expect
    got_coarse = {(substr, tag) for substr, tag, _fine in got}
    assert ("mona lisa", "WORK_OF_ART") in got_coarse
    assert ("paris", "GPE") in got_coarse and ("louvre", "FAC") in got_coarse


def test_merge_markups_use_o_tag():
    """use_o_tag=True: the types head's column 0 is an O column skipped in
    the per-tag accumulation (tags_list excludes O, k runs from 1)."""
    # with O column: [p_O, p_PER, p_LOC, p_ORG]
    out = merge_markups_text(
        ["Paris"], [[0.1, 0.2, 0.65, 0.05]], ["B-LOC"], FINE,
        use_o_tag=True, stopwords={"the"},
    )
    assert out["entities"] == ["Paris"]
    assert out["tags"] == ["LOC"] and out["probas"] == [0.65]
    # same distribution WITHOUT the O column must give the same result
    # via the default path (alignment check)
    out2 = merge_markups_text(
        ["Paris"], [[0.2, 0.65, 0.05]], ["B-LOC"], FINE, stopwords={"the"},
    )
    assert out2["tags"] == out["tags"] and out2["probas"] == out["probas"]


def test_subword_budget_pluggable():
    """N2: the chunk-packing budget accepts a model tokenizer's subword
    counter; an aggressive counter forces more, smaller chunks while the
    reassembled text stays identical."""
    from entity_extraction_svc_spark.operators.chunker import chunk_doc

    text = ". ".join(f"sentence number {i} with several words" for i in range(40)) + "."
    default = chunk_doc(text)
    fat = chunk_doc(text, subword_len=lambda tok: 40)  # every token is huge
    assert len(fat) > len(default)
    join = lambda chunks: " ".join(c for c, _s, _o in chunks)
    assert join(fat) == join(default)
