"""Fused pipeline: extract -> chunk -> NER -> link in ONE mapInPandas pass.

Every stage of the KG pipeline up to linking is per-document work (the
reference processes each request doc independently end-to-end), so one
narrow ``mapInPandas`` over the pages scan runs them all: no offset-shift
window, no mention/chunk regrouping by url, zero shuffles until the final
triples aggregation, one Arrow round trip per input split.

At 100 TB this is the difference between shuffling the full chunked corpus
twice and never shuffling document payloads at all: the only wide exchanges
left in the job are the distinct-QID semi-join and the subject-hash
repartition of the (tiny) triples output.  A BERT tagger slots in by
batching the chunk texts accumulated per Arrow batch (the per-doc loop
already collects them) — same plumbing, model call instead of gazetteer.

The KB broadcasts (tagger, fine-tag lookup, linker dictionaries) are built
once per KB and reused by every later plan over the same KB files
(``kb_broadcasts``), so a resume round or streaming micro-batch pays only
for its own slice.

This is the only path from pages to mentions, linked rows and triples:
``fused_mentions`` runs the same per-batch loop as ``fused_link`` and stops
before the linker, and plans/pipeline.py assembles both into the named
artifacts the tests and the ``__spark_entry__`` kg_* rows read.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entity_extraction_svc_spark.functions import htmltext
from entity_extraction_svc_spark.operators.chunker import chunk_doc
from entity_extraction_svc_spark.operators.eltags import ALT_FINE
from entity_extraction_svc_spark.operators.linker import (
    LINKED_SCHEMA,
    link_doc,
)
from entity_extraction_svc_spark.operators.tagger import (
    decode_tagged,
    load_tagger,
)
from entity_extraction_svc_spark.operators.triples import materialize_triples
from entity_extraction_svc_spark.schemas import TRIPLES
from entity_extraction_svc_spark.sources.kb import (
    collect_linker_dicts,
    normalize_label,
    read_dim_rows,
)


def _fine_tag_lookup(gaz_rows: list[dict]) -> dict[str, str]:
    """norm surface -> fine tag of the most popular owner (max num_rels;
    the first row wins a tie)."""
    best: dict[str, tuple[int, str]] = {}
    for r in gaz_rows:
        k = normalize_label(r["surface"])
        cur = best.get(k)
        if cur is None or r["num_rels"] > cur[0]:
            best[k] = (r["num_rels"], r["fine_tag"])
    return {k: v[1] for k, v in best.items()}


def _chunk_doc_for_tagging(text: str, texts_flat: list[str],
                           subword_len=None):
    """Chunk one doc, append the (soft-hyphen-stripped) chunk texts to the
    batch-wide ``texts_flat`` accumulator, and return per-chunk metadata
    (flat index, doc offset shift, sentences, sentence offsets).  The shift
    is the running sum of ``len(chunk) + 1`` over the doc's earlier chunks
    (N6, ner_chunker.py:333-341)."""
    metas = []
    shift = 0
    for chunk_text, sents, soffs in chunk_doc(text, subword_len):
        metas.append((len(texts_flat), shift, sents, soffs))
        texts_flat.append(chunk_text.replace("\xad", " "))  # H7
        shift += len(chunk_text) + 1
    return metas


def _doc_mentions(tagger, fine_lookup, url, metas, tagged,
                  lang: str = "en") -> list[dict]:
    """Decode the tagged chunks of one doc into doc-level mention rows
    (N4-N8 + the fine-tag lookup), sorted by (start, end, substr).

    A two-headed tagger (SPARK_KG_MODEL=gazetteer2 / hf2) decodes through
    merge_markups — the fine tag (or MISC after the 0.88 gate) comes from
    the types head directly, not the fine_lookup join.
    """
    from entity_extraction_svc_spark.operators.tagger import decode_two_headed

    two_headed = hasattr(tagger, "fine_tags")
    mentions: list[dict] = []
    for ti, shift, _sents, _soffs in metas:
        if two_headed:
            for substr, start, end, proba, fine, coarse in decode_two_headed(
                tagged[ti], tagger, lang=lang
            ):
                mentions.append({
                    "url": url, "substr": substr, "start": start + shift,
                    "end": end + shift, "proba": proba, "tag": coarse,
                    "fine_tag": None if fine == "MISC" else fine,
                    "alt_tag": ALT_FINE.get(fine, "MISC"),
                })
        else:
            for substr, start, end, proba, tag in decode_tagged(
                tagged[ti], tagger.tags_init, lang=lang
            ):
                fine = fine_lookup.get(normalize_label(substr))
                mentions.append({
                    "url": url, "substr": substr, "start": start + shift,
                    "end": end + shift, "proba": proba, "tag": tag,
                    "fine_tag": fine,
                    "alt_tag": ALT_FINE.get(fine or "", "MISC") if fine else "MISC",
                })
    mentions.sort(key=lambda m: (m["start"], m["end"], m["substr"]))
    return mentions


def _assemble_doc(d, tagger, fine_lookup, url, text, metas, tagged,
                  lang: str = "en") -> list[dict]:
    """Decode the tagged chunks of one doc and link it (N4-N8, G-R-P)."""
    mentions = _doc_mentions(tagger, fine_lookup, url, metas, tagged, lang)
    if not mentions:
        return []
    sentences: list[str] = []
    sentences_offsets: list[tuple[int, int]] = []
    for _ti, shift, sents, soffs in metas:
        for sent, (s, e) in zip(sents, soffs):
            sentences.append(sent)
            sentences_offsets.append((s + shift, e + shift))
    return link_doc(d, text, sentences, sentences_offsets, mentions, lang)


def link_page(d, tagger, fine_lookup: dict[str, str],
              url: str, text: str, lang: str = "en") -> list[dict]:
    """One document end-to-end: chunk, tag, decode, classify, link.
    ``tagger`` is any ``tag_batch`` protocol implementation."""
    if not text:
        return []
    texts_flat: list[str] = []
    metas = _chunk_doc_for_tagging(text, texts_flat,
                                   getattr(tagger, "subword_len", None))
    tagged = tagger.tag_batch(texts_flat)
    return _assemble_doc(d, tagger, fine_lookup, url, text, metas, tagged, lang)


def _payloads(pages: DataFrame, source: str) -> DataFrame:
    """(url, payload, lang): the only columns the pass reads, so the scan
    prunes everything else."""
    lang_col = (F.col("lang") if "lang" in pages.columns
                else F.lit("en")).alias("lang")
    payload = "html" if source == "html" else "text"
    return pages.select("url", F.col(payload).alias("payload"), lang_col)


def _tagged_batches(batches: Iterator[pd.DataFrame], tagger,
                    source: str) -> Iterator[tuple[list, list]]:
    """Per Arrow batch of (url, payload, lang): extract and chunk every doc,
    then tag ALL the batch's chunk texts in ONE ``tag_batch`` call (a real
    checkpoint sees one padded forward per Arrow batch, not one per chunk or
    per doc — the tag_batch protocol of operators/tagger.py).  Yields
    ``(docs, tagged)`` with docs as (url, text, lang, chunk metas); a null
    payload or an empty text yields no doc."""
    # N2: a real tagger's tokenizer drives the 300-subword chunk budget
    slen = getattr(tagger, "subword_len", None)
    for pdf in batches:
        docs: list[tuple[str, str, str, list]] = []
        texts_flat: list[str] = []
        for url, payload, lang in zip(pdf["url"], pdf["payload"], pdf["lang"]):
            if payload is None:
                continue
            if source == "html":
                text = htmltext.preprocess_html(payload)
            else:
                text = htmltext.preprocess_text(payload)
            if not text:
                continue
            docs.append((url, text, lang or "en",
                         _chunk_doc_for_tagging(text, texts_flat, slen)))
        yield docs, tagger.tag_batch(texts_flat)


MENTIONS_SCHEMA = (
    "url string, substr string, start int, end int, proba double, "
    "tag string, fine_tag string, alt_tag string"
)
_MENTION_COLS = ["url", "substr", "start", "end", "proba", "tag", "fine_tag",
                 "alt_tag"]
_LINKED_COLS = ["url", "mention_id", "substr", "start", "end", "rank", "qid",
                "conf", "page", "ent_tag", "substr_score", "num_rels",
                "conn_score_notag", "conn_score_tag"]


def fused_mentions(pages: DataFrame, tagger_bc, fine_bc,
                   source: str = "html") -> DataFrame:
    """pages -> doc-level mention rows, one narrow mapInPandas (no shuffle):
    the same extract, chunk, tag and decode as ``fused_link``, stopping
    before the linker."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tagger = tagger_bc.value
        fine_lookup: dict[str, str] = fine_bc.value
        for docs, tagged in _tagged_batches(batches, tagger, source):
            rows: list[dict] = []
            for url, _text, lang, metas in docs:
                rows.extend(_doc_mentions(tagger, fine_lookup, url, metas,
                                          tagged, lang))
            yield pd.DataFrame(rows, columns=_MENTION_COLS)

    return _payloads(pages, source).mapInPandas(_run, MENTIONS_SCHEMA)


def fused_link(pages: DataFrame, tagger_bc, dicts_bc, fine_bc,
               source: str = "html") -> DataFrame:
    """pages -> linked rows, one narrow mapInPandas (no shuffle)."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        d = dicts_bc.value
        tagger = tagger_bc.value
        fine_lookup: dict[str, str] = fine_bc.value
        for docs, tagged in _tagged_batches(batches, tagger, source):
            rows: list[dict] = []
            for url, text, lang, metas in docs:
                rows.extend(_assemble_doc(d, tagger, fine_lookup, url, text,
                                          metas, tagged, lang))
            yield pd.DataFrame(rows, columns=_LINKED_COLS)

    return _payloads(pages, source).mapInPandas(_run, LINKED_SCHEMA)


# The KB files the broadcast image is read from (kb_occ_labels is optional).
KB_IMAGE_FILES = ("gazetteer", "kb_entities", "kb_aliases", "kb_triples",
                  "kb_occ_labels")

# The last KB image built: (key, (tagger_bc, fine_bc, dicts_bc)).  The lock
# makes concurrent callers (a streaming micro-batch thread next to a batch
# job) wait for one build instead of each building its own.
_kb_image: tuple | None = None
_kb_image_lock = threading.Lock()


def _file_stat(path: str):
    """(mtime_ns, size) of a parquet file; per-file stats of a parquet
    directory; None when the path is absent."""
    if os.path.isdir(path):
        return tuple(sorted((name, _file_stat(os.path.join(path, name)))
                            for name in os.listdir(path)))
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return None
    return st.st_mtime_ns, st.st_size


def _kb_image_key(sc, kb_dir: str):
    """Everything the broadcast image depends on that the driver can
    observe, or None when ``kb_dir`` is not a local directory (a remote KB
    cannot be stat'ed here, so its image is built per call)."""
    root = os.path.abspath(kb_dir)
    if not os.path.isdir(root):
        return None
    stats = tuple(_file_stat(os.path.join(root, f"{name}.parquet"))
                  for name in KB_IMAGE_FILES)
    return sc, root, stats, os.environ.get("SPARK_KG_MODEL", "gazetteer")


def kb_broadcasts(spark: SparkSession, kb_dir: str):
    """The fused plan's three KB broadcasts: (tagger, fine-tag lookup,
    LinkerDicts).

    Built once per KB and reused while the SparkContext, the KB files'
    (mtime_ns, size) and the ``SPARK_KG_MODEL`` spec stay the same, so a
    resume round or a streaming micro-batch does not rebuild and re-ship a
    KB image it already shipped.  The key is taken before the files are
    read: a KB rewritten during a build leaves a stale key, which the next
    call sees as changed and rebuilds."""
    global _kb_image
    sc = spark.sparkContext
    with _kb_image_lock:
        key = _kb_image_key(sc, kb_dir)
        if key is not None and _kb_image is not None and _kb_image[0] == key:
            return _kb_image[1]
        gaz_rows = read_dim_rows(spark, f"{kb_dir}/gazetteer.parquet")
        # SPARK_KG_MODEL switch: gazetteer stand-in (default) or
        # hf:<checkpoint> (HF weights are NOT in the broadcast — each
        # executor lazy-loads once)
        image = (sc.broadcast(load_tagger(gaz_rows)),
                 sc.broadcast(_fine_tag_lookup(gaz_rows)),
                 sc.broadcast(collect_linker_dicts(spark, kb_dir)))
        if key is not None:
            _kb_image = (key, image)
        return image


def build_fused(spark: SparkSession, pages: DataFrame, kb_dir: str,
                source: str = "html"):
    """Returns (linked, triples) via the fused plan."""
    tagger_bc, fine_bc, dicts_bc = kb_broadcasts(spark, kb_dir)
    linked = fused_link(pages, tagger_bc, dicts_bc, fine_bc, source)
    kb_triples = spark.read.schema(TRIPLES).parquet(f"{kb_dir}/kb_triples.parquet")
    triples = materialize_triples(linked, kb_triples)
    return linked, triples
