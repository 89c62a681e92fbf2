"""Doc -> chunk explode with sentence offsets (reference C1-C4).

Re-expresses ``src/ner_chunker.py:57-195`` as ``chunk_doc``, which the fused
plan's ``mapInPandas`` calls once per document: one doc in, N chunks out,
each carrying its sentences and their in-chunk char offsets.  The
reference's batch regrouping (C5, ner_chunker.py:172-177) is unnecessary —
Arrow record batches replace it.

Differences from the reference, by construction (documented drop-ins):
  * nltk ``sent_tokenize`` -> deterministic regex splitter (C2 stand-in).
  * BERT subword length -> deterministic proxy ``1 + len(tok)//7`` (the
    budget only controls chunk packing, not correctness of offsets).

The embedded-HTML sniffing (H6, ner_chunker.py:75-90) and mojibake map
(dup of H5) are applied exactly as the reference does at chunker entry.
"""

from __future__ import annotations

import re
from string import punctuation

from entity_extraction_svc_spark.functions import htmltext

MAX_SEQ_LEN = 300  # entity_detection_en.json:9
RE_TOKENIZER = re.compile(r"[\w']+|[^\w ]")  # ner_chunker.py:50
_SENT_SPLIT = re.compile(r"(?<=[.!?])\s+")
_PUNCT_EXT = punctuation + " " + "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
_RUSSIAN = set("абвгдеёжзийклмнопрстуфхцчшщъыьэюя")
_WS = re.compile(r"\s+")


def _subword_len(token: str) -> int:
    return 1 + len(token) // 7


def _sanitize(text: str) -> str:
    """ner_chunker.py:181-195: trim trailing junk punct back to sentence-final
    .!? (Russian-aware), collapse whitespace."""
    text_len = len(text)
    if text_len > 0 and text[text_len - 1] not in {".", "!", "?"}:
        i = text_len - 1
        while text[i] in _PUNCT_EXT and i > 0:
            i -= 1
            if (text[i] in {".", "!", "?"} and text[i - 1].lower() in _RUSSIAN) or (
                i > 1
                and text[i] in {".", "!", "?"}
                and text[i - 1] in '"'
                and text[i - 2].lower() in _RUSSIAN
            ):
                break
        text = text[: i + 1]
    return _WS.sub(" ", text)


def _sent_tokenize(piece: str) -> list[str]:
    return [s for s in _SENT_SPLIT.split(piece) if s]


def chunk_doc(doc: str, subword_len=None) -> list[tuple[str, list[str], list[tuple[int, int]]]]:
    """ner_chunker.py:70-170 for a single doc.

    Returns [(chunk_text, sentences, sentences_offsets), ...].
    ``subword_len``: token -> subword count for the 300-budget packing (N2);
    default is the deterministic proxy, a real tagger's tokenizer plugs in
    via the model seam (tagger.subword_len, wired by the fused plan).
    """
    _slen = subword_len or _subword_len
    for old_symb, new_symb in htmltext.UNPROCESSABLE_CHAR_MAP:
        doc = doc.replace(old_symb, new_symb)
    # embedded-HTML sniffing (H6); the lxml/xml branch degrades to the same
    # stdlib extractor (lxml unavailable)
    if "<!DOCTYPE html>" in doc or "?xml version" in doc:
        try:
            doc = _WS.sub(" ", htmltext.parse_html(doc))
        except Exception:
            pass
    elif "<" in doc:
        doc = htmltext.remove_tag_spans(doc)

    out: list[tuple[str, list[str], list[tuple[int, int]]]] = []
    start = 0
    text = ""
    sentences_list: list[str] = []
    sentences_offsets_list: list[tuple[int, int]] = []
    cur_len = 0
    doc_pieces = [_sanitize(p) for p in doc.split("\n")]
    doc_pieces = [p for p in doc_pieces if len(p) > 1]
    if doc_pieces:
        sentences: list[str] = []
        for doc_piece in doc_pieces:
            sentences += _sent_tokenize(doc_piece)
        for sentence in sentences:
            sentence_tokens = RE_TOKENIZER.findall(sentence)
            sentence_len = sum(_slen(tok) for tok in sentence_tokens)
            if cur_len + sentence_len < MAX_SEQ_LEN:
                text += f"{sentence} "
                cur_len += sentence_len
                end = start + len(sentence)
                sentences_offsets_list.append((start, end))
                sentences_list.append(sentence)
                start = end + 1
            else:
                text = text.strip()
                if text:
                    out.append((text, sentences_list, sentences_offsets_list))
                if sentence_len < MAX_SEQ_LEN:
                    text = f"{sentence} "
                    cur_len = sentence_len
                    start = 0
                    end = start + len(sentence)
                    sentences_offsets_list = [(start, end)]
                    sentences_list = [sentence]
                    start = end + 1
                else:
                    # over-long sentence: split word by word (C3 long path)
                    text = ""
                    cur_len = 0
                    start = 0
                    sentences_offsets_list = []
                    sentences_list = []
                    for chunk in sentence.split(" "):
                        chunk_tokens = RE_TOKENIZER.findall(chunk)
                        chunk_len = sum(_slen(tok) for tok in chunk_tokens)
                        if cur_len + chunk_len < MAX_SEQ_LEN:
                            text += f"{chunk} "
                            cur_len += chunk_len + 1
                            end = start + len(chunk)
                            sentences_offsets_list.append((start, end))
                            sentences_list.append(chunk)
                            start = end + 1
                        else:
                            text = text.strip()
                            if text:
                                out.append((text, sentences_list, sentences_offsets_list))
                            text = f"{chunk} "
                            cur_len = chunk_len
                            start = 0
                            end = start + len(chunk)
                            sentences_offsets_list = [(start, end)]
                            sentences_list = [chunk]
                            start = end + 1
        text = text.strip().strip(",")
        if text:
            out.append((text, sentences_list, sentences_offsets_list))
    else:
        # empty-doc placeholder (C4, ner_chunker.py:166-170)
        out.append(("а", [doc], [(0, len(doc))]))
    return out
