"""The model seam: batched token taggers + soft-probability decode (N2-N4)
and the two-headed MergeMarkups decode with MISC gating (T2 seam).

The reference's core model surface is a BERT token tagger emitting, per
word-level token, a probability distribution over a BIO tag vocabulary
(``annotators/entity_extraction_base/src/torch_transformers_sequence_tagger.py:303-344``),
decoded through an O-threshold rule
(``src/entity_detection_parser.py:108-138``).  This module makes that a
*protocol* so a real checkpoint and the deterministic test stand-in share
every line of pipeline code:

``Tagger.tag_batch(texts) -> list[TaggedText]``
    One call per Arrow batch with the chunk texts of EVERY document in the
    batch (cross-document batching — the unit of model work is the Arrow
    batch, not the document).  Implementations:

    * ``SoftGazetteerTagger`` — the deterministic stand-in; emits full
      per-token distributions (concentrated on the greedy gazetteer match)
      so the O-threshold decode actually executes, and a ``soft_overrides``
      surface for tests that need borderline probabilities.
    * ``HFTokenTagger`` — real `transformers` checkpoint, import-gated
      (torch isn't in this sandbox).  Weights load lazily ONCE per executor
      process and are dropped from the pickled closure (__getstate__), so
      broadcasting the tagger ships only the spec.

``tags_from_probas`` is the faithful N4 port: argmax, but if p(O) <
thres_proba the best non-O tag is forced; texts of <= 3 tokens use the
stricter 0.9 threshold (``entity_detection_parser.py:107-111,119-138``;
thres_proba = 0.81 in the deployed EN config).

``merge_markups`` ports the two-headed (span BIO + per-token type
distribution) decode of ``src/torch_transformers_preprocessor.py:231-356``
including the MISC gate the deployed compose enables
(``docker-compose.yml: INCLUDE_MISC=1, MISC_THRES=0.88``): a MISC span whose
averaged type confidence exceeds ``misc_thres`` keeps the fine tag,
otherwise it stays MISC; non-MISC spans gate on ``long_ent_thres`` /
``ent_thres`` (two-word rule).

Model selection is env-driven at plan build: ``SPARK_KG_MODEL`` =
``gazetteer`` (default) | ``hf:<checkpoint>``; see ``load_tagger``.
"""

from __future__ import annotations

import os
from typing import NamedTuple, Sequence

import numpy as np

from entity_extraction_svc_spark.operators.ner import (
    GAZETTEER_PROBA,
    _norm_token,
    tokenize_with_offsets,
)

THRES_PROBA = 0.81      # entity_detection config thres_proba (SURVEY N4)
SHORT_TEXT_THRES = 0.9  # <=3-token texts, entity_detection_parser.py:108-111


class TaggedText(NamedTuple):
    """One tagged chunk: word tokens, char offsets, and the (n_tokens,
    n_tags) probability matrix over ``tags_init`` (O first)."""

    tokens: list[str]
    offsets: list[tuple[int, int]]
    probas: np.ndarray


def _first_token_lengths(surfaces: dict) -> dict[str, tuple[int, ...]]:
    """first normalized token -> surface lengths to probe, longest first.
    A window can only match when its first token starts some surface, so
    the greedy scan skips every other position in O(1)."""
    by_first: dict[str, set[int]] = {}
    for k in surfaces:
        by_first.setdefault(k[0], set()).add(len(k))
    return {t: tuple(sorted(lens, reverse=True)) for t, lens in by_first.items()}


def build_tags_init(coarse_tags: Sequence[str]) -> list[str]:
    """BIO vocabulary with O at index 0 (the reference reads it from the
    checkpoint's tag file; index 0 = O is what the O-threshold rule needs)."""
    out = ["O"]
    for t in coarse_tags:
        out.extend((f"B-{t}", f"I-{t}"))
    return out


def tags_from_probas(probas: np.ndarray, tags_init: Sequence[str],
                     thres_proba: float = THRES_PROBA,
                     short_text: bool = False) -> tuple[list[str], list[float]]:
    """N4: per-token argmax with the O-threshold override.

    Port of entity_detection_parser.py:119-138: tag = argmax(p); if
    p(O) < thres the best NON-O tag is forced (even when O is the argmax).
    ``short_text`` selects the 0.9 threshold used for <= 3-token texts.
    """
    cur = SHORT_TEXT_THRES if short_text else thres_proba
    P = np.asarray(probas, dtype=np.float64)
    if P.size == 0:
        return [], []
    # vectorized: same tie-breaking as the per-row loop (argmax = first max)
    k = P.argmax(axis=1)
    forced = P[:, 0] < cur
    if forced.any():
        k = np.where(forced, P[:, 1:].argmax(axis=1) + 1, k)
    picked = P[np.arange(len(P)), k]
    return [tags_init[i] for i in k], picked.tolist()


def decode_tagged(tt: TaggedText, tags_init: Sequence[str],
                  thres_proba: float = THRES_PROBA, lang: str = "en"):
    """N4 + N5 on one tagged chunk -> mention tuples
    (substr, start, end, proba, tag).  ``lang`` keys the N5 stopword and
    printable filters (en default; ru admits Cyrillic)."""
    from entity_extraction_svc_spark.functions.stopwords import stopwords_for
    from entity_extraction_svc_spark.operators.ner import (
        decode_bio,
        printable_for,
    )

    if not tt.tokens:
        return []
    tags, tag_probas = tags_from_probas(
        tt.probas, tags_init, thres_proba, short_text=len(tt.tokens) <= 3
    )
    return decode_bio(tt.tokens, tags, tag_probas, tt.offsets,
                      stopwords_for(lang), printable_for(lang))


# ---------------------------------------------------------------------------
# deterministic stand-in (soft-probability gazetteer)
# ---------------------------------------------------------------------------

class SoftGazetteerTagger:
    """Gazetteer stand-in emitting FULL distributions.

    A greedy longest match assigns the BIO tag; the emitted row is
    concentrated: p(matched tag) = 0.97, p(O) = 0.03 (so the O-threshold
    branch fires exactly as it would for a confident BERT prediction);
    unmatched tokens get p(O) = 1.  ``soft_overrides`` maps a normalized
    token to a custom (tag -> proba) dict for threshold-edge tests.

    Decoded output is identical to the round-1 hard ``GazetteerTagger``
    (same matches, same 0.97 probas) — asserted by tests/test_tagger.py —
    so the fused plan and all goldens are unchanged by the seam.
    """

    def __init__(self, surfaces: dict[tuple[str, ...], str],
                 coarse_tags: Sequence[str],
                 match_proba: float = GAZETTEER_PROBA,
                 soft_overrides: dict[str, dict[str, float]] | None = None):
        self.surfaces = surfaces
        self.max_len = max((len(k) for k in surfaces), default=1)
        self.tags_init = build_tags_init(coarse_tags)
        self._idx = {t: i for i, t in enumerate(self.tags_init)}
        self.match_proba = match_proba
        self.soft_overrides = soft_overrides or {}
        self._first_lens = _first_token_lengths(surfaces)

    @classmethod
    def from_rows(cls, rows: list[dict], **kw) -> "SoftGazetteerTagger":
        from entity_extraction_svc_spark.operators.chunker import RE_TOKENIZER

        surf: dict[tuple[str, ...], str] = {}
        tags: set[str] = set()
        for r in rows:
            toks = tuple(_norm_token(t) for t in RE_TOKENIZER.findall(r["surface"]))
            if toks:
                surf.setdefault(toks, r["coarse_tag"])
            tags.add(r["coarse_tag"])
        return cls(surf, sorted(tags), **kw)

    def _tag_one(self, text: str) -> TaggedText:
        tokens, offsets = tokenize_with_offsets(text)
        n = len(tokens)
        probas = np.zeros((n, len(self.tags_init)), dtype=np.float64)
        probas[:, 0] = 1.0
        norm = [_norm_token(t) for t in tokens]
        i = 0
        while i < n:
            over = self.soft_overrides.get(norm[i])
            if over is not None:
                probas[i, :] = 0.0
                for tag, p in over.items():
                    probas[i, self._idx[tag]] = p
                i += 1
                continue
            matched = False
            # only positions whose token starts SOME surface probe windows,
            # and only at that surface family's lengths (greedy = longest
            # first) — identical matches to the full window sweep
            for ln in self._first_lens.get(norm[i], ()):
                if ln > n - i:
                    continue
                coarse = self.surfaces.get(tuple(norm[i : i + ln]))
                if coarse is not None:
                    for j in range(i, i + ln):
                        bio = "B" if j == i else "I"
                        probas[j, 0] = 1.0 - self.match_proba
                        probas[j, self._idx[f"{bio}-{coarse}"]] = self.match_proba
                    i += ln
                    matched = True
                    break
            if not matched:
                i += 1
        return TaggedText(tokens, offsets, probas)

    def tag_batch(self, texts: list[str]) -> list[TaggedText]:
        return [self._tag_one(t) for t in texts]


# ---------------------------------------------------------------------------
# real-checkpoint tagger (import-gated; lazy per-executor load)
# ---------------------------------------------------------------------------

_HF_CACHE: dict[str, tuple] = {}  # per-process (executor) model cache


class HFTokenTagger:
    """`transformers` token-classification tagger behind the same protocol.

    Mirrors the reference forward path
    (torch_transformers_sequence_tagger.py:303-344): word-split tokenize
    with subword alignment, padded batch forward, softmax, and the
    first-subword-per-word gather (the reference's ``token_from_subtoken``
    selects startofword positions).  The label vocabulary is reordered so O
    is index 0 (required by the O-threshold decode).

    Scale shape: the object pickles WITHOUT weights (only the checkpoint
    spec travels in the broadcast/closure); each executor process loads the
    checkpoint once from its local HF cache on first use.
    """

    def __init__(self, checkpoint: str, max_length: int = 512,
                 batch_size: int = 64):
        self.checkpoint = checkpoint
        self.max_length = max_length
        self.batch_size = batch_size
        self.tags_init: list[str] | None = None  # filled on first load

    def __getstate__(self):
        return {
            "checkpoint": self.checkpoint,
            "max_length": self.max_length,
            "batch_size": self.batch_size,
            "tags_init": None,
        }

    def _ensure(self):
        # cache key carries the decode contract: this class stores the
        # O-reordered (order, tags); HFTwoHeadedTagger stores identity
        # order + raw config labels under "raw:" — same checkpoint loaded
        # through both paths must NOT share an entry (wrong label order)
        if ("ord:" + self.checkpoint) in _HF_CACHE:
            tok, model, order, tags = _HF_CACHE["ord:" + self.checkpoint]
        else:
            try:
                import torch  # noqa: F401
                from transformers import (
                    AutoModelForTokenClassification,
                    AutoTokenizer,
                )
            except ImportError as ex:  # sandbox has no torch — honest gate
                raise NotImplementedError(
                    "SPARK_KG_MODEL=hf:... needs `torch` + `transformers` on "
                    "the executors; this environment has neither. The "
                    "gazetteer stand-in exercises the identical decode path."
                ) from ex
            tok = AutoTokenizer.from_pretrained(self.checkpoint)
            model = AutoModelForTokenClassification.from_pretrained(self.checkpoint)
            model.eval()
            id2label = model.config.id2label
            labels = [id2label[i] for i in range(len(id2label))]
            # reorder so O is index 0 (tags_from_probas contract)
            order = sorted(range(len(labels)), key=lambda i: (labels[i] != "O", i))
            tags = [labels[i] for i in order]
            _HF_CACHE["ord:" + self.checkpoint] = (tok, model, order, tags)
        self.tags_init = tags
        return tok, model, order

    def subword_len(self, token: str) -> int:
        """N2: real subword count for the chunker's 300-budget packing
        (replaces the deterministic proxy when this tagger is selected).
        Memoized per process — web tokens are Zipfian."""
        cache = getattr(self, "_sub_cache", None)
        if cache is None:
            cache = self._sub_cache = {}
        n = cache.get(token)
        if n is None:
            tok, _model, _order = self._ensure()
            n = cache[token] = max(1, len(tok.tokenize(token)))
        return n

    def tag_batch(self, texts: list[str]) -> list[TaggedText]:
        tok, model, order = self._ensure()  # raises the honest gate w/o torch
        import torch
        toks_offs = [tokenize_with_offsets(t) for t in texts]
        out: list[TaggedText | None] = [None] * len(texts)
        idxs = [i for i, (tks, _) in enumerate(toks_offs) if tks]
        for s in range(0, len(idxs), self.batch_size):
            chunk = idxs[s : s + self.batch_size]
            enc = tok(
                [toks_offs[i][0] for i in chunk],
                is_split_into_words=True,
                truncation=True,
                max_length=self.max_length,
                padding=True,
                return_tensors="pt",
            )
            with torch.no_grad():
                logits = model(**enc).logits
            probas = torch.softmax(logits, dim=-1).numpy()[:, :, order]
            for row, i in enumerate(chunk):
                tokens, offsets = toks_offs[i]
                word_ids = enc.word_ids(batch_index=row)
                first_sub = {}
                for pos, w in enumerate(word_ids):
                    if w is not None and w not in first_sub:
                        first_sub[w] = pos
                mat = np.zeros((len(tokens), probas.shape[2]))
                mat[:, 0] = 1.0  # truncated tail words decode as O
                for w, pos in first_sub.items():
                    mat[w] = probas[row, pos]
                out[i] = TaggedText(tokens, offsets, mat)
        for i, (tks, offs) in enumerate(toks_offs):
            if out[i] is None:
                out[i] = TaggedText(tks, offs, np.zeros((0, 1)))
        return out  # type: ignore[return-value]


def load_tagger(gaz_rows: list[dict], spec: str | None = None):
    """``SPARK_KG_MODEL`` switch: 'gazetteer' (default, single-head BIO),
    'gazetteer2' (two-headed spans+types stand-in through the MergeMarkups
    MISC gate), 'hf:<checkpoint>' (real transformers token tagger), or
    'hf2:<spans_ckpt>|<types_ckpt>' (real two-headed spans+types pair; one
    checkpoint serves both heads when no '|')."""
    spec = spec or os.environ.get("SPARK_KG_MODEL", "gazetteer")
    if spec.startswith("hf2:"):
        ckpts = spec[4:].split("|")
        spans_ckpt = ckpts[0]
        types_ckpt = ckpts[1] if len(ckpts) > 1 else ckpts[0]
        coarse_of = {r["fine_tag"]: r["coarse_tag"] for r in gaz_rows}
        return HFTwoHeadedTagger(spans_ckpt, types_ckpt, coarse_of=coarse_of)
    if spec.startswith("hf:"):
        return HFTokenTagger(spec[3:])
    if spec == "gazetteer":
        return SoftGazetteerTagger.from_rows(gaz_rows)
    if spec == "gazetteer2":
        return TwoHeadedGazetteerTagger.from_rows(gaz_rows)
    raise ValueError(f"unknown SPARK_KG_MODEL spec: {spec!r}")


# ---------------------------------------------------------------------------
# MergeMarkups: two-headed decode with the MISC gate (T2 seam)
# ---------------------------------------------------------------------------

def merge_markups_text(tokens: list[str], y_types: Sequence[Sequence[float]],
                       y_spans: Sequence[str], tags_list: Sequence[str],
                       *, use_o_tag: bool = False,
                       long_ent_thres: float = 0.4, ent_thres: float = 0.4,
                       top_n: int = 1, include_misc: bool = True,
                       misc_thres: float = 0.88,
                       stopwords: set[str] | None = None) -> dict:
    """Faithful port of MergeMarkups.__call__ for ONE text
    (src/torch_transformers_preprocessor.py:256-356).

    Inputs: word tokens, the types head's per-token distribution over
    ``tags_list`` (prepend an O column and set use_o_tag=True to skip it),
    and the spans head's BIO strings.  A span opens on B- (or I- at start /
    after O); its type distribution is averaged over the span's tokens
    (round 3) and sorted; the keep-gate is
    ``(not misc and (conf > long_ent_thres or (num_words <= 2 and conf >
    ent_thres))) or (misc and conf > misc_thres)``; a kept MISC span keeps
    the fine tag only when conf > misc_thres, else stays 'MISC'
    (the INCLUDE_MISC=1 / MISC_THRES=0.88 deployment knobs).
    """
    if stopwords is None:
        from entity_extraction_svc_spark.functions.stopwords import (
            ENGLISH_STOPWORDS,
        )

        stopwords = ENGLISH_STOPWORDS
    y_types = [list(row) for row in y_types]
    y_list: list[str] = []
    label = ""
    is_misc = False
    conf = 0.0
    num_words = 0  # persists across tokens: the I- gate below reuses the
    # last opened span's count, exactly like the reference's loop scope
    entities, positions, tags, probas = [], [], [], []
    n = len(y_types)
    for i in range(n):
        span = y_spans[i]
        opens = span.startswith("B-") or (
            span.startswith("I-") and (i == 0 or y_spans[i - 1] == "O")
        )
        if opens:
            if "MISC" not in span or ("MISC" in span and include_misc):
                is_misc = "MISC" in span
                acc = {tag: 0.0 for tag in tags_list}
                num_words = 0
                start_k = 1 if use_o_tag else 0
                for k in range(start_k, len(y_types[i])):
                    acc[tags_list[k - start_k]] += y_types[i][k]
                num_words += 1
                for j in range(i + 1, n):
                    if y_spans[j].startswith("I-"):
                        for k in range(start_k, len(y_types[j])):
                            acc[tags_list[k - start_k]] += y_types[j][k]
                        num_words += 1
                    else:
                        break
                twp = sorted(
                    ((tag, round(s / num_words, 3)) for tag, s in acc.items()),
                    key=lambda x: x[1],
                    reverse=True,
                )
                label, conf = twp[0][0], twp[0][1]
                keep = (
                    not is_misc
                    and (conf > long_ent_thres
                         or (num_words <= 2 and conf > ent_thres))
                ) or (is_misc and conf > misc_thres)
                if keep:
                    y_list.append("B-MISC" if is_misc else f"B-{label}")
                    new_entity = " ".join(tokens[i : i + num_words])
                    if new_entity.lower() not in stopwords:
                        entities.append(new_entity)
                        positions.append(list(range(i, i + num_words)))
                        if top_n == 1:
                            if is_misc:
                                tags.append(twp[0][0] if twp[0][1] > misc_thres
                                            else "MISC")
                                probas.append(conf)
                            else:
                                tags.append(twp[0][0])
                                probas.append(twp[0][1])
                        else:
                            if is_misc:
                                if twp[0][1] > misc_thres:
                                    tags.append(["MISC", twp[0][0]])
                                    probas.append([conf, conf])
                                else:
                                    tags.append(["MISC"])
                                    probas.append([conf])
                            else:
                                tags.append([e[0] for e in twp[:top_n]])
                                probas.append([e[1] for e in twp[:top_n]])
                else:
                    y_list.append("O")
            else:
                y_list.append("O")
        elif span.startswith("I-"):
            if "MISC" not in span or ("MISC" in span and include_misc):
                keep = (
                    not is_misc
                    and (conf > long_ent_thres
                         or (num_words <= 2 and conf > ent_thres))
                ) or (is_misc and conf > misc_thres)
                if keep:
                    y_list.append("I-MISC" if is_misc else f"I-{label}")
                else:
                    y_list.append("O")
            else:
                y_list.append("O")
        else:
            y_list.append("O")
            label = ""
            conf = 0.0
    return {
        "y": y_list,
        "entities": entities,
        "positions": positions,
        "tags": tags,
        "probas": probas,
    }


def merge_markups(tokens_batch, y_types_batch, y_spans_batch, tags_list,
                  **kw) -> list[dict]:
    """Batch wrapper matching the reference component's call shape."""
    return [
        merge_markups_text(t, ty, sp, tags_list, **kw)
        for t, ty, sp in zip(tokens_batch, y_types_batch, y_spans_batch)
    ]


# ---------------------------------------------------------------------------
# two-headed tagger (lite-variant shape): spans head + types head
# ---------------------------------------------------------------------------

class TwoHeadedTagged(NamedTuple):
    """One chunk from a two-headed model: word tokens, char offsets, the
    spans head's BIO strings, and the types head's per-token distributions
    over the fine-tag vocabulary (entity_detection_tinyroberta.json pipe)."""

    tokens: list[str]
    offsets: list[tuple[int, int]]
    y_spans: list[str]
    y_types: list[list[float]]


class TwoHeadedGazetteerTagger:
    """Deterministic two-headed stand-in: the spans head marks gazetteer
    matches as ``B-<coarse>``/``I-<coarse>`` (or ``B-MISC`` when the surface
    is flagged misc), the types head emits a distribution over fine tags
    concentrated at the surface's fine tag with configurable confidence —
    exactly the input shape ``merge_markups`` consumes, so the deployed
    MISC gate (INCLUDE_MISC / MISC_THRES=0.88) runs in-pipeline.

    ``overrides``: norm-surface -> {"misc": bool, "conf": float} to craft
    gate-edge cases in tests.
    """

    def __init__(self, surfaces: dict[tuple[str, ...], tuple[str, str]],
                 fine_tags: list[str],
                 overrides: dict[str, dict] | None = None,
                 match_conf: float = GAZETTEER_PROBA,
                 include_misc: bool = True, misc_thres: float = 0.88,
                 ent_thres: float = 0.4, long_ent_thres: float = 0.4):
        self.surfaces = surfaces  # norm tokens -> (fine_tag, coarse_tag)
        self.max_len = max((len(k) for k in surfaces), default=1)
        self._first_lens = _first_token_lengths(surfaces)
        self.fine_tags = fine_tags
        self.fine_idx = {t: i for i, t in enumerate(fine_tags)}
        self.coarse_of = {f: c for (f, c) in surfaces.values()}
        self.overrides = overrides or {}
        self.match_conf = match_conf
        self.include_misc = include_misc
        self.misc_thres = misc_thres
        self.ent_thres = ent_thres
        self.long_ent_thres = long_ent_thres

    @classmethod
    def from_rows(cls, rows: list[dict], **kw) -> "TwoHeadedGazetteerTagger":
        from entity_extraction_svc_spark.operators.chunker import RE_TOKENIZER

        surf: dict[tuple[str, ...], tuple[str, str]] = {}
        fines: set[str] = set()
        for r in rows:
            toks = tuple(_norm_token(t) for t in RE_TOKENIZER.findall(r["surface"]))
            if toks:
                surf.setdefault(toks, (r["fine_tag"], r["coarse_tag"]))
            fines.add(r["fine_tag"])
        return cls(surf, sorted(fines), **kw)

    def _tag_one(self, text: str) -> TwoHeadedTagged:
        tokens, offsets = tokenize_with_offsets(text)
        n = len(tokens)
        n_fine = len(self.fine_tags)
        y_spans = ["O"] * n
        # background: uniform low mass (merge_markups averages, so any
        # O-token distribution only matters inside a span)
        y_types = [[1.0 / n_fine] * n_fine for _ in range(n)]
        norm = [_norm_token(t) for t in tokens]
        i = 0
        while i < n:
            matched = False
            for ln in self._first_lens.get(norm[i], ()):
                if ln > n - i:
                    continue
                hit = self.surfaces.get(tuple(norm[i : i + ln]))
                if hit is not None:
                    fine, coarse = hit
                    key = " ".join(norm[i : i + ln])
                    over = self.overrides.get(key, {})
                    is_misc = over.get("misc", False)
                    conf = over.get("conf", self.match_conf)
                    span_tag = "MISC" if is_misc else coarse
                    row = [(1.0 - conf) / max(n_fine - 1, 1)] * n_fine
                    row[self.fine_idx[fine]] = conf
                    for j in range(i, i + ln):
                        y_spans[j] = ("B-" if j == i else "I-") + span_tag
                        y_types[j] = list(row)
                    i += ln
                    matched = True
                    break
            if not matched:
                i += 1
        return TwoHeadedTagged(tokens, offsets, y_spans, y_types)

    def tag_batch(self, texts: list[str]) -> list[TwoHeadedTagged]:
        return [self._tag_one(t) for t in texts]


class HFTwoHeadedTagger:
    """Real two-headed checkpoint pair behind the ``TwoHeadedTagged``
    protocol: ``SPARK_KG_MODEL=hf2:<spans_ckpt>|<types_ckpt>``.

    The reference's entity-detection model is one encoder with a spans head
    (BIO over coarse tags) and a types head (distribution over the fine-tag
    vocabulary) whose outputs merge_markups consumes
    (torch_transformers_preprocessor.py:233-356).  AutoModel cannot load
    that custom architecture, so the deploy-practical decomposition is two
    token-classification checkpoints sharing the word split: the spans
    model's argmax label per word becomes ``y_spans``; the types model's
    softmax per word becomes ``y_types``; ``fine_tags`` is the types
    model's label vocabulary (filled at first executor-side load, like
    HFTokenTagger.tags_init).  One checkpoint may serve both heads.

    Scale/pickle shape matches HFTokenTagger: NO weights travel in the
    broadcast — each executor loads the checkpoints once from its local HF
    cache; without torch the load raises the honest NotImplementedError.
    decode_two_headed then applies the deployed MISC gate
    (INCLUDE_MISC / MISC_THRES=0.88) exactly as for the gazetteer2
    stand-in, so the fused plan takes this tagger unchanged.
    """

    def __init__(self, spans_checkpoint: str, types_checkpoint: str,
                 coarse_of: dict[str, str] | None = None,
                 max_length: int = 512, batch_size: int = 64,
                 include_misc: bool = True, misc_thres: float = 0.88,
                 ent_thres: float = 0.4, long_ent_thres: float = 0.4):
        self.spans_checkpoint = spans_checkpoint
        self.types_checkpoint = types_checkpoint
        self.coarse_of = coarse_of or {}  # fine tag -> coarse tag (dim data)
        self.max_length = max_length
        self.batch_size = batch_size
        self.include_misc = include_misc
        self.misc_thres = misc_thres
        self.ent_thres = ent_thres
        self.long_ent_thres = long_ent_thres
        self.fine_tags: list[str] | None = None  # filled on first load

    def __getstate__(self):
        state = dict(self.__dict__)
        state["fine_tags"] = None  # no vocab/weights in the broadcast
        state.pop("_sub_cache", None)
        return state

    def _load_one(self, checkpoint: str):
        # "raw:" = identity label order (see HFTokenTagger._ensure note)
        if ("raw:" + checkpoint) in _HF_CACHE:
            return _HF_CACHE["raw:" + checkpoint]
        try:
            import torch  # noqa: F401
            from transformers import (
                AutoModelForTokenClassification,
                AutoTokenizer,
            )
        except ImportError as ex:  # sandbox has no torch — honest gate
            raise NotImplementedError(
                "SPARK_KG_MODEL=hf2:... needs `torch` + `transformers` on "
                "the executors; this environment has neither. The "
                "gazetteer2 stand-in exercises the identical decode path."
            ) from ex
        tok = AutoTokenizer.from_pretrained(checkpoint)
        model = AutoModelForTokenClassification.from_pretrained(checkpoint)
        model.eval()
        id2label = model.config.id2label
        labels = [id2label[i] for i in range(len(id2label))]
        _HF_CACHE["raw:" + checkpoint] = (
            tok, model, list(range(len(labels))), labels
        )
        return _HF_CACHE["raw:" + checkpoint]

    def _ensure(self):
        tok_s, model_s, _, span_labels = self._load_one(self.spans_checkpoint)
        tok_t, model_t, _, type_labels = self._load_one(self.types_checkpoint)
        self.fine_tags = type_labels
        return tok_s, model_s, span_labels, tok_t, model_t

    def subword_len(self, token: str) -> int:
        """N2: real subword count for the chunker's token-budget packing
        (the spans tokenizer drives the encoder's sequence length)."""
        cache = getattr(self, "_sub_cache", None)
        if cache is None:
            cache = self._sub_cache = {}
        n = cache.get(token)
        if n is None:
            tok_s, *_ = self._ensure()
            n = cache[token] = max(1, len(tok_s.tokenize(token)))
        return n

    def _forward(self, tok, model, word_lists: list[list[str]]):
        """Padded batch forward -> per-word (first-subword) softmax rows."""
        import torch

        enc = tok(
            word_lists,
            is_split_into_words=True,
            truncation=True,
            max_length=self.max_length,
            padding=True,
            return_tensors="pt",
        )
        with torch.no_grad():
            logits = model(**enc).logits
        probas = torch.softmax(logits, dim=-1).numpy()
        per_word = []
        for row, words in enumerate(word_lists):
            word_ids = enc.word_ids(batch_index=row)
            first_sub: dict[int, int] = {}
            for pos, w in enumerate(word_ids):
                if w is not None and w not in first_sub:
                    first_sub[w] = pos
            mat = np.zeros((len(words), probas.shape[2]))
            for w, pos in first_sub.items():
                mat[w] = probas[row, pos]
            per_word.append(mat)  # truncated tail words stay all-zero
        return per_word

    def tag_batch(self, texts: list[str]) -> list[TwoHeadedTagged]:
        tok_s, model_s, span_labels, tok_t, model_t = self._ensure()
        toks_offs = [tokenize_with_offsets(t) for t in texts]
        out: list[TwoHeadedTagged | None] = [None] * len(texts)
        idxs = [i for i, (tks, _) in enumerate(toks_offs) if tks]
        n_fine = len(self.fine_tags or [])
        for s in range(0, len(idxs), self.batch_size):
            chunk = idxs[s : s + self.batch_size]
            words = [toks_offs[i][0] for i in chunk]
            span_mats = self._forward(tok_s, model_s, words)
            type_mats = self._forward(tok_t, model_t, words)
            for row, i in enumerate(chunk):
                tokens, offsets = toks_offs[i]
                sm, tm = span_mats[row], type_mats[row]
                y_spans = []
                y_types = []
                for w in range(len(tokens)):
                    if sm[w].sum() > 0:
                        y_spans.append(span_labels[int(np.argmax(sm[w]))])
                        y_types.append([float(x) for x in tm[w]])
                    else:  # truncated tail: O span, uniform types
                        y_spans.append("O")
                        y_types.append([1.0 / max(n_fine, 1)] * n_fine)
                out[i] = TwoHeadedTagged(tokens, offsets, y_spans, y_types)
        for i, (tks, offs) in enumerate(toks_offs):
            if out[i] is None:
                out[i] = TwoHeadedTagged(tks, offs, [], [])
        return out  # type: ignore[return-value]


def decode_two_headed(rec: TwoHeadedTagged, tagger: TwoHeadedGazetteerTagger,
                      lang: str = "en"):
    """merge_markups + the agent's mention post-processing for one chunk:
    returns (substr, start, end, proba, fine_or_MISC, coarse) tuples."""
    from entity_extraction_svc_spark.functions.stopwords import stopwords_for
    from entity_extraction_svc_spark.operators.ner import (
        REPLACE_TOKENS,
        printable_for,
    )

    if not rec.tokens:
        return []
    out = merge_markups_text(
        rec.tokens, rec.y_types, rec.y_spans, tagger.fine_tags,
        include_misc=tagger.include_misc, misc_thres=tagger.misc_thres,
        ent_thres=tagger.ent_thres, long_ent_thres=tagger.long_ent_thres,
        top_n=1, stopwords=stopwords_for(lang),
    )
    pr = printable_for(lang)
    mentions = []
    for entity, pos, tag, proba in zip(out["entities"], out["positions"],
                                       out["tags"], out["probas"]):
        sub = entity.lower()
        for old, new in REPLACE_TOKENS:
            sub = sub.replace(old, new)
        if not (all(ch in pr for ch in sub) and any(ch.isalnum() for ch in sub)):
            continue
        start = rec.offsets[pos[0]][0]
        end = rec.offsets[pos[-1]][1]
        coarse = "MISC" if tag == "MISC" else tagger.coarse_of.get(tag, "MISC")
        mentions.append((sub, start, end, round(float(proba), 4), tag, coarse))
    return mentions
