"""Mention detection: chunk text -> mention spans (reference N1-N8).

The reference runs a BERT token tagger (N3) then decodes BIO runs to mention
spans (N5, ``src/entity_detection_parser.py:140-251``).  Here the model is
pluggable: the deterministic gazetteer tagger below produces the same
per-token (tag, proba) surface a real checkpoint would, and the decode is a
faithful port of the reference's semantics (replace map, stopword / short
digit / length filters, trailing-comma strip, mean-proba rounding), so a
BERT-backed tagger can drop in without touching the pipeline.

Execution shape: the tagger and the decode run inside the fused plan's one
``mapInPandas`` over the pages (plans/fused.py; the model scan is the hot
path, batched + Arrow), with the tagger shipped as a broadcast variable
(north rule: model broadcast per executor).  The model sees one batch per
Arrow batch, spanning the chunks of many documents.  The chunk->doc offset
merge (N6, ner_chunker.py:308-370) is the running shift the same pass keeps
per document, so spans leave it with doc-level offsets and no join.
"""

from __future__ import annotations

import string

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from entity_extraction_svc_spark.functions.stopwords import ENGLISH_STOPWORDS
from entity_extraction_svc_spark.operators.chunker import RE_TOKENIZER

GAZETTEER_PROBA = 0.97
_PRINTABLE = set(string.printable)
# the printable filter is an agent-level EN quirk (server.py:134-135); a RU
# deployment must admit Cyrillic (the lang-parameterized components
# themselves — entity_linking.py:49, ner_chunker.py:54 — are Russian-aware)
_CYRILLIC = set("абвгдеёжзийклмнопрстуфхцчшщъыьэюя")
_PRINTABLE_RU = _PRINTABLE | _CYRILLIC | {c.upper() for c in _CYRILLIC} | set("«»—№")


def printable_for(lang: str | None) -> set:
    return _PRINTABLE_RU if (lang or "en").lower().startswith("ru") else _PRINTABLE

# entity_detection_parser.py:160-161 (order matters)
REPLACE_TOKENS = [
    (" - ", "-"), ("'s", ""), (" .", ""), ("{", ""), ("}", ""),
    ("  ", " "), ('"', "'"), ("(", ""), (")", ""),
]


def tokenize_with_offsets(text: str) -> tuple[list[str], list[tuple[int, int]]]:
    """N1: regex word tokenize with char offsets
    (torch_transformers_preprocessor.py:73,89-100)."""
    tokens, offsets = [], []
    for m in RE_TOKENIZER.finditer(text):
        tokens.append(m.group())
        offsets.append((m.start(), m.end()))
    return tokens, offsets


def _norm_token(tok: str) -> str:
    tok = tok.lower()
    if tok.endswith("'s"):
        tok = tok[:-2]
    return tok


class GazetteerTagger:
    """Deterministic NER stand-in: greedy longest-match over a surface
    dictionary, emitting per-token BIO tags + probas with the exact schema a
    BERT tagger would produce (SURVEY.md §7.4 risk 5)."""

    def __init__(self, surfaces: dict[tuple[str, ...], str]):
        from entity_extraction_svc_spark.operators.tagger import (
            _first_token_lengths,
        )

        self.surfaces = surfaces
        self.max_len = max((len(k) for k in surfaces), default=1)
        self._first_lens = _first_token_lengths(surfaces)

    @classmethod
    def from_rows(cls, rows: list[dict]) -> "GazetteerTagger":
        surf: dict[tuple[str, ...], str] = {}
        for r in rows:
            toks = tuple(_norm_token(t) for t in RE_TOKENIZER.findall(r["surface"]))
            if toks:
                # first (most popular, the fixture writes core first) wins
                surf.setdefault(toks, r["coarse_tag"])
        return cls(surf)

    def tag(self, tokens: list[str]) -> tuple[list[str], list[float]]:
        n = len(tokens)
        norm = [_norm_token(t) for t in tokens]
        tags = ["O"] * n
        probas = [1.0] * n
        i = 0
        while i < n:
            matched = False
            for ln in self._first_lens.get(norm[i], ()):
                if ln > n - i:
                    continue
                key = tuple(norm[i : i + ln])
                coarse = self.surfaces.get(key)
                if coarse is not None:
                    tags[i] = f"B-{coarse}"
                    probas[i] = GAZETTEER_PROBA
                    for j in range(i + 1, i + ln):
                        tags[j] = f"I-{coarse}"
                        probas[j] = GAZETTEER_PROBA
                    i += ln
                    matched = True
                    break
            if not matched:
                i += 1
        return tags, probas


def decode_bio(
    tokens: list[str],
    tags: list[str],
    tag_probas: list[float],
    token_offsets: list[tuple[int, int]],
    stopwords: frozenset | None = None,
    printable: set | None = None,
) -> list[tuple[str, int, int, float, str]]:
    """N5: BIO runs -> (substr, start, end, proba, tag) mention spans.

    Faithful port of entity_detection_parser.py:140-251 (per-tag pending
    runs, trailing-comma strip, replace map, stopword/short-digit/len>2
    filters, mean-proba round 4) followed by the token->char offset mapping
    of ner_chunker.py:265-283.
    """
    sw = ENGLISH_STOPWORDS if stopwords is None else stopwords
    pr = _PRINTABLE if printable is None else printable
    mentions: list[tuple[str, int, int, float, str]] = []
    pending: dict[str, list[int]] = {}

    def flush(c_tag: str) -> None:
        positions = pending.get(c_tag) or []
        # strip trailing commas (entity_detection_parser.py:168-174)
        while positions and tokens[positions[-1]] == ",":
            positions = positions[:-1]
        if not positions:
            pending[c_tag] = []
            return
        entity = " ".join(tokens[p] for p in positions)
        for old, new in REPLACE_TOKENS:
            entity = entity.replace(old, new)
        probs = [tag_probas[p] for p in pending[c_tag]]
        if (
            entity
            and entity.lower() not in sw
            and not (entity.isdigit() and len(entity) < 3)
            and len(entity) > 2
        ):
            start = token_offsets[positions[0]][0]
            end = token_offsets[positions[-1]][1]
            mentions.append(
                (entity.lower(), start, end, round(sum(probs) / len(probs), 4), c_tag)
            )
        pending[c_tag] = []

    def flush_all() -> None:
        for c_tag in [t for t, v in pending.items() if v]:
            flush(c_tag)

    for n, (tok, tag) in enumerate(zip(tokens, tags)):
        if tag != "O":
            f_tag = tag.split("-")[-1]
            if tag.startswith("B-") and any(pending.values()):
                flush_all()
            pending.setdefault(f_tag, []).append(n)
        elif any(pending.values()):
            flush_all()
    flush_all()

    # N8 printable/alnum filter (annotators/.../server.py:131-140)
    return [
        m
        for m in mentions
        if all(ch in pr for ch in m[0]) and any(ch.isalnum() for ch in m[0])
    ]


def bio_training_rows(docs: DataFrame, mentions: DataFrame,
                      text_col: str = "text", id_col: str = "url",
                      start_col: str = "start", end_col: str = "end",
                      tag_col: str = "tag") -> DataFrame:
    """Distant-supervision NER training-data emission — the inverse of
    the N1-N5 decode direction: given documents and their (linked or
    golden) mention spans, emit one row per whitespace token with its
    character offsets and a BIO label, the exact input shape a token
    tagger (N3) trains on.  This closes the KG-construction loop: the
    pipeline's own linked output regenerates its model's training
    corpus (weak supervision / self-training).

    Label rule (deterministic, engine-shared): a token OVERLAPS a
    mention iff tok_start < m_end and tok_end > m_start (handles spans
    that start or end mid-token, e.g. trailing punctuation glued to the
    word); a token overlapped by several mentions takes the
    (start, end, tag)-least; B vs I is decided on the CHOSEN sequence —
    a token is B-<tag> iff the previous emitted token does not carry
    the same chosen mention, I-<tag> otherwise; everything else is O.
    The run-start rule (rather than "the mention's first overlapping
    token is B") makes the output well-formed BIO by construction:
    when two partially-overlapping mentions interleave, the losing
    mention's tail tokens RESTART as B instead of emitting an I- run
    with no B- (which seqeval/CRF consumers reject) — a review-pass
    find, pinned by test_interleaved_overlaps_stay_well_formed.
    Tokens that are empty strings (consecutive separators) participate
    in offset accounting but are not emitted.

    Scale shape: one posexplode (narrow), a per-document offset window
    and the mention join BOTH keyed on the document id — one exchange,
    reused; the B/I windows are per-(doc, mention)/(doc, token), bounded
    by a single document's mentions.  No Python in the plan.
    """
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("tok_idx", "token"),
    )
    w = (
        Window.partitionBy("_id")
        .orderBy("tok_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = (
        toks.withColumn(
            "tok_start",
            F.coalesce(
                F.sum(F.length("token") + F.lit(1)).over(w), F.lit(0)
            ).cast("long"),
        )
        .withColumn("tok_end", F.col("tok_start") + F.length("token"))
        .filter(F.col("token") != "")
    )
    m = mentions.select(
        F.col(id_col).alias("_mid"),
        F.col(start_col).cast("long").alias("m_start"),
        F.col(end_col).cast("long").alias("m_end"),
        F.col(tag_col).alias("m_tag"),
    )
    # ONE left join carrying the overlap predicate: a token with no
    # overlapping mention keeps exactly one null-mention row (its O
    # case), so no second pass over the token set and no final
    # join-back — the token frame is computed once, and this join's
    # _id key reuses the offset window's partitioning
    ov = toks.join(
        m,
        (F.col("_id") == F.col("_mid"))
        & (F.col("tok_start") < F.col("m_end"))
        & (F.col("tok_end") > F.col("m_start")),
        "left",
    )
    w_best = Window.partitionBy("_id", "tok_idx").orderBy(
        "m_start", "m_end", "m_tag"
    )
    # chosen-mention identity per token ('' for O tokens — a real
    # mention key is never empty); B iff the previous emitted token's
    # key differs (run start), so I- always follows its own B-
    w_seq = Window.partitionBy("_id").orderBy("tok_idx")
    key = F.concat_ws(
        ":",
        F.col("m_start").cast("string"),
        F.col("m_end").cast("string"),
        F.col("m_tag"),
    )
    return (
        ov.withColumn("_rn", F.row_number().over(w_best))
        .filter(F.col("_rn") == 1)
        .withColumn("_key", key)
        .withColumn("_prev", F.coalesce(F.lag("_key").over(w_seq), F.lit("")))
        .select(
            F.col("_id").alias(id_col),
            "tok_idx",
            "token",
            "tok_start",
            "tok_end",
            F.when(F.col("_key") == "", F.lit("O"))
            .otherwise(
                F.concat(
                    F.when(
                        F.col("_key") != F.col("_prev"), F.lit("B-")
                    ).otherwise(F.lit("I-")),
                    F.col("m_tag"),
                )
            )
            .alias("bio"),
        )
    )


def bio_training_oracle_sql(docs_sql: str, mentions_sql: str,
                            id_col: str = "url") -> str:
    """DuckDB rendition of :func:`bio_training_rows` — same whitespace
    tokenization, offset accounting, overlap rule, (start, end,
    tag)-least mention choice, and run-start B rule.  ``docs_sql`` must
    yield (<id_col>, text); ``mentions_sql`` (<id_col>, m_start, m_end,
    m_tag)."""
    return f"""
        WITH bio_docs AS ({docs_sql}), bio_m AS ({mentions_sql}),
        tok0 AS (
          SELECT id, g.i - 1 AS tok_idx, parts[g.i] AS token
          FROM (SELECT {id_col} AS id, string_split(text, ' ') AS parts
                FROM bio_docs) t,
               unnest(generate_series(1, len(parts))) AS g(i)
        ),
        tok AS (
          SELECT id, tok_idx, token,
                 coalesce(sum(len(token) + 1) OVER (
                   PARTITION BY id ORDER BY tok_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0)::BIGINT AS tok_start
          FROM tok0
        ),
        tok2 AS (
          SELECT *, tok_start + len(token) AS tok_end
          FROM tok WHERE token != ''
        ),
        ov AS (
          SELECT t.id, t.tok_idx, t.token, t.tok_start, t.tok_end,
                 m.m_start, m.m_end, m.m_tag,
                 row_number() OVER (PARTITION BY t.id, t.tok_idx
                   ORDER BY m.m_start, m.m_end, m.m_tag) AS rn
          FROM tok2 t LEFT JOIN bio_m m
            ON t.id = m.{id_col}
           AND t.tok_start < m.m_end AND t.tok_end > m.m_start
        ),
        seq AS (
          SELECT *,
                 concat_ws(':', CAST(m_start AS VARCHAR),
                           CAST(m_end AS VARCHAR), m_tag) AS key,
                 coalesce(lag(concat_ws(':', CAST(m_start AS VARCHAR),
                                        CAST(m_end AS VARCHAR), m_tag))
                          OVER (PARTITION BY id ORDER BY tok_idx),
                          '') AS prev
          FROM ov WHERE rn = 1
        )
        SELECT id AS {id_col}, tok_idx, token, tok_start, tok_end,
               CASE WHEN key = '' THEN 'O'
                    WHEN key != prev THEN 'B-' || m_tag
                    ELSE 'I-' || m_tag END AS bio
        FROM seq
    """
