"""Seeded input generators for the two workloads.

Every generator is a pure function of its seed and size: the same arguments
write byte-identical parquet files (``test_perfbench.py`` checks this).  The
package under test only ever sees the files written here.

* :func:`write_widekb` -- a wide knowledge base (entities, gazetteer,
  triples) in the fixture schemas, pages in the fixture generator's HTML
  template whose mentions are drawn Zipf over that KB, and the golden links
  and triples of those pages.
* :func:`write_dedup_docs` -- a ``documents`` table in the sf schema over a
  Zipf vocabulary, with planted near-duplicate pairs whose exact word-trigram
  Jaccard is recorded in ``planted_pairs.parquet``.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

PAGES_SCHEMA = pa.schema([
    pa.field("url", pa.string(), False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])
ENTITIES_SCHEMA = pa.schema([
    ("qid", pa.string()), ("label", pa.string()), ("num_rels", pa.int64()),
    ("tag", pa.string()), ("page", pa.string()), ("descr", pa.string()),
    ("p31", pa.list_(pa.string())), ("p131", pa.list_(pa.string())),
    ("p641", pa.list_(pa.string())), ("image_link", pa.string()),
    ("categories", pa.list_(pa.string())),
    ("dbpedia_types", pa.list_(pa.string())),
])
ALIASES_SCHEMA = pa.schema([("alias", pa.string()), ("qid", pa.string()),
                            ("name_or_alias", pa.string())])
TRIPLES_SCHEMA = pa.schema([("subj", pa.string()), ("pred", pa.string()),
                            ("obj", pa.string())])
GAZ_SCHEMA = pa.schema([("surface", pa.string()), ("fine_tag", pa.string()),
                        ("coarse_tag", pa.string()), ("num_rels", pa.int64())])
LINKS_SCHEMA = pa.schema([("url", pa.string()), ("substr", pa.string()),
                          ("start", pa.int64()), ("end", pa.int64()),
                          ("qid", pa.string())])
OCC_SCHEMA = pa.schema([("occ_qid", pa.string()), ("fine_tag", pa.string())])
DOCS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                         ("lang", pa.string()), ("source", pa.string()),
                         ("n_chars", pa.int64())])
PLANTED_SCHEMA = pa.schema([("id_a", pa.int64()), ("id_b", pa.int64()),
                            ("jaccard", pa.float64())])


def _write(path: str, rows: list[dict], schema: pa.Schema) -> None:
    cols = {f.name: [r[f.name] for r in rows] for f in schema}
    pq.write_table(pa.Table.from_pydict(cols, schema=schema), path)


# ---------------------------------------------------------------------------
# kg-resume-widekb: wide KB + Zipf-mention HTML pages
# ---------------------------------------------------------------------------

_SYLLABLES = (
    "bra dor ven kal mir tos lun gar pel sor vik nad rem fal tur jos "
    "kev lom zan bri cor del fen gol har ist jun kor lys mav nor "
    "osk pra qui ros sal tam ulf vor wen yar zel ban cid dru"
).split()
_OCC_FINE = [("Q1028181", "PAINTER"), ("Q36180", "WRITER"),
             ("Q82955", "POLITICIAN"), ("Q2066131", "ATHLETE"),
             ("Q639669", "MUSICIAN"), ("Q33999", "ACTOR")]
_FINE_TO_COARSE = {"PAINTER": "PER", "WRITER": "PER", "POLITICIAN": "PER",
                   "ATHLETE": "PER", "MUSICIAN": "PER", "ACTOR": "PER",
                   "CITY": "GPE", "COUNTRY": "GPE", "ORG": "ORG",
                   "BUSINESS": "ORG", "FAC": "FAC"}
# relations the KB uses; all are in both the fixture generator's and the
# triples operator's whitelist
_KB_PREDS = ("P31", "P131", "P17", "P106", "P19", "P27", "P159", "P112")
# Zipf exponent of page mentions over each entity pool: a head of popular
# entities keeps the candidate cache partly warm while the long tail keeps
# missing it
_MENTION_ZIPF_A = 1.0
# sentences per page: enough text that the per-document layers (extract,
# chunk, tag, link) weigh in a resume round against its fixed Spark costs
_PAGE_SENTENCES = (12, 20)


class _Names:
    """Unique two-word capitalized names over an invented syllable
    vocabulary (no English word, no stopword, no shared name)."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.seen: set[str] = set()

    def word(self) -> str:
        n = self.rng.choice((2, 2, 3))
        return "".join(self.rng.choice(_SYLLABLES) for _ in range(n)).capitalize()

    def name(self) -> str:
        while True:
            s = f"{self.word()} {self.word()}"
            if s.lower() not in self.seen:
                self.seen.add(s.lower())
                return s


def _zipf_cdf(n: int, a: float) -> list[float]:
    acc, out = 0.0, []
    for r in range(n):
        acc += 1.0 / (r + 1) ** a
        out.append(acc)
    return [x / acc for x in out]


def _zipf_draw(rng: random.Random, cdf: list[float]) -> int:
    import bisect

    return min(bisect.bisect_left(cdf, rng.random()), len(cdf) - 1)


def _ent_row(qid, label, tag, fine, num_rels, p31, p131):
    return {
        "qid": qid, "label": label, "num_rels": num_rels, "tag": tag,
        "page": label, "descr": f"{label} is a {fine.lower()}.",
        "p31": list(p31), "p131": list(p131), "p641": [],
        "image_link": f"{label.replace(' ', '_')}.jpg",
        "categories": [fine.title()],
        "dbpedia_types": [f"http://dbpedia.org/ontology/{fine.title()}"],
    }


def write_widekb(out_dir: str, n_entities: int, n_pages: int, seed: int) -> dict:
    """Wide KB of ``n_entities`` entities and ``n_pages`` text pages in the
    fixture schemas.  Every page sentence names KB entities by their unique
    label; golden links are the label spans, golden triples the whitelisted
    KB triples of the golden entities.  Persons in one page share no name
    word, so the linker's same-surname coreference rule never applies."""
    from entity_extraction_svc_spark.fixtures import (
        HTML_TEMPLATE,
        TRIPLE_WHITELIST,
        _expected_text,
    )

    rng = random.Random(seed)
    names = _Names(rng)
    os.makedirs(out_dir, exist_ok=True)
    ents: list[dict] = []
    triples: list[tuple[str, str, str]] = []
    gaz: list[dict] = []
    qn = iter(range(10_000_000, 100_000_000))

    def add(tag, fine, rank, p31, p131=(), rels=()):
        qid = f"Q{next(qn)}"
        label = names.name()
        num_rels = max(3, int(400 / (1 + rank) ** 0.5))
        ents.append(_ent_row(qid, label, tag, fine, num_rels, p31, p131))
        gaz.append({"surface": label.lower(), "fine_tag": fine,
                    "coarse_tag": _FINE_TO_COARSE[fine], "num_rels": num_rels})
        for p in p31:
            triples.append((qid, "P31", p))
        triples.extend((qid, p, o) for p, o in rels)
        return qid, label

    n_countries = 50
    n_cities = n_entities // 5
    n_orgs = n_entities // 5
    n_facs = n_entities // 10
    n_persons = n_entities - n_countries - n_cities - n_orgs - n_facs
    countries = [add("COUNTRY", "COUNTRY", r, ["Q6256"])
                 for r in range(n_countries)]
    cities, city_country = [], {}
    for r in range(n_cities):
        c = countries[rng.randrange(n_countries)][0]
        q = add("CITY", "CITY", r, ["Q515"], [c], [("P131", c), ("P17", c)])
        cities.append(q)
        city_country[q[0]] = c
    persons = []
    for r in range(n_persons):
        occ, fine = _OCC_FINE[r % len(_OCC_FINE)]
        born = cities[rng.randrange(n_cities)][0]
        persons.append(add("PER", fine, r, ["Q5"], (),
                           [("P106", occ), ("P19", born),
                            ("P27", city_country[born])]))
    orgs = []
    for r in range(n_orgs):
        tag = "BUSINESS" if r % 2 == 0 else "ORG"
        hq = cities[rng.randrange(n_cities)][0]
        founder = persons[rng.randrange(n_persons)][0]
        orgs.append(add(tag, tag, r,
                        ["Q4830453" if tag == "BUSINESS" else "Q327333"], (),
                        [("P159", hq), ("P112", founder),
                         ("P17", city_country[hq])]))
    facs = []
    for r in range(n_facs):
        city = cities[rng.randrange(n_cities)][0]
        facs.append(add("FAC", "FAC", r, ["Q33506"], [city],
                        [("P131", city), ("P17", city_country[city])]))

    cdf = {k: _zipf_cdf(len(v), _MENTION_ZIPF_A) for k, v in
           (("p", persons), ("c", cities), ("o", orgs), ("f", facs))}
    pools = {"p": persons, "c": cities, "o": orgs, "f": facs}
    templates = [
        "{p} visited {c} in {year}.",
        "{o} was founded by {p}.",
        "{f} stands in {c}.",
        "{p} wrote about {c} and {c2}.",
        "{o} opened an office in {c}.",
    ]
    pages, links = [], []
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    for i in range(n_pages):
        url = f"https://widekb.example.org/doc/{i:08d}"
        person_words: set[str] = set()
        sents, spans = [], []
        pos = 0
        for _ in range(rng.randint(*_PAGE_SENTENCES)):
            tpl = templates[rng.randrange(len(templates))]
            picked = {}
            slots = sorted((s for s in ("p", "c", "c2", "o", "f")
                            if "{" + s + "}" in tpl),
                           key=lambda s: tpl.index("{" + s + "}"))
            for slot in slots:
                pool = slot[0]
                while True:
                    qid, label = pools[pool][_zipf_draw(rng, cdf[pool])]
                    words = set(label.lower().split())
                    if pool != "p" or qid in {q for q, _ in picked.values()} \
                            or not (words & person_words):
                        break
                if pool == "p":
                    person_words |= words
                picked[slot] = (qid, label)
            sent = tpl.format(year=1900 + rng.randrange(120),
                              **{k: v[1] for k, v in picked.items()})
            # golden spans in text order (``picked`` follows the template)
            cur = 0
            for qid, label in picked.values():
                off = sent.index(label, cur)
                cur = off + len(label)
                spans.append((pos + off, pos + cur, label, qid))
            sents.append(sent)
            pos += len(sent) + 1
        body = " ".join(sents)
        # the fixture generator's page template and its extracted-text oracle
        text = _expected_text("", body)
        base = text.index(body)
        pages.append({"url": url, "warc_ts": t0 + dt.timedelta(seconds=i),
                      "html": HTML_TEMPLATE.format(title="", body=body).encode(),
                      "text": text, "lang": "en"})
        for s, e, label, qid in spans:
            links.append({"url": url, "substr": label.lower(), "start": base + s,
                          "end": base + e, "qid": qid})

    wl = set(TRIPLE_WHITELIST)
    assert set(_KB_PREDS) <= wl
    by_subj: dict[str, list[tuple[str, str, str]]] = {}
    for t in triples:
        by_subj.setdefault(t[0], []).append(t)
    gold_qids = {r["qid"] for r in links}
    golden_triples = sorted({t for q in gold_qids for t in by_subj.get(q, ())
                             if t[1] in wl})

    _write(f"{out_dir}/kb_entities.parquet", ents, ENTITIES_SCHEMA)
    _write(f"{out_dir}/kb_aliases.parquet", [], ALIASES_SCHEMA)
    _write(f"{out_dir}/kb_triples.parquet",
           [{"subj": s, "pred": p, "obj": o} for s, p, o in triples],
           TRIPLES_SCHEMA)
    _write(f"{out_dir}/gazetteer.parquet", gaz, GAZ_SCHEMA)
    _write(f"{out_dir}/kb_occ_labels.parquet",
           [{"occ_qid": q, "fine_tag": f.lower()} for q, f in _OCC_FINE],
           OCC_SCHEMA)
    _write(f"{out_dir}/pages.parquet", pages, PAGES_SCHEMA)
    _write(f"{out_dir}/golden_links.parquet", links, LINKS_SCHEMA)
    _write(f"{out_dir}/golden_triples.parquet",
           [{"subj": s, "pred": p, "obj": o} for s, p, o in golden_triples],
           TRIPLES_SCHEMA)
    return {"entities": len(ents), "pages": len(pages), "links": len(links),
            "golden_triples": len(golden_triples)}


# ---------------------------------------------------------------------------
# curate-dedup: Zipf-vocabulary documents with planted near-duplicates
# ---------------------------------------------------------------------------

# Vocabulary size and Zipf exponent of the documents' words: with a > 1 the
# head words repeat often enough that their trigrams pass the stop-shingle
# cap, which reaches the operator's hot-shingle branch
_DEDUP_VOCAB = 20_000
_DEDUP_ZIPF_A = 1.2
# share of documents planted as a near-copy of an earlier one
_PLANTED_FRAC = 0.05


def trigram_set(text: str) -> frozenset[str]:
    """Distinct word 3-shingles of a generated document (lowercase ASCII
    words joined by single spaces, so no further normalization applies)."""
    toks = text.split(" ")
    if len(toks) < 3:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i:i + 3]) for i in range(len(toks) - 2))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


def write_dedup_docs(out_dir: str, n_docs: int, seed: int) -> dict:
    """``documents.parquet`` (sf schema, one file) of ``n_docs`` documents
    and ``planted_pairs.parquet`` (id_a < id_b, exact trigram Jaccard) for
    the near-duplicates planted among them.  A planted copy replaces a few
    tokens of its source; its Jaccard with the source is measured, not
    assumed."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < _DEDUP_VOCAB:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.choice((1, 2, 2, 3))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    cdf = _zipf_cdf(_DEDUP_VOCAB, _DEDUP_ZIPF_A)
    texts: list[str] = []
    planted: list[tuple[int, int]] = []
    for i in range(n_docs):
        if texts and rng.random() < _PLANTED_FRAC:
            src = rng.randrange(len(texts))
            toks = texts[src].split(" ")
            for _ in range(rng.randint(0, max(1, len(toks) // 40))):
                toks[rng.randrange(len(toks))] = words[_zipf_draw(rng, cdf)]
            texts.append(" ".join(toks))
            planted.append((src, i))
        else:
            n = rng.randint(40, 120)
            texts.append(" ".join(words[_zipf_draw(rng, cdf)] for _ in range(n)))
    docs = [{"doc_id": i, "text": t, "lang": "en", "source": f"src{i % 7}",
             "n_chars": len(t)} for i, t in enumerate(texts)]
    pairs = [{"id_a": a, "id_b": b,
              "jaccard": jaccard(trigram_set(texts[a]), trigram_set(texts[b]))}
             for a, b in planted]
    _write(f"{out_dir}/documents.parquet", docs, DOCS_SCHEMA)
    _write(f"{out_dir}/planted_pairs.parquet", pairs, PLANTED_SCHEMA)
    return {"docs": n_docs, "planted": len(pairs)}
