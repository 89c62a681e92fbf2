"""Entity linking: mention rows -> top-5 linked candidates per mention.

Spark mapping of reference operators G1-G15, R1-R6, P1-P8 (SURVEY.md §2.6-2.8,
``src/entity_linking.py``).  The reference's doc-level statefulness (5-pass
candidate search with PER memoization and P641 type seeding, within-doc
connection ranking, doc-frequent-type boost, main-location vote) makes the
document the atomic unit, so the whole stage is ``link_doc``, called once
per document inside the fused plan's ``mapInPandas`` (plans/fused.py), where
the doc's mentions, sentences and raw text are already in hand: nothing is
regrouped by url.  Everything inside is dictionary math against the
broadcast KB image (LinkerDicts) — vectorized Arrow batches in, no per-row
Python at the API level.

The FTS5 inverted index is replaced by the broadcast ``name_to_q`` /
``word_to_q`` dicts (the reference's own pickle fallback,
entity_linking.py:1088-1126, is the data model), so candidate generation is
a broadcast hash lookup instead of a distributed join — the dictionary is a
dimension, mentions are the fact stream (SURVEY.md §4).
"""

from __future__ import annotations

import copy
import re
from collections import defaultdict


from entity_extraction_svc_spark.functions.fuzz import ratio as fuzz_ratio
from entity_extraction_svc_spark.functions.stopwords import (
    ENGLISH_STOPWORDS,
    stopwords_for,
)
from entity_extraction_svc_spark.operators.chunker import RE_TOKENIZER
from entity_extraction_svc_spark.sources.kb import LinkerDicts, normalize_label

NUM_ENTITIES_FOR_CONN_RANKING = 30  # entity_linking_en_full.json:14
NUM_ENTITIES_TO_RETURN = 5          # entity_linking_en_full.json:16

# entity_linking.py:113-117
CORRECT_TAGS_DICT = {"PERSON": "PER"}
RELATED_TAGS = {
    "LOC": ["GPE"], "GPE": ["LOC"], "WORK_OF_ART": ["PRODUCT", "LAW"],
    "PRODUCT": ["WORK_OF_ART"], "LAW": ["WORK_OF_ART"], "ORG": ["FAC", "BUSINESS"],
    "BUSINESS": ["ORG"],
}
PER_FAMILY = {"POLITICIAN", "ACTOR", "WRITER", "MUSICIAN", "ATHLETE", "PAINTER",
              "ENTREPRENEUR", "PER"}

LINKED_SCHEMA = (
    "url string, mention_id bigint, substr string, start int, end int, "
    "rank int, qid string, conf double, page string, ent_tag string, "
    "substr_score double, num_rels bigint, conn_score_notag bigint, "
    "conn_score_tag bigint"
)


# ---------------------------------------------------------------------------
# G1/G2: tag-set expansion (entity_linking.py:796-853)
# ---------------------------------------------------------------------------

def process_tags_for_search(n_mentions: int, tags_with_probas) -> list[str]:
    tags_for_search: list[str] = []
    for tag_proba, tag in tags_with_probas:
        if tag_proba > 0.6:
            tags_for_search.append(tag)
            if n_mentions <= 2:
                break
        elif n_mentions > 2 and tag_proba > 0.1:
            tags_for_search.append(tag)
    add_tags: list[str] = []
    for tag in tags_for_search:
        add_tags += RELATED_TAGS.get(tag, [])
    tags_for_search += add_tags

    if tags_with_probas and tags_with_probas[0][1] == "PER" and tags_with_probas[0][0] > 0.33:
        tags_for_search.append("PER")
    if len(tags_with_probas) > 1 and tags_with_probas[1][1] == "PER" \
            and tags_with_probas[0][0] < 0.55:
        tags_for_search.append("PER")
    if len(tags_with_probas) > 1 and tags_with_probas[0][1] == "SCIENCE_AND_TECHNOLOGY" \
            and tags_with_probas[1][1] == "PER" and "PER" not in tags_for_search:
        tags_for_search.append("PER")
    if n_mentions == 1 and not tags_for_search:
        for tag_proba, tag in tags_with_probas[:2]:
            tags_for_search.append(tag)
        tags_for_search.append("MISC")
    if tags_with_probas and tags_with_probas[0][0] < 0.9 \
            and tags_with_probas[0][1] in {"OCCUPATION", "CHEMICAL_ELEMENT"}:
        tags_for_search.append("MISC")
    return [CORRECT_TAGS_DICT.get(tag, tag) for tag in tags_for_search]


def correct_tags(entity_substr: str, tags_for_search: list[str], tags_with_probas) -> list[str]:
    twp = list(tags_with_probas) + [(0.0, "")] * max(0, 3 - len(tags_with_probas))
    if tags_for_search[0] in PER_FAMILY - {"PER"} and "PER" not in tags_for_search:
        tags_for_search.append("PER")
    elif tags_for_search[0] == "PER":
        for new_tag in sorted(PER_FAMILY - {"PER"}):
            if new_tag not in tags_for_search:
                tags_for_search.append(new_tag)
    if twp[1][1] in PER_FAMILY - {"PER"} and twp[1][0] > 0.15 and "PER" not in tags_for_search:
        tags_for_search.append("PER")
    if twp[0][1] == "COUNTRY" and (twp[1][1] == "SPORTS_EVENT" or twp[2][1] == "SPORTS_EVENT") \
            and "SPORTS_EVENT" not in tags_for_search:
        tags_for_search.append("SPORTS_EVENT")
    if tags_for_search[0] == "ATHLETE" and re.findall(r"[\d]{3,4}", entity_substr):
        tags_for_search = ["SPORTS_SEASON"]
    if twp[0][1] == "SPORT_TEAM" and (twp[1][1] == "ASSOCIATION_FOOTBALL_CLUB"
                                      or twp[2][1] == "ASSOCIATION_FOOTBALL_CLUB") \
            and "ASSOCIATION_FOOTBALL_CLUB" not in tags_for_search:
        tags_for_search.append("ASSOCIATION_FOOTBALL_CLUB")
    if tags_for_search[0] == "PRODUCT" and len(entity_substr) <= 2:
        tags_for_search = ["CHEMICAL_ELEMENT"]
    return tags_for_search


# ---------------------------------------------------------------------------
# G9: substring score (entity_linking.py:1203-1246)
# ---------------------------------------------------------------------------

def calc_substr_score(cand_entity_title: str, entity_substr_split: list[str],
                      tags: list[str], name_or_alias: str = "name") -> float:
    label_tokens = cand_entity_title.split()
    cnt = 0.0
    for ent_tok in entity_substr_split:
        found = False
        for label_tok in label_tokens:
            if label_tok == ent_tok:
                found = True
                break
        if found:
            cnt += 1.0
        else:
            for label_tok in label_tokens:
                if label_tok[:2] == ent_tok[:2]:
                    fuzz_score = fuzz_ratio(label_tok, ent_tok)
                    if fuzz_score >= 80.0 and not found:
                        cnt += fuzz_score * 0.01
                        found = True
                        break
    substr_score = round(cnt / max(len(label_tokens), len(entity_substr_split), 1), 3)
    if set(tags).intersection({"LOC", "GPE"}):
        if len(label_tokens) == 2 and "," in cand_entity_title and len(entity_substr_split) == 1:
            if entity_substr_split[0] == label_tokens[1]:
                substr_score = 0.0 if tags[0] == "COUNTRY" else 0.3
            else:
                substr_score = 0.5
    else:
        if len(label_tokens) == 2 and len(entity_substr_split) == 1:
            if entity_substr_split[0] == label_tokens[0] and label_tokens[1].lower() in \
                    {"river", "lake", "mountain", "city", "town", "county"}:
                substr_score = 1.0
            elif entity_substr_split[0] == label_tokens[1]:
                substr_score = 0.0 if tags[0] == "COUNTRY" else 0.5
            elif entity_substr_split[0] == label_tokens[0]:
                substr_score = 0.3
    if name_or_alias == "alias":
        substr_score *= 0.9
    return substr_score


# ---------------------------------------------------------------------------
# G5/G7/G8: candidate generation against the broadcast index
# ---------------------------------------------------------------------------

CandTuple = tuple  # (substr_score, num_rels, page, descr, types, p131, p641, triplets, tag)


def _normalize_query(entity_substr: str) -> str:
    """delete_hyphens chain (entity_linking.py:1026-1037, config
    delete_hyphens=true)."""
    for symb in [" s", "'s", " '", " (", " &", ' "', "’s", " ”", " ’"]:
        if entity_substr.endswith(symb):
            entity_substr = entity_substr.replace(symb, "")
    for symb in [": "]:
        if entity_substr.startswith(symb):
            entity_substr = entity_substr.replace(symb, "")
    entity_substr = entity_substr.replace("-", " ").replace("'", " ")
    return entity_substr.replace(".", "").replace(",", "").strip()


def _candidate_tuple(d: LinkerDicts, qid: str, score: float, kb_tag: str) -> CandTuple:
    return (
        score,
        d.entity_ranking_dict.get(qid, 0),
        d.q_to_page.get(qid, ""),
        d.q_to_descr.get(qid, ""),
        tuple(d.types_dict.get(qid, [])),
        tuple(d.p131_dict.get(qid, [])),
        tuple(d.p641_dict.get(qid, [])),
        d.wikidata.get(qid, ()),
        kb_tag,
    )


def find_exact_match(d: LinkerDicts, entity_substr: str, tags: list[str],
                     cur_p641: list[str], short_text: bool) -> dict[str, set]:
    """G7: normalized-label lookup with per-tag routing, P641 rel filter with
    retry, short-text all-tags fallback (entity_linking.py:1025-1086)."""
    query = _normalize_query(entity_substr)
    substr_split = query.split()
    cand: dict[str, set] = defaultdict(set)
    if not query or len(query) <= 1:
        return cand
    norm = normalize_label(query)
    hits = d.name_to_q.get(norm, [])
    tag_set = {t.lower() for t in tags}

    def _accept(qid: str, kind: str, raw_label: str, check_tags: bool,
                check_rels: bool) -> None:
        kb_tag = d.entity_to_tag.get(qid, "MISC")
        if check_tags and kb_tag.lower() not in tag_set:
            return
        if check_rels and cur_p641:
            if not set(d.p641_dict.get(qid, [])).intersection(cur_p641):
                return
        # MISC lowercase-initial rule (entity_linking.py:1018)
        if kb_tag == "MISC" and raw_label and not raw_label[0].islower():
            if "misc" in tag_set and kb_tag.lower() in tag_set:
                return
        title = normalize_label(raw_label)
        score = calc_substr_score(title, substr_split, tags or [kb_tag], kind)
        cand[qid].add(_candidate_tuple(d, qid, score, kb_tag))

    for qid, kind, raw_label in hits:
        _accept(qid, kind, raw_label, check_tags=bool(tags), check_rels=True)
    if not cand and cur_p641:
        # retry without the rels filter (entity_linking.py:1067-1084)
        for qid, kind, raw_label in hits:
            _accept(qid, kind, raw_label, check_tags=bool(tags), check_rels=False)
    if not cand and short_text:
        # short-text fallback: search all tags (entity_linking.py:1049-1057)
        for qid, kind, raw_label in hits:
            _accept(qid, kind, raw_label, check_tags=False, check_rels=False)
    return cand


def find_fuzzy_match(d: LinkerDicts, entity_substr_split: list[str],
                     tags: list[str],
                     stopwords: frozenset = ENGLISH_STOPWORDS) -> dict[str, set]:
    """G8: word-level inverted-index semi-join (entity_linking.py:1102-1126,
    1168-1196): candidates sharing >=1 word, rescored per label."""
    cand: dict[str, set] = defaultdict(set)
    tag_set = {t.lower() for t in tags}
    cand_ids: set[str] = set()
    for word in entity_substr_split:
        w = normalize_label(word)
        if len(w) > 1 and w not in stopwords:
            cand_ids |= d.word_to_q.get(w, set())
    for qid in cand_ids:
        kb_tag = d.entity_to_tag.get(qid, "MISC")
        if tags and kb_tag.lower() not in tag_set:
            continue
        best = None
        for raw_label, kind in d.q_to_name.get(qid, []):
            title = normalize_label(raw_label)
            score = calc_substr_score(title, entity_substr_split, tags or [kb_tag], kind)
            if best is None or score > best:
                best = score
        if best is not None:
            cand[qid].add(_candidate_tuple(d, qid, best, kb_tag))
    return cand


def get_cand_ent(d: LinkerDicts, entity_substr: str, entity_substr_split: list[str],
                 tags_for_search: list[str], cur_p641: list[str],
                 short_text: bool, lang: str = "en") -> list[tuple[str, CandTuple]]:
    """G4-G12 assembly (entity_linking.py:886-952)."""
    if tags_for_search and tags_for_search[0] not in \
            {"LITERARY_WORK", "SONG", "WORK_OF_ART", "FILM"} \
            and entity_substr.startswith("the "):
        entity_substr = entity_substr[4:]
    if tags_for_search and tags_for_search[0] == "TYPE_OF_SPORT":
        cur_p641 = []

    total = dict(find_exact_match(d, entity_substr, tags_for_search, cur_p641, short_text))
    if entity_substr.startswith("the "):
        more = find_exact_match(d, entity_substr[4:], tags_for_search, cur_p641, short_text)
        total = {**more, **total}
    if len(entity_substr_split) > 1 and (
        not total or (len(total) < 3 and len(entity_substr_split) > 2)
    ):
        more = find_fuzzy_match(d, entity_substr_split, tags_for_search,
                                stopwords_for(lang))
        total = {**more, **total}

    cand_ent_scores: list[tuple[str, CandTuple]] = []
    if tags_for_search and tags_for_search[0] in PER_FAMILY:
        # G11 PER thresholds: >=0.9, else fallback >0.4 (entity_linking.py:921-932)
        for qid, scores in total.items():
            best = sorted(scores, key=lambda x: (x[0], x[1]), reverse=True)[0]
            if best[0] >= 0.9:
                cand_ent_scores.append((qid, best))
        if not cand_ent_scores:
            for qid, scores in total.items():
                best = sorted(scores, key=lambda x: (x[0], x[1]), reverse=True)[0]
                if best[0] > 0.4:
                    cand_ent_scores.append((qid, best))
    else:
        for qid, scores in total.items():
            best = sorted(scores, key=lambda x: (x[0], x[1]), reverse=True)[0]
            if best[0] > 0.29 or \
                    (tags_for_search and tags_for_search[0] in
                     {"NATIONAL_SPORTS_TEAM", "SPORTS_EVENT", "SPORT_TEAM"} and best[0] > 0.1) or \
                    (len(tags_for_search) > 1 and tags_for_search[1] == "SPORTS_EVENT"
                     and best[0] > 0.1) or \
                    (tags_for_search and tags_for_search[0] == "SPORTS_SEASON"
                     and re.findall(r"^[\d]{3,4}", entity_substr)):
                cand_ent_scores.append((qid, best))
    return sorted(cand_ent_scores, key=lambda x: (x[1][0], x[1][1]), reverse=True)


def get_cand_ent_cached(d: LinkerDicts, entity_substr: str,
                        entity_substr_split: list[str], tags_for_search: list[str],
                        cur_p641: list[str], short_text: bool, lang: str = "en"):
    """Per-worker memo over get_cand_ent: the function is pure in its
    hashable arguments, and web text is Zipfian — the same (surface, tags)
    pair recurs across thousands of documents, so candidate generation is
    the ideal cache line.  The cache lives on the broadcast LinkerDicts
    instance (one per executor process, reset with the broadcast)."""
    cache = getattr(d, "_cand_cache", None)
    if cache is None:
        cache = {}
        d._cand_cache = cache
    key = (entity_substr, tuple(entity_substr_split), tuple(tags_for_search),
           tuple(cur_p641), short_text, lang)
    hit = cache.get(key)
    if hit is None:
        if len(cache) > 200_000:  # runaway guard; recurrence makes this moot
            cache.clear()
        hit = get_cand_ent(d, entity_substr, entity_substr_split,
                           tags_for_search, cur_p641, short_text, lang)
        cache[key] = hit
    return list(hit)


# ---------------------------------------------------------------------------
# G13-G15: 5-pass candidate search with doc-level state
# (entity_linking.py:437-504)
# ---------------------------------------------------------------------------

def get_cand_ent_all(d: LinkerDicts, entity_substr_list, entity_substr_split_list,
                     entity_sent_list, tags_with_probas_list, n_sentences: int,
                     short_text: bool, lang: str = "en"):
    entity_tags_dict: dict[int, str] = {}
    init_scores: dict[int, list] = {n: [] for n in range(len(entity_substr_list))}
    already_found: set[str] = set()
    p641_ent: set = set()
    p641_tr: set = set()
    tags_by_iter = {0: PER_FAMILY, 1: PER_FAMILY,
                    2: {"SPORTS_SEASON", "CHAMPIONSHIP", "SPORTS_EVENT"}}
    n_mentions = len(entity_substr_list)
    for num_iter in range(5):
        for n, (entity_substr, entity_substr_split, entity_sent, tags_with_probas) in \
                enumerate(zip(entity_substr_list, entity_substr_split_list,
                              entity_sent_list, tags_with_probas_list)):
            tags_for_search = process_tags_for_search(n_mentions, tags_with_probas)
            if tags_for_search:
                tags_for_search = correct_tags(entity_substr, tags_for_search,
                                               tags_with_probas)
                if not init_scores[n] and (
                    (num_iter == 0 and tags_for_search[0] in tags_by_iter[0]
                     and len(entity_substr.split()) > 1)
                    or (num_iter == 1 and tags_for_search[0] in tags_by_iter[1]
                        and len(entity_substr.split()) == 1)
                    or (num_iter == 2 and tags_for_search[0] in tags_by_iter[2]
                        and len(entity_substr.split()) > 3)
                    or num_iter > 2
                ):
                    is_already_found = False
                    if "PER" in tags_for_search:
                        for af in already_found:
                            if set(w.lower() for w in af.split()) & \
                                    set(w.lower() for w in entity_substr.split()):
                                is_already_found = True
                                for k in range(n_mentions):
                                    if entity_substr_list[k].lower() == af.lower() \
                                            and init_scores[k]:
                                        init_scores[n] = copy.deepcopy(init_scores[k])
                                        break
                                break
                    cand_ent_scores = []
                    if not is_already_found:
                        # P641 sentence-distance seeding (entity_linking.py:855-872)
                        cur_p641: list[str] = []
                        seeds = p641_ent if p641_ent else p641_tr
                        for dist in range(max(n_sentences, 1)):
                            for cur_sent, tp in seeds:
                                if cur_sent == abs(entity_sent - dist):
                                    cur_p641.append(tp)
                            if cur_p641:
                                break
                        cand_ent_scores = get_cand_ent_cached(
                            d, entity_substr, entity_substr_split, tags_for_search,
                            sorted(set(cur_p641)), short_text, lang)
                        if cand_ent_scores:
                            cur_ent, best = cand_ent_scores[0]
                            cur_substr_score, _, _, _, _, _, cur_p641_objs, _, cur_tag = best
                            # postprocess_types_for_entity_filter (874-884)
                            if ((cur_substr_score == 1.0 and len(entity_substr.split()) > 1
                                 and tags_for_search[0] in PER_FAMILY)
                                or (len(entity_substr.split()) >= 3 and tags_for_search[0]
                                    in {"SPORTS_EVENT", "CHAMPIONSHIP", "SPORTS_SEASON"})):
                                for tp in cur_p641_objs:
                                    p641_tr.add((entity_sent, tp))
                            if cur_tag.lower() == "type_of_sport":
                                p641_tr = {(entity_sent, cur_ent)}
                        if "PER" in tags_for_search:
                            already_found.add(entity_substr)
                    if cand_ent_scores:
                        init_scores[n] = cand_ent_scores
            entity_tags_dict[n] = tags_with_probas[0][1] if tags_with_probas else "MISC"
    return entity_tags_dict, init_scores


# ---------------------------------------------------------------------------
# R1-R6: connection ranking (entity_linking.py:1248-1558)
# ---------------------------------------------------------------------------

def make_objects_dicts(cand_ent_scores_list):
    """R1 (entity_linking.py:1248-1313): per-candidate KG edges, excluding
    {P31, P279, P47, P530, P36} from conn scoring."""
    entities_objects_list, entities_triplets_list, entities_for_ranking_list = [], [], []
    mention_objects_list, mention_objects_dict_list = [], []
    for entities_scores in cand_ent_scores_list:
        cur_objects_dict, cur_triplets_dict = {}, {}
        mention_objects, mention_objects_dict = set(), defaultdict(dict)
        entities_for_ranking = [entity for entity, _ in entities_scores]
        for entity, (substr_score, num_rels, page, descr, types, locations,
                     types_of_sport, rel_objects, ent_tag) in entities_scores:
            objects, triplets = set(), set()
            for obj in locations:
                objects.add(obj)
                triplets.add(("P131", obj))
                mention_objects.add(obj)
                mention_objects_dict[obj].setdefault("P131", []).append(entity)
            for obj in types_of_sport:
                objects.add(obj)
                triplets.add(("P641", obj))
                mention_objects.add(obj)
                mention_objects_dict[obj].setdefault("P641", []).append(entity)
            for rel_objects_elem in rel_objects:
                if len(rel_objects_elem) > 1:
                    rel = rel_objects_elem[0]
                    if rel not in {"P31", "P279", "P47", "P530", "P36"}:
                        for obj in rel_objects_elem[1:]:
                            objects.add(obj)
                            triplets.add((rel, obj))
                            mention_objects.add(obj)
                            mention_objects_dict[obj].setdefault(rel, []).append(entity)
            cur_objects_dict[entity] = objects
            cur_triplets_dict[entity] = triplets
        entities_objects_list.append(cur_objects_dict)
        entities_triplets_list.append(cur_triplets_dict)
        mention_objects_list.append(mention_objects)
        mention_objects_dict_list.append(mention_objects_dict)
        entities_for_ranking_list.append(entities_for_ranking)
    return (entities_objects_list, entities_triplets_list, mention_objects_list,
            mention_objects_dict_list, entities_for_ranking_list)


def find_inters(cand_ent_scores_list, entity_tags_list, entity_sent_list,
                entities_sets_list, entities_objects_list, entities_triplets_list,
                mention_objects_list, mention_objects_dict_list,
                total_entities_scores_dict, entities_for_ranking_list):
    """R3 (entity_linking.py:1315-1384): pairwise candidate/object
    intersections across mentions of the same doc."""
    entities_conn_scores_list, entities_found_inters_list, entities_found_conn_list = [], [], []
    for entities_scores in cand_ent_scores_list:
        entities_conn_scores_list.append({entity: 0 for entity, _ in entities_scores})
        entities_found_inters_list.append({entity: set() for entity, _ in entities_scores})
        entities_found_conn_list.append(defaultdict(set))

    for i in range(len(entities_for_ranking_list)):
        for entity1 in entities_for_ranking_list[i]:
            for j in range(len(entities_for_ranking_list)):
                if i != j and not (entity_tags_list[i] in {"CITY", "COUNTY"}
                                   and entity_tags_list[j] == "EVENT"):
                    inters = entities_objects_list[i][entity1] & entities_sets_list[j]
                    if inters:
                        for elem in inters:
                            if elem != entity1:
                                entities_found_inters_list[i][entity1].add(
                                    (elem, entity_tags_list[j], j, entity_sent_list[j]))
                                entities_found_conn_list[i][(entity1, elem, entity_tags_list[j])].add(elem)
                                entities_found_inters_list[j][elem].add(
                                    (entity1, entity_tags_list[i], i, entity_sent_list[i]))
                                entities_found_conn_list[j][(elem, entity1, entity_tags_list[i])].add(entity1)
                    else:
                        inters2 = set()
                        for rel1, obj1 in entities_triplets_list[i][entity1]:
                            if obj1 in mention_objects_list[j]:
                                rels_and_obj2 = mention_objects_dict_list[j][obj1]
                                for rel2 in rels_and_obj2:
                                    wiki1 = rel1 in {"wiki_main_conn", "wiki_conn"}
                                    wiki2 = rel2 in {"wiki_main_conn", "wiki_conn"}
                                    if (rel1 == rel2 and not wiki1) or (wiki1 and not wiki2) \
                                            or (wiki2 and not wiki1):
                                        entities2 = rels_and_obj2[rel2]
                                        inters_rel = rel1 if not rel1.startswith("wiki") else rel2
                                        inters_entity = ""
                                        for entity2 in entities2:
                                            e2s = total_entities_scores_dict.get(
                                                entity2, [100, 0.0, 0])
                                            if e2s[0] == 0 and e2s[1] >= 0.9:
                                                inters_entity = entity2
                                                break
                                        if inters_entity and inters_entity != entity1:
                                            inters2.add((inters_rel, obj1, inters_entity))
                                        else:
                                            for entity2 in entities2:
                                                if entity2 != entity1:
                                                    inters2.add((inters_rel, obj1, entity2))
                                                    break
                        for inters_rel, obj1, inters_entity in inters2:
                            entities_found_inters_list[i][entity1].add(
                                ((inters_rel, obj1), entity_tags_list[j], j, entity_sent_list[j]))
                            entities_found_conn_list[i][(entity1, (inters_rel, obj1),
                                                         entity_tags_list[j])].add(inters_entity)
                            entities_found_inters_list[j][inters_entity].add(
                                ((inters_rel, obj1), entity_tags_list[j], i, entity_sent_list[i]))
                            entities_found_conn_list[j][(inters_entity, (inters_rel, obj1),
                                                         entity_tags_list[j])].add(entity1)
    return entities_found_inters_list, entities_found_conn_list, entities_conn_scores_list


def calc_inters_scores(entity_sent_list, entity_tags_list, entities_found_inters_list,
                       entities_found_conn_list, total_entities_scores_dict,
                       entities_triplets_list, entities_conn_scores_list):
    """R4 (entity_linking.py:1386-1496): case-weighted intersection scores."""
    for i in range(len(entities_found_inters_list)):
        found_country = False
        for entity in entities_found_inters_list[i]:
            cnts_tag_dict: dict = defaultdict(int)
            cnts_notag_dict: dict = defaultdict(int)
            found_inters_list = []
            # canonical order, not the reference's set order (COVERAGE R4):
            # state carries between elements, so set order is hash-seeded
            inters_set = sorted(entities_found_inters_list[i][entity], key=repr)
            for elem, entity_tag, entity_ind, entity_sent_num in inters_set:
                if isinstance(elem, str):
                    found_inters_list.append([elem, entity_tag])
            found_inters_rel_dict = defaultdict(set)
            for elem, entity_tag, entity_ind, entity_sent_num in inters_set:
                if not isinstance(elem, str) and elem[0].startswith("P"):
                    found_inters_rel_dict[elem[0]].add((elem[1], entity_tag, entity_sent_num))
            for rel, obj_set in found_inters_rel_dict.items():
                obj_list = sorted(obj_set, key=repr)
                proc_obj_cnt_dict: dict = {}
                same_sent = [o for o in obj_list if o[2] == entity_sent_list[i]]
                if same_sent:
                    for cur_obj, entity_tag, _ in same_sent:
                        proc_obj_cnt_dict[cur_obj] = [entity_tag]
                    for cur_obj, entity_tag, sent_num in obj_list:
                        if cur_obj in proc_obj_cnt_dict and sent_num != entity_sent_list[i]:
                            proc_obj_cnt_dict[cur_obj].append(entity_tag)
                else:
                    for cur_obj, entity_tag, _ in obj_list:
                        proc_obj_cnt_dict.setdefault(cur_obj, []).append(entity_tag)
                for cur_obj, entity_tags in proc_obj_cnt_dict.items():
                    for entity_tag in entity_tags:
                        found_inters_list.append([(rel, cur_obj), entity_tag])
            for elem, entity_tag, entity_ind, entity_sent_num in inters_set:
                if not isinstance(elem, str) and elem[0].startswith("wiki"):
                    found_inters_list.append([elem, entity_tag])

            high_conf_obj = ""
            for elem, entity_tag in found_inters_list:
                found_high_conf = False
                for entity_inters in entities_found_conn_list[i][(entity, elem, entity_tag)]:
                    eis = total_entities_scores_dict.get(entity_inters, [100, 0.0, 0])
                    if eis[1] >= 0.9 and eis[0] == 0:
                        found_high_conf = True
                        break
                if found_high_conf and (isinstance(elem, str) or elem[0] != "P17"):
                    if not isinstance(elem, str):
                        if elem[0] == "P641" and elem[1] == high_conf_obj:
                            incr = 25
                        elif elem[0] == "P276" or elem[1] == high_conf_obj:
                            incr = 10
                        elif elem[0] == "P17" and not found_country:
                            found_country = True
                            incr = 1
                        elif elem[0] != "P17":
                            incr = 1
                        else:
                            incr = 1
                        high_conf_obj = elem[1]
                    else:
                        # direct-entity intersection (entity_linking.py:1447-1460;
                        # the reference's found_inters_rel probe compares rel to
                        # the entity id and is always empty — ported as-is)
                        if entity_tag not in {"CITY", "COUNTRY", "COUNTY", "LOC"}:
                            incr = 25
                        else:
                            incr = 15
                else:
                    incr = 1
                if entity_tag == entity_tags_list[i]:
                    cnts_tag_dict[elem] += incr
                else:
                    cnts_notag_dict[elem] += incr

            score_tag, score_notag = 0, 0
            for elem, cnt in cnts_tag_dict.items():
                if isinstance(elem, str):
                    score_tag += cnt * 3
                elif elem[0] in {"P131", "P276"}:
                    score_tag += cnt * 2 if cnt > 4 else cnt
                else:
                    score_tag += cnt
            for elem, cnt in cnts_notag_dict.items():
                if isinstance(elem, str):
                    score_notag += cnt * 6
                elif elem[0] in {"P131", "P276"}:
                    score_notag += cnt * 4 if cnt > 4 else cnt * 2
                else:
                    score_notag += cnt
            entities_conn_scores_list[i][entity] = (score_notag, score_tag)
    return entities_conn_scores_list


def rank_by_connections(d: LinkerDicts, entity_tags_list, entity_sent_list,
                        cand_ent_scores_list, entities_scores_list):
    """R2-R6 (entity_linking.py:1498-1558)."""
    total_entities_scores_dict: dict = {}
    for i in range(len(entities_scores_list)):
        for j, entity in enumerate(entities_scores_list[i]):
            prev = total_entities_scores_dict.get(entity, [100, 0.0, 0])
            cur = [j] + list(entities_scores_list[i][entity][:2])
            if cur[1] >= prev[1]:
                total_entities_scores_dict[entity] = cur

    (entities_objects_list, entities_triplets_list, mention_objects_list,
     mention_objects_dict_list, entities_for_ranking_list) = \
        make_objects_dicts(cand_ent_scores_list)

    entities_sets_list = [{e for e, _ in scores} for scores in cand_ent_scores_list]
    entities_found_inters_list, entities_found_conn_list, entities_conn_scores_list = \
        find_inters(cand_ent_scores_list, entity_tags_list, entity_sent_list,
                    entities_sets_list, entities_objects_list, entities_triplets_list,
                    mention_objects_list, mention_objects_dict_list,
                    total_entities_scores_dict, entities_for_ranking_list)
    entities_conn_scores_list = calc_inters_scores(
        entity_sent_list, entity_tags_list, entities_found_inters_list,
        entities_found_conn_list, total_entities_scores_dict,
        entities_triplets_list, entities_conn_scores_list)

    entities_with_conn_scores_list = []
    for i in range(len(entities_conn_scores_list)):
        rows = []
        for entity in entities_conn_scores_list[i]:
            scores = entities_scores_list[i].get(
                entity, (0.0, 0, "", "", (), (), (), [], ""))
            entity_type = scores[4][0] if scores[4] else ""
            ent_tag = ""
            # R5 occupation retag (entity_linking.py:1529-1546)
            if entity_type == "Q5":
                for rel_objs in scores[7]:
                    if rel_objs and rel_objs[0] == "P106" and len(rel_objs) > 1:
                        ent_tag = d.occ_labels_dict.get(rel_objs[1], "")
                        break
            if not ent_tag:
                ent_tag = scores[8]
            if entity_type in {"Q3467906", "Q9135", "Q218616"}:
                ent_tag = "product"
            conn_notag, conn_tag = entities_conn_scores_list[i][entity]
            # [entity, substr, num_rels, page, descr, types, ent_tag, notag, tag]
            rows.append([entity, scores[0], scores[1], scores[2], scores[3],
                         scores[4], ent_tag, conn_notag, conn_tag])
        rows = sorted(rows, key=lambda x: (x[7], x[8], x[1], x[2]), reverse=True)
        entities_with_conn_scores_list.append(rows)
    return entities_with_conn_scores_list


# ---------------------------------------------------------------------------
# P1-P8: postprocessing / final ranking (entity_linking.py:506-739)
# ---------------------------------------------------------------------------

def most_freq_types(entity_tags_list, entity_sent_list, entities_with_conn_scores_list,
                    entities_types_dict):
    """P1 (entity_linking.py:741-794)."""
    entity_types_sent_freq: dict = defaultdict(dict)
    entity_types_freq: dict = defaultdict(dict)
    for tag, entity_sent, rows in zip(entity_tags_list, entity_sent_list,
                                      entities_with_conn_scores_list):
        if not rows:
            continue
        init_substr_score = rows[0][1]
        cur_types_dict: dict = {}
        for row in rows:
            entity, substr_score, num_rels = row[0], row[1], row[2]
            if substr_score == init_substr_score:
                for cur_type in entities_types_dict.get(entity, []):
                    cur_types_dict[cur_type] = max(cur_types_dict.get(cur_type, 0), num_rels)
        for cur_type, cur_type_rels in cur_types_dict.items():
            prev = entity_types_sent_freq[(entity_sent, tag)].get(cur_type, (0, 0))
            entity_types_sent_freq[(entity_sent, tag)][cur_type] = \
                (prev[0] + 1, prev[1] + cur_type_rels)
            prev = entity_types_freq[tag].get(cur_type, (0, 0))
            entity_types_freq[tag][cur_type] = (prev[0] + 1, prev[1] + cur_type_rels)

    entity_types_sent_most_freq, entity_types_most_freq = {}, {}
    for key, types_freq in entity_types_sent_freq.items():
        tf = sorted(types_freq.items(), key=lambda x: (x[1][0], x[1][1]), reverse=True)
        if len(tf) == 1:
            entity_types_sent_most_freq[key] = tf[0]
        elif tf:
            if abs(tf[1][1][0] - tf[0][1][0]) == 1 and tf[1][1][1] > 100 and tf[0][1][1] < 25:
                entity_types_sent_most_freq[key] = tf[1]
            else:
                entity_types_sent_most_freq[key] = tf[0]
    for tag, types_freq in entity_types_freq.items():
        tf = sorted(types_freq.items(), key=lambda x: (x[1][0], x[1][1]), reverse=True)
        if len(tf) == 1:
            entity_types_most_freq[tag] = tf[0]
        elif tf:
            if abs(tf[1][1][0] - tf[0][1][0]) == 1 and tf[0][1][1] > 0 \
                    and tf[1][1][1] / tf[0][1][1] > 5.0:
                entity_types_most_freq[tag] = tf[1]
            else:
                entity_types_most_freq[tag] = tf[0]
    return entity_types_sent_most_freq, entity_types_most_freq


def postprocess_entities(entity_substr_list, entity_substr_split_list, substr_tags_list,
                         entity_sent_list, entities_with_conn_scores_list,
                         entities_types_dict, locations_dict):
    """P2-P7 (entity_linking.py:506-706): type boost, conditional final sort,
    swap heuristics, main-location vote, low-conf null, top-5 cut, PER
    already-found correction."""
    entity_types_sent_most_freq, entity_types_most_freq = most_freq_types(
        substr_tags_list, entity_sent_list, entities_with_conn_scores_list,
        entities_types_dict)

    top_entities_with_scores_list = []
    for entity_substr, entity_substr_split, tag, entity_sent, rows in zip(
            entity_substr_list, entity_substr_split_list, substr_tags_list,
            entity_sent_list, entities_with_conn_scores_list):
        most_freq_type = ""
        freq_sent = entity_types_sent_most_freq.get((entity_sent, tag), ())
        freq_glob = entity_types_most_freq.get(tag, ())
        if freq_sent and freq_glob and (
                freq_sent[1][0] >= 4 or (freq_glob[1][0] >= 2 and freq_glob[0] == freq_sent[0])):
            most_freq_type = freq_glob[0]

        top = []
        for entity, substr_score, num_rels, page, descr, wiki_types, ent_tag, \
                conn_notag, conn_tag in rows:
            add_types_score = 0
            for cur_type in entities_types_dict.get(entity, []):
                if most_freq_type and cur_type == most_freq_type:
                    add_types_score += 40
            if not ent_tag:
                ent_tag = tag
            # [entity, substr, num_rels, conn_notag, conn_tag, final_conf,
            #  page, wiki_types, ent_tag]
            top.append([entity, substr_score, num_rels, conn_notag + add_types_score,
                        conn_tag, float(substr_score), page, wiki_types, ent_tag])

        # P3 conditional final sort (entity_linking.py:554-557)
        if len(entity_substr_split) >= 4 or tag in \
                {"TYPE_OF_SPORT", "ORG", "CITY", "RIVER", "COUNTY"}:
            top = sorted(top, key=lambda x: (x[1], x[3], x[4], x[2]), reverse=True)
        else:
            top = sorted(top, key=lambda x: (x[3], x[4], x[1], x[2]), reverse=True)

        # P4 swap heuristics (entity_linking.py:564-598)
        if len(top) > 1:
            edges_0 = top[0][3] + top[0][4]
            edges_1 = top[1][3] + top[1][4]
            if top[1][1] > 0.9 and (top[0][1] < 0.35 or
                                    (top[0][1] < 0.68 and edges_0 > 0 and edges_1 / edges_0 > 0.8)):
                top = [top[1], top[0]] + top[2:]
            if tag == "NATION" and top[0][1] < 0.35:
                for elem in top[1:]:
                    if elem[1] == 1.0:
                        top = [elem]
                        break
        if top and top[0][1] < 0.35:
            for n_elem in range(1, len(top)):
                if top[n_elem][1] >= 0.9 and top[n_elem][5] > 0.8:
                    top = [top[n_elem]] + top[:n_elem] + top[n_elem + 1:]
                    break
        if len(top) > 1:
            first_ent, second_ent, else_ent = top[0], top[1], top[2:]
            if first_ent[1] <= second_ent[1] and second_ent[2] / max(first_ent[2], 1) > 2 \
                    and (second_ent[3] + second_ent[4]) / 2 > (first_ent[3] + first_ent[4]) / 2:
                top = [second_ent, first_ent] + else_ent
        top_entities_with_scores_list.append(top)

    # P5 main-location vote (entity_linking.py:601-635)
    tags_in_text_cnts: dict = defaultdict(int)
    for top in top_entities_with_scores_list:
        if top:
            tags_in_text_cnts[top[0][-1].lower()] += 1
    main_location = ""
    if tags_in_text_cnts.get("city", 0) + tags_in_text_cnts.get("county", 0) > 4:
        locations_in_text: dict = defaultdict(int)
        for top in top_entities_with_scores_list:
            if top and locations_dict.get(top[0][0], ""):
                for location in locations_dict[top[0][0]].split():
                    locations_in_text[location] += 1
        lit = sorted(locations_in_text.items(), key=lambda x: x[1], reverse=True)
        if lit and lit[0][1] > 4:
            main_location = lit[0][0]
    if main_location:
        for j in range(len(top_entities_with_scores_list)):
            top = top_entities_with_scores_list[j]
            if top and top[0][-1].lower() in {"city", "county"} \
                    and locations_dict.get(top[0][0], "") \
                    and locations_dict.get(top[0][0], "") != main_location:
                for elem in top:
                    if main_location in locations_dict.get(elem[0], "").split():
                        top_entities_with_scores_list[j] = [elem]
                        break

    # P6/P7: low-conf null + top-5 cut (entity_linking.py:637-665)
    entity_ids_list, pages_list, ent_tags_list, conf_list, full_rows_list = [], [], [], [], []
    for top in top_entities_with_scores_list:
        entity_ids = [e[0] for e in top]
        confs = [e[1:6] for e in top]
        final_confs = [e[5] for e in top]
        ent_tags = [e[-1].lower() for e in top]
        pages = [e[6] for e in top]
        low_conf = bool(confs and confs[0][0] < 0.3 and confs[0][4] < 0.51)
        if not low_conf:
            entity_ids_list.append(entity_ids[:NUM_ENTITIES_TO_RETURN])
            pages_list.append(pages[:NUM_ENTITIES_TO_RETURN])
            conf_list.append(final_confs[:NUM_ENTITIES_TO_RETURN])
            ent_tags_list.append(ent_tags[:NUM_ENTITIES_TO_RETURN])
            full_rows_list.append(top[:NUM_ENTITIES_TO_RETURN])
        else:
            entity_ids_list.append([""])
            pages_list.append([""])
            conf_list.append([0.0])
            ent_tags_list.append([ent_tags[0]] if ent_tags else [""])
            full_rows_list.append([])

    # correct_already_found (entity_linking.py:673-706)
    already_found: dict = {}
    for entity_substr, entity_ids, pages, substr_tag, ent_tags, confs, rows in zip(
            entity_substr_list, entity_ids_list, pages_list, substr_tags_list,
            ent_tags_list, conf_list, full_rows_list):
        if len(entity_substr.split()) > 1 and "PER" in substr_tag:
            already_found[entity_substr.lower()] = [entity_ids, pages, ent_tags, confs, rows]
    for n, (entity_substr, entity_ids, substr_tag) in enumerate(
            zip(entity_substr_list, entity_ids_list, substr_tags_list)):
        if (not entity_ids or entity_ids == [""]) and "PER" in substr_tag:
            for af, vals in already_found.items():
                if set(w.lower() for w in af.split()) & \
                        set(w.lower() for w in entity_substr.split()):
                    entity_ids_list[n], pages_list[n], ent_tags_list[n], conf_list[n], \
                        full_rows_list[n] = vals
                    break
    return entity_ids_list, pages_list, ent_tags_list, conf_list, full_rows_list


# ---------------------------------------------------------------------------
# N7: raw-text offset re-alignment (ner_chunker.py:372-441)
# ---------------------------------------------------------------------------

_REALIGN_RULES = [["", []], ["-", [("-", " - "), ("  ", " ")]], [". ", [(". ", ".")]],
                  ["/", [(" / ", "/")]], [" ", [(" (", "(")]], [" ’", [(" ’", "’")]]]


def realign_mentions(raw_text: str, mentions: list[dict]) -> list[dict]:
    """Sequential cursor re-alignment of mention offsets to the raw text."""
    new_text = raw_text.lower()
    pos_sum = 0
    out = []
    for m in mentions:
        entity_substr = m["substr"]
        found = False
        start_offset = end_offset = 0
        words = entity_substr.split()
        word_offsets = []
        for word in words:
            fnd = new_text.find(word.lower())
            if fnd != -1:
                word_offsets.append([fnd, fnd + len(word)])
        if len(word_offsets) == len(words) and len(word_offsets) > 1:
            spaces = [new_text[word_offsets[k - 1][1]:word_offsets[k][0]]
                      for k in range(1, len(word_offsets))]
            if all(all(symb == " " for symb in space) for space in spaces):
                found = True
                start_offset = word_offsets[0][0]
                end_offset = word_offsets[-1][1]
        if not found:
            for symb, replace_list in _REALIGN_RULES:
                if symb in entity_substr:
                    for old_symb, new_symb in replace_list:
                        entity_substr = entity_substr.replace(old_symb, new_symb)
                    fnd = new_text.find(entity_substr.lower())
                    if fnd != -1:
                        found = True
                        start_offset = fnd
                        end_offset = fnd + len(entity_substr)
                        break
        if found:
            m = dict(m)
            m["substr"] = entity_substr
            m["start"] = pos_sum + start_offset
            m["end"] = pos_sum + end_offset
            out.append(m)
            new_text = new_text[end_offset:]
            pos_sum = pos_sum + end_offset
    return out


# ---------------------------------------------------------------------------
# per-document linking
# ---------------------------------------------------------------------------

COARSE_TO_FINE = {"PER": "PER", "GPE": "CITY", "LOC": "LOC", "ORG": "ORG",
                  "FAC": "FAC", "WORK_OF_ART": "WORK_OF_ART", "PRODUCT": "PRODUCT",
                  "EVENT": "EVENT", "MISC": "MISC"}


def link_doc(d: LinkerDicts, raw_text: str, sentences: list[str],
             sentences_offsets: list[tuple[int, int]], mentions: list[dict],
             lang: str = "en") -> list[dict]:
    """Full linking for one document; returns linked-candidate rows.
    ``lang`` keys the stopword sets (entity_linking.py:96-101)."""
    if not mentions:
        return []
    text_clean = " ".join(sentences)
    if len(text_clean) != len(raw_text):
        mentions = realign_mentions(raw_text, mentions)
        if not mentions:
            return []

    sw = stopwords_for(lang)
    entity_substr_list = [m["substr"].lower() for m in mentions]
    entity_substr_split_list = [
        [w for w in s.split(" ") if w not in sw and len(w) > 1]
        for s in entity_substr_list
    ]
    entity_sent_list = []
    for m in mentions:
        found_n = -1
        for n, (s, e) in enumerate(sentences_offsets):
            if m["start"] >= s and m["end"] <= e:
                found_n = n
        entity_sent_list.append(found_n)
    tags_with_probas_list = []
    for m in mentions:
        fine = m.get("fine_tag") or COARSE_TO_FINE.get(m["tag"], "MISC")
        alt = m.get("alt_tag") or "MISC"
        tags_with_probas_list.append([(0.95, fine), (0.04, alt), (0.01, "MISC")])

    short_text = len(RE_TOKENIZER.findall(text_clean)) <= 3

    entity_tags_dict, init_scores = get_cand_ent_all(
        d, entity_substr_list, entity_substr_split_list, entity_sent_list,
        tags_with_probas_list, len(sentences), short_text, lang)

    substr_tags_list = [entity_tags_dict[n] for n in range(len(mentions))]
    cand_ent_scores_list, entities_scores_list = [], []
    entities_types_dict: dict = {}
    locations_dict: dict = {}
    for n in range(len(mentions)):
        cand_init = sorted(init_scores[n], key=lambda x: (x[1][0], x[1][1]), reverse=True)
        cand = cand_init[:NUM_ENTITIES_FOR_CONN_RANKING]
        cand_ent_scores_list.append(cand)
        entities_scores_list.append({ent: score for ent, score in cand})
        for ent, scores in cand_init:
            entities_types_dict[ent] = list(scores[4])
            if scores[5]:
                locations_dict[ent] = " ".join(scores[5])

    entities_with_conn_scores_list = rank_by_connections(
        d, substr_tags_list, entity_sent_list, cand_ent_scores_list,
        entities_scores_list)

    entity_ids_list, pages_list, ent_tags_list, conf_list, full_rows_list = \
        postprocess_entities(entity_substr_list, entity_substr_split_list,
                             substr_tags_list, entity_sent_list,
                             entities_with_conn_scores_list, entities_types_dict,
                             locations_dict)

    out_rows = []
    for n, m in enumerate(mentions):
        ids = entity_ids_list[n]
        rows = full_rows_list[n]
        if not ids or ids == [""]:
            out_rows.append({
                "url": m["url"], "mention_id": n, "substr": entity_substr_list[n],
                "start": m["start"], "end": m["end"], "rank": 0, "qid": None,
                # an unlinked mention still reports its detected tag (the
                # agent's unlisted_annotations carry tags, server.py:286-289)
                "conf": 0.0, "page": None,
                "ent_tag": (ent_tags_list[n][0] if ent_tags_list[n]
                            else m.get("tag")),
                "substr_score": None, "num_rels": None,
                "conn_score_notag": None, "conn_score_tag": None,
            })
            continue
        for r, qid in enumerate(ids):
            row = rows[r] if r < len(rows) else None
            out_rows.append({
                "url": m["url"], "mention_id": n, "substr": entity_substr_list[n],
                "start": m["start"], "end": m["end"], "rank": r, "qid": qid,
                "conf": float(conf_list[n][r]) if r < len(conf_list[n]) else None,
                "page": pages_list[n][r] if r < len(pages_list[n]) else None,
                "ent_tag": ent_tags_list[n][r] if r < len(ent_tags_list[n]) else None,
                "substr_score": float(row[1]) if row else None,
                "num_rels": int(row[2]) if row else None,
                "conn_score_notag": int(row[3]) if row else None,
                "conn_score_tag": int(row[4]) if row else None,
            })
    return out_rows
