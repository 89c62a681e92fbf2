"""Unit tests: dedup, similarity search, text stats, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat", "en"),  # near dup of 0
        (3, "completely different text about spark engines and shuffles", "en"),
        (4, "", "en"),
        (5, "Пример текста на русском языке для проверки эвристики", "ru"),
        (6, "a b", "en"),  # shorter than the shingle width
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup(docs):
    from entity_extraction_svc_spark.operators.dedup import exact_dup_groups

    groups = exact_dup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0].n_docs == 2 and groups[0].keeper_id == 0


def test_minhash_near_dup(docs):
    from entity_extraction_svc_spark.operators.dedup import minhash_dup_pairs

    pairs = {(r.id_a, r.id_b): r.est_jaccard for r in
             minhash_dup_pairs(docs, threshold=0.3).collect()}
    assert pairs[(0, 1)] == 1.0              # identical docs agree on every hash
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup lands in a shared band
    assert all(b != 3 for (_, b) in pairs)   # unrelated doc never pairs


def test_ngram_jaccard(docs):
    from entity_extraction_svc_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             ngram_jaccard_pairs(docs, threshold=0.2).collect()}
    assert pairs[(0, 1)] == 1.0
    # 9-token docs differing in the last token: 7 shingles each, 6 shared,
    # union 8 -> jaccard 0.75
    assert abs(pairs[(0, 2)] - 0.75) < 1e-9
    assert all({a, b} != {0, 3} for (a, b) in pairs)


def test_simhash_hamming(docs):
    from entity_extraction_svc_spark.operators.dedup import simhash, simhash_dup_pairs

    sh = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert sh[0] == sh[1] != 0
    assert sh[4] == 0  # empty doc
    pairs = {(r.id_a, r.id_b): r.hamming for r in
             simhash_dup_pairs(docs, max_hamming=10).collect()}
    assert pairs[(0, 1)] == 0


def test_cosine_topk_exact_and_ann(spark):
    from entity_extraction_svc_spark.operators.simsearch import (
        cosine_topk,
        lsh_ann_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = cosine_topk(emb, query_id=0, k=10).collect()
    assert len(exact) == 10
    sims = [r.cos_sim for r in exact]
    assert sims == sorted(sims, reverse=True)
    ann = lsh_ann_topk(emb, query_id=0, k=10, bits=8, probe_hamming=4).collect()
    # generous probe radius must reach decent recall of the exact top-10
    recall = len({r.vec_id for r in ann} & {r.vec_id for r in exact}) / 10
    assert recall >= 0.5, f"ANN recall {recall}"


def test_embedding_dup_pairs(spark):
    from entity_extraction_svc_spark.operators.dedup import (
        embedding_dup_pairs,
        embedding_dup_pairs_lsh,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    brute = {(r.id_a, r.id_b): r.cos_sim for r in
             embedding_dup_pairs(emb, threshold=0.4).collect()}
    assert brute, "threshold should yield pairs on the sf0.01 embeddings"
    # explicit banding path: every LSH pair is a true pair with the
    # identical score (no false hits), recall floor holds
    lsh = {(r.id_a, r.id_b): r.cos_sim for r in
           embedding_dup_pairs_lsh(emb, threshold=0.4, bits=16,
                                   bands=8).collect()}
    for k, v in lsh.items():
        assert brute.get(k) == v
    # recall floor (rp-LSH at a low 0.4-cosine threshold is intentionally
    # lossy; production near-dup thresholds >= 0.9 recall far higher)
    assert len(lsh) / len(brute) >= 0.4
    # auto-tuned path: at this n/threshold the tuner detects LSH is
    # degenerate (no locality at cos 0.4 in near-random vectors) and
    # falls back to the exact tiled matmul -> identical to brute
    auto = {(r.id_a, r.id_b): r.cos_sim for r in
            embedding_dup_pairs_lsh(emb, threshold=0.4).collect()}
    assert auto == brute

    # recall-sound tuning under a band cap: when max_bands is too small
    # for target_recall at ANY chunk width, the tuner must fall back to
    # exact (identical pair set) — not silently ship truncated recall
    capped = {(r.id_a, r.id_b): r.cos_sim for r in
              embedding_dup_pairs_lsh(emb, threshold=0.4,
                                      max_bands=4).collect()}
    assert capped == brute

    # half-specified banding is refused, not silently auto-tuned
    import pytest

    with pytest.raises(ValueError, match="BOTH bits and bands"):
        embedding_dup_pairs_lsh(emb, threshold=0.4, bits=32)


def test_ivf_ann_recall(spark):
    from entity_extraction_svc_spark.operators.simsearch import (
        centroid_ivf_topk,
        cosine_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = {r.vec_id for r in cosine_topk(emb, query_id=0, k=10).collect()}
    ivf = {r.vec_id for r in
           centroid_ivf_topk(emb, query_id=0, k=10, n_lists=8, n_probe=4).collect()}
    assert len(ivf) == 10
    assert len(ivf & exact) / 10 >= 0.5  # probing half the lists


def test_lang_id_and_stats(docs):
    from entity_extraction_svc_spark.operators.textstats import doc_stats, lang_id

    langs = {r.doc_id: r.lang_pred for r in lang_id(docs).collect()}
    assert langs[0] == "en" and langs[5] == "ru" and langs[4] == "unk"
    stats = {r.doc_id: r for r in doc_stats(docs).collect()}
    assert stats[0].n_ws_tokens == 9
    assert stats[4].n_chars == 0 and stats[4].quality_score == 0.0
    # "the" x2 are the only LANG_ID_STOPWORDS hits in the 9-token doc
    assert stats[0].stopword_ratio == pytest.approx(2 / 9, abs=1e-6)


def test_multimodal_plumbing(spark, fixture_dir):
    from entity_extraction_svc_spark.operators.multimodal import (
        binary_meta,
        decode_image,
        extract_features,
        resize_image,
    )

    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    meta = binary_meta(pages, bin_col="html", key_col="url")
    m = meta.filter(F.col("media_kind") == "html").count()
    assert m > 190  # all but the <html>-less edge pages sniff as html

    feats = extract_features(pages, bin_col="html", key_col="url").collect()
    assert len(feats) == pages.count()
    vec = next(r.feature for r in feats if r.feature is not None)
    assert len(vec) == 16 and abs(sum(vec) - 1.0) < 1e-3  # L1-normalized

    dec = decode_image(pages.limit(5), bin_col="html", key_col="url").collect()
    assert all(r.decoder == "deterministic-fake" for r in dec)  # no PIL here
    assert all(64 <= r.width < 256 for r in dec)

    # resize is now a real mapInPandas (labelled fake codec in this
    # container) — exercised on the html binary column
    rz = resize_image(pages.limit(3), 4, 4, bin_col="html", key_col="url").collect()
    assert all(r.codec == "strided-byte-fake" and len(r.resized) == 16
               for r in rz)


def test_canonicalize_components(spark):
    from entity_extraction_svc_spark.operators.canonicalize import canonical_qids

    ents = spark.createDataFrame(
        [("Q1", "apple"), ("Q2", "apple inc"), ("Q3", "banana")],
        "qid string, label string",
    )
    aliases = spark.createDataFrame(
        [("Apple", "Q2"), ("banana  fruit", "Q3"), ("Banana Fruit", "Q4")],
        "alias string, qid string",
    )
    canon = {r.qid: r.canonical_qid for r in canonical_qids(ents, aliases).collect()}
    # Q1-Q2 share surface "apple"; Q3-Q4 share normalized "banana fruit"
    assert canon == {"Q1": "Q1", "Q2": "Q1", "Q3": "Q3", "Q4": "Q3"}


def test_hot_bucket_cap_bounds_candidates(spark):
    """One boilerplate-heavy LSH bucket must not go quadratic: with the cap,
    a 120-identical-doc group contributes ZERO join work; without it, 7140
    pairs.  Distinct docs in small buckets are unaffected."""
    from entity_extraction_svc_spark.operators.dedup import (
        hot_bucket_report,
        minhash_band_rows,
        minhash_dup_pairs,
        simhash_dup_pairs,
    )

    boiler = [(i, "cookie banner accept terms privacy policy " * 5, "en")
              for i in range(120)]
    normal = [
        (1000, "a genuinely unique article about spark shuffles today", "en"),
        (1001, "a genuinely unique article about spark shuffles tonight", "en"),
    ]
    docs = spark.createDataFrame(boiler + normal,
                                 "doc_id long, text string, lang string")

    uncapped = minhash_dup_pairs(docs, threshold=0.3, max_bucket=10**9)
    capped = minhash_dup_pairs(docs, threshold=0.3, max_bucket=50)
    n_unc, n_cap = uncapped.count(), capped.count()
    assert n_unc >= 120 * 119 / 2  # the quadratic bucket
    assert n_cap < 100  # bounded: only the small-bucket pairs survive
    # the near-dup pair in a small bucket still comes through
    assert {(r.id_a, r.id_b) for r in capped.collect()} >= {(1000, 1001)}

    # the dropped work is accounted for, not silent
    report = hot_bucket_report(minhash_band_rows(docs), ["band", "band_hash"],
                               50)
    assert report.count() >= 1
    assert report.agg(F.max("bucket_size")).first()[0] == 120

    # simhash path: same guard
    cap_sh = simhash_dup_pairs(docs, max_hamming=3, max_bucket=50).count()
    unc_sh = simhash_dup_pairs(docs, max_hamming=3, max_bucket=10**9).count()
    assert unc_sh >= 120 * 119 / 2 and cap_sh < 100


def test_embedding_lsh_cap(spark):
    """Same guard on the embedding banding path."""
    from entity_extraction_svc_spark.operators.dedup import embedding_dup_pairs_lsh

    vec = [1.0] * 8
    rows = [(i, vec) for i in range(80)] + [
        (100, [1.0, -1.0] * 4), (101, [1.0, -0.9] * 4)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # explicit bits/bands: the cap guard lives on the banding path (auto
    # tuning would fall back to the exact tiled matmul at this tiny n)
    unc = embedding_dup_pairs_lsh(emb, threshold=0.9, bits=16, bands=8,
                                  max_bucket=10**9).count()
    cap = embedding_dup_pairs_lsh(emb, threshold=0.9, bits=16, bands=8,
                                  max_bucket=40).count()
    assert unc >= 80 * 79 / 2
    assert cap < 50


def test_semantic_dedup_keep_one_per_group(spark):
    """SemDeDup keep-one semantics: identical vectors always land in the
    same k-means cluster, so every duplicate group keeps exactly its
    smallest id; distinct vectors survive."""
    from entity_extraction_svc_spark.operators.dedup import semantic_dedup

    va, vb = [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]
    vc = [0.0, 0.0, 1.0, 1.0]
    rows = [(0, va), (1, va), (2, va), (10, vb), (11, vb), (20, vc)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.id: r.keep for r in
           semantic_dedup(emb, threshold=0.99, n_clusters=3).collect()}
    assert out == {0: True, 1: False, 2: False, 10: True, 11: False, 20: True}


def test_semantic_dup_pairs_subset_of_exact(spark):
    """Within-cluster pairs are a subset of the corpus-wide pair set with
    identical cosine values (the cluster bound only prunes, never invents)."""
    from entity_extraction_svc_spark.operators.dedup import (
        embedding_dup_pairs,
        semantic_dup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = {(r.id_a, r.id_b): r.cos_sim
             for r in embedding_dup_pairs(emb, threshold=0.35).collect()}
    within = {(r.id_a, r.id_b): r.cos_sim
              for r in semantic_dup_pairs(emb, threshold=0.35,
                                          n_clusters=8).collect()}
    assert set(within) <= set(exact)
    assert all(exact[k] == v for k, v in within.items())
    assert len(within) >= 0.25 * len(exact)


def test_semantic_assign_cluster_count_scales(spark):
    """The auto-derived n_clusters grows with corpus size (verdict r2 #3:
    a fixed default means quadratic per-cluster joins at scale): 500
    vectors / target 100 -> 16 (floor), 500 / target 20 -> 25; and the
    contract path with an explicit count still honours it."""
    from entity_extraction_svc_spark.operators.dedup import semantic_assign

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    small = semantic_assign(emb, target_cluster_size=100)
    big = semantic_assign(emb, target_cluster_size=20)
    n = emb.count()
    import math

    n_small = small.agg(F.countDistinct("list_id")).first()[0]
    n_big = big.agg(F.countDistinct("list_id")).first()[0]
    small.unpersist(), big.unpersist()
    # every derived cluster id is in range; the derived COUNT scales
    assert n_small <= max(16, math.ceil(n / 100))
    assert n_big <= max(16, math.ceil(n / 20))
    assert n_big > n_small  # more clusters when the target size shrinks


def test_semantic_pairs_block_salt_invariant(spark):
    """Block-salting the within-cluster self-join (n_blocks > 1, the skew
    escape hatch) returns the identical pair set as the unsalted join."""
    from entity_extraction_svc_spark.operators.dedup import (
        semantic_assign,
        semantic_dup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    assigned = semantic_assign(emb, n_clusters=4)
    plain = {(r.id_a, r.id_b, r.cos_sim) for r in
             semantic_dup_pairs(threshold=0.35, assigned=assigned).collect()}
    salted = {(r.id_a, r.id_b, r.cos_sim) for r in
              semantic_dup_pairs(threshold=0.35, assigned=assigned,
                                 n_blocks=3).collect()}
    assigned.unpersist()
    assert plain == salted
    assert len(plain) > 0


def test_cap_per_domain_custom_order_col(spark):
    """ADVICE r2: order_col used to be projected away before the window
    (UNRESOLVED_COLUMN for any non-default order_col).  Rank by score:
    the top-2 scorers per domain survive, ties broken by url."""
    from entity_extraction_svc_spark.operators.textstats import cap_per_domain

    rows = [
        ("https://a.com/1", 5.0), ("https://a.com/2", 9.0),
        ("https://a.com/3", 1.0), ("https://b.org/x", 2.0),
    ]
    pages = spark.createDataFrame(rows, "url string, score double")
    out = cap_per_domain(pages, max_per_domain=2, order_col="score")
    kept = {r.url: r.domain_rank for r in out.collect()}
    assert kept == {
        "https://a.com/3": 1, "https://a.com/1": 2,  # lowest scores first
        "https://b.org/x": 1,
    }


def test_top_2gram_is_most_frequent_grams_coverage(spark):
    """ADVICE r2: the Gopher rule is the coverage of the MOST FREQUENT
    2-gram.  Construct a doc where a long once-occurring gram has larger
    cnt*len than the most frequent short gram — the old max(cnt*len)
    formula would report the long gram's coverage."""
    from entity_extraction_svc_spark.operators.textstats import (
        repetition_stats,
    )

    # "of it" occurs 4x (len 5 -> coverage 20); the long unique gram
    # "anthropomorphization electroencephalographically" (len 49) occurs
    # once -> old formula would pick 49
    text = ("of it of it of it of it anthropomorphization "
            "electroencephalographically")
    df = spark.createDataFrame([(0, text, "en")],
                               "doc_id long, text string, lang string")
    r = repetition_stats(df).first()
    n_chars = len(text)
    assert abs(r.top_2gram_char_frac - round(4 * len("of it") / n_chars, 6)) < 1e-9


def test_repetition_filter_gopher_rules(spark):
    """A boilerplate-loop document trips both Gopher gates; normal prose
    passes (thresholds 0.20 / 0.15, arXiv:2112.11446 A1.1)."""
    from entity_extraction_svc_spark.operators.textstats import (
        repetition_filter,
    )

    loop = ("click here to accept cookies " * 30).strip()
    prose = ("the committee reviewed seventeen distinct proposals during "
             "its autumn session and ranked each by projected cost impact "
             "before releasing final recommendations to member states")
    df = spark.createDataFrame(
        [(0, loop, "en"), (1, prose, "en")],
        "doc_id long, text string, lang string",
    )
    out = {r.doc_id: r for r in repetition_filter(df).collect()}
    assert not out[0].keep and out[0].dup_5gram_char_frac > 0.9
    assert out[1].keep and out[1].top_2gram_char_frac < 0.2


def test_hash_embed_feeds_semantic_dedup(spark):
    """End-to-end documents -> feature-hash embeddings -> SemDeDup: exact
    text duplicates embed identically (cos=1) and dedup to one keeper;
    unrelated texts survive."""
    from entity_extraction_svc_spark.operators.dedup import semantic_dedup
    from entity_extraction_svc_spark.operators.embed import hash_embed

    same = "spark shuffles partition data across executors by key"
    rows = [(0, same, "en"), (1, same, "en"),
            (2, "completely different sentence about gardening tulips", "en")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    emb = hash_embed(docs, dim=16, id_col="doc_id").withColumnRenamed(
        "doc_id", "vec_id")
    out = {r.id: r.keep for r in
           semantic_dedup(emb, threshold=0.99, n_clusters=2).collect()}
    assert out == {0: True, 1: False, 2: True}


def test_cap_per_domain_multi_domain(spark):
    """Crawl-balance cap: a boilerplate-heavy host keeps only its first K
    pages; small domains are untouched; registered-domain grouping unifies
    subdomains."""
    from entity_extraction_svc_spark.operators.textstats import (
        cap_per_domain,
        url_parts,
    )

    rows = (
        [(f"https://spam.example.com/p{i:03d}", "x") for i in range(30)]
        + [(f"https://www.example.com/q{i:03d}", "x") for i in range(30)]
        + [("https://tiny.org/only", "y")]
    )
    pages = spark.createDataFrame(rows, "url string, text string")
    kept = cap_per_domain(pages, max_per_domain=10).collect()
    by_dom = {}
    for r in kept:
        by_dom.setdefault(r.domain, []).append(r.url)
    # subdomains share the registered domain -> ONE cap across both hosts
    assert len(by_dom["example.com"]) == 10
    assert by_dom["tiny.org"] == ["https://tiny.org/only"]
    parts = {r.url: (r.host, r.domain, r.path)
             for r in url_parts(pages).collect()}
    assert parts["https://tiny.org/only"] == ("tiny.org", "tiny.org", "/only")
    assert parts["https://spam.example.com/p000"][1] == "example.com"


def test_pii_scan_and_redact(spark):
    """Each pattern hits its targets and skips its near-misses; redaction
    replaces in the documented order (email before phone, SSN before
    phone so overlapping digit runs get the more specific placeholder)."""
    from entity_extraction_svc_spark.operators.privacy import (
        pii_redact,
        pii_scan,
    )

    rows = [
        (0, "mail jane.doe+x@ex.co.uk now"),
        (1, "ssn 123-45-6789 stays private"),
        (2, "host 10.0.0.1 port open"),
        (3, "call +1 (415) 555-0199 today"),
        (4, "no identifiers here"),
        (5, "semver 1.2.3 and 12345 are neither ip nor phone"),
        (6, None),
        # phone shape-allowlist near-misses: dates, year lists, thousands
        # groupings, ISBN, epoch timestamps, long order ids must all pass
        # through untouched (the old digit-run pattern redacted them all)
        (7, "meeting 2026-08-17 then 17.08.2026 range 2021-2022 ok"),
        (8, "years 2021 2022 2023 budget 1 000 000 total"),
        (9, "isbn 978-3-16-148410-0 epoch 1692230400 order 123456789012"),
        # positive phone shapes across the alternatives
        (10, "uk 020 7946 0958 or 07700 900123 or (415) 555-0199"),
        (11, "intl +44 20 7946 0958 and dotted 555.123.4567"),
        # cascade: the phone-shaped digits live inside an email local part
        # -> counted once as email, zero times as phone
        (12, "fwd 555-123-4567@relay.example.com only"),
        # checksummed kinds: mod-97/Luhn-passing instances redact,
        # shape-matching checksum failures stay (16-digit order ids live)
        (13, "pay iban GB82 WEST 1234 5698 7654 32 card 4111 1111 1111 1111"),
        (14, "shape-only GB82 WEST 1234 5698 7654 33 and 4111-1111-1111-1112"),
        # the valid candidate ALSO appears embedded in a longer digit run:
        # redaction must hit only the standalone (\b-guarded replace) so
        # count==placeholders and the embedding text survives verbatim
        (15, "card 4111 1111 1111 1111 once; ref 94111 1111 1111 11117 intact"),
        # valid candidate OVERLAPPING a checksum-failing candidate's span:
        # the left-to-right scan consumes '9998 4111 1111 1111' (fails
        # Luhn, kept) and never matches the valid run inside it — the
        # positional redaction must keep that whole span verbatim
        (16, "ref 9998 4111 1111 1111 1111 end; card 4111 1111 1111 1111 pay"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    scan = {r.doc_id: r for r in pii_scan(docs).collect()}
    assert scan[0].n_email == 1 and scan[0].has_pii
    assert scan[1].n_ssn == 1
    assert scan[2].n_ipv4 == 1
    assert scan[3].n_phone == 1
    assert not scan[4].has_pii and not scan[5].has_pii
    assert not scan[6].has_pii  # null text -> clean, not a crash
    assert not scan[7].has_pii and not scan[8].has_pii and not scan[9].has_pii
    assert scan[10].n_phone == 3
    assert scan[11].n_phone == 2
    assert scan[12].n_email == 1 and scan[12].n_phone == 0
    assert scan[13].n_iban == 1 and scan[13].n_card == 1 and scan[13].has_pii
    assert not scan[14].has_pii  # checksum failures are not PII
    red = {r.doc_id: r.redacted for r in pii_redact(docs).collect()}
    assert red[0] == "mail [EMAIL] now"
    assert red[1] == "ssn [SSN] stays private"
    assert red[2] == "host [IP] port open"
    assert red[3] == "call [PHONE] today"
    assert red[6] == ""
    assert red[7] == rows[7][1] and red[8] == rows[8][1] and red[9] == rows[9][1]
    assert red[10] == "uk [PHONE] or [PHONE] or [PHONE]"
    assert red[12] == "fwd [EMAIL] only"
    assert red[13] == "pay iban [IBAN] card [CARD]"
    assert red[14] == rows[14][1]
    assert scan[15].n_card == 1
    assert red[15] == "card [CARD] once; ref 94111 1111 1111 11117 intact"
    assert scan[16].n_card == 1
    assert red[16] == "ref 9998 4111 1111 1111 1111 end; card [CARD] pay"


def test_hash_split_deterministic_and_incremental(spark):
    """Split membership is a pure function of the id: identical across
    runs, unchanged when the corpus grows, fractions near the weights;
    hash_sample of the same ids is a subset of any larger fraction."""
    from entity_extraction_svc_spark.operators.sampling import (
        hash_sample,
        hash_split,
    )

    # null ids: one consistent deterministic bucket everywhere (NUL
    # sentinel), so split membership and sample membership agree
    nulls = spark.createDataFrame([(None,), (1,)], "doc_id long")
    nsplit = {r.doc_id: r.split for r in hash_split(nulls).collect()}
    assert nsplit[None] in {"train", "val", "test"}
    frac_all = hash_sample(nulls, 1.0).count()
    assert frac_all == 2  # null id is sampled, not silently dropped

    docs = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.split for r in hash_split(docs).collect()}
    b = {r.doc_id: r.split for r in hash_split(docs).collect()}
    assert a == b
    # growing the corpus never reassigns an existing id
    grown = spark.range(4000).withColumnRenamed("id", "doc_id")
    g = {r.doc_id: r.split for r in hash_split(grown).collect()}
    assert all(g[k] == v for k, v in a.items())
    from collections import Counter

    frac = Counter(a.values())
    assert abs(frac["train"] / 2000 - 0.8) < 0.03
    assert abs(frac["val"] / 2000 - 0.1) < 0.03
    small = {r.doc_id for r in hash_sample(docs, 0.05).collect()}
    big = {r.doc_id for r in hash_sample(docs, 0.2).collect()}
    assert small <= big
    assert abs(len(big) / 2000 - 0.2) < 0.05


def test_contamination_and_decontaminate(spark):
    """Docs sharing an 8-gram with the eval set are flagged with the right
    distinct-overlap counts; clean and sub-8-token docs are not; the
    anti-join filter drops exactly the flagged set."""
    from entity_extraction_svc_spark.operators.decontam import (
        contamination,
        decontaminate,
    )

    leak = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, leak),                                    # full eval text
        (1, f"prefix words here {leak} suffix words"),  # contains it
        (2, "alpha beta gamma delta epsilon zeta eta"),  # only 7 tokens of it
        (3, "totally unrelated prose about spark shuffles and joins"),
        (4, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ev = spark.createDataFrame([(leak,)], "text string")
    got = {r.doc_id: (r.n_overlap, r.contaminated)
           for r in contamination(docs, ev, n=8).collect()}
    # eval text has 10 tokens -> 3 distinct 8-grams; doc 1 contains all 3
    assert got[0] == (3, True)
    assert got[1] == (3, True)
    assert got[2] == (0, False)  # 7-token doc shingles to whole text, no match
    assert got[3] == (0, False)
    assert got[4] == (0, False)
    kept = {r.doc_id for r in decontaminate(docs, ev, n=8).collect()}
    assert kept == {2, 3, 4}


def test_contamination_short_text_fallback(spark):
    """Sub-n documents shingle to their whole text (the shingler's
    short-document rule): an exact short match is still caught, and null
    or whitespace-only documents shingle to '' and match nothing."""
    from entity_extraction_svc_spark.operators.decontam import contamination

    docs = spark.createDataFrame(
        [(0, "short eval question"), (1, "short eval questions"),
         (2, None), (3, " \t\n\x0b ")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([("short  EVAL question",)], "text string")
    got = {r.doc_id: r.contaminated for r in contamination(docs, ev, n=8).collect()}
    # normalization folds case/whitespace
    assert got == {0: True, 1: False, 2: False, 3: False}


# each tokenizer-pass consumer's output schema, as the Catalyst plans
# before the pass typed it: the contract compare checks only dtype kinds
_PASS_SCHEMAS = {
    "minhash_signatures": "doc_id:bigint,sig:array<bigint>",
    "minhash_band_rows":
        "doc_id:bigint,sig:array<bigint>,band:int,band_hash:string,pfx:string",
    "simhash": "doc_id:bigint,simhash:bigint",
    "shingle_set_rows": "id:bigint,sh:array<string>,n_all:int",
    "substring_windows": "doc_id:bigint,pos:int,wlen:int,wh:string",
    "substring_dup_windows":
        "wh:string,n_occ:bigint,n_docs:bigint,keeper_id:bigint,keeper_pos:int",
    "substring_dup_spans":
        "doc_id:bigint,span_start:int,span_end:int,span_tokens:int",
    "strip_dup_spans": "doc_id:bigint,text:string,lang:string,text_stripped:string",
    "winnow_fingerprints": "doc_id:bigint,pos:int,h:bigint",
    "winnow_dup_groups":
        "h:bigint,n_occ:bigint,n_docs:bigint,keeper_id:bigint,keeper_pos:int",
    "eval_ngrams": "gram:string",
    "contamination": "doc_id:bigint,n_overlap:bigint,contaminated:boolean",
    "decontaminate": "doc_id:bigint,text:string,lang:string",
    "repetition_stats":
        "doc_id:bigint,top_2gram_char_frac:double,dup_5gram_char_frac:double",
    "hash_embed": "doc_id:bigint,embedding:array<double>",
    "train_bigram_lm.uni": "w:string,c1:bigint",
    "train_bigram_lm.bi": "w1:string,w2:string,c12:bigint",
    "score_cross_entropy":
        "doc_id:bigint,n_bigrams:bigint,cross_entropy:double",
    "score_cross_entropy.order3":
        "doc_id:bigint,n_trigrams:bigint,cross_entropy:double",
}


@pytest.mark.parametrize("op", sorted(_PASS_SCHEMAS))
def test_tokenizer_pass_consumers_keep_their_schema(docs, op):
    from entity_extraction_svc_spark.operators import dedup, decontam, lm
    from entity_extraction_svc_spark.operators.embed import hash_embed
    from entity_extraction_svc_spark.operators.textstats import repetition_stats

    ev = docs.select("text")
    build = {
        "minhash_signatures": lambda: dedup.minhash_signatures(docs),
        "minhash_band_rows": lambda: dedup.minhash_band_rows(docs),
        "simhash": lambda: dedup.simhash(docs),
        "shingle_set_rows": lambda: dedup.shingle_set_rows(docs),
        "substring_windows": lambda: dedup.substring_windows(docs),
        "substring_dup_windows": lambda: dedup.substring_dup_windows(docs),
        "substring_dup_spans": lambda: dedup.substring_dup_spans(docs),
        "strip_dup_spans": lambda: dedup.strip_dup_spans(docs),
        "winnow_fingerprints": lambda: dedup.winnow_fingerprints(docs),
        "winnow_dup_groups": lambda: dedup.winnow_dup_groups(docs),
        "eval_ngrams": lambda: decontam.eval_ngrams(ev),
        "contamination": lambda: decontam.contamination(docs, ev),
        "decontaminate": lambda: decontam.decontaminate(docs, ev),
        "repetition_stats": lambda: repetition_stats(docs),
        "hash_embed": lambda: hash_embed(docs),
        "train_bigram_lm.uni": lambda: lm.train_bigram_lm(docs)[0],
        "train_bigram_lm.bi": lambda: lm.train_bigram_lm(docs)[1],
        "score_cross_entropy": lambda: lm.score_cross_entropy(docs),
        "score_cross_entropy.order3":
            lambda: lm.score_cross_entropy(docs, order=3),
    }
    df = build[op]()
    assert df.schema.simpleString() == f"struct<{_PASS_SCHEMAS[op]}>"
    df.collect()  # the pass's pandas frames convert to these types


def test_bigram_lm_hand_computed(spark):
    """Cross-entropy matches the add-k formula computed by hand on a
    two-document corpus; sub-2-token docs score NULL with n_bigrams 0."""
    import math

    from entity_extraction_svc_spark.operators.lm import score_cross_entropy

    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b"), (2, "x"), (3, "")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_bigrams, r.cross_entropy)
           for r in score_cross_entropy(docs).collect()}
    # corpus: tokens a,b,a,b,a,b,x -> c1: a=3,b=3,x=1; V=3
    # bigrams: (a,b)x3, (b,a)x1  [doc0: ab,ba,ab; doc1: ab]
    k, V = 0.5, 3
    p_ab = (3 + k) / (3 + k * V)
    p_ba = (1 + k) / (3 + k * V)
    ce0 = -(2 * math.log2(p_ab) + math.log2(p_ba)) / 3
    ce1 = -math.log2(p_ab)
    assert got[0][0] == 3 and abs(got[0][1] - ce0) < 1e-5
    assert got[1][0] == 1 and abs(got[1][1] - ce1) < 1e-5
    assert got[2] == (0, None) and got[3] == (0, None)


def test_trigram_interpolated_hand_computed(spark):
    """The Jelinek-Mercer interpolated trigram cross-entropy matches the
    formula computed by hand; sub-3-token docs score NULL with
    n_trigrams 0; order=2 output is unchanged by the new parameter."""
    import math

    from entity_extraction_svc_spark.operators.lm import score_cross_entropy

    docs = spark.createDataFrame(
        [(1, "a b a b a"), (2, "a b c"), (3, "x y"), (4, "")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_trigrams, r.cross_entropy)
           for r in score_cross_entropy(docs, order=3).collect()}
    # corpus: tokens a,b,a,b,a,a,b,c,x,y -> c1: a=4,b=3,c=1,x=1,y=1;
    # V=5, N=10; bi: (a,b)=3,(b,a)=2,(b,c)=1,(x,y)=1;
    # tri: (a,b,a)=2,(b,a,b)=1,(a,b,c)=1
    k, V, N = 0.5, 5, 10
    kv = k * V
    l3, l2, l1 = 0.5, 0.3, 0.2

    def p(c123, c12h, c23, c2, c3):
        return (l3 * ((c123 + k) / (c12h + kv))
                + l2 * ((c23 + k) / (c2 + kv))
                + l1 * ((c3 + k) / (N + kv)))

    # doc1 trigrams: (a,b,a)x2, (b,a,b)x1
    ce1 = -(2 * math.log2(p(2, 3, 2, 3, 4)) + math.log2(p(1, 2, 3, 4, 3))) / 3
    # doc2 trigram: (a,b,c)
    ce2 = -math.log2(p(1, 3, 1, 3, 1))
    assert got[1][0] == 3 and abs(got[1][1] - ce1) < 1e-5
    assert got[2][0] == 1 and abs(got[2][1] - ce2) < 1e-5
    assert got[3] == (0, None) and got[4] == (0, None)
    # order=2 path unchanged
    bi = {r.doc_id: r.n_bigrams
          for r in score_cross_entropy(docs, order=2).collect()}
    assert bi == {1: 4, 2: 2, 3: 1, 4: 0}


def test_perplexity_bucket_ordering(spark):
    """Repetitive text scores lower cross-entropy than shuffled-vocab text
    under the self-trained model, and unscoreable docs land in 'tail'."""
    from entity_extraction_svc_spark.operators.lm import perplexity_bucket

    rows = [
        (0, "the cat sat on the mat " * 10),
        (1, "zebra quantum mat the purple on cat sat nebula the of"),
        (2, "x"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.cross_entropy, r.bucket)
           for r in perplexity_bucket(docs).collect()}
    assert got[0][0] < got[1][0]
    assert got[2][1] == "tail"


def test_resolve_near_dups_transitive(spark):
    """a~b and b~c resolve to ONE keeper for all three (transitivity the
    pair list never stated); pairless docs keep themselves; the keep
    filter retains exactly one doc per dup group."""
    from entity_extraction_svc_spark.operators.dedup import resolve_near_dups

    docs = spark.range(7).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (2, 6)], "id_a long, id_b long"
    )
    got = {r.doc_id: (r.keeper_id, r.keep)
           for r in resolve_near_dups(docs, pairs).collect()}
    assert got[1] == (1, True) and got[3] == (1, False) and got[5] == (1, False)
    assert got[2] == (2, True) and got[6] == (2, False)
    assert got[0] == (0, True) and got[4] == (4, True)
    assert sum(1 for k, (kp, keep) in got.items() if keep) == 4


def test_resolve_near_dups_long_chain(spark):
    """A 60-edge duplicate CHAIN (diameter 60 > the CC loop's max_iter=20)
    must still resolve to ONE keeper — pointer-jumping makes convergence
    O(log diameter), so neighbor-min alone running out of iterations (the
    silent-split failure mode) is guarded here."""
    from entity_extraction_svc_spark.operators.dedup import resolve_near_dups

    n = 61
    docs = spark.range(n).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {r.doc_id: (r.keeper_id, r.keep)
           for r in resolve_near_dups(docs, pairs).collect()}
    assert all(got[i] == (0, i == 0) for i in range(n))


def test_connected_components_paths_agree(spark, monkeypatch):
    """The single-task union-find fast path and the distributed hash-min +
    pointer-jump loop produce identical components (same min-label comp
    ids) on a graph mixing a long chain, cliques and isolated self-loops —
    and the 61-chain still converges when the distributed path is FORCED
    (LOCAL_MAX_EDGES=0), so the loop stays covered now that small graphs
    default to the local path."""
    from entity_extraction_svc_spark.operators import canonicalize
    from entity_extraction_svc_spark.operators.canonicalize import (
        connected_components,
    )

    edges = [(i, i + 1) for i in range(61)]                  # chain 0..61
    edges += [(100 + a, 100 + b) for a in range(5) for b in range(a)]
    edges += [(200, 200), (301, 300)]
    df = spark.createDataFrame(edges, "src long, dst long")
    local = {r.node: r.comp
             for r in connected_components(df).collect()}
    monkeypatch.setattr(canonicalize, "LOCAL_MAX_EDGES", 0)
    dist = {r.node: r.comp
            for r in connected_components(df).collect()}
    assert local == dist
    assert all(local[i] == 0 for i in range(62))
    assert all(local[100 + i] == 100 for i in range(5))
    assert local[200] == 200 and local[300] == 300 and local[301] == 300


def test_connected_components_matches_reachability_oracle(spark,
                                                         monkeypatch):
    """Both CC paths pinned against the recursive-CTE DEFINITION (comp =
    min label over the undirected reachable set) — the same generator the
    kg_connection part=wcc driver row runs."""
    import duckdb
    import pandas as pd

    from entity_extraction_svc_spark.operators import canonicalize
    from entity_extraction_svc_spark.operators.canonicalize import (
        connected_components,
        wcc_oracle_sql,
    )

    edges = [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f"), ("e", "a2")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = sorted((r.node, r.comp) for r in connected_components(df).collect())
    con = duckdb.connect()
    con.register("wcc_in", pd.DataFrame(edges, columns=["src", "dst"]))
    want = sorted(con.sql(
        wcc_oracle_sql("SELECT src, dst FROM wcc_in")).fetchall())
    assert got == want
    monkeypatch.setattr(canonicalize, "LOCAL_MAX_EDGES", 0)
    forced = sorted((r.node, r.comp) for r in connected_components(
        df).collect())
    assert forced == want


def test_resize_and_frames_plumbing(spark):
    """Multimodal resize + frame sampling: real Spark plumbing (schemas,
    1->N explosion, null path, determinism) with the labelled fake codec
    in this container (SURVEY §7.4 risk 5 — no image/video libs)."""
    from entity_extraction_svc_spark.operators.multimodal import (
        resize_image,
        sample_frames,
    )

    rows = [("u0", bytes(range(256)) * 4), ("u1", b"\xff" * 100), ("u2", None)]
    df = spark.createDataFrame(rows, "url string, payload binary")

    out = {r.url: r for r in resize_image(df, 8, 8).collect()}
    assert out["u0"].out_width == 8 and len(out["u0"].resized) == 64
    assert out["u1"].codec in ("pil", "strided-byte-fake")
    assert out["u2"].resized is None  # null payload -> null row, no crash
    again = {r.url: bytes(r.resized) if r.resized else None
             for r in resize_image(df, 8, 8).collect()}
    assert again["u0"] == bytes(out["u0"].resized)  # deterministic

    fr = sample_frames(df, every_n_seconds=2.0, assumed_duration_sec=8.0,
                       frame_bytes=16)
    got = [(r.url, r.frame_idx, r.ts_sec, len(r.frame)) for r in
           fr.orderBy("url", "frame_idx").collect()]
    # 2 non-null payloads x 4 frames each; ts advances by the stride
    assert len(got) == 8
    assert [g for g in got if g[0] == "u0"][0][2] == 0.0
    assert [g for g in got if g[0] == "u0"][3][2] == 6.0
    assert all(g[3] <= 16 for g in got)
