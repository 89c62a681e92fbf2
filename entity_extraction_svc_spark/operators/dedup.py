"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding cosine, substring spans and lines.

Every operator that needs words runs on ONE tokenizer pass,
:func:`token_rows`: a ``mapInPandas`` pass over Arrow batches that applies
:func:`_py_norm_tokens` (and, for shingles, :func:`_py_shingles`) and
hands each document's tokens to the operator's own per-document function.
What follows it is relational — joins, groupBys, windows in codegen — so
the same code scales from the 500-row test table to a 100 TB corpus:

* exact:        hash-groupBy on a normalized-text fingerprint
                (:func:`_norm_text`, codegen; one shuffle on the md5 key,
                map-side partial aggregation).
* MinHash+LSH:  shingle -> 60-bit md5-derived hash -> k universal-hash minima
                computed per row in the tokenizer pass (narrow), then
                banding (:func:`_band_hashes`): only candidate pairs sharing
                a bucket are ever joined — the classic near-dup recipe that
                avoids the O(n^2) cross join.
* SimHash:      per-bit majority vote over token hashes, packed to a 64-bit
                key; Hamming-neighbor candidates via band equality.
  MinHash, SimHash and the embedding LSH share one banded candidate join
  (:func:`_band_pairs`: hot-bucket cap, bucket self-join, pair dedupe).
* n-gram Jaccard: exact pairwise similarity, but only over pairs sharing at
                least one shingle (inverted-index semi-join), with a
                per-shingle document-frequency cap so stop-shingles don't
                quadratically explode the candidate set at corpus scale.
* substring:    k-token window rows (or winnowed fingerprints) from the
                tokenizer pass; one dup-group aggregate
                (:func:`_dup_groups`) for windows and fingerprints, and one
                window pass over the hash for the duplicated occurrences
                that spans and stripping consume (:func:`_dup_occurrences`);
                stripping re-tokenizes only the documents it changes, in
                one rebuild pass.

All hashes derive from md5 so an external SQL engine (the DuckDB oracle)
reproduces them bit-for-bit: h(s) = int(md5(s)[:15], 16), then
universal hashing h_i = (a_i * (h % P) + b_i) % P with P = 2^31 - 1.
"""

from __future__ import annotations

import hashlib
import re
import zlib
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MERSENNE_P = 2_147_483_647  # 2^31 - 1

# ngram_jaccard_pairs: hot (df > max_df) shingles are removed row-locally
# via a literal-array array_except up to this many; beyond it the plan
# would bloat, so an exploded anti-join + re-aggregation takes over
# (module-level so tests can force the fallback branch)
HOT_LITERAL_LIMIT = 10_000

# deterministic universal-hash coefficients (seeded, fixed across runs so
# signatures are stable for checkpoint/resume)
def _coeffs(n: int, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P)) for _ in range(n)]


def _norm_text(text_col: str) -> Column:
    """The normalized text: lower, ``\\s+`` runs collapsed to one space,
    trimmed.  Codegen only, for whole-string uses (fingerprints, lengths);
    its tokens come from :func:`_py_norm_tokens`."""
    return F.trim(
        F.regexp_replace(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+", " ")
    )


def _py_norm_tokens(text: str | None) -> list[str]:
    """The word tokenizer: the space-separated tokens of
    :func:`_norm_text`.  Java regex ``\\s`` is ``[ \\t\\n\\x0B\\f\\r]``,
    which ``re.ASCII`` gives exactly, and Spark's ``trim`` strips only
    spaces (control characters stay in the edge tokens).  Lowercasing is
    Python's full-Unicode ``lower()``, the JVM's mapping on every character
    of the fixtures and generated corpora (pinned by
    ``test_py_norm_tokens_matches_jvm``)."""
    s = re.sub(r"\s+", " ", (text or "").lower(), flags=re.ASCII).strip(" ")
    return s.split(" ") if s else []


def _py_shingles(toks: list[str], n: int) -> list[str]:
    """Word n-gram shingles in order, with multiplicity.  A document
    shorter than n tokens shingles to its whole normalized text, so it
    still participates, and an empty one to ``[""]``."""
    if len(toks) < n:
        return [" ".join(toks)]
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


def _py_h64(s: str) -> int:
    """:func:`_h64` of one string."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def token_rows(docs: DataFrame, fn, schema: str,
               text_col: str = "text") -> DataFrame:
    """The tokenizer pass every token or shingle consumer runs on.

    ``fn(toks)`` maps one document's tokens (:func:`_py_norm_tokens` of
    ``text_col``) to its output row, a tuple matching the DDL ``schema``,
    after the document's other columns.  One ``mapInPandas`` pass over
    Arrow batches, where tokenizing, shingling and per-document hashing run
    as C-level str ops, and arrays leave it one row per document: a
    consumer explodes them in Catalyst, which costs little on materialized
    arrays.  The Catalyst form of the same tokenizer runs its lambdas
    interpreted, and a ``Generate`` consumer re-inlines the whole shingle
    subtree: at sf1.0 it took 3.9 s to build the shingle arrays and 13.5 s
    once exploded, against 0.65 s to explode materialized arrays.  The scan
    is widened to the session parallelism when a small file under-splits
    (``scanwide.widen_scan``).
    """
    from pyspark.sql.types import StructType

    from entity_extraction_svc_spark.operators.scanwide import widen_scan

    keep = [c for c in docs.columns if c != text_col]
    fields = StructType.fromDDL(schema)

    def _rows(batches):
        import pandas as pd

        for pdf in batches:
            out = pd.DataFrame.from_records(
                [fn(_py_norm_tokens(t)) for t in pdf[text_col].tolist()],
                columns=fields.fieldNames())
            yield pd.concat([pdf[keep].reset_index(drop=True), out], axis=1)

    return widen_scan(docs).mapInPandas(
        _rows, StructType([docs.schema[c] for c in keep] + fields.fields))


def _h64(col: Column) -> Column:
    """60-bit integer hash from md5 (bit-reproducible in any SQL engine)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dup_groups(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one row per duplicated normalized text with
    the group size and the keeper (min id).  Partial aggregation makes the
    shuffle carry one row per distinct fingerprint per map task."""
    fp = F.md5(_norm_text(text_col)).alias("fp_md5")
    return (
        docs.select(fp, F.col(id_col))
        .groupBy("fp_md5")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keeper_id"))
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per distinct normalized text."""
    w = F.md5(_norm_text(text_col)).alias("fp_md5")
    ranked = (
        docs.withColumn("fp_md5", w)
        .groupBy("fp_md5")
        .agg(F.min(id_col).alias(id_col))
    )
    return ranked.select(id_col, "fp_md5")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 16,
                       shingle_n: int = 3) -> DataFrame:
    """(id, sig: array<long>) — k minima of universal hashes over shingles.

    Row-local, no shuffle: the tokenizer pass (:func:`token_rows`) hashes
    each document's distinct shingles and takes the k minima of
    (a·h + b) mod P over the document's hash vector with numpy (a, h < 2^31,
    so a·h + b fits int64 as it fits the JVM long).
    """
    import numpy as np

    ab = np.array(_coeffs(num_hashes), dtype=np.int64)
    a, b = ab[:, :1], ab[:, 1:]

    def sig(toks):
        hv = np.array([_py_h64(s) % MERSENNE_P
                       for s in set(_py_shingles(toks, shingle_n))],
                      dtype=np.int64)
        return (((a * hv + b) % MERSENNE_P).min(axis=1).tolist(),)

    return token_rows(docs.select(id_col, text_col), sig, "sig array<bigint>",
                      text_col)


def cap_lsh_buckets(buckets: DataFrame, key_cols: list[str],
                    max_bucket: int) -> DataFrame:
    """Drop every row of an LSH bucket larger than ``max_bucket``.

    A bucket of size m contributes m(m-1)/2 candidate pairs, so ONE
    boilerplate-heavy bucket (near-identical crawl pages are exactly the
    input to a dedup job) goes quadratic on a single join key.  The cap is
    the same stop-element guard ``ngram_jaccard_pairs`` applies per shingle:
    a window count over the bucket key — the window shuffle is on the same
    key as the self-join that follows, so the planner reuses the exchange.

    Pairs inside a dropped MinHash bucket can still surface via their other
    bands; for SimHash/embedding banding a dropped bucket removes its pairs
    (recall trade, bounded work) — use ``hot_bucket_report`` to see what was
    cut before trusting a capped run.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols)
    return (
        buckets.withColumn("_bsz", F.count("*").over(w))
        .filter(F.col("_bsz") <= max_bucket)
        .drop("_bsz")
    )


def hot_bucket_report(buckets: DataFrame, key_cols: list[str],
                      max_bucket: int) -> DataFrame:
    """The buckets a cap of ``max_bucket`` would drop: (key..., bucket_size).
    Run alongside a capped dedup to account for the skipped work."""
    return (
        buckets.groupBy(*key_cols)
        .agg(F.count("*").alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket)
    )


def _band_hashes(sig_col: Column, rows_per_band: int, bands: int) -> Column:
    """array<string> of per-band md5 digests over signature slices — THE
    banding definition, shared by the batch self-join and the streaming
    signature store so their buckets collide identically."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(sig_col, b * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ),
            )
        ),
    )


def sig_agreement(sig_a: Column, sig_b: Column) -> Column:
    """Fraction of agreeing minhash components — the Jaccard estimate."""
    return F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda eq: eq)
    ) / F.size(sig_a)


def minhash_band_rows(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 16,
                      bands: int = 4, shingle_n: int = 3) -> DataFrame:
    """(id, sig, band, band_hash, pfx) — one row per (doc, band), the
    exploded LSH bucket table.  ``pfx`` (first 2 hex chars of the band
    hash, 256 values) is the partition key a persisted signature store
    uses so probes prune to the buckets a batch can actually touch."""
    sigs = minhash_signatures(docs, text_col, id_col, num_hashes, shingle_n)
    rows_per_band = num_hashes // bands
    return sigs.select(
        F.col(id_col),
        F.col("sig"),
        F.posexplode(_band_hashes(F.col("sig"), rows_per_band, bands)).alias(
            "band", "band_hash"
        ),
    ).withColumn("pfx", F.substring("band_hash", 1, 2))


def cross_dup_pairs(probe_rows: DataFrame, store_rows: DataFrame,
                    id_col: str = "doc_id", threshold: float = 0.6,
                    max_bucket: int = 2000) -> DataFrame:
    """Near-dup pairs BETWEEN two band-row tables (``minhash_band_rows``
    shape): (id_probe, id_store, est_jaccard).

    The cross-batch half of streaming dedup: ``probe_rows`` is the new
    micro-batch, ``store_rows`` the persisted store of previously shipped
    documents.  Join is on (band, band_hash) — shuffle proportional to
    colliding buckets; both sides are hot-bucket-capped so one viral page
    in the store can't go quadratic.  Same-id rows never pair (the guard
    that makes an at-least-once replay see its own earlier write as
    itself, not as a duplicate).

    The store may legally hold exact-duplicate rows (at-least-once
    appends): they are row-deduped BEFORE the bucket cap, because
    duplicate rows inflate the cap's window counts — an inflated count
    can push a legitimately-sized bucket over ``max_bucket`` and silently
    drop its true dups (pair-level dropDuplicates can't undo a dropped
    bucket)."""
    probe = cap_lsh_buckets(probe_rows, ["band", "band_hash"], max_bucket)
    store = cap_lsh_buckets(store_rows.dropDuplicates(), ["band", "band_hash"],
                            max_bucket)
    l, r = probe.alias("l"), store.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") != F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_probe"),
            F.col(f"r.{id_col}").alias("id_store"),
            F.col("l.sig").alias("sig_a"),
            F.col("r.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_probe", "id_store"])
        .select(
            "id_probe",
            "id_store",
            F.round(sig_agreement(F.col("sig_a"), F.col("sig_b")), 6).alias(
                "est_jaccard"
            ),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def _band_pairs(rows: DataFrame, key_cols: list[str], id_col: str,
                payload: str, max_bucket: int) -> DataFrame:
    """The banded candidate join of the LSH pair detectors: (id_a, id_b,
    <payload>_a, <payload>_b), one row per distinct pair with id_a < id_b
    that shares a bucket of ``key_cols`` after the hot-bucket cap
    (:func:`cap_lsh_buckets`).  The payload rides through the join, so a
    caller scores the pair without a re-join to its signature table."""
    rows = cap_lsh_buckets(rows, key_cols, max_bucket)
    l, r = rows.alias("l"), rows.alias("r")
    same_bucket = reduce(
        lambda acc, c: acc & c,
        [F.col(f"l.{k}") == F.col(f"r.{k}") for k in key_cols],
    )
    return (
        l.join(r, same_bucket & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col(f"l.{payload}").alias(f"{payload}_a"),
            F.col(f"r.{payload}").alias(f"{payload}_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_dup_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 16,
                      bands: int = 4, threshold: float = 0.6,
                      shingle_n: int = 3, max_bucket: int = 2000) -> DataFrame:
    """Near-duplicate pairs: LSH-bucket join, then exact signature-agreement
    estimate filtered at ``threshold``.

    The self-join is on (band, band_hash) — only colliding docs meet, so the
    shuffle is proportional to bucket sizes, not n^2.  At 100 TB the band
    hash is also the natural partition key (uniform by construction), and
    ``max_bucket`` bounds the quadratic blowup of any one hot bucket
    (see ``cap_lsh_buckets``).
    """
    # the signature rides through the bucket explode so the agreement
    # estimate needs no re-join back to the signature table (which would
    # re-evaluate the minhash expressions once per join side)
    buckets = minhash_band_rows(
        docs, text_col, id_col, num_hashes, bands, shingle_n
    ).drop("pfx")
    est = (
        _band_pairs(buckets, ["band", "band_hash"], id_col, "sig", max_bucket)
        .select(
            "id_a",
            "id_b",
            sig_agreement(F.col("sig_a"), F.col("sig_b")).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )
    return est.select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 32) -> DataFrame:
    """Per-bit majority vote over token hashes packed into an integer key.

    simhash_j = 1 iff sum over tokens of (2*bit_j(h(token)) - 1) > 0, in
    the tokenizer pass (:func:`token_rows`; row-local, no shuffle).  The
    hashes are 60-bit, so bits 60-63 never win a vote and the key fits a
    long for any ``bits`` <= 64.
    """
    import numpy as np

    js = np.arange(bits, dtype=np.int64)

    def key(toks):
        hs = np.array([_py_h64(t) for t in toks], dtype=np.int64)
        ones = (hs[:, None] >> js & 1).sum(axis=0)
        return (int(((2 * ones > len(hs)) << js).sum()),)

    return token_rows(docs.select(id_col, text_col), key, "simhash bigint",
                      text_col)


def simhash_dup_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", bits: int = 32,
                      max_hamming: int = 3, bands: int = 4,
                      max_bucket: int = 2000) -> DataFrame:
    """Near-dup pairs by SimHash: band the key into ``bands`` chunks — any
    pair within ``max_hamming < bands`` distance shares at least one exact
    chunk (pigeonhole), so candidates come from an equi-join, then the exact
    Hamming distance filters.  ``max_bucket`` bounds hot chunks
    (see ``cap_lsh_buckets``)."""
    sh = simhash(docs, text_col, id_col, bits)
    chunk_bits = bits // bands
    mask = (1 << chunk_bits) - 1
    chunks = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            # SQL expr: the Python shiftright() only takes literal shifts
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> shiftright(simhash, b * {chunk_bits}) & {mask}L)"
            )
        ).alias("band", "chunk"),
    )
    cand = _band_pairs(chunks, ["band", "chunk"], id_col, "simhash",
                       max_bucket)
    ham = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

def _score_tile(rows_a, rows_b, same: bool, threshold: float):
    """Score one (block_a x block_b) tile: numpy matmul prefilter at
    threshold - 1e-6, then an exact re-score whose fold applies the
    IDENTICAL left-to-right IEEE operation order as the Catalyst
    ``aggregate(zip_with(...))`` cosine and DuckDB's ``list_sum`` — so the
    emitted values are bit-for-bit what a per-pair codegen cosine yields.
    Shared by ``embedding_dup_pairs`` (corpus-wide tiles) and
    ``_pairs_from_assigned`` (per-cluster tiles).  Returns
    (ids_a, ids_b, raw_cos) lists; F.round stays in Catalyst (HALF_UP)."""
    import numpy as np

    def _fold_dot(X: "np.ndarray", Y: "np.ndarray") -> "np.ndarray":
        # sequential left-to-right per-pair fold, vectorized ACROSS pairs
        acc = np.zeros(len(X), dtype=np.float64)
        for i in range(X.shape[1]):
            acc = acc + X[:, i] * Y[:, i]
        return acc

    ids_a = np.array([r["_id"] for r in rows_a])
    A = np.stack([np.asarray(r["_v"], dtype=np.float64) for r in rows_a])
    if same:
        ids_b, B = ids_a, A
    else:
        ids_b = np.array([r["_id"] for r in rows_b])
        B = np.stack([np.asarray(r["_v"], dtype=np.float64) for r in rows_b])
    na = np.linalg.norm(A, axis=1)
    nb = na if same else np.linalg.norm(B, axis=1)
    S = (A / np.maximum(na, 1e-300)[:, None]) @ \
        (B / np.maximum(nb, 1e-300)[:, None]).T
    cand = np.argwhere(S >= threshold - 1e-6)
    if same and len(cand):
        # same-block tile holds both orders of every pair — keep the
        # strict upper triangle (also drops i==i)
        cand = cand[ids_a[cand[:, 0]] < ids_b[cand[:, 1]]]
    elif len(cand):
        # cross tile: each unordered pair appears exactly once but in
        # arbitrary id order — drop only true self-ids
        cand = cand[ids_a[cand[:, 0]] != ids_b[cand[:, 1]]]
    if not len(cand):
        return [], [], []
    X, Y = A[cand[:, 0]], B[cand[:, 1]]
    dot = _fold_dot(X, Y)
    exact = dot / (np.sqrt(_fold_dot(X, X)) * np.sqrt(_fold_dot(Y, Y)))
    ok = exact >= threshold
    ia, ib = ids_a[cand[ok, 0]], ids_b[cand[ok, 1]]
    return (np.minimum(ia, ib).tolist(), np.maximum(ia, ib).tolist(),
            exact[ok].tolist())


def embedding_dup_pairs(embeddings: DataFrame, threshold: float = 0.9,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        n_blocks: int = 16) -> DataFrame:
    """All pairs with cosine similarity >= threshold — the exact baseline,
    executed as a DISTRIBUTED TILED MATMUL instead of a nested-loop join.

    The former theta-join (id_a < id_b) evaluated the codegen cosine
    per pair — one array allocation per zip_with per pair, measured 40+
    minutes for 2·10^8 pairs on 8 cores.  Here vectors hash into
    ``n_blocks`` row blocks; every block pair (ordered, K(K+1)/2 tiles)
    becomes one task that computes the tile's cosine matrix as a single
    numpy matmul (seconds for the same 2·10^8 pairs).  Still O(n^2) by
    definition — this is the correctness oracle; the scale path remains
    ``embedding_dup_pairs_lsh`` — but the constant factor is a matmul's.

    Exactness: the matmul PREFILTERS at threshold − 1e-6 (BLAS sum order
    differs from a sequential fold at the ~1e-15 level); survivors are
    re-scored with a dimension-major fold that applies the IDENTICAL
    left-to-right IEEE operation order as the Catalyst
    ``aggregate(zip_with(...))`` expression and DuckDB's ``list_sum`` —
    so results (and their round-6 forms) are bit-for-bit what the old
    plan produced.  Output is independent of ``n_blocks``.
    """
    id_t = embeddings.schema[id_col].dataType.simpleString()

    def _score(batches):
        import pandas as pd

        for pdf in batches:
            for rows_a, rows_b, same in zip(
                    pdf["rows_a"], pdf["rows_b"], pdf["bid_a"] == pdf["bid_b"]):
                out_a, out_b, out_c = _score_tile(rows_a, rows_b, same,
                                                  threshold)
                yield pd.DataFrame(
                    {"id_a": out_a, "id_b": out_b, "cos_sim": out_c}
                )

    blocks = (
        embeddings.select(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("bid"),
            F.struct(
                F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
            ).alias("_row"),
        )
        .groupBy("bid")
        .agg(F.collect_list("_row").alias("rows"))
    )
    l = blocks.select(F.col("bid").alias("bid_a"), F.col("rows").alias("rows_a"))
    r = blocks.select(F.col("bid").alias("bid_b"), F.col("rows").alias("rows_b"))
    tiles = l.join(r, F.col("bid_a") <= F.col("bid_b")).repartition(
        n_blocks * (n_blocks + 1) // 2
    )
    # rounding stays in Catalyst so the HALF_UP semantics match the old
    # plan (and the DuckDB oracle) exactly — numpy's round is half-even
    return tiles.mapInPandas(
        _score, f"id_a {id_t}, id_b {id_t}, cos_sim double"
    ).select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


def embedding_dup_pairs_lsh(embeddings: DataFrame, threshold: float = 0.9,
                            id_col: str = "vec_id", vec_col: str = "embedding",
                            bits: int | None = None, bands: int | None = None,
                            max_bucket: int = 2000,
                            target_recall: float = 0.95,
                            max_bands: int = 64) -> DataFrame:
    """Near-dup pairs at scale: random-hyperplane signature banded into
    ``bands`` chunks; candidates share >= 1 exact chunk (the SimHash
    pigeonhole trick applied to embeddings), then exact cosine filters.
    ``max_bucket`` bounds hot chunks (see ``cap_lsh_buckets``).

    SELF-TUNING (bits/bands omitted): chunk width comes from the corpus
    size (buckets stay under ~max_bucket/4 members, so a 10x corpus can
    never silently push every bucket over the cap — the failure mode a
    fixed 2-bit chunk hit at the 10x gate), and the band count from the
    standard OR-of-bands recall bound: P(pair at cos=t shares a band) =
    (1 − acos(t)/π)^chunk_bits, bands ≈ ln(1−R)/ln(1−p_band).  When the
    tuning itself proves LSH degenerate — the estimated candidate volume
    (bands·n²/2^chunk_bits) approaches n², which happens exactly when the
    threshold is low relative to the data's similarity structure (random
    vectors at cos 0.35 have no locality for ANY banding to exploit) —
    it falls back to the exact tiled-matmul ``embedding_dup_pairs``:
    recall 1.0 at the same or lower cost beats a fake sub-quadratic plan.
    At real near-dup thresholds (0.8+) the tuning stays LSH with a
    handful of bands.  Explicit bits+bands skip tuning and reproduce the
    legacy banding bit-for-bit (band b = planes [b·cb, (b+1)·cb))."""
    import math

    from entity_extraction_svc_spark.operators.simsearch import cosine, rp_signature

    first = embeddings.select(vec_col).where(F.col(vec_col).isNotNull()).first()
    if first is None:
        raise ValueError(f"'{vec_col}' has no non-null rows")
    dim = len(first[0])
    if (bits is None) != (bands is None):
        # half a banding is silently NOT the legacy default for the other
        # half — refuse rather than drop the caller's explicit choice
        raise ValueError(
            "embedding_dup_pairs_lsh: pass BOTH bits and bands (explicit "
            "banding) or NEITHER (self-tuning)"
        )
    if bits is None:
        n = max(embeddings.count(), 2)
        p = max(1e-9, 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi)
        chunk_bits = max(2, math.ceil(math.log2(max(n / max(max_bucket / 4, 1), 4))))
        # recall-sound tuning: if max_bands caps the band count below what
        # target_recall needs at this chunk width, WIDEN the buckets
        # (smaller chunk_bits -> higher p_band -> fewer bands needed)
        # instead of silently shipping truncated recall
        while True:
            p_band = min(p ** chunk_bits, 1.0 - 1e-12)
            bands = max(2, min(max_bands, math.ceil(
                math.log(max(1e-12, 1.0 - target_recall))
                / math.log(1.0 - p_band))))
            achieved = 1.0 - (1.0 - p_band) ** bands
            if achieved >= target_recall or chunk_bits <= 2:
                break
            chunk_bits -= 1
        est_candidates = bands * n * n / float(2 ** chunk_bits)
        if est_candidates >= 0.5 * n * n or achieved < target_recall:
            # no banding meets the recall target below quadratic candidate
            # volume -> exact tiled matmul: recall 1.0 at comparable cost
            return embedding_dup_pairs(embeddings, threshold, id_col, vec_col)
    else:
        chunk_bits = bits // bands
    sigd = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    band_sigs = F.array(*[
        rp_signature(F.col("v"), dim, chunk_bits, offset=b * chunk_bits)
        for b in range(bands)
    ])
    chunks = sigd.select(
        "id", "v", F.posexplode(band_sigs).alias("band", "chunk")
    )
    cand = _band_pairs(chunks, ["band", "chunk"], "id", "v", max_bucket)
    return (
        cand.withColumn("cos_sim", cosine(F.col("v_a"), F.col("v_b")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, prefix-filtered candidate join + array verification)
# ---------------------------------------------------------------------------

def _crc_order(s: str) -> tuple[int, str]:
    """The (crc32, shingle) total order of :func:`shingle_set_rows`."""
    return zlib.crc32(s.encode("utf-8")), s


def shingle_set_rows(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(id, sh: array<string> sorted ascending, n_all) — each document's
    DISTINCT word n-gram shingle set (:func:`_py_shingles`), built by the
    tokenizer pass (:func:`token_rows`) so the arrays materialize once.

    The sort — by (crc32(shingle), shingle) — is the fixed global total
    order the prefix filter in :func:`ngram_jaccard_pairs` relies on.  Any
    single total order is correct; crc32 spreads the prefix filter's
    selected elements UNIFORMLY over the shingle vocabulary, where plain
    string order concentrates every doc's prefix on the lexicographically
    small shingles and their buckets go quadratic (at sf1.0 the candidate
    join+count took 8.8 s in crc order against 16.8 s in string order).
    The string tie-break keeps the order total, and crc32 is fixed by
    RFC 1952, so the order is engine-independent.
    """
    def shingle_set(toks):
        sh = sorted(set(_py_shingles(toks, n)), key=_crc_order)
        return sh, len(sh)

    return token_rows(docs.select(F.col(id_col).alias("id"), text_col),
                      shingle_set, "sh array<string>, n_all int", text_col)


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", shingle_n: int = 3,
                        threshold: float = 0.5,
                        max_df: int = 1000,
                        broadcast_docs_limit: int = 500_000) -> DataFrame:
    """Exact n-gram Jaccard pairs at ``threshold``, stop-shingle capped.

    Semantics (unchanged since r2, pinned by the DuckDB oracle): candidate
    pairs share >= 1 shingle whose document frequency is <= ``max_df``;
    n_shared counts only such capped shingles; the denominator uses the
    FULL distinct-shingle sizes; ``jaccard`` is rounded to 6 then filtered.
    Input ids are assumed unique (a duplicated id double-counted n_shared
    in the old plan and is equally unsupported here).

    Plan shape (rebuilt r6 — the old inverted-index self-join + pair
    groupBy measured 27.2s at sf1.0 with its 2.6M-row index subtree built
    TWICE on one scan split, once broadcast whole, and ~1.1e8
    partially-aggregated pair rows exchanged; this shape books ~10s):

    * one ``mapInPandas`` pass builds each doc's distinct shingle set,
      sorted by the (crc32, shingle) total order (see
      :func:`shingle_set_rows`), persisted — it feeds the df aggregate,
      the candidate index and both verify sides, and the scan is widened
      to the session parallelism when a small file under-splits
      (``scanwide.widen_scan``);
    * hot shingles (df > max_df) come from one partial-aggregated groupBy
      (the exchange carries one row per distinct shingle per map task) and
      are removed from the arrays row-locally (``array_except`` against
      the collected hot set when it is small, an exploded anti-join +
      re-aggregation otherwise);
    * candidates: PREFIX-FILTERED index self-join (Bayardo et al., WWW'07
      "Scaling Up All Pairs Similarity Search") with per-side prefixes of
      length ``n' - ceil(t*n') + 2``, then a per-pair collision count
      filtered by the order-statistics bound ``req`` (see the inline
      derivation) — at sf1.0 this admits ~3k of 5.9e7 sharing pairs, so
      the exact verification is measured in thousands of rows.  The count
      aggregate carries only the pair key (packed into one long when ids
      permit) and is the single pair-sized exchange in the plan;
    * verification is row-local: the capped arrays ride in on two
      broadcast joins (when the doc count is under
      ``broadcast_docs_limit``; plain AQE-planned joins beyond — a
      500k-doc array frame is ~100s of MB, far under the 8 GB broadcast
      cap, but 10^9-doc corpora must shuffle the few candidates instead),
      ``array_intersect`` gives n_shared, then round and threshold.

    Cache lifecycle: the narrow shingle-set frame stays persisted until
    the caller clears it (same contract as ``pack_sequences``); benchmarks
    must ``clearCache`` between repeats (bench.py does).
    """
    sets_ = shingle_set_rows(docs, text_col, id_col, shingle_n).persist()

    hot = (
        sets_.select(F.explode("sh").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
    )
    # the hot set is stop-shingle-sized (empty on the sf corpora); collect
    # to make the cap row-local.  The guard keeps a degenerate corpus
    # (many hot shingles = a huge literal array bloating the plan) off the
    # driver: fall back to an exploded anti-join + re-aggregation,
    # re-sorted to the same total order.
    hot_list = [r["shingle"] for r in hot.limit(HOT_LITERAL_LIMIT + 1).collect()]
    if not hot_list:
        arrs = sets_.withColumn("sh_c", F.col("sh"))
    elif len(hot_list) <= HOT_LITERAL_LIMIT:
        arrs = sets_.withColumn(
            "sh_c", F.array_except("sh", F.array(*[F.lit(s) for s in hot_list]))
        )
    else:
        # NB: this rare branch re-sorts by plain string order — also a
        # valid total order, and consistent here because EVERY doc's sh_c
        # comes from this same aggregation (order consumers — the prefix
        # slice — only need one corpus-wide order; verification is
        # order-insensitive)
        capped = (
            sets_.select("id", F.explode("sh").alias("shingle"))
            .join(hot, "shingle", "left_anti")
            .groupBy("id")
            .agg(F.sort_array(F.collect_list("shingle")).alias("sh_c"))
        )
        arrs = sets_.join(capped, "id", "left").withColumn(
            "sh_c", F.coalesce("sh_c", F.array().cast("array<string>"))
        )
    arrs = arrs.select("id", "sh_c", "n_all")

    # --- candidate mining ---------------------------------------------
    # Prefix filtering (Bayardo et al. WWW'07 "Scaling Up All Pairs
    # Similarity Search"), sharpened with the order-statistics count bound:
    # under any fixed total order, the j-th smallest element shared by a
    # pair with capped-set overlap I sits within position n_side - (I - j)
    # of each sorted side (the I - j larger shared elements all lie after
    # it).  With per-side prefixes of length p2 = n' - ceil(t*n') + 2 and
    # the minimum required overlap alpha = ceil(t/(1+t)*(n_all_a+n_all_b)),
    # a qualifying pair therefore collides in the prefix self-join at least
    #     req = alpha - max(ceil(t*n'_a), ceil(t*n'_b)) + 2
    # times (j <= req satisfies both position constraints).  At sf1.0
    # (52-shingle docs, t=0.5) req is 11 — so counting collisions per pair
    # and keeping only pairs with >= max(2, req) of them shrinks 5.9e7
    # candidate groups to approximately the true pair set before any
    # array work; the exact verification then touches thousands of rows,
    # not tens of millions.  Pairs whose alpha is <= 1 can legitimately
    # share a single shingle; both sides of such a pair have
    # n_all <= (1+t)/t - 1, so a second channel joins those tiny docs on
    # single shingles.  The float guards (+/-1e-9) each err in the safe
    # direction: alpha can only shrink, ceil(t*n') in the subtrahend can
    # only grow, the prefix can only lengthen — a required candidate is
    # never dropped.
    import math

    thr = float(threshold)
    tiny_cap = math.floor((1.0 + thr) / thr - 1e-9) - 1 if thr > 0 else None

    n_c = F.size("sh_c")
    p2_col = F.greatest(
        n_c - F.ceil(F.lit(thr) * n_c - F.lit(1e-9)).cast("int") + F.lit(2),
        F.lit(0),
    )
    inv = arrs.select(
        "id", F.explode(F.slice("sh_c", 1, p2_col)).alias("shingle")
    )
    # SHUFFLE_HASH: the build side is one prefix row per doc-shingle
    # (1.35M rows at sf1.0, ~40K per partition) — far under the per-task
    # memory a hash relation needs, and 2.5x faster than sort-merge here.
    # Doc sizes are attached by broadcast int-joins AFTER the _c >= 2 cut
    # so the wide rows never enter the (nearly collapse-free) aggregate,
    # and when the ids are non-negative integers under 2^31 the pair key
    # packs into ONE long (measured 7.2s -> 5.8s on the 3.9e7-collision
    # aggregate: half the key bytes, one hash/compare instead of two).
    stats = sets_.agg(
        F.count("*").alias("n"), F.min("id").alias("lo"),
        F.max("id").alias("hi"),
    ).first()
    n_docs = stats["n"]
    packable = (
        docs.schema[id_col].dataType.simpleString()
        in ("tinyint", "smallint", "int", "bigint")
        and stats["lo"] is not None and stats["lo"] >= 0
        and stats["hi"] is not None and stats["hi"] < 2 ** 31
    )
    il, ir = inv.alias("l"), inv.hint("SHUFFLE_HASH").alias("r")
    joined = il.join(
        ir,
        (F.col("l.shingle") == F.col("r.shingle"))
        & (F.col("l.id") < F.col("r.id")),
    )
    id_dt = docs.schema[id_col].dataType.simpleString()
    if packable:
        pk = (F.shiftleft(F.col("l.id").cast("long"), 32)
              + F.col("r.id").cast("long"))
        counted = (
            joined.groupBy(pk.alias("_pk"))
            .agg(F.count("*").alias("_c"))
            .filter(F.col("_c") >= 2)
            .select(
                F.shiftright("_pk", 32).cast(id_dt).alias("id_a"),
                F.col("_pk").bitwiseAND(F.lit(4294967295)).cast(id_dt)
                .alias("id_b"),
                "_c",
            )
        )
    else:
        counted = (
            joined.groupBy(
                F.col("l.id").alias("id_a"),
                F.col("r.id").alias("id_b"),
            )
            .agg(F.count("*").alias("_c"))
            .filter(F.col("_c") >= 2)
        )
    sa = arrs.select(F.col("id").alias("id_a"), F.size("sh_c").alias("nc_a"),
                     F.col("n_all").alias("na_a"))
    sb = arrs.select(F.col("id").alias("id_b"), F.size("sh_c").alias("nc_b"),
                     F.col("n_all").alias("na_b"))
    alpha = F.ceil(
        F.lit(thr / (1.0 + thr)) * (F.col("na_a") + F.col("na_b"))
        - F.lit(1e-9)
    )
    ceil_ta = F.ceil(F.lit(thr) * F.col("nc_a") + F.lit(1e-9))
    ceil_tb = F.ceil(F.lit(thr) * F.col("nc_b") + F.lit(1e-9))
    req = alpha - F.greatest(ceil_ta, ceil_tb) + F.lit(2)
    cand = (
        counted.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .filter(F.col("_c") >= F.greatest(F.lit(2), req))
        .select("id_a", "id_b")
    )

    if tiny_cap is None:
        # threshold 0: every pair sharing >= 1 capped shingle qualifies
        tinv = arrs.select("id", "n_all", F.explode("sh_c").alias("shingle"))
    else:
        tinv = arrs.filter(F.col("n_all") <= tiny_cap).select(
            "id", "n_all", F.explode("sh_c").alias("shingle")
        )
    tl, tr = tinv.alias("l"), tinv.alias("r")
    tcand = tl.join(
        tr,
        (F.col("l.shingle") == F.col("r.shingle"))
        & (F.col("l.id") < F.col("r.id")),
    )
    if tiny_cap is not None:
        tcand = tcand.filter(
            F.col("l.n_all") + F.col("r.n_all")
            <= F.lit((1.0 + thr) / thr + 1e-9)
        )
    cand = cand.unionByName(
        tcand.select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
    ).dropDuplicates(["id_a", "id_b"])

    # --- exact verification -------------------------------------------
    va = arrs.select(F.col("id").alias("id_a"), F.col("sh_c").alias("_sha"),
                     F.col("n_all").alias("n_a"))
    vb = arrs.select(F.col("id").alias("id_b"), F.col("sh_c").alias("_shb"),
                     F.col("n_all").alias("n_b"))
    if n_docs <= broadcast_docs_limit:
        va, vb = F.broadcast(va), F.broadcast(vb)
    n_shared = F.size(F.array_intersect("_sha", "_shb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                n_shared / (F.col("n_a") + F.col("n_b") - n_shared), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup-style: k-means clusters bound the pairwise work)
# ---------------------------------------------------------------------------

DEFAULT_CLUSTER_SIZE = 1024


def semantic_assign(embeddings: DataFrame, n_clusters: int | None = None,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    target_cluster_size: int = DEFAULT_CLUSTER_SIZE) -> DataFrame:
    """Cluster assignment for SemDeDup, returned PERSISTED (MEMORY_AND_DISK).

    The caller owns the lifetime: reuse one assigned frame for both
    ``semantic_dup_pairs`` and ``semantic_dedup`` (one k-means fit, one
    assignment matmul), then ``.unpersist()`` after the consuming action.

    ``n_clusters=None`` (the default) derives the cluster count from the
    corpus: ``max(16, ceil(n / target_cluster_size))`` — per-cluster pair
    work is quadratic in cluster size, so the count MUST grow with n (the
    SemDeDup paper uses ~100k clusters at LAION scale).  The count() this
    costs is one metadata-cheap scan; pass an explicit ``n_clusters`` to
    skip it when the size is known.

    Persist rationale: (a) list_id becomes a join key below and Spark
    cannot evaluate a pandas UDF inside shuffle-key codegen when vec_col is
    itself a deep expression (e.g. hash_embed output); (b) the self-join
    would otherwise run the assignment matmul once per side.
    """
    import math

    from pyspark import StorageLevel

    from entity_extraction_svc_spark.operators.annindex import (
        ivf_assign_udf,
        kmeans_centroids,
    )

    if embeddings is None:
        raise ValueError(
            "semantic_assign needs an embeddings DataFrame (callers of "
            "semantic_dup_pairs/semantic_dedup must pass exactly one of "
            "embeddings= or assigned=)"
        )
    if n_clusters is None:
        n = embeddings.count()
        n_clusters = max(16, math.ceil(n / max(target_cluster_size, 1)))
    C = kmeans_centroids(embeddings, n_clusters, id_col, vec_col)
    assign_udf = ivf_assign_udf(C)
    assigned = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).withColumn("list_id", assign_udf(F.col("v")))
    return assigned.persist(StorageLevel.MEMORY_AND_DISK)


def semantic_dup_pairs(embeddings: DataFrame | None = None,
                       threshold: float = 0.9,
                       n_clusters: int | None = None, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       assigned: DataFrame | None = None,
                       n_blocks: int = 1) -> DataFrame:
    """Within-cluster near-duplicate pairs (the SemDeDup candidate set):
    k-means cluster assignment bounds the quadratic term — pairwise cosine
    runs per cluster (a self-join on ``list_id``), never corpus-wide.
    Returns (id_a, id_b, cos_sim, list_id).

    Pass ``assigned=semantic_assign(...)`` to share one fit+assignment with
    ``semantic_dedup``; otherwise it is computed (and left persisted) here.
    """
    if assigned is None:
        assigned = semantic_assign(embeddings, n_clusters, id_col, vec_col)
    return _pairs_from_assigned(assigned, threshold, n_blocks)


def _pairs_from_assigned(assigned: DataFrame, threshold: float,
                         n_blocks: int = 4) -> DataFrame:
    """Within-cluster pairs as PER-CLUSTER MATMUL TILES.

    The former shape was a self-join on list_id with the codegen cosine
    evaluated per pair — the exact nested-loop pattern
    ``embedding_dup_pairs`` replaced with tiled matmuls (its docstring
    carries the 40-minutes-for-2e8-pairs measurement; the 10x gate showed
    this path at 547 s Spark-side for 25M pair-cosines).  Here each
    cluster's rows hash into ``n_blocks`` blocks; every (list_id, block
    pair) cell becomes one task scoring the tile as a single numpy matmul
    via ``_score_tile`` — the same exact-rescore fold, so cos_sim values
    stay bit-for-bit equal to the corpus-wide pair set (pinned by
    test_semantic_dup_pairs_subset_of_exact).  ``n_blocks`` only trades
    per-task tile size against parallelism — the pair set is invariant
    (test_semantic_pairs_block_salt_invariant); a hot cluster spreads
    over B(B+1)/2 tasks instead of serializing on one reducer."""
    id_t = assigned.schema["id"].dataType.simpleString()
    n_blocks = max(n_blocks, 1)

    blocks = (
        assigned.select(
            "list_id",
            F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).alias("bid"),
            F.struct(F.col("id").alias("_id"), F.col("v").alias("_v"))
            .alias("_row"),
        )
        .groupBy("list_id", "bid")
        .agg(F.collect_list("_row").alias("rows"))
    )
    l = blocks.select("list_id", F.col("bid").alias("bid_a"),
                      F.col("rows").alias("rows_a"))
    r = blocks.select("list_id", F.col("bid").alias("bid_b"),
                      F.col("rows").alias("rows_b"))
    tiles = (
        l.join(r, "list_id")
        .where(F.col("bid_a") <= F.col("bid_b"))
        .repartition(F.col("list_id"), F.col("bid_a"), F.col("bid_b"))
    )

    def _score(batches):
        import pandas as pd

        for pdf in batches:
            for lid, rows_a, rows_b, same in zip(
                    pdf["list_id"], pdf["rows_a"], pdf["rows_b"],
                    pdf["bid_a"] == pdf["bid_b"]):
                out_a, out_b, out_c = _score_tile(rows_a, rows_b, same,
                                                  threshold)
                yield pd.DataFrame(
                    {"id_a": out_a, "id_b": out_b, "cos_sim": out_c,
                     "list_id": [lid] * len(out_a)}
                )

    lid_t = assigned.schema["list_id"].dataType.simpleString()
    return tiles.mapInPandas(
        _score,
        f"id_a {id_t}, id_b {id_t}, cos_sim double, list_id {lid_t}",
    ).select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"),
             "list_id")


def semantic_dedup(embeddings: DataFrame | None = None,
                   threshold: float = 0.9,
                   n_clusters: int | None = None, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   assigned: DataFrame | None = None,
                   n_blocks: int = 1) -> DataFrame:
    """SemDeDup (Abbas et al., 2023, arXiv:2303.09540): cluster the embedding
    space with spherical k-means, then within each cluster keep ONE
    representative of every near-duplicate set (pairwise cosine >=
    ``threshold``, smallest id wins).

    At 10^9 vectors each cluster is a shuffle partition and the pairwise
    join stays local to it (see ``semantic_dup_pairs``).  Returns
    (id, list_id, keep) — ``keep=false`` rows are the semantic duplicates
    to drop.  Note the recall premise: SemDeDup assumes a CLUSTERED
    semantic space; on near-random vectors the cluster partition splits
    duplicate pairs (measured ~0.3-0.5 of the corpus-wide pair set on the
    synthetic sf tables) — the corpus-wide alternative is
    ``embedding_dup_pairs_lsh``.

    The cluster count scales WITH the corpus by default (see
    ``semantic_assign``); pass ``assigned=`` to share one fit across the
    pair set and the keep flags, and ``n_blocks`` to salt skewed clusters.
    """
    owns = assigned is None
    if owns:
        assigned = semantic_assign(embeddings, n_clusters, id_col, vec_col)
    dup_ids = (
        _pairs_from_assigned(assigned, threshold, n_blocks)
        .select(F.col("id_b").alias("dup_id"))
        .distinct()
    )
    out = assigned.join(
        dup_ids, assigned["id"] == dup_ids["dup_id"], "left"
    ).select("id", "list_id", F.col("dup_id").isNull().alias("keep"))
    if owns:
        # the assignment was created here, so its persisted (id, vector,
        # list_id) copy must not outlive the call: materialize the (much
        # smaller, vector-free) verdict frame and release the cache
        out = out.localCheckpoint(eager=True)
        assigned.unpersist()
    return out


# ---------------------------------------------------------------------------
# near-dup resolution: pairs -> connected components -> keeper assignment
# ---------------------------------------------------------------------------

def resolve_near_dups(docs: DataFrame, pairs: DataFrame,
                      id_col: str = "doc_id",
                      a_col: str = "id_a", b_col: str = "id_b") -> DataFrame:
    """Turn a near-duplicate PAIR list into the per-document keep/drop
    verdict a pipeline actually filters on.

    Pairwise detectors (minhash/simhash/jaccard/embedding) emit edges; the
    duplicate GROUPS are the connected components of that graph (a~b and
    b~c must keep exactly one of {a,b,c}, even though (a,c) was never
    emitted).  Components come from the hash-min label propagation in
    ``operators/canonicalize.py`` (iteration count is log-diameter, and
    dup-cluster diameters are tiny); the keeper is the component's min id.

    Returns (id, keeper_id, keep) for EVERY document — docs in no pair
    keep themselves — so the filter is one join: ``docs.join(resolution
    .filter("keep"), id_col)``.  Scale shape: only pair members enter the
    CC loop (the overwhelmingly-unique corpus rides through the final
    left join untouched).
    """
    from entity_extraction_svc_spark.operators.canonicalize import (
        connected_components,
    )

    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    )
    comps = connected_components(edges)
    keepers = comps.groupBy("comp").agg(F.min("node").alias("keeper_id"))
    assigned = comps.join(keepers, "comp").select(
        F.col("node").alias(id_col), "keeper_id"
    )
    return docs.select(id_col).join(assigned, id_col, "left").select(
        id_col,
        F.coalesce("keeper_id", F.col(id_col)).alias("keeper_id"),
        (F.coalesce("keeper_id", F.col(id_col)) == F.col(id_col)).alias("keep"),
    )


# ---------------------------------------------------------------------------
# substring-level dedup: duplicated token WINDOWS and maximal SPANS
# (document-granular dedup above misses boilerplate/licence blocks repeated
# inside otherwise-distinct pages — the Lee et al. 2022 "Deduplicating
# Training Data Makes Language Models Better" case.  Their suffix-array
# build is a single-machine algorithm; the Spark-native equivalent is the
# stride-1 window-fingerprint join below, plus winnowing (Schleimer et al.
# 2003, MOSS) as the shuffle-volume reducer at corpus scale.)
# ---------------------------------------------------------------------------

def substring_windows(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 8) -> DataFrame:
    """One row per stride-1 k-token window: (id, pos, wlen, wh) with pos
    1-based over the normalized token sequence and wh = md5 of the window
    text (hex string — bit-reproducible in any SQL engine).  Documents
    shorter than k tokens contribute their whole text as a single window
    at pos 1 (wlen = token count) so they still participate; a zero-token
    document has no substrings (letting it through would make every empty
    doc a "duplicate" of every other).

    Scale shape: the tokenizer pass (:func:`token_rows`) emits the window
    rows row-locally, and the md5 runs in codegen over them; the frame is
    |corpus tokens| rows, consumed once by the aggregation or window over
    the hash that follows (each substring operator runs the pass once),
    never materialized.  At 100 TB use
    :func:`winnow_fingerprints` instead, which cuts the shuffled row count
    ~w/2-fold with a detection guarantee."""
    def windows(toks):
        return min(k, len(toks)), _py_shingles(toks, k) if toks else []

    return token_rows(
        docs.select(id_col, text_col), windows,
        "wlen int, _w array<string>", text_col,
    ).select(
        id_col, F.posexplode("_w").alias("_p", "_win"), "wlen",
    ).select(id_col, (F.col("_p") + 1).alias("pos"), "wlen",
             F.md5("_win").alias("wh"))


def _dup_groups(occ: DataFrame, key: str, id_col: str) -> DataFrame:
    """The dup-group aggregate over occurrence rows (id, pos, ``key``):
    one row per ``key`` that occurs more than once, with the occurrence
    count, the distinct-document count and the keeper occurrence =
    lexicographic min (id, pos).  One hash-groupBy with map-side partial
    aggregation; the shuffle carries one row per distinct key per map
    task."""
    kp = F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p")))
    return (
        occ.groupBy(key)
        .agg(
            F.count("*").alias("n_occ"),
            F.countDistinct(id_col).alias("n_docs"),
            kp.alias("_kp"),
        )
        .filter(F.col("n_occ") > 1)
        .select(
            key, "n_occ", "n_docs",
            F.col("_kp.i").alias("keeper_id"),
            F.col("_kp.p").alias("keeper_pos"),
        )
    )


def substring_dup_windows(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 8) -> DataFrame:
    """Duplicated k-token windows: one row per window text that occurs
    more than once in the corpus (across documents or repeated within
    one), with occurrence count, distinct-document count, and the keeper
    occurrence = lexicographic min (id, pos) (:func:`_dup_groups`)."""
    return _dup_groups(substring_windows(docs, text_col, id_col, k), "wh",
                       id_col)


def _dup_occurrences(docs: DataFrame, text_col: str, id_col: str,
                     k: int) -> DataFrame:
    """The :func:`substring_windows` rows whose window text occurs more
    than once, each with ``_is_keeper``: whether it is its hash's keeper
    occurrence, the lexicographic min (id, pos).  One window pass over
    the occurrences: the count and the keeper are window aggregates over
    ``wh``, so the window stream is read once."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("wh")
    kp = F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p")))
    return (
        substring_windows(docs, text_col, id_col, k)
        .withColumn("_n", F.count("*").over(w))
        .withColumn("_kp", kp.over(w))
        .filter(F.col("_n") > 1)
        .select(
            id_col, "pos", "wlen",
            ((F.col(id_col) == F.col("_kp.i"))
             & (F.col("pos") == F.col("_kp.p"))).alias("_is_keeper"),
        )
    )


def substring_dup_spans(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 8) -> DataFrame:
    """Maximal duplicated substrings per document: adjacent duplicated
    window starts merged into (id, span_start, span_end, span_tokens)
    token ranges (gaps-and-islands on pos - row_number).  A run of L
    duplicated tokens yields L-k+1 duplicated windows at consecutive
    positions, so the merged span recovers the full run — the detector is
    exact for any duplicated substring of >= k tokens.

    The duplicated occurrences come from one window pass over the window
    stream (:func:`_dup_occurrences`, shuffled by hash), and the islands
    window shuffles only those occurrences, partitioned by document."""
    from pyspark.sql.window import Window

    dups = _dup_occurrences(docs, text_col, id_col, k)
    win = Window.partitionBy(id_col).orderBy("pos")
    isl = dups.withColumn(
        "_grp", F.col("pos") - F.row_number().over(win)
    )
    return (
        isl.groupBy(id_col, "_grp")
        .agg(
            F.min("pos").alias("span_start"),
            F.max(F.col("pos") + F.col("wlen") - 1).alias("span_end"),
        )
        .select(
            id_col, "span_start", "span_end",
            (F.col("span_end") - F.col("span_start") + 1)
            .alias("span_tokens"),
        )
    )


def strip_dup_spans(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 8,
                    out_col: str = "text_stripped") -> DataFrame:
    """Keep-first substring removal: every duplicated-window occurrence
    except its hash's global keeper (min (id, pos)) is removed; the
    surviving tokens are reassembled in order.  The first (lowest-id,
    leftmost) copy of a repeated block therefore survives verbatim and
    all later copies vanish — Lee et al.'s dedup policy.

    Tokens covered by ANY keeper occurrence are PROTECTED from removal:
    without the protection, occurrences of two different duplicated
    windows can overlap such that window A's removable occurrence covers
    window B's keeper tokens (found in review — a 3-doc counterexample
    deleted every verbatim copy of a block).  With it the guarantee is
    exact: a keeper's token positions are adjacent and all survive, and
    per-document reassembly preserves order, so every duplicated
    window's first copy appears verbatim in the rebuilt text.  A
    removable occurrence overlapping a keeper loses only its unprotected
    tokens (partial removal — the price of the guarantee).

    Returns the input plus ``out_col`` (normalized-token text).  The
    duplicated occurrences (:func:`_dup_occurrences`) are collected per
    document as keeper and removable window starts — every window of a
    document has the same length, min(k, tokens) — and only the documents
    with a removable occurrence are rebuilt, in one Arrow pass that
    re-tokenizes their text (:func:`_py_norm_tokens`) and joins the tokens
    outside the removable-minus-protected positions.  A document whose
    every position is protected, and every untouched one, keeps its
    normalized text."""
    from pyspark.sql.types import StringType, StructField, StructType

    starts = (
        _dup_occurrences(docs, text_col, id_col, k)
        .groupBy(id_col)
        .agg(
            F.collect_list(F.when(F.col("_is_keeper"), F.col("pos")))
            .alias("_keep"),
            F.collect_list(F.when(~F.col("_is_keeper"), F.col("pos")))
            .alias("_drop"),
        )
        .filter(F.size("_drop") > 0)
    )
    affected = docs.select(id_col, text_col).join(starts, id_col)

    def rebuild(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for text, keep, drop in zip(pdf[text_col], pdf["_keep"],
                                        pdf["_drop"]):
                toks = _py_norm_tokens(text)
                wl = min(k, len(toks))
                cut = ({p + j for p in drop for j in range(wl)}
                       - {p + j for p in keep for j in range(wl)})
                out.append(" ".join(t for i, t in enumerate(toks, 1)
                                    if i not in cut) if cut else None)
            yield pd.DataFrame({id_col: pdf[id_col].values, "_rb": out})

    rebuilt = affected.mapInPandas(rebuild, StructType([
        docs.schema[id_col], StructField("_rb", StringType())]))
    return (
        docs.join(rebuilt, id_col, "left")
        .withColumn(out_col, F.coalesce("_rb", _norm_text(text_col)))
        .drop("_rb")
    )


def winnow_fingerprints(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 8,
                        w: int = 4) -> DataFrame:
    """Winnowed window fingerprints (Schleimer et al. 2003): from each
    run of w consecutive k-token-window hashes, select the minimal
    (hash, pos) pair; emit the distinct selected set as (id, pos, h).

    Guarantee (the reason this is the 100-TB path): any duplicated token
    run of >= k + w - 1 tokens spans at least one full w-window of hashes
    in BOTH copies, and the minimal hash inside a shared w-window is the
    same hash value on both sides — so the copies share a selected
    fingerprint and the duplicate is caught, while the rows entering the
    dup-detection shuffle drop from |tokens| to ~2|tokens|/(w+1) (the
    expected density of sliding-window minima).  Ties on the hash value
    break to the leftmost position; documents with fewer than w windows
    select their single minimal hash so short docs still participate, and
    zero-token documents select nothing.

    Hashing and selection run per document in the tokenizer pass
    (:func:`token_rows`), so only the selected fingerprints leave it."""
    def winnow(toks):
        if not toks:
            return [], []
        st = [(_py_h64(s), p) for p, s in enumerate(_py_shingles(toks, k), 1)]
        sel = dict.fromkeys(min(st[i:i + w])
                            for i in range(max(len(st) - w + 1, 1)))
        return [p for _, p in sel], [h for h, _ in sel]

    return token_rows(
        docs.select(id_col, text_col), winnow,
        "pos array<int>, h array<bigint>", text_col,
    ).select(id_col, F.explode(F.arrays_zip("pos", "h")).alias("_s")).select(
        id_col, F.col("_s.pos").alias("pos"), F.col("_s.h").alias("h"))


def winnow_dup_groups(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 8,
                      w: int = 4) -> DataFrame:
    """Duplicated winnowed fingerprints: the dup-group aggregate
    (:func:`_dup_groups`) over the selected set — the scale-path analogue
    of :func:`substring_dup_windows` (same output shape keyed by the
    integer fingerprint), feeding the same span-merge/resolution machinery
    on ~2/(w+1) of the shuffle volume."""
    return _dup_groups(winnow_fingerprints(docs, text_col, id_col, k, w),
                       "h", id_col)


def line_dedup(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", sep: str = "\n") -> DataFrame:
    """CCNet-style paragraph-level exact dedup: split every document on
    ``sep``, hash each line's normalized form (lower, whitespace
    collapsed, trimmed), keep ONLY the corpus-wide first occurrence —
    the lexicographically least (id, line_idx) — and reassemble the
    survivors in original order.  Kills cross-page boilerplate (nav,
    footer, cookie banners) the way CCNet's paragraph dedup does, and
    within-doc repeats with the same rule.  Lines that normalize to
    empty are removed outright (not dedup candidates).  Docs whose every
    line was dropped disappear.

    Returns (id_col, text, n_kept, n_dropped) where n_dropped counts the
    doc's non-empty lines that lost their group plus its empty lines.

    Scale shape: one narrow posexplode, a groupBy on the normalized-line
    key whose min-of-struct winner PARTIAL-AGGREGATES map-side (a
    boilerplate line duplicated 10^9 times combines before the
    shuffle), a hash join back on the same key (hot keys are AQE
    skew-join territory; output is one row per line either way), and a
    per-doc groupBy to reassemble — collect_list is bounded by one
    document's lines, the same bound the chunker already relies on.
    Determinism: winner choice and reassembly order are pure functions
    of the data; repartitioning never changes the output.

    Reference anchor: boilerplate stripping in the reference is per-page
    (agent/server.py H1); this is the corpus-level complement its
    single-page view cannot express.
    """
    # \Q..\E so sep is literal (F.split takes a Java regex; DuckDB's
    # string_split is literal — the two sides must agree on '.' etc.)
    lines = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.split(F.col(text_col), "\\Q" + sep + "\\E")
        ).alias("_idx", "_line"),
    ).withColumn("_norm", _norm_text("_line"))
    # Winners over non-empty lines only; empty lines never dedup, they
    # just count as dropped.  The LEFT join keeps every line so ONE
    # per-doc groupBy yields text, n_kept AND n_dropped together (the
    # earlier shape needed a third scan for per-doc totals).  Two
    # consumers of `lines` remain — winners and the probe side — i.e.
    # two corpus scans; a window-min would need only one but puts a
    # hub line's every copy in one task, and at web scale the
    # 10^9-copy boilerplate line is the binding constraint, so the
    # partial-aggregating groupBy wins.
    winners = (
        lines.filter(F.length("_norm") > 0)
        .groupBy("_norm")
        .agg(
            F.min(
                F.struct(F.col("_id").alias("i"), F.col("_idx").alias("x"))
            ).alias("_w")
        )
    )
    flagged = lines.join(winners, "_norm", "left").withColumn(
        "_keep",
        (F.col("_id") == F.col("_w.i")) & (F.col("_idx") == F.col("_w.x")),
    )
    return (
        flagged.groupBy("_id")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.filter(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    "_idx",
                                    "_line",
                                    F.coalesce("_keep", F.lit(False)).alias(
                                        "_k"
                                    ),
                                )
                            )
                        ),
                        lambda s: s["_k"],
                    ),
                    lambda s: s["_line"],
                ),
            ).alias("text"),
            F.sum(F.col("_keep").cast("long")).alias("n_kept"),
            F.sum(
                (~F.coalesce("_keep", F.lit(False))).cast("long")
            ).alias("n_dropped"),
        )
        .filter(F.col("n_kept") > 0)
        .select(F.col("_id").alias(id_col), "text", "n_kept", "n_dropped")
    )


def line_dedup_oracle_sql(docs_sql: str, id_col: str = "doc_id",
                          sep: str = "\n") -> str:
    """DuckDB rendition of :func:`line_dedup` — same normalization, same
    (id, idx) winner rule, same ordered reassembly.  ``docs_sql`` must
    yield (<id_col>, text)."""
    sq = sep.replace("'", "''")
    return f"""
        WITH ld_docs AS ({docs_sql}),
        l AS (
          SELECT {id_col} AS id, g.i - 1 AS idx, parts[g.i] AS line,
                 trim(regexp_replace(lower(parts[g.i]), '\\s+', ' ', 'g'))
                   AS norm
          FROM (SELECT {id_col}, string_split(text, '{sq}') AS parts
                FROM ld_docs) t,
               unnest(generate_series(1, len(parts))) AS g(i)
        ),
        n_all AS (SELECT id, count(*) AS n_all FROM l GROUP BY id),
        kept AS (
          SELECT id, idx, line FROM (
            SELECT id, idx, line, row_number() OVER (
              PARTITION BY norm ORDER BY id, idx) AS rn
            FROM l WHERE len(norm) > 0
          ) WHERE rn = 1
        )
        SELECT k.id AS {id_col},
               string_agg(k.line, '{sq}' ORDER BY k.idx) AS text,
               count(*) AS n_kept,
               any_value(n_all.n_all) - count(*) AS n_dropped
        FROM kept k JOIN n_all ON k.id = n_all.id
        GROUP BY k.id
    """
