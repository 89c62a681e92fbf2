"""Per-stage isolation harness beside the frozen bench.py.

bench.py is FROZEN for measurement; this file books per-stage noop-sink
timings and plan captures without touching it.  Per stage it prints the
min-of-N wall time (same protocol as bench.py) and, in the JSON line, every
run's time:

* full-query twins of the bench queries, and
* noop-sink timings of their internal stages and of every consumer of the
  tokenizer pass (``dedup.token_rows``), so a change can be attributed to
  the stage it touched (e.g. "the inverted-index self-join, not the
  shingling, is the 90% of dedup_ngram_jaccard"), and
* ``python_stage_floor``: the fixed cost of a four-task Python stage whose
  body is trivial.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py [stage ...]
    python bench_extra.py --explain plans/r06 _before   # plan capture only
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))


def noop(df) -> None:
    """Eagerly computes every column of every row, discards the result."""
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, results: dict, runs: dict, name: str, fn,
           repeats: int = REPEATS):
    secs = []
    for _ in range(repeats):
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        fn()
        secs.append(round(time.time() - t0, 3))
    spark.sparkContext.setJobDescription(None)
    results[name] = min(secs)
    runs[name] = secs
    print(f"{name}: {min(secs):.3f}s", flush=True)


def stage_fns(spark, sf_dir: str):
    """{stage_name: thunk} — internal stages of the two dominant bench
    queries plus full-query twins for the small ones."""
    from pyspark.sql import functions as F

    from entity_extraction_svc_spark.operators import dedup as dd
    from entity_extraction_svc_spark.operators import lm
    from entity_extraction_svc_spark.operators.decontam import contamination
    from entity_extraction_svc_spark.operators.embed import hash_embed
    from entity_extraction_svc_spark.operators.packing import pack_sequences
    from entity_extraction_svc_spark.operators.simsearch import cosine_topk
    from entity_extraction_svc_spark.operators.textstats import (
        doc_stats,
        repetition_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    fns = {}

    # ---- dedup_ngram_jaccard internals -------------------------------
    # the shingle-set pass and its explode, as ngram_jaccard_pairs runs them
    def ngram_shingle():
        noop(dd.shingle_set_rows(docs))

    def ngram_index():
        noop(dd.shingle_set_rows(docs).select(
            "id", F.explode("sh").alias("shingle")))

    def ngram_full():
        dd.ngram_jaccard_pairs(docs, threshold=0.5).count()

    fns["ngram_shingle"] = ngram_shingle
    fns["ngram_index"] = ngram_index
    fns["ngram_full"] = ngram_full

    # ---- dedup_minhash_pairs internals -------------------------------
    def minhash_sigs():
        noop(dd.minhash_signatures(docs))

    def minhash_bands():
        noop(dd.minhash_band_rows(docs).drop("pfx"))

    def minhash_full():
        dd.minhash_dup_pairs(docs, threshold=0.5).count()

    fns["minhash_sigs"] = minhash_sigs
    fns["minhash_bands"] = minhash_bands
    fns["minhash_full"] = minhash_full

    # ---- tokenizer-pass consumers, noop sink -------------------------
    # (shingle_set_rows is ngram_shingle, minhash_signatures minhash_sigs)
    # the eval set of the doc_perplexity query's decontam part
    ev = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.substring(dd._norm_text("text"), 1, 240).alias("text"))

    def train_bigram_lm():
        for t in lm.train_bigram_lm(docs):
            noop(t)

    fns["substring_windows"] = lambda: noop(dd.substring_windows(docs))
    fns["substring_dup_spans"] = lambda: noop(dd.substring_dup_spans(docs))
    fns["strip_dup_spans"] = lambda: noop(dd.strip_dup_spans(docs))
    fns["winnow_fingerprints"] = lambda: noop(
        dd.winnow_fingerprints(docs, k=6, w=4))
    fns["simhash"] = lambda: noop(dd.simhash(docs))
    fns["contamination"] = lambda: noop(contamination(docs, ev, n=8))
    fns["repetition_stats"] = lambda: noop(repetition_stats(docs))
    fns["hash_embed"] = lambda: noop(hash_embed(docs, dim=16))
    fns["train_bigram_lm"] = train_bigram_lm
    fns["train_trigram_lm"] = lambda: noop(lm.train_trigram_lm(docs)[2])

    # ---- a Python stage's fixed cost --------------------------------
    # four tasks over 400 checkpointed rows that call one package function:
    # the time is the per-task set-up of a Python worker, not the UDF body
    floor_rows = spark.range(0, 400, numPartitions=4).localCheckpoint()

    def n_tokens(batches):
        for b in batches:
            yield b.assign(n=b["id"].map(lambda i: len(dd._py_norm_tokens(str(i)))))

    fns["python_stage_floor"] = lambda: noop(
        floor_rows.mapInPandas(n_tokens, "id long, n long"))

    # ---- the small queries, full twins -------------------------------
    fns["doc_stats_full"] = lambda: doc_stats(docs).count()
    fns["doc_pack_full"] = lambda: pack_sequences(docs, seq_len=2048).count()
    fns["cosine_topk_full"] = lambda: cosine_topk(emb, query_id=0, k=10).count()
    return fns


def explain_dfs(spark, sf_dir: str):
    """{query_name: DataFrame} for plan capture — the bench queries as the
    frozen bench.py builds them."""
    from entity_extraction_svc_spark.operators import dedup as dd
    from entity_extraction_svc_spark.operators.packing import pack_sequences
    from entity_extraction_svc_spark.operators.simsearch import cosine_topk
    from entity_extraction_svc_spark.operators.textstats import doc_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return {
        "dedup_ngram_jaccard": dd.ngram_jaccard_pairs(docs, threshold=0.5),
        "dedup_minhash_pairs": dd.minhash_dup_pairs(docs, threshold=0.5),
        "doc_pack": pack_sequences(docs, seq_len=2048),
        "doc_stats": doc_stats(docs),
        "sim_cosine_topk": cosine_topk(emb, query_id=0, k=10),
    }


def main() -> None:
    from entity_extraction_svc_spark.session import get_spark

    spark = get_spark(
        app_name="bench_extra", master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    spark.sparkContext.setLogLevel("ERROR")

    if len(sys.argv) >= 2 and sys.argv[1] == "--explain":
        outdir = sys.argv[2] if len(sys.argv) > 2 else "plans/r06"
        suffix = sys.argv[3] if len(sys.argv) > 3 else "_before"
        os.makedirs(outdir, exist_ok=True)
        for name, df in explain_dfs(spark, SF_DIR).items():
            path = os.path.join(outdir, f"{name}{suffix}.txt")
            with open(path, "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            print(f"wrote {path}")
        return

    fns = stage_fns(spark, SF_DIR)
    wanted = sys.argv[1:] or list(fns)
    results: dict = {}
    runs: dict = {}
    for name in wanted:
        _timed(spark, results, runs, name, fns[name])
    print(json.dumps({"sf_dir": SF_DIR, "cpus": CPUS, "stages": results,
                      "runs": runs}))


if __name__ == "__main__":
    main()
