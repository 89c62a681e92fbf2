"""Train/eval loop analogue of the reference's NER fine-tune harness
(``annotators/entity_extraction_base/train.py:25-98``): train a candidate
model on labeled data, evaluate mention F1 on a held-out split, and REPLACE
the deployed model only when the score improves (the keep-if-F1-improves
gate), appending a metrics-history row either way.

The trainable model here is the NER stand-in's parameter set — the
gazetteer: "training" learns surface -> tag from the TRAIN split's golden
mention labels (semantically what the reference's token-tagger fine-tune
does), entirely as Spark aggregations; evaluation runs the real
detect-mentions path on the DEV split's pages.  A torch checkpoint slots
into the same harness by swapping ``learn_model``/``load tagger``.

Usage: python tools/train_eval.py [fixture_dir] [model_dir]
Prints one JSON line: {"dev_f1": ..., "prev_best": ..., "updated": bool}.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def learn_model(golden_mentions_train):
    """Gazetteer rows from labeled mentions: surface -> majority tag,
    weighted by frequency (num_rels doubles as the popularity prior)."""
    from pyspark.sql import functions as F

    return (
        golden_mentions_train.groupBy("substr")
        .agg(
            F.expr("mode(tag)").alias("coarse_tag"),
            F.count("*").alias("num_rels"),
        )
        .select(
            F.col("substr").alias("surface"),
            F.col("coarse_tag").alias("fine_tag"),  # detection-only model
            "coarse_tag",
            "num_rels",
        )
    )


def eval_f1(spark, pages_dev, golden_dev, gaz_rows) -> float:
    """Mention-level F1 of the real detection path on the dev split."""
    from entity_extraction_svc_spark.operators.tagger import SoftGazetteerTagger
    from entity_extraction_svc_spark.plans.fused import (
        _fine_tag_lookup,
        fused_mentions,
    )

    sc = spark.sparkContext
    tagger_bc = sc.broadcast(SoftGazetteerTagger.from_rows(gaz_rows))
    fine_bc = sc.broadcast(_fine_tag_lookup(gaz_rows))
    pred = {
        (r.url, r.substr, r.start, r.end)
        for r in fused_mentions(pages_dev, tagger_bc, fine_bc).collect()
    }
    gold = {
        (r.url, r.substr, r.start, r.end) for r in golden_dev.collect()
    }
    tp = len(pred & gold)
    p = tp / len(pred) if pred else 0.0
    r = tp / len(gold) if gold else 0.0
    return round(2 * p * r / (p + r), 4) if p + r else 0.0


def main() -> None:
    import pandas as pd
    from pyspark.sql import functions as F

    from entity_extraction_svc_spark.session import get_spark

    fixture_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "fixtures")
    model_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/kg_trained_model"
    os.makedirs(model_dir, exist_ok=True)
    metrics_path = os.path.join(model_dir, "metrics.csv")
    gaz_path = os.path.join(model_dir, "gazetteer.parquet")

    spark = get_spark(app_name="train-eval", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    golden = spark.read.parquet(f"{fixture_dir}/golden_mentions.parquet")
    # deterministic 80/20 url-hash split (train.py's dataset_reader analogue)
    is_dev = F.pmod(F.xxhash64("url"), F.lit(5)) == 0
    pages_dev = pages.filter(is_dev)
    golden_train = golden.filter(~is_dev)
    golden_dev = golden.filter(is_dev)

    candidate = learn_model(golden_train)
    cand_rows = [r.asDict() for r in candidate.collect()]
    dev_f1 = eval_f1(spark, pages_dev, golden_dev, cand_rows)

    # keep-if-F1-improves gate + metrics history (train.py:33-49)
    prev_best = None
    if os.path.exists(metrics_path):
        hist = pd.read_csv(metrics_path)
        prev_best = float(max(hist["old_metric"].max(), hist["new_metric"].max()))
        updated = dev_f1 > prev_best
        hist = pd.concat([hist, pd.DataFrame([{
            "old_metric": prev_best, "new_metric": dev_f1,
            "update_model": updated}])], ignore_index=True)
    else:
        updated = True  # first train installs the model (train.py:43-47)
        # record the ACTUAL decision: the model IS installed on first run,
        # so the history row must say so (an update_model=False first row
        # would contradict what happened and mislead later gate audits)
        hist = pd.DataFrame([{"old_metric": dev_f1, "new_metric": dev_f1,
                              "update_model": updated}])
    hist.to_csv(metrics_path, index=False)
    if updated:
        candidate.write.mode("overwrite").parquet(gaz_path)

    print(json.dumps({
        "n_train_labels": int(golden_train.count()),
        "n_dev_gold": int(golden_dev.count()),
        "dev_f1": dev_f1,
        "prev_best": prev_best,
        "updated": bool(updated),
        "model_path": gaz_path if updated else None,
    }))


if __name__ == "__main__":
    main()
