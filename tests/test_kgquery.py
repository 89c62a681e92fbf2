"""The wiki-parser stand-ins of operators/kgquery.py that no contract row
runs: the triplet existence check (W6), the label lookup and age column
(W2) and the per-entity whitelisted triples (W11)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from entity_extraction_svc_spark.operators.kgquery import (
    age_col,
    check_triplet,
    find_labels,
    top_triplets_for,
)

_TRIPLES = [
    ("Q1", "P31", "Q5"),
    ("Q1", "P19", "Q90"),
    ("Q1", "P106", "Q36180"),
    ("Q2", "P31", "Q5"),
    ("Q2", "P19", "Q60"),
]


def _triples(spark):
    return spark.createDataFrame(_TRIPLES,
                                 "subj string, pred string, obj string")


def test_check_triplet(spark):
    t = _triples(spark)
    assert check_triplet(t, "Q1", "P19", "Q90")
    assert not check_triplet(t, "Q1", "P19", "Q60")
    assert not check_triplet(t, "Q90", "P19", "Q1")


def test_find_labels_keeps_unlabelled_entities(spark):
    labels = spark.createDataFrame([("Q1", "Ada"), ("Q3", "Paris")],
                                   "qid string, label string")
    ents = spark.createDataFrame([("Q1",), ("Q1",), ("Q2",)], "qid string")
    got = sorted(tuple(r) for r in find_labels(labels, ents).collect())
    assert got == [("Q1", "Ada"), ("Q2", None)]


def test_age_col(spark):
    df = spark.createDataFrame([("1990-05-01",), (None,)], "born string")
    got = [r.age for r in df.select(age_col(F.col("born")).alias("age"))
           .collect()]
    assert got == [datetime.date.today().year - 1990, None]


def test_top_triplets_for_filters_and_labels(spark):
    linked = spark.createDataFrame([("Q1",), ("Q1",)], "qid string")
    labels = spark.createDataFrame([("Q90", "Paris")],
                                   "qid string, label string")
    plain = top_triplets_for(linked, _triples(spark), ["P19", "P106"])
    assert sorted(tuple(r) for r in plain.select("subj", "pred", "obj")
                  .collect()) == [("Q1", "P106", "Q36180"),
                                  ("Q1", "P19", "Q90")]
    lab = top_triplets_for(linked, _triples(spark), ["P19", "P106"], labels)
    got = {(r.pred, r.obj): r.obj_label for r in lab.collect()}
    assert got == {("P19", "Q90"): "Paris", ("P106", "Q36180"): None}
