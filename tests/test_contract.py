"""Driver-contract regression: a fast subset of queries() vs oracle_sql()
through tools/check_contract.compare, the compare of the full local sweep
(this keeps the cheap ones inside `pytest -x -q`)."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from tools.check_contract import compare

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
FAST = [
    "rel_agg", "rel_joins",
    "kg_intersection", "doc_profile", "doc_pii", "doc_split",
    "dedup_simhash", "sim_cosine_topk", "kb_ingest",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return c


@pytest.mark.parametrize("name", FAST)
def test_query_matches_oracle(spark, con, name):
    sdf = entry_mod.queries()[name](spark, SF_DIR).toPandas()
    odf = con.execute(entry_mod.oracle_sql()[name]).fetchdf()
    assert compare(sdf, odf) == []


def test_compare_is_strict_on_dtype_kind():
    """Equal values of another dtype kind fail (int64 vs float64, how a
    doc_pack red once passed locally); another width of the same kind
    passes (int32 vs int64)."""
    ints = pd.DataFrame({"k": ["a", "b"], "v": np.array([1, 2], "int64")})
    floats = ints.assign(v=np.array([1.0, 2.0], "float64"))
    narrow = ints.assign(v=np.array([1, 2], "int32"))
    assert compare(ints, floats) == ["dtype kind v: int64 vs float64"]
    assert compare(narrow, ints) == []
    assert compare(ints, ints.assign(v=[1, 3]))[0].startswith("values differ")


def test_prep_logs_a_failed_ship(monkeypatch, caplog):
    """_prep goes on when the package zip cannot be shipped, and says so
    in the log, naming the exception."""
    import logging

    from entity_extraction_svc_spark import session

    def failing_ship(spark):
        raise RuntimeError("addPyFile refused")

    monkeypatch.setattr(session, "_ship_package", failing_ship)
    not_a_session = object()
    with caplog.at_level(logging.WARNING, logger=entry_mod.__name__):
        entry_mod._prep(not_a_session)
    entry_mod._SHIPPED.discard(id(not_a_session))
    assert "RuntimeError: addPyFile refused" in caplog.text
