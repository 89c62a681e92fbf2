"""Driver-contract regression: a fast subset of queries() vs oracle_sql()
through tools/check_contract.compare, the compare of the full local sweep
(this keeps the cheap ones inside `pytest -x -q`)."""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from tools.check_contract import DTYPE_ALLOWED, compare

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
    assert compare(sdf, odf, name) == []


def test_compare_is_strict_on_dtype_kind():
    """Equal values of another dtype kind fail (int64 vs float64, how a
    doc_pack red once passed locally), and so does another width of the
    same kind (int32 vs int64) off the allow-list."""
    ints = pd.DataFrame({"k": ["a", "b"], "v": np.array([1, 2], "int64")})
    floats = ints.assign(v=np.array([1.0, 2.0], "float64"))
    narrow = ints.assign(v=np.array([1, 2], "int32"))
    assert compare(ints, floats) == ["dtype v: int64 vs float64"]
    assert compare(narrow, ints) == ["dtype v: int32 vs int64"]
    assert compare(ints, ints.assign(v=[1, 3]))[0].startswith("values differ")


def test_compare_allows_only_listed_dtype_pairs():
    """A (query, column, Spark dtype, oracle dtype) pair on the allow-list
    passes; the same widths under another query, another column or the
    reverse direction fail."""
    assert ("kg_date_format", "yr", "int32", "int64") in DTYPE_ALLOWED
    assert all(why for why in DTYPE_ALLOWED.values())
    spark_side = pd.DataFrame({"day": ["2024-01-01"],
                               "yr": np.array([2024], "int32")})
    oracle_side = spark_side.assign(yr=np.array([2024], "int64"))
    assert compare(spark_side, oracle_side, "kg_date_format") == []
    assert compare(spark_side, oracle_side, "doc_profile") == \
        ["dtype yr: int32 vs int64"]
    assert compare(oracle_side, spark_side, "kg_date_format") == \
        ["dtype yr: int64 vs int32"]
    renamed = spark_side.rename(columns={"yr": "year"})
    assert compare(renamed, oracle_side.rename(columns={"yr": "year"}),
                   "kg_date_format") == ["dtype year: int32 vs int64"]


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


def test_each_checkout_ships_its_own_package_zip(monkeypatch, tmp_path):
    """Two package trees under one temp dir get two zips, each holding its
    own code, even when the second tree's files are older than the first
    zip; an unchanged tree reuses its zip and an edited one gets a new one."""
    import tempfile
    import zipfile

    from entity_extraction_svc_spark import session

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    (tmp_path / "tmp").mkdir()
    pkgs = []
    for name in ("a", "b"):
        pkg = tmp_path / name / "entity_extraction_svc_spark"
        pkg.mkdir(parents=True)
        (pkg / "__init__.py").write_text(f"CHECKOUT = {name!r}\n")
        pkgs.append(pkg)
    os.utime(pkgs[1] / "__init__.py", (946684800, 946684800))  # year 2000

    zips = [session._package_zip(str(p)) for p in pkgs]
    assert zips[0] != zips[1]
    for name, z in zip("ab", zips):
        with zipfile.ZipFile(z) as zf:
            assert zf.read("entity_extraction_svc_spark/__init__.py") == \
                f"CHECKOUT = {name!r}\n".encode()
    assert session._package_zip(str(pkgs[0])) == zips[0]
    (pkgs[0] / "__init__.py").write_text("CHECKOUT = 'a2'\n")
    assert session._package_zip(str(pkgs[0])) not in zips
