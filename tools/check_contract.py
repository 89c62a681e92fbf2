"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB, compare row count, column
names, each column's exact numpy dtype (unless the pair is on
``DTYPE_ALLOWED``), and order-insensitive values (columns sorted by
name)."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


# (query, column, Spark dtype, oracle dtype) -> why the widths differ.
# Each pair was seen at sf0.001, sf0.01 and sf0.1; the values still
# compare exactly.
DTYPE_ALLOWED: dict[tuple[str, str, str, str], str] = {
    ("kg_date_format", "yr", "int32", "int64"):
        "Spark's year() is an INT, DuckDB's a BIGINT",
    **{(q, c, "int32", "int64"):
       "mention offsets are INT in the pipeline, BIGINT in the golden parquet"
       for q in ("kg_mentions", "kg_linked_top1", "kg_linked_top1_fused",
                 "kg_annotations")
       for c in ("start", "end")},
}


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(sdf: pd.DataFrame, odf: pd.DataFrame,
            query: str | None = None) -> list[str]:
    """What differs between a Spark result and its oracle's; [] when they
    match.  Dtypes are compared exactly (int32 vs int64 fails) unless
    ``(query, column, spark dtype, oracle dtype)`` is on ``DTYPE_ALLOWED``;
    values exactly."""
    a, b = normalize(sdf), normalize(odf)
    if len(a) != len(b):
        return [f"rowcount {len(a)} vs {len(b)}"]
    if list(a.columns) != list(b.columns):
        return [f"cols {list(a.columns)} vs {list(b.columns)}"]
    status = [
        f"dtype {c}: {a[c].dtype} vs {b[c].dtype}"
        for c in a.columns if a[c].dtype != b[c].dtype
        and (query, c, str(a[c].dtype), str(b[c].dtype)) not in DTYPE_ALLOWED
    ]
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as ex:
        status.append(f"values differ: {str(ex)[:400]}")
    return status


def main(only: list[str] | None = None) -> int:
    import __spark_entry__ as e
    from entity_extraction_svc_spark.session import get_spark

    con = duckdb.connect()
    for t in TABLES:
        # sharded tables (tools/make_sf.py) are a DIRECTORY named
        # <t>.parquet; Spark reads those natively, DuckDB needs the glob
        path = f"{SF_DIR}/{t}.parquet"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    qs, os_ = e.queries(), e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            failures.append((name, f"SPARK ERROR: {ex}"))
            print(f"FAIL {name}: spark error {str(ex)[:300]}")
            continue
        if name not in os_:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(os_[name]).fetchdf()
        except Exception as ex:
            failures.append((name, f"ORACLE ERROR: {ex}"))
            print(f"FAIL {name}: oracle error {str(ex)[:300]}")
            continue
        status = compare(sdf, odf, name)
        if status:
            failures.append((name, "; ".join(status)))
            print(f"FAIL {name}: {'; '.join(status)}")
        else:
            print(f"OK   {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
    print(f"\n{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or None))
