"""Local twin of the driver's correctness gate: run every queries() entry
in Spark and its oracle_sql() in DuckDB at sf0.01, compare row count,
schema-ish (column names), and order-insensitive values.

Usage: python tools/check_oracles.py [name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            # stringify VALUES but keep nulls as nulls — astype(str) would
            # turn None/NaN into the literal strings 'None'/'nan',
            # breaking the NaN-aware comparison below (and letting a
            # literal 'None' string falsely equal a NULL)
            mask = df[c].isna()
            df[c] = df[c].astype(str).astype(object)
            df.loc[mask, c] = float("nan")
        # unify ints/nullable ints/bools to comparable form.
        # NOTE: nullable huge ints (> 2^53) would lose precision in the
        # float64 fallback — none of the current queries emit those in a
        # NULLABLE column (hash columns are all non-null); DuckDB's .df()
        # is float-lossy for them at the source anyway.
        if str(df[c].dtype) in ("Int64", "Int32", "boolean"):
            df[c] = df[c].astype("float64") if df[c].isna().any() else df[c].astype("int64")
        if str(df[c].dtype) == "bool":
            df[c] = df[c].astype("int64")
        if "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        if df[c].dtype == "float64":
            df[c] = df[c].round(6)
        if str(df[c].dtype).startswith("int") and df[c].isna().any():
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main(names: list[str]) -> int:
    from osm_notes_ingestion_spark.session import get_spark
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    spark = get_spark(cpus, "check_oracles")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    todo = names or list(qs.keys())
    unknown = [n for n in todo if n not in qs]
    if unknown:
        print(f"unknown query name(s): {unknown}\nvalid: {sorted(qs)}", file=sys.stderr)
        return 1
    failures = 0
    for name in todo:
        fn = qs[name]
        t0 = time.monotonic()
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {type(e).__name__}: {str(e)[:200]}")
            failures += 1
            continue
        spark_s = time.monotonic() - t0
        sql = oracles.get(name)
        if sql is None:
            print(f"OK?   {name}: rows-only ({len(got)} rows, no oracle) [spark {spark_s:.2f}s]")
            continue
        try:
            exp = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error {str(e)[:200]}")
            failures += 1
            continue
        g, e = normalize(got), normalize(exp)
        if list(g.columns) != list(e.columns):
            print(f"FAIL  {name}: columns {list(g.columns)} vs {list(e.columns)}")
            failures += 1
            continue
        if len(g) != len(e):
            print(f"FAIL  {name}: rows {len(g)} vs {len(e)}")
            failures += 1
            continue
        neq = (g.values != e.values) & ~(pd.isna(g.values) & pd.isna(e.values))
        if neq.any():
            i = neq.any(axis=1).argmax()
            print(f"FAIL  {name}: value mismatch at sorted row {i}:\n  got {g.iloc[i].to_dict()}\n  exp {e.iloc[i].to_dict()}")
            failures += 1
            continue
        print(f"PASS  {name} ({len(g)} rows) [spark {spark_s:.2f}s]", flush=True)
    return failures


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
