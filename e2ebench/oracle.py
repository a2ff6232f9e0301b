"""Cross-engine check of the analyze queries: each query's Spark result
(a parquet dump) must equal its DuckDB twin over the same tables, as a
multiset of rows with identical column names and dtypes."""
import glob
import json
import os
import re
import threading

import duckdb
import numpy as np
import pandas as pd

TWIN_TIMEOUT_S = 60
# DuckDB inlines a CTE at every reference, so an iterated CTE chain (the
# PageRank twins) re-derives its base relation once per path and never
# finishes at sf0.1. Materializing each CTE once keeps the semantics.
_CTE_HEAD = re.compile(r"\b(\w+) AS \(\s*(?=SELECT|WITH)", re.I)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cell(v):
    if isinstance(v, np.ndarray):
        return tuple(_cell(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and v != v:
        return None
    if v is pd.NaT:
        return None
    return v


def _rows(df):
    rows = [tuple(_cell(v) for v in r) for r in df.itertuples(index=False, name=None)]
    return sorted(rows, key=repr)


def compare(spark_df, oracle_df):
    """None when equal, else a one-line reason."""
    spark_df = spark_df[sorted(spark_df.columns)]
    oracle_df = oracle_df[sorted(oracle_df.columns)]
    if list(spark_df.columns) != list(oracle_df.columns):
        return f"columns differ: spark={list(spark_df.columns)} duckdb={list(oracle_df.columns)}"
    dt = [c for c in spark_df.columns if str(spark_df[c].dtype) != str(oracle_df[c].dtype)]
    if dt:
        return "dtype mismatch: " + ", ".join(
            f"{c} spark={spark_df[c].dtype} duckdb={oracle_df[c].dtype}" for c in dt)
    if len(spark_df) != len(oracle_df):
        return f"row count: spark={len(spark_df)} duckdb={len(oracle_df)}"
    a, b = _rows(spark_df), _rows(oracle_df)
    for x, y in zip(a, b):
        if x != y:
            return f"first differing row: spark={x!r:.200} duckdb={y!r:.200}"
    return None


def run_twin(con, sql):
    timer = threading.Timer(TWIN_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        return con.sql(_CTE_HEAD.sub(r"\1 AS MATERIALIZED (", sql)).df()
    finally:
        timer.cancel()


def verify(data_dir, dump_dir, tmp_dir):
    """Compare every dumped query with its twin; return ({query: digest} for
    the queries that match, {query: reason} for those that do not)."""
    con = duckdb.connect()
    con.sql("SET memory_limit='2GB'")
    con.sql(f"SET temp_directory='{tmp_dir}'")
    con.sql("SET max_temp_directory_size='2GB'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    with open(os.path.join(dump_dir, "digests.json")) as f:
        digests = json.load(f)
    ok, bad = {}, {}
    for q in sorted(digests):
        parts = sorted(glob.glob(os.path.join(dump_dir, q, "*.parquet")))
        spark_df = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
        try:
            reason = compare(spark_df, run_twin(con, sql[q]))
        except Exception as e:  # a failing twin is a failed check, not a crash
            reason = f"{type(e).__name__}: {e}"
        if reason is None:
            ok[q] = digests[q]
        else:
            bad[q] = reason
    return ok, bad
