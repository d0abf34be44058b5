"""Local replica of the driver's DuckDB-oracle correctness check:
row-count + column names + order-insensitive exact value compare.

Stricter than the driver's value-hash (we compare full-precision cell
values), so green here implies green under a value-hash compare.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import duckdb
import pandas as pd

from reconciliation_hive_data_spark.catalog import TABLES


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Views for every table present under ``sf_dir``. Driver fixtures are
    single files; synthetic fuzz dirs hold Spark-written DIRECTORIES of
    part files (and only the tables the fuzz wrote) — glob those, skip the
    absent ones so a partial synthetic dir still serves the oracles that
    only touch what it contains."""
    import os

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            src = f"read_parquet('{path}/*.parquet')"
        elif os.path.exists(path):
            src = f"read_parquet('{path}')"
        else:
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    return con


def _cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<NaN>"
        return repr(v)  # 17-sig-digit round-trip: bit-exact compare
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, (datetime, pd.Timestamp)):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, bool):
        return str(v)
    if pd.isna(v):
        return "<NULL>"
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple[str, ...]]:
    df = df.reindex(sorted(df.columns), axis=1)
    obj = df.astype(object).where(pd.notna(df), None)
    rows = [tuple(_cell(v) for v in row) for row in obj.itertuples(index=False, name=None)]
    return sorted(rows)


def compare(spark_df, oracle_sql: str, sf_dir: str, name: str = "?") -> list[str]:
    """Returns a list of mismatch descriptions; empty list == parity."""
    problems: list[str] = []
    mine = spark_df.toPandas()
    con = duckdb_con(sf_dir)
    try:
        theirs = con.execute(oracle_sql).fetch_df()
    finally:
        con.close()

    my_cols, their_cols = sorted(mine.columns), sorted(theirs.columns)
    if my_cols != their_cols:
        problems.append(f"[{name}] schema: spark={my_cols} duckdb={their_cols}")
        return problems
    if len(mine) != len(theirs):
        problems.append(f"[{name}] rowcount: spark={len(mine)} duckdb={len(theirs)}")
    a, b = canonical_rows(mine), canonical_rows(theirs)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y]
        only_a = [r for r in a if r not in set(b)][:3]
        only_b = [r for r in b if r not in set(a)][:3]
        problems.append(
            f"[{name}] values differ: {len(diffs)} row-position diffs; "
            f"spark-only sample={only_a}; duckdb-only sample={only_b}; cols={my_cols}"
        )
    return problems
