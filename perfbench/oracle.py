"""Untimed correctness checks against DuckDB.

Search results are compared exactly with each operator's DuckDB twin,
canonicalised the way the repository's parity tests do it (columns sorted
by name, rows sorted by every value, dtypes compared). The sketch store is
read back with DuckDB and its integer columns are compared with values
computed by DuckDB from the raw lake.
"""

from __future__ import annotations

import glob
import math
import os

import duckdb
import pandas as pd

from tabsketchfm_spark.functions.hashing import minhash_struct_sql
from tests.oracle_util import canon  # the parity tests' canonical form


class Mismatch(Exception):
    """A result disagrees with its oracle."""


def lake_connection(lake_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{lake_dir}/{t}.parquet')")
    return con


def _cell_equal(a, b) -> bool:
    an = a is None or (isinstance(a, float) and math.isnan(a))
    bn = b is None or (isinstance(b, float) and math.isnan(b))
    return (an and bn) or a == b


def compare_frames(got: pd.DataFrame, want: pd.DataFrame, what: str) -> None:
    """Exact, order-insensitive comparison; raises Mismatch."""
    s, o = canon(got), canon(want)
    if list(s.columns) != list(o.columns):
        raise Mismatch(f"{what}: columns {list(s.columns)} != {list(o.columns)}")
    if len(s) != len(o):
        raise Mismatch(f"{what}: {len(s)} rows != {len(o)}")
    for c in s.columns:
        if str(s[c].dtype) != str(o[c].dtype):
            raise Mismatch(f"{what}: column {c} dtype {s[c].dtype} != {o[c].dtype}")
        for i, (a, b) in enumerate(zip(s[c].tolist(), o[c].tolist())):
            if not _cell_equal(a, b):
                raise Mismatch(f"{what}: column {c} row {i}: {a!r} != {b!r}")


def expected_store(con: duckdb.DuckDBPyConnection, tables: dict[str, dict]) -> dict:
    """(table, column) -> (num_nan, distinct_cnt, exact-value MinHash) as
    DuckDB computes them from the raw lake."""
    mh = ", ".join(minhash_struct_sql("v", "duckdb"))
    out = {}
    for t, meta in tables.items():
        for c, typ in meta["columns"].items():
            if typ == "string":
                nulls = f"count(CASE WHEN nullif({c}, '') IS NULL THEN 1 END)"
                dist = f"count(DISTINCT nullif({c}, ''))"
            else:
                nulls = f"count(CASE WHEN {c} IS NULL THEN 1 END)"
                dist = f"count(DISTINCT {c})"
            n_nan, n_dist = con.execute(f"SELECT {nulls}, {dist} FROM {t}").fetchone()
            sig = con.execute(
                f"SELECT {mh} FROM (SELECT nullif(CAST({c} AS VARCHAR), '') AS v FROM {t}) "
                "WHERE v IS NOT NULL"
            ).fetchone()
            out[(t, c)] = (int(n_nan), int(n_dist), [int(x) for x in sig])
    return out


def check_store(store_dir: str, expected: dict) -> None:
    """Read the sketch store back and compare its integer columns."""
    con = duckdb.connect()
    rows = con.execute(
        "SELECT table_name, column_name, num_nan, distinct_cnt, minhash_exact "
        f"FROM read_parquet('{store_dir}/**/*.parquet', hive_partitioning = true) "
        "WHERE aug_id = 0"
    ).fetchall()
    con.close()
    got = {(t, c): (int(n), int(d), [int(x) for x in m]) for t, c, n, d, m in rows}
    if len(rows) != len(got):
        raise Mismatch(f"sketch store: duplicate (table, column) rows ({len(rows)} rows)")
    if set(got) != set(expected):
        raise Mismatch(f"sketch store: columns differ: {sorted(set(got) ^ set(expected))[:4]}")
    for k, want in expected.items():
        if got[k] != want:
            names = ("num_nan", "distinct_cnt", "minhash_exact")
            bad = [n for n, a, b in zip(names, got[k], want) if a != b]
            raise Mismatch(f"sketch store: {k} differs in {bad}")


def signature_store_rows(store_dir: str) -> int:
    """Rows in the live generation of a dedup signature store."""
    from tabsketchfm_spark.sources.store_util import read_manifest

    data = os.path.join(store_dir, read_manifest(store_dir).get("data_dir") or "")
    files = glob.glob(f"{data}/**/*.parquet", recursive=True)
    if not files:
        return 0
    con = duckdb.connect()
    try:
        return int(con.execute("SELECT count(*) FROM read_parquet(?)", [files]).fetchone()[0])
    finally:
        con.close()
