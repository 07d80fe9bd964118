"""Driver-style comparison: Spark query vs DuckDB oracle.

Mirrors the driver's t2 gate: row count, column names, and
order-insensitive value equality (columns sorted by name, rows sorted
by all values). Exact equality — no tolerance — because the driver
hashes values.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd


# one connection per sf_dir for the whole session (VERDICT r8 item 4):
# every oracle is a read-only WITH/SELECT over the same immutable
# parquet views, so sharing is safe and skips ~220 connect+view setups
_CONS: dict[str, duckdb.DuckDBPyConnection] = {}

_BUILT_QUERIES: dict = {}


def built_query(spark, sf_dir: str, name: str):
    """Session-wide registered-query BUILD cache (r9 verdict suite-
    budget item): the parity sweep and the registry-wide plan guard
    each analyze every registered query — sharing the built DataFrame
    halves the Catalyst/py4j analysis cost. Safe because DataFrames
    are immutable plan holders and both consumers want the same
    (name, sf) plan; NOT for the determinism test, whose claim is two
    independent RUNS, and harmless for eager queries (build == run
    once; the cached local result is what both consumers check).
    Cache-substitution side effects (persist registration is eager)
    only DECREASE vs the status quo of building twice.

    Lives here, not in conftest: tests/ has no __init__.py, so pytest
    imports conftest as a top-level module while `from tests.conftest
    import ...` would load a SECOND instance via namespace-package
    resolution — two module bodies, two caches (round-10 review)."""
    # application id in the key: persisted/localCheckpoint-backed frames
    # die with their session, so a fixture that restarts Spark mid-run
    # must not be served dead frames (the _CLUSTER_MEMO pattern)
    app = spark.sparkContext.applicationId
    key = (name, sf_dir, app)
    if key not in _BUILT_QUERIES:
        # evict dead-session entries on miss (round-11 ADVICE): a
        # fixture that restarts Spark repeatedly would otherwise
        # accumulate dead plans / persisted-frame references for the
        # life of the pytest process
        for k in [k for k in _BUILT_QUERIES if k[2] != app]:
            del _BUILT_QUERIES[k]
        from tabsketchfm_spark.plans import registry

        _BUILT_QUERIES[key] = registry.queries()[name](spark, sf_dir)
    return _BUILT_QUERIES[key]


def materialized_rdd_ids(spark) -> set:
    """Ids of the session's RDDs that hold cached blocks right now —
    tests diff two snapshots to prove an operation leaves no cache."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id() for i in infos if i.numCachedPartitions() > 0}


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = _CONS.get(sf_dir)
    if con is None:
        con = duckdb.connect()
        for t in [
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        ]:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        _CONS[sf_dir] = con
    return con.execute(sql).fetchdf()


def _norm_cell(v):
    """Representation-insensitive string form: Spark toPandas yields
    python lists for array columns (numpy arrays when Arrow is on)
    while DuckDB fetchdf yields numpy arrays — str() renders those
    differently ('[0, 0]' vs '[0 0]'), so normalize every sequence to
    the list rendering, recursively."""
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(_norm_cell)
        elif str(df[c].dtype).startswith("datetime64"):
            # representation-only difference: DuckDB fetchdf yields
            # datetime64[us], Spark toPandas datetime64[ns] — same
            # instants; compare at one resolution
            df[c] = df[c].astype("datetime64[us]")
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def assert_match(spark_df, oracle_pdf: pd.DataFrame, name: str = "") -> None:
    s = canon(spark_df.toPandas())
    o = canon(oracle_pdf)
    assert list(s.columns) == list(o.columns), (
        f"{name}: columns differ: spark={list(s.columns)} oracle={list(o.columns)}"
    )
    assert len(s) == len(o), f"{name}: row count {len(s)} vs {len(o)}"
    # Strict dtype parity: the driver hashes values, so int64 0 vs
    # float64 0.0 (e.g. DuckDB sum(INTEGER) -> HUGEINT -> float64)
    # mismatches even when numerically equal. Mimic that here.
    for c in s.columns:
        assert str(s[c].dtype) == str(o[c].dtype), (
            f"{name}: col {c} dtype: spark={s[c].dtype} oracle={o[c].dtype}"
        )
    for c in s.columns:
        sv, ov = s[c].tolist(), o[c].tolist()
        for i, (a, b) in enumerate(zip(sv, ov)):
            if isinstance(a, float) and isinstance(b, float):
                if math.isnan(a) and math.isnan(b):
                    continue
                assert a == b, f"{name}: col {c} row {i}: {a!r} != {b!r}"
            else:
                an = a is None or (isinstance(a, float) and math.isnan(a))
                bn = b is None or (isinstance(b, float) and math.isnan(b))
                if an and bn:
                    continue
                assert a == b, f"{name}: col {c} row {i}: {a!r} != {b!r}"
