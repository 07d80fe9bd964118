"""Sketch search operators (join / union / subset) against their DuckDB
twins on a small hand-built lake whose shapes the registry rows do not
cover: identical candidate columns (a tie broken by name), an all-NULL
candidate column (no sketch, no row), a candidate column listed twice,
a query column that overlaps nothing and a query column with no value
at all (no sketch: every join candidate scores 0, union and subset see
no such query column)."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tabsketchfm_spark.operators import minhash
from tests.oracle_util import assert_match, materialized_rdd_ids

_N = 60

# q.k overlaps a.k / a.x / b.k; a.x is a copy of a.k and b.k of a.k
# (ties); a.empty is all NULL; q.nov shares no value with any column;
# q.blank holds only NULL and '' (both dropped before sketching)
_LAKE = {
    "q": {
        "k": pa.array(list(range(1, _N + 1)), pa.int64()),
        "name": pa.array([f"n{i}" for i in range(_N)]),
        "nov": pa.array([f"zz{i}" for i in range(_N)]),
        "blank": pa.array([None if i % 2 else "" for i in range(_N)], pa.string()),
    },
    "a": {
        "k": pa.array(list(range(20, 20 + _N)), pa.int64()),
        "x": pa.array(list(range(20, 20 + _N)), pa.int64()),
        "empty": pa.array([None] * _N, pa.int64()),
    },
    "b": {
        "k": pa.array(list(range(20, 20 + _N)), pa.int64()),
        "s": pa.array([f"n{i}" for i in range(_N // 2, _N + _N // 2)]),
    },
    "c": {"v": pa.array(list(range(1000, 1000 + _N)), pa.int64())},
}
_JOIN_CANDS = [("a", ["k", "x", "empty", "k"]), ("b", ["k", "s"]), ("c", ["v"])]
_CANDS = {"a": ["k", "x", "empty", "k"], "b": ["k", "s"], "c": ["v"]}


@pytest.fixture(scope="module")
def lake(tmp_path_factory):
    root = tmp_path_factory.mktemp("sketch_lake")
    con = duckdb.connect()
    for name, cols in _LAKE.items():
        path = root / f"{name}.parquet"
        pq.write_table(pa.table(cols), path)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    yield str(root), con
    con.close()


_CASES = {
    "join": (
        lambda spark, d: minhash.joinability_search_oph(spark, d, ("q", "k"), _JOIN_CANDS),
        minhash.joinability_oph_oracle_sql(("q", "k"), _JOIN_CANDS),
    ),
    "join_no_overlap": (
        lambda spark, d: minhash.joinability_search_oph(spark, d, ("q", "nov"), _JOIN_CANDS),
        minhash.joinability_oph_oracle_sql(("q", "nov"), _JOIN_CANDS),
    ),
    "join_empty_query": (
        lambda spark, d: minhash.joinability_search_oph(spark, d, ("q", "blank"), _JOIN_CANDS),
        minhash.joinability_oph_oracle_sql(("q", "blank"), _JOIN_CANDS),
    ),
    "union": (
        lambda spark, d: minhash.unionability_search(spark, d, "q", ["k", "name", "nov"], _CANDS),
        minhash.unionability_oracle_sql("q", ["k", "name", "nov"], _CANDS),
    ),
    "union_empty_query": (
        lambda spark, d: minhash.unionability_search(spark, d, "q", ["k", "blank"], _CANDS),
        minhash.unionability_oracle_sql("q", ["k", "blank"], _CANDS),
    ),
    "subset": (
        lambda spark, d: minhash.subset_search(spark, d, "q", ["k", "nov"], _CANDS),
        minhash.subset_search_oracle_sql("q", ["k", "nov"], _CANDS),
    ),
    "subset_empty_query": (
        lambda spark, d: minhash.subset_search(spark, d, "q", ["k", "blank"], _CANDS),
        minhash.subset_search_oracle_sql("q", ["k", "blank"], _CANDS),
    ),
}


@pytest.mark.parametrize("case", sorted(_CASES))
def test_sketch_search_matches_twin(spark, lake, case):
    """Rows, dtypes and ranks equal the DuckDB twin, and running the
    search to its last row leaves no new materialized blocks."""
    sf_dir, con = lake
    build, sql = _CASES[case]
    before = materialized_rdd_ids(spark)
    df = build(spark, sf_dir)
    assert_match(df, con.execute(sql).fetchdf(), case)
    leaked = materialized_rdd_ids(spark) - before
    assert not leaked, f"{case}: materialized blocks left behind: rdd ids {leaked}"


def test_join_search_edge_shapes(spark, lake):
    """The shapes the twin comparison relies on, spelled out: the
    listed-twice column yields ONE row, the all-NULL column none, the
    identical columns tie and rank by (table, column) name, and a query
    column that overlaps nothing — or has no value at all — scores 0
    everywhere."""
    sf_dir, _ = lake
    def ranked(query):
        df = minhash.joinability_search_oph(spark, sf_dir, query, _JOIN_CANDS)
        return sorted(df.collect(), key=lambda r: r.rank)

    rows = ranked(("q", "k"))
    keys = [(r.cand_table, r.cand_column) for r in rows]
    assert sorted(keys) == [("a", "k"), ("a", "x"), ("b", "k"), ("b", "s"), ("c", "v")]
    top = rows[:3]
    assert [(r.cand_table, r.cand_column) for r in top] == [("a", "k"), ("a", "x"), ("b", "k")]
    assert len({r.est_jaccard for r in top}) == 1 and top[0].est_jaccard > 0
    assert [r.rank for r in rows] == [1, 2, 3, 4, 5]

    for query in [("q", "nov"), ("q", "blank")]:
        none = ranked(query)
        assert {r.est_jaccard for r in none} == {0.0}, query
        assert [(r.cand_table, r.cand_column) for r in none] == sorted(keys), query
