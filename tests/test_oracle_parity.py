"""The main correctness gate: every registered query runs, and every
oracle-backed query matches DuckDB exactly (count + columns + values) —
a local replica of the driver's t2 harness (stricter: bitwise floats),
compared by the same helpers as ``tools/check_oracle.py``.
"""

from __future__ import annotations

import pytest

from parquet_processor_spark.registry import all_oracles, all_queries
from tools.check_oracle import duckdb_views, row_diffs

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def duck():
    yield duckdb_views(SF_SMALL)


QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query(name, spark, duck):
    sdf = QUERIES[name](spark, SF_SMALL)
    s_rows = [tuple(r) for r in sdf.collect()]
    if name not in ORACLES:
        assert isinstance(s_rows, list)  # rows-only: must execute
        return
    rel = duck.sql(ORACLES[name])
    diffs = row_diffs(s_rows, sdf.columns, rel.fetchall(), rel.columns)
    assert not diffs, "; ".join(diffs)


@pytest.mark.parametrize(
    "name, const, value",
    [
        ("graph_pagerank", "_ROUNDS", 5),
        ("graph_ppr", "_ROUNDS", 5),
        ("graph_hits", "_HITS_ROUNDS", 3),
        ("graph_random_walks", "_WALK_STEPS", 5),
    ],
)
def test_graph_round_count_reaches_both_engines(name, const, value, spark, duck, monkeypatch):
    # A round count is one constant that the Spark loop and its unrolled
    # oracle both read: moved to another value, the two still agree,
    # and the rows move with it.
    from parquet_processor_spark.ops import graph

    oracle = getattr(graph, f"_{name.removeprefix('graph_')}_oracle")
    monkeypatch.setattr(graph, const, value)
    sdf = QUERIES[name](spark, SF_SMALL)
    rel = duck.sql(oracle())
    d_rows = rel.fetchall()
    diffs = row_diffs([tuple(r) for r in sdf.collect()], sdf.columns, d_rows, rel.columns)
    assert not diffs, "; ".join(diffs)
    assert sorted(d_rows) != sorted(duck.sql(ORACLES[name]).fetchall())
