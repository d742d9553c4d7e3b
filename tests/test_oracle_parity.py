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
