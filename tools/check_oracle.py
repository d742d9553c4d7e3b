"""Local replica of the driver's correctness harness.

Runs every registered query on Spark and (where present) its DuckDB
oracle on the same parquet tables, then compares row count, sorted
column names, and cell values (exact for non-floats, bitwise-after-
round-trip for floats). Stricter than the driver's hash compare — if
this passes, the hash matches.

Usage: python tools/check_oracle.py [--vanilla] [--first N] [sf_dir] [query ...]

--vanilla   use a bare SparkSession (no session.py confs) like an
            external driver harness would
--first N   check only the first N queries in catalog (registry)
            order — the slice an external harness samples per round
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_processor_spark.registry import all_oracles, all_queries  # noqa: E402
from parquet_processor_spark.session import get_spark  # noqa: E402
from parquet_processor_spark.tables import TABLES  # noqa: E402


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def key(v):
        if v is None:
            return (0, "")
        if isinstance(v, float):
            if math.isnan(v):
                return (1, "nan")
            return (2, repr(v))
        return (3, str(v))

    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple(key(v) for v in r))


def cells_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb
    return str(a) == str(b)


def duckdb_views(sf_dir: str, tables=TABLES) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table of ``sf_dir``. A table
    Spark wrote is a directory of part files, read through its glob."""
    con = duckdb.connect()
    for tab in tables:
        path = f"{sf_dir}/{tab}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.sql(f"create view {tab} as select * from read_parquet('{path}')")
    return con


def row_diffs(s_rows: list[tuple], s_cols: list[str], d_rows: list[tuple], d_cols: list[str]) -> list[str]:
    """Where Spark's rows differ from DuckDB's, [] when they match:
    column names, then row count, then each pair of rows in
    :func:`normalize` order, cell by cell (the first three shown)."""
    msgs = []
    if sorted(s_cols) != sorted(d_cols):
        msgs.append(f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
    if len(s_rows) != len(d_rows):
        msgs.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
    if msgs:
        return msgs
    bad = [
        (sr, dr)
        for sr, dr in zip(normalize(s_rows, s_cols), normalize(d_rows, d_cols))
        if not all(cells_equal(a, b) for a, b in zip(sr, dr))
    ]
    msgs = [f"row diff: spark={sr} duck={dr}" for sr, dr in bad[:3]]
    if bad:
        msgs.append(f"{len(bad)}/{len(s_rows)} mismatched rows")
    return msgs


def main() -> int:
    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    if vanilla:
        args.remove("--vanilla")
    first_n = None
    if "--first" in args:
        i = args.index("--first")
        first_n = int(args[i + 1])
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])
    if vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .appName("oracle-check-vanilla")
            .getOrCreate()
        )
    else:
        spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_views(sf_dir)

    queries = all_queries()
    oracles = all_oracles()
    names = list(queries)[:first_n] if first_n else sorted(queries)
    n_pass = n_fail = n_rows_only = 0
    failures = []
    for name in names:
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = queries[name](spark, sf_dir)
            s_cols = list(sdf.columns)
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: spark error: {exc}")
            continue
        if name not in oracles:
            n_rows_only += 1
            print(f"rows  {name}: {len(s_rows)} rows, cols={s_cols} ({time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            d_cols = list(rel.columns)
            d_rows = [tuple(r) for r in rel.fetchall()]
        except Exception as exc:  # noqa: BLE001
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {exc}")
            continue
        msgs = row_diffs(s_rows, s_cols, d_rows, d_cols)
        if not msgs:
            n_pass += 1
            print(f"PASS  {name}: {len(s_rows)} rows ({time.time()-t0:.1f}s)")
        else:
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: " + "; ".join(msgs))
    print(f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail")
    if failures:
        print("failed:", " ".join(failures))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
