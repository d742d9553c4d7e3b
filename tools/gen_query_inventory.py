"""Generate QUERIES.md: the full registered-query inventory with tags,
check mode (DuckDB oracle vs rows-only), and source location — the
line-by-line companion to SURVEY.md §2.

Usage: python tools/gen_query_inventory.py > QUERIES.md
"""

from __future__ import annotations

import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_processor_spark.registry import all_oracles, all_queries, tags  # noqa: E402


def main() -> None:
    queries = all_queries()
    oracles = all_oracles()
    tag_map = tags()

    print("# QUERIES — registered query inventory (generated)")
    print()
    print(f"{len(queries)} queries, {len(oracles)} oracle-checked "
          f"(DuckDB hash parity at sf0.01), {len(queries) - len(oracles)} rows-only.")
    print()
    print("Regenerate with `python tools/gen_query_inventory.py > QUERIES.md`.")
    print()
    print("| query | check | tags | source |")
    print("|---|---|---|---|")
    for name in sorted(queries):
        fn = queries[name]
        src = inspect.getsourcefile(fn) or "?"
        src = src.replace("/root/repo/", "")
        try:
            line = inspect.getsourcelines(fn)[1]
        except OSError:
            line = 0
        mode = "oracle" if name in oracles else "rows-only"
        tg = ", ".join(tag_map.get(name, ()))
        print(f"| `{name}` | {mode} | {tg} | `{src}:{line}` |")


if __name__ == "__main__":
    main()
