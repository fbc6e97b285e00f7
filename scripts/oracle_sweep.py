"""Full oracle sweep: run every declared query against the DuckDB oracle.

Usage: python scripts/oracle_sweep.py [sf_dir]   (default /root/testdata/sf0.01)
Without sf_dir, $SPARK_GRAFT_SF_DIR (the variable bench.py reads) replaces
that default when set.
Prints one line per query and a final PASS/FAIL tally.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
from tests.oracle_harness import compare_query
from wiki_entity_linker_spark.session import get_spark


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    if len(sys.argv) == 1:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", sf_dir)
    spark = get_spark()
    qs = entry.queries()
    sqls = entry.oracle_sql()
    failures = []
    names = sorted(qs)
    for i, name in enumerate(names, 1):
        try:
            res = compare_query(spark, sf_dir, name, qs[name], sqls[name])
            ok = res["cols_match"] and res["rows_match"]
        except Exception as e:  # noqa: BLE001
            ok, res = False, {"error": repr(e)[:200]}
        print(f"{i:3d}/{len(names)} {name}: {'OK' if ok else 'FAIL ' + repr(res)[:300]}",
              flush=True)
        if not ok:
            failures.append(name)
    print(f"RESULT: {len(names) - len(failures)}/{len(names)} OK; failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
