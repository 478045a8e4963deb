"""Iteration loop: run every registered query against its DuckDB oracle.

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkstreaming_quickstart_spark.oracle import compare
from sparkstreaming_quickstart_spark.queries import all_queries
from sparkstreaming_quickstart_spark.session import get_spark


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.001"
    names = args[1:] if args and os.path.isdir(args[0]) else args
    spark = get_spark("oracle-check")
    failures = 0
    for name, q in sorted(all_queries().items()):
        if names and name not in names:
            continue
        t0 = time.time()
        try:
            if q.sql is None:
                n = q.fn(spark, sf_dir).count()
                print(f"  {name:<28} ROWS-ONLY rows={n} ({time.time()-t0:.1f}s)")
                continue
            res = compare(spark, sf_dir, q.fn, q.sql)
            if res["ok"]:
                split = f" [spark {res['spark_sec']}s / duck {res['duckdb_sec']}s]"
                print(
                    f"  {name:<28} OK rows={res['spark_rows']}"
                    f" ({time.time()-t0:.1f}s){split}"
                )
            else:
                failures += 1
                print(f"  {name:<28} FAIL {res['why']}")
                print(f"      spark_cols={res['spark_cols']}")
                print(f"      duck_cols ={res['duckdb_cols']}")
                print(f"      rows: spark={res['spark_rows']} duckdb={res['duckdb_rows']}")
        except Exception as exc:  # noqa: BLE001
            failures += 1
            msg = str(exc).split("\n")[0][:400]
            print(f"  {name:<28} ERROR {type(exc).__name__}: {msg}")
    print(f"{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
