"""Drive the driver contract: every queries() entry vs its oracle at
sf0.01 through the comparison tier-1 parity uses
(``tests/oracle_harness.compare``: sorted columns, row count,
per-column dtype, sorted row values).

Usage: python scripts/verify_contract.py [sf_dir] [name ...]
Prints one line per query: OK/BAD/ROWS/ERR, then a summary.
"""

from __future__ import annotations

import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from data_frame_demo_etl_spark.session import get_spark, release_all_caches  # noqa: E402
from tests.oracle_harness import compare, duckdb_connection  # noqa: E402


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="verify_contract")
    con = duckdb_connection(sf)

    qs, oracles = E.queries(), E.oracle_sql()
    n_ok = n_bad = n_noracle = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # Session-owner side of the cache lifecycle contract: operator
        # persists outlive their gate so the caller's action hits the
        # cache; the long-lived checker releases them between queries.
        release_all_caches(spark)
        try:
            df = fn(spark, sf)
            if name not in oracles:
                print(f"ROWS  {name}: rows={len(df.toPandas())} (no oracle)")
                n_noracle += 1
                continue
            report = compare(df, con, oracles[name], name=name)
        except Exception:
            print(f"ERR   {name}\n{traceback.format_exc(limit=3)}")
            n_bad += 1
            continue
        if report["ok"]:
            print(f"OK    {name} rows={report['spark_rows']}")
            n_ok += 1
        else:
            print(f"BAD   {name}: {report['issues']}")
            n_bad += 1
    print(f"\nSUMMARY ok={n_ok} bad={n_bad} rows_only={n_noracle}")
    spark.stop()
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
