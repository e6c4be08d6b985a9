#!/usr/bin/env python
"""Full oracle sweep: compare every declared spec against its DuckDB oracle.

Usage: python plans/r17/oracle_sweep.py [sf_dir] [spec ...]
Prints one line per spec and a final OK/FAIL tally.
"""
from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

from kassette_server_spark import oracle  # noqa: E402
from kassette_server_spark.queries import all_specs  # noqa: E402
from kassette_server_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    specs = all_specs()
    names = sys.argv[2:] or list(specs)
    spark = get_spark(app_name="oracle-sweep")
    ok = fail = 0
    for name in names:
        try:
            r = oracle.compare(spark, specs[name], sf_dir)
            good = r.ok
        except Exception as e:  # noqa: BLE001
            good, r = False, None
            print(f"{name} EXC {e}", flush=True)
        if good:
            ok += 1
            print(f"{name} OK", flush=True)
        else:
            fail += 1
            if r is not None:
                print(f"{name} FAIL rows={r.spark_rows}/{r.oracle_rows} {r.detail}", flush=True)
    print(f"TALLY ok={ok} fail={fail}", flush=True)


if __name__ == "__main__":
    main()
