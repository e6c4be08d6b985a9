#!/usr/bin/env python
"""Dump .explain("formatted") for the named specs to plans/r16/<q>_<tag>.txt.

Usage: python plans/r17/dump_plans.py <tag> <spec> [<spec> ...]
"""
from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

from kassette_server_spark.queries import all_specs  # noqa: E402
from kassette_server_spark.session import get_spark  # noqa: E402


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    spark = get_spark(app_name=f"plans-{tag}")
    specs = all_specs()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for name in names:
        df = specs[name].fn(spark, sf_dir)
        p = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        out = os.path.join(REPO, "plans", "r17", f"{name}_{tag}.txt")
        with open(out, "w") as f:
            f.write(p)
        print(f"WROTE {out}", file=sys.stderr)


if __name__ == "__main__":
    main()
