#!/usr/bin/env python
"""Profile declared specs with bench.py's measurement, dump their
plans, or check them against the DuckDB oracle.

    python tools/profile.py [--sf DIR] SPEC [SPEC ...]
        one warm-up run, then RUNS (3) timed runs; one JSON line
        per spec: the warm-up and best build_s/exec_s/total_s, every
        run's total, and the last run's jobs, stages, tasks, executor
        run time and input/shuffle bytes (null when they left the
        status store)
    python tools/profile.py --plans TAG [--out DIR] SPEC [SPEC ...]
        writes explain("formatted") of each spec to DIR/<spec>_<TAG>.txt
    python tools/profile.py --oracle [--sf DIR] [SPEC ...]
        compares each spec (default: all) with its DuckDB oracle, one
        line per spec and an OK/FAIL tally; exits 1 on any failure

The tables come from --sf, else $SPARK_GRAFT_SF_DIR.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if __name__ == "__main__":
    # replace tools/ on the path: the stdlib `profile` module, which
    # pyspark imports through cProfile, must not resolve to this file
    sys.path[0] = REPO

import bench  # noqa: E402
from kassette_server_spark import oracle  # noqa: E402
from kassette_server_spark.plans.audit import formatted_plan  # noqa: E402
from kassette_server_spark.queries import all_specs  # noqa: E402
from kassette_server_spark.session import get_spark  # noqa: E402

RUNS = 3


def profile_spec(spark, spec, sf_dir: str) -> dict:
    """One warm-up run and ``RUNS`` timed runs of ``spec``."""
    times, counts = bench.measure(spark, spec, sf_dir, 1 + RUNS)
    totals = [b + e for b, e in times]
    best = 1 + min(range(RUNS), key=lambda k: totals[1 + k])
    return {
        "spec": spec.name,
        "warmup_s": round(totals[0], 4),
        "total_s": round(totals[best], 4),
        "all_s": [round(t, 4) for t in totals[1:]],
        **bench.layer_entry(*times[best], counts),
    }


def check_oracle(spark, spec, sf_dir: str) -> bool:
    try:
        r = oracle.compare(spark, spec, sf_dir)
    except Exception as e:  # noqa: BLE001 — report, keep sweeping
        print(f"{spec.name} EXC {e}", flush=True)
        return False
    if r.ok:
        print(f"{spec.name} OK", flush=True)
    else:
        print(f"{spec.name} FAIL rows={r.spark_rows}/{r.oracle_rows} {r.detail}", flush=True)
    return r.ok


def main(argv: list[str] | None = None, spark=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("specs", nargs="*", metavar="SPEC")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--plans", metavar="TAG", help="write explain(\"formatted\") dumps")
    mode.add_argument("--oracle", action="store_true", help="DuckDB parity sweep")
    ap.add_argument("--out", default=".", help="directory for --plans dumps")
    args = ap.parse_args(argv)
    if not args.sf:
        ap.error("--sf or $SPARK_GRAFT_SF_DIR is required")
    if not (args.specs or args.oracle):
        ap.error("name at least one SPEC")

    specs = all_specs()
    unknown = sorted(set(args.specs) - set(specs))
    if unknown:
        ap.error(f"unknown specs: {unknown}")
    spark = spark or get_spark(app_name="kassette-profile")

    if args.oracle:
        results = [check_oracle(spark, specs[n], args.sf) for n in args.specs or specs]
        print(f"TALLY ok={sum(results)} fail={len(results) - sum(results)}", flush=True)
        return 0 if all(results) else 1
    for name in args.specs:
        if args.plans:
            out = os.path.join(args.out, f"{name}_{args.plans}.txt")
            with open(out, "w") as f:
                f.write(formatted_plan(specs[name].fn(spark, args.sf)))
            print(f"WROTE {out}", flush=True)
        else:
            print(json.dumps(profile_spec(spark, specs[name], args.sf)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
