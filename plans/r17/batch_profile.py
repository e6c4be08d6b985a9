#!/usr/bin/env python
"""Isolated best-of-3 (after 1 warmup) for a list of specs, one session.

Usage: python plans/r17/batch_profile.py <spec> [<spec> ...]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from kassette_server_spark.queries import all_specs  # noqa: E402
from kassette_server_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="batch-profile")
    sc = spark.sparkContext
    specs = all_specs()

    # session warmup: one cheap JVM spec + one tiny python exchange
    specs["q01_scan_filter"].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    def _ident(b):
        yield from b

    spark.range(0, 8192, 1, 8).mapInPandas(_ident, "id long").write.format("noop").mode("overwrite").save()

    for name in names:
        spec = specs[name]

        def run() -> float:
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        sc.setJobDescription(f"{name} warmup")
        w = run()
        times = []
        for i in range(3):
            sc.setJobDescription(f"{name} run{i}")
            times.append(run())
        print(
            f"RESULT {name} warmup={w:.3f} best={min(times):.3f} all={[round(t, 3) for t in times]}",
            file=sys.stderr,
            flush=True,
        )


if __name__ == "__main__":
    main()
