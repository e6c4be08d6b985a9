#!/usr/bin/env python
"""Isolate one spec: warmup + best-of-3 noop-sink timing, plus the
per-JOB wall-clock breakdown from a StatusTracker poll thread.

Usage: python plans/r17/profile_one.py q249_ivfpq_adc_topk [sf_dir]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from kassette_server_spark.queries import all_specs  # noqa: E402
from kassette_server_spark.session import get_spark  # noqa: E402


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark(app_name=f"profile-{name}")
    sc = spark.sparkContext
    spec = all_specs()[name]

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
    print(f"RESULT {name} warmup={w:.3f} best={min(times):.3f} all={[round(t,3) for t in times]}", file=sys.stderr)


if __name__ == "__main__":
    main()
