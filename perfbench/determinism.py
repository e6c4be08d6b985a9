"""Determinism check of the query workloads.

Runs the traced benchmark twice per query workload, with different
seeds and therefore different pass orders, and requires that every
spec ran the same number of Spark jobs, executed stages and tasks in
every traced op of both runs. Job, stage and task counts depend only
on the plans and the data, so a difference means a plan changed
between runs, or a count depends on run order or timing.

    python3 perfbench/determinism.py

Prints one line per spec and exits with 1 on any difference.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
KEYS = ("spark.jobs", "spark.stages", "spark.tasks")
#: window of each traced run; a traced run has two passes or more anyway
SECONDS = 10
SEEDS = (1, 2)


def traced_counts(workload: str, seed: int, out: str) -> dict[str, set]:
    """spec -> the distinct (jobs, stages, tasks) of its traced ops."""
    subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(SECONDS), "--trace", "1", "--trace-out", out],
        check=True, stdout=subprocess.DEVNULL,
    )
    with open(out) as f:
        per_op = json.load(f)["per_op"]
    counts: dict[str, set] = {}
    for op in per_op:
        counts.setdefault(op["spec"], set()).add(tuple(int(op[k]) for k in KEYS))
    return counts


def main() -> int:
    out_dir = os.path.join(HERE, ".work", "determinism")
    os.makedirs(out_dir, exist_ok=True)
    ok = True
    for workload in ("query_relational", "llm_operators"):
        a, b = (
            traced_counts(workload, s, os.path.join(out_dir, f"{workload}-{s}.json"))
            for s in SEEDS
        )
        for name in sorted(set(a) | set(b)):
            same = len(a.get(name, ())) == 1 and a.get(name) == b.get(name)
            ok &= same
            counts = sorted(a.get(name, set()) | b.get(name, set()))
            print(f"{'same' if same else 'DIFF'} {workload:16s} {name:36s} "
                  f"jobs/stages/tasks {counts}")
    print("determinism:", "jobs, stages and tasks repeat per spec" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
