"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads: ``query_relational``,
``llm_operators`` (query_workloads.py) and ``ingest_stream``
(ingest_workload.py). Prints each metric by name with its unit, the
ops attempted and failed, and as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are BENCHMARK.json's ``end_to_end`` list; with
``--trace 1`` they are its ``per_layer`` list, and the spans go to
``--trace-out`` (default ``perfbench/.work/traces/``).

Every run is hermetic: a fresh work directory under
``perfbench/.work/`` holds the ledger, checkpoints, landing files,
``SPARK_LOCAL_DIRS`` and temp files, and is removed at the end. The
input tables are generated from a fixed seed on first use and cached
under ``perfbench/.work/data-<key>/`` together with the DuckDB oracle's
result digests.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, ".work")
WORKLOADS = ("query_relational", "llm_operators", "ingest_stream")


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    trace: bool
    t0: float
    work_dir: str
    cpus: int = 1
    spark: object = None


def _hermetic_env(work_dir: str) -> None:
    """Point every writable location of Spark and its Python workers
    into ``work_dir`` and make the package importable by the workers
    from any working directory."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    # every JVM, the spark-submit launcher's too, keeps its temp files
    # in the work dir and writes no hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, HERE, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _metric_table(trace: bool) -> list[dict]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)["per_layer" if trace else "end_to_end"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", help="where the traced run writes its spans")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, "kassette_server_spark", "__init__.py")):
        print(f"perfbench: no kassette_server_spark package under {REPO}", file=sys.stderr)
        return 2
    table = _metric_table(bool(args.trace))

    os.makedirs(WORK_ROOT, exist_ok=True)
    work_dir = os.path.join(WORK_ROOT, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work_dir)
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace), T0, work_dir,
                  cpus=_nproc())
    try:
        _hermetic_env(work_dir)
        sys.path[:0] = [REPO, HERE]
        if args.workload == "ingest_stream":
            import ingest_workload as mod
        else:
            import query_workloads as mod
        result = mod.run(ctx)
    finally:
        if ctx.spark is not None:
            from common import stop_spark

            stop_spark(ctx.spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    got = result["metrics"]
    metrics = {}
    for m in table:
        name = m["name"]
        if name not in got and not args.trace:
            raise KeyError(f"workload {args.workload} did not report {name}")
        # a per-layer metric of a layer this workload never runs is 0
        metrics[name] = {"value": float(got.get(name, 0.0)), "unit": m["unit"]}

    if args.trace:
        out = args.trace_out or os.path.join(
            WORK_ROOT, "traces", f"{args.workload}-seed{args.seed}.json"
        )
        os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
        with open(out, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "metrics": metrics,
                       "samples": result.get("samples"), **result.get("trace", {})}, f, default=str)
        print(f"trace written to {out}")

    for name, m in metrics.items():
        print(f"{name:28s} {m['value']:.6g} {m['unit']}")
    print(f"samples: {json.dumps(result.get('samples'))}")
    print(f"ops attempted {result['attempted']}, failed {result['failed']}")
    for line in result.get("failures", [])[:20]:
        print(f"  FAILED {line}")
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
