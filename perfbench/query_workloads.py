"""The two query workloads: ``query_relational`` and ``llm_operators``.

One client runs the workload's specs in a closed loop, pass after pass,
each pass in an order drawn from the workload seed. An op is
``spec.fn(spark, data_dir)`` (driver plan build, plus any eager jobs
the spec runs) followed by running the frame to completion with a
``noop`` write.

Set-up ends with one pass that collects every spec and checks its
result against the DuckDB oracle's, so each spec is also warm before
the first timed op. The timed window then runs whole passes, at least
``MIN_PASSES`` of them, stopping at the pass boundary nearest to
``seconds``, so every spec is timed equally often and each spec's
median has two samples or more. The driver's peak resident set is
restarted when the window opens, so it covers the timed ops and not
the result check.

With tracing on, half the specs are traced in even passes and the
other half in odd ones, so a pass mixes traced and untraced ops in its
seeded order and two passes trace every spec once. A traced op is tagged with a job group, and after it ends
its jobs, stages, tasks and stage metrics are read from Spark's status
store, along with the Python-exchange SQL metrics. The difference
between the traced and untraced ops' typical latency is the tracing
overhead.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from common import Tracer, geomean, job_metrics, mean, median, python_metrics, steal_s

HERE = os.path.dirname(os.path.abspath(__file__))

#: spec-name prefixes (``qNN``) of each workload, in canonical order
WORKLOADS = {
    # Catalyst, parquet scan, shuffle, join and window on the JVM; no
    # Python worker. TPC-H Q1/Q3/Q5 are q53-q55.
    "query_relational": [f"q{i:02d}" for i in range(1, 22)] + ["q53", "q54", "q55"],
    # one or two specs per family: MinHash-LSH dedup, BM25 retrieval,
    # BPE, baseline and progressive JPEG (Huffman), IVF-PQ and power
    # iteration. mapInPandas kernels, the Arrow boundary and multi-job
    # composition.
    "llm_operators": ["q32", "q99", "q216", "q233", "q251", "q249", "q118"],
}

#: fewest passes in a window: each spec's median needs two ops, and a
#: traced run needs two passes to trace every spec once
MIN_PASSES = 2

#: per-op layer counters read from the status store in traced ops
OP_COUNTERS = (
    "spark.jobs", "spark.stages", "spark.tasks",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.jvm_gc_s",
    "spark.input_bytes", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.result_bytes",
    "python.bytes_sent", "python.bytes_received", "python.run_s",
)


def workload_specs(workload: str) -> list:
    """The workload's QuerySpecs in canonical order."""
    from kassette_server_spark.queries import all_specs

    by_prefix = {}
    for name, spec in all_specs().items():
        by_prefix.setdefault(name.split("_")[0], []).append(spec)
    out = []
    for prefix in WORKLOADS[workload]:
        if len(by_prefix.get(prefix, [])) != 1:
            raise KeyError(f"expected one spec named {prefix}_*, got {by_prefix.get(prefix)}")
        out.append(by_prefix[prefix][0])
    return out


def result_digest(pdf) -> str:
    """Order-insensitive digest of a result frame under the oracle's own
    equality: column names, the dtype kind the driver's value hash is
    sensitive to, and the values after the oracle's normalization."""
    import pandas as pd

    from kassette_server_spark.oracle import _hash_dtype, _normalize

    norm = _normalize(pdf)
    h = hashlib.sha256()
    h.update(json.dumps([[c, _hash_dtype(pdf[c])] for c in norm.columns]).encode())
    for c in norm.columns:
        s = norm[c]
        if s.dtype.kind in "iub":
            s = s.astype("int64")
        elif s.dtype.kind == "f":
            s = s.astype("float64")
        h.update(pd.util.hash_pandas_object(s, index=False).values.tobytes())
    return h.hexdigest()


def oracle_digests(data_dir: str) -> dict[str, str]:
    """Run every query-workload spec's DuckDB oracle on ``data_dir``;
    returns spec name -> result digest."""
    from kassette_server_spark.oracle import duckdb_connection

    con = duckdb_connection(data_dir)
    try:
        out = {}
        for workload in WORKLOADS:
            for spec in workload_specs(workload):
                if spec.oracle is None:
                    raise ValueError(f"{spec.name} has no DuckDB oracle")
                out[spec.name] = result_digest(con.execute(spec.oracle).fetch_df())
        return out
    finally:
        con.close()


def input_tables() -> tuple[str, float]:
    """The cached input tables and oracle digests, built on first use;
    returns their directory and the seconds spent building. The cache
    key covers the generator and every workload spec's oracle SQL, so a
    change to either rebuilds both."""
    h = hashlib.sha256(open(os.path.join(HERE, "datagen.py"), "rb").read())
    for workload in WORKLOADS:
        for spec in workload_specs(workload):
            h.update(spec.name.encode() + b"\0" + (spec.oracle or "").encode())
    data_dir = os.path.join(HERE, ".work", "data-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(data_dir, "expected.json")):
        return data_dir, 0.0
    t0 = time.perf_counter()
    tmp = f"{data_dir}.tmp-{os.getpid()}"
    subprocess.run([sys.executable, os.path.join(HERE, "datagen.py"), tmp],
                   check=True, stdout=sys.stderr)
    shutil.rmtree(data_dir, ignore_errors=True)
    os.rename(tmp, data_dir)
    return data_dir, time.perf_counter() - t0


def run(ctx) -> dict:
    """Run one query workload; returns the result document."""
    from common import heap_live_mb, py_peak_mb, reset_py_peak, start_spark

    data_dir, built_s = input_tables()
    ctx.t0 += built_s  # a first-run table build is input making, not set-up
    with open(os.path.join(data_dir, "expected.json")) as f:
        expected = json.load(f)
    specs = workload_specs(ctx.workload)
    rng = random.Random(ctx.seed)
    spark = ctx.spark = start_spark(ctx.work_dir, ctx.trace)
    spark_s = time.perf_counter() - ctx.t0
    sc = spark.sparkContext
    tracer = Tracer()
    attempted = failed = 0
    failures: list[str] = []

    # -- set-up: one warm-up pass that checks every result --------------
    # Specs run concurrently here, one per core: many sf0.1 stages are a
    # single task, so the pass takes less time than a sequential one.
    def check(spec) -> str | None:
        try:
            got = result_digest(spec.fn(spark, data_dir).toPandas())
        except Exception as e:  # a failed op is counted, not fatal
            return f"{spec.name}: {type(e).__name__}: {str(e)[:200]}"
        if got != expected.get(spec.name):
            return f"{spec.name}: result differs from the DuckDB oracle"
        return None

    with ThreadPoolExecutor(max_workers=ctx.cpus) as pool:
        for problem in pool.map(check, rng.sample(specs, len(specs))):
            attempted += 1
            if problem:
                failed += 1
                failures.append(problem)
    setup_s = time.perf_counter() - ctx.t0
    reset_py_peak()

    # -- timed window: whole passes ------------------------------------
    by_spec: dict[str, list[float]] = {}
    by_spec_traced: dict[str, list[float]] = {}
    per_op: list[dict] = []
    ops = 0
    t_start, steal0 = time.perf_counter(), steal_s()
    n_pass = 0
    index = {spec.name: i for i, spec in enumerate(specs)}
    while True:
        for spec in rng.sample(specs, len(specs)):
            # half the specs are traced in even passes, the other half in
            # odd ones, so each pass mixes traced and untraced ops and
            # every two passes trace every spec once
            traced = tracer.enabled = ctx.trace and (index[spec.name] + n_pass) % 2 == 1
            ops += 1
            attempted += 1
            group = f"perfbench-{ops}"
            t0 = time.perf_counter()
            if traced:
                sc.setJobGroup(group, spec.name)
            try:
                with tracer.span("op", ops):
                    with tracer.span("queries.build", ops):
                        df = spec.fn(spark, data_dir)
                    with tracer.span("exec.run", ops):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:
                failed += 1
                failures.append(f"{spec.name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            dt = time.perf_counter() - t0
            (by_spec_traced if traced else by_spec).setdefault(spec.name, []).append(dt)
            if traced:
                with tracer.span("trace.read", ops):
                    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
                    per_op.append({"spec": spec.name, **job_metrics(spark, jobs),
                                   **python_metrics(spark, jobs)})
                sc.setLocalProperty("spark.jobGroup.id", None)
        n_pass += 1
        elapsed = time.perf_counter() - t_start
        # stop at the pass boundary nearest to `seconds`
        if n_pass >= MIN_PASSES and elapsed * (1 + 0.5 / n_pass) >= ctx.seconds:
            break
    window = time.perf_counter() - t_start
    # the last op's frame would keep its checkpointed blocks (q118's,
    # for one) alive through heap_live_mb, so the reading would depend
    # on which spec the seeded order ran last
    df = None
    stolen = steal_s() - steal0
    tracer.enabled = False

    py_mb = py_peak_mb()
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "samples": {"ops": ops, "passes": n_pass, "window_s": window,
                    "steal_s": stolen, "spark_ready_s": spark_s, "spec_s": by_spec},
    }
    if not ctx.trace:
        result["metrics"] = {
            "setup_s": setup_s,
            "latency_p50_s": geomean([median(v) for v in by_spec.values()]),
            "ops_per_s": ops / window,
            "heap_live_mb": heap_live_mb(spark),
            "py_driver_peak_mb": py_mb,
        }
        return result

    untraced = geomean([median(v) for v in by_spec.values()])
    traced = geomean([median(v) for v in by_spec_traced.values()])
    layer = {k: mean([r[k] for r in per_op]) for k in OP_COUNTERS}
    layer.update({
        "queries.build_s": mean(tracer.durations("queries.build")),
        "exec.run_s": mean(tracer.durations("exec.run")),
        "trace.untraced_p50_s": untraced,
        "trace.traced_p50_s": traced,
        "trace.overhead_s": traced - untraced,
        "trace.read_s": median(tracer.durations("trace.read")),
    })
    result["metrics"] = layer
    result["trace"] = {
        "spans": tracer.spans,
        "self_s": tracer.self_times(),
        "per_op": per_op,
    }
    return result
