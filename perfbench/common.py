"""Shared pieces of the benchmark: the span recorder, the Spark session
and its teardown, memory readings, status-store readers and summary
statistics. Nothing here starts a thread or a process at import."""

from __future__ import annotations

import gc
import math
import os
import re
import statistics
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor


class Tracer:
    """In-memory span and counter recorder.

    A span is (name, start, end, parent, op id); counters are summed
    per name. ``enabled`` gates recording so a run can alternate traced
    and untraced stretches. It is read when a root span opens: the
    spans nested in a recorded span are recorded too, so a traced op or
    micro-batch is traced whole.
    """

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._local = threading.local()

    def span(self, name: str, op=None):
        return _Span(self, name, op)

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            with self._lock:
                self.counters[name] += value

    def _record(self, rec: dict) -> None:
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)

    def self_durations(self, name: str) -> list[float]:
        """Self time of each span called ``name``: its duration minus
        the part of it covered by its child spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - child[s["id"]] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        return {n: sum(self.self_durations(n)) for n in {s["name"] for s in self.spans}}

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def wrap(self, fn, name: str, op=None):
        """``fn`` with each call recorded as span ``name``."""

        def traced(*a, **kw):
            with self.span(name, op):
                return fn(*a, **kw)

        return traced


class _Span:
    def __init__(self, tracer: Tracer, name: str, op):
        self.tracer, self.name, self.op = tracer, name, op

    def __enter__(self):
        stack = self.tracer._local.__dict__.setdefault("stack", [])
        if not (stack or self.tracer.enabled):
            self.rec = None
            return self
        self.rec = {
            "name": self.name,
            "op": self.op,
            "parent": stack[-1]["id"] if stack else None,
            "start": time.perf_counter(),
        }
        self.tracer._record(self.rec)
        stack.append(self.rec)
        return self

    def __exit__(self, *exc):
        if self.rec is not None:
            self.rec["end"] = time.perf_counter()
            self.tracer._local.stack.pop()
        return False


# -- Spark session ---------------------------------------------------------

def start_spark(work_dir: str, trace: bool):
    from kassette_server_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": f"{work_dir}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # the SQL status store keeps 10 executions by default; the
        # traced run reads Python-exchange metrics per op, and one op
        # can run dozens of executions
        conf["spark.sql.ui.retainedExecutions"] = "200"
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


#: how long stop_spark waits for the JVM to exit, and again after a kill
STOP_TIMEOUT_S = 60.0
#: full collections behind one heap_live_mb reading, 1 s apart
HEAP_COLLECTIONS = 4


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers
    it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits when stdin closes
        try:
            proc.wait(STOP_TIMEOUT_S)
        except Exception:
            proc.kill()
            proc.wait(STOP_TIMEOUT_S)


def heap_live_mb(spark) -> float:
    """JVM driver heap in use after explicit full collections.

    The status store keeps the last N jobs, stages and SQL executions,
    and which ones those are depends on the seeded op order. Trivial
    jobs and queries first push them all out, so every run retains the
    same history. A Python collection then drops dead py4j handles.
    Spark's ContextCleaner frees shuffle, broadcast and checkpoint
    blocks only after a collection has found their handles dead, on its
    own thread, so ``HEAP_COLLECTIONS`` full collections run 1 s apart
    and the lowest reading counts."""
    sc = spark.sparkContext
    conf = sc.getConf()
    n_jobs = max(int(conf.get(k, "1000")) for k in ("spark.ui.retainedJobs", "spark.ui.retainedStages"))
    n_sql = int(conf.get("spark.sql.ui.retainedExecutions", "1000"))
    one = sc._jvm.java.util.Collections.singletonList(1)
    with ThreadPoolExecutor(max_workers=4) as pool:
        list(pool.map(lambda _: sc._jsc.parallelize(one, 1).count(), range(n_jobs)))
        list(pool.map(lambda _: spark.range(1).count(), range(n_sql)))
    gc.collect()
    jvm = sc._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    readings = []
    for i in range(HEAP_COLLECTIONS):
        if i:
            time.sleep(1.0)
        jvm.java.lang.System.gc()
        readings.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
    return min(readings)


def reset_py_peak() -> None:
    """Restart VmHWM of this Python process at its current resident
    set, after a collection has freed what is already garbage."""
    gc.collect()
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def py_peak_mb() -> float:
    """VmHWM (peak resident set) of this Python process since start or
    since the last ``reset_py_peak``."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc/self/status")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, per CPU, since
    boot (the steal column of /proc/stat): wall time this machine's
    CPUs wanted to run but could not."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") / os.cpu_count()


# -- status store ----------------------------------------------------------

STAGE_FIELDS = {
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.jvm_gc_s": ("jvmGcTime", 1e-3),
    "spark.input_bytes": ("inputBytes", 1.0),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1.0),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
    "spark.result_bytes": ("resultSize", 1.0),
}


def job_metrics(spark, job_ids) -> dict[str, float]:
    """Jobs, executed stages, tasks and stage metrics summed over
    ``job_ids``, read from the application status store. Skipped
    stages (shuffle output reused) are not counted. The store is fed
    from the listener bus, so the bus is drained first: a skipped stage
    reads as pending until its job's end event is processed."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    out = {"spark.jobs": 0.0, "spark.stages": 0.0, "spark.tasks": 0.0, "spark.spill_bytes": 0.0}
    out.update({k: 0.0 for k in STAGE_FIELDS})
    seen = set()
    for jid in job_ids:
        info = sc.statusTracker().getJobInfo(jid)
        if info is None:
            continue
        out["spark.jobs"] += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # not in the store: never ran or evicted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += sd.numTasks()
            out["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            for key, (attr, scale) in STAGE_FIELDS.items():
                out[key] += getattr(sd, attr)() * scale
    return out


_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
PYTHON_SQL_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
    "time to run Python workers": "python.run_s",
}


def _parse_total(text: str, units: dict[str, float]) -> float:
    """Total of a formatted SQL metric: the first quantity of its last
    line, e.g. '157.5 KiB (38.4 KiB, ...)' or '2.6 s (...)'."""
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]+)", text.strip().splitlines()[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * units.get(m.group(2), 0.0)


def python_metrics(spark, job_ids) -> dict[str, float]:
    """Python-worker exchange totals (SQL metrics of the mapInPandas /
    Arrow UDF nodes) over the SQL executions that ran ``job_ids``."""
    out = {v: 0.0 for v in PYTHON_SQL_METRICS.values()}
    jobs = set(job_ids)
    store = spark._jsparkSession.sharedState().statusStore()
    it = store.executionsList().iterator()
    while it.hasNext():
        ex = it.next()
        ex_jobs, kit = set(), ex.jobs().keysIterator()
        while kit.hasNext():
            ex_jobs.add(int(kit.next()))
        if not ex_jobs & jobs:
            continue
        names = {}
        mit = ex.metrics().iterator()
        while mit.hasNext():
            m = mit.next()
            if m.name() in PYTHON_SQL_METRICS:
                names[m.accumulatorId()] = (PYTHON_SQL_METRICS[m.name()], m.metricType())
        if not names:
            continue
        vit = store.executionMetrics(ex.executionId()).iterator()
        while vit.hasNext():
            kv = vit.next()
            hit = names.get(kv._1())
            if hit:
                key, mtype = hit
                units = _SIZE_UNITS if mtype == "size" else _TIME_UNITS
                out[key] += _parse_total(kv._2(), units)
    return out


# -- statistics ------------------------------------------------------------

def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    vals = sorted(values)
    k = max(0, math.ceil(q / 100 * len(vals)) - 1)
    return vals[k]


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def mean(values) -> float:
    return statistics.fmean(values) if values else 0.0


def geomean(values) -> float:
    return statistics.geometric_mean(values) if values else 0.0
