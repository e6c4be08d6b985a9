"""SparkSession factory.

One place to build the session so every entry point (tests, bench,
__spark_entry__, CLI) gets identical, scale-aware settings:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast):
  at 100 TB the static plan is always wrong somewhere; AQE re-plans from
  runtime shuffle statistics.
- shuffle.partitions sized to the machine for local runs; on a real
  cluster this is overridden by AQE coalescing + the submitter's conf.
- UTC session timezone so timestamp semantics match the DuckDB oracle
  and are stable across machines.
- Arrow enabled for any pandas-UDF path (vectorized Python transfer).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: directory holding the ``kassette_server_spark`` package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return max(1, int(cpus))
    return os.cpu_count() or 4


def get_spark(
    app_name: str = "kassette_server_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Local mode defaults; on a cluster, ``master`` / conf come from
    spark-submit and this function only applies SQL-level settings.
    """
    par = default_parallelism()
    if master is None:
        master = f"local[{par}]"
    if shuffle_partitions is None:
        # ~cores locally; a 1000-executor cluster overrides via conf or
        # relies on AQE coalescing from spark.sql.adaptive.*
        shuffle_partitions = par

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(par))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # deterministic double formatting & no ANSI (reference coercions
        # are non-ANSI: failed casts drop/null rather than error —
        # SURVEY §1.2, processor/transformer.go:118-120, 168-173)
        .config("spark.sql.ansi.enabled", "false")
        # PySpark 4 wraps EVERY DataFrame API call in a call-site
        # capture for error context: a Python stack walk plus 3-4 py4j
        # roundtrips (PySparkCurrentOrigin.set/clear, conf.get) per
        # call, purely to enrich error MESSAGES with user line numbers.
        # On a 0.4-0.65 ms/roundtrip driver that is 2-3 ms of pure
        # overhead per DataFrame operation — measured 15 % of
        # build-heavy specs' wall (interleaved A/B over
        # q68/q217/q124/q28: 9.03→7.82 s and 7.86→6.67 s). The engine
        # surfaces failures through the oracle/tests, not interactive
        # tracebacks, so the context is dead weight; flip the env var
        # when debugging a query interactively.
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            os.environ.get("SPARK_GRAFT_DF_DEBUGGING", "false"),
        )
        .config("spark.ui.enabled", "false")
        # Even with the UI off, AppStatusListener retains job/stage/task
        # rows in driver memory (defaults: 1000 stages, 100k tasks, 1000
        # SQL executions). A long bench session accumulates thousands of
        # jobs (the PQ family alone runs dozens per spec), and the
        # listener state becomes GC debt that shows up as mid-run
        # sentinel inflation (r14: 0.672 vs a 0.17 floor). Nothing in
        # the engine reads this history — keep only a short window.
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        .config("spark.ui.retainedTasks", "2000")
        .config("spark.sql.ui.retainedExecutions", "10")
        # ContextCleaner only reclaims shuffle files, broadcasts and
        # localCheckpoint RDD blocks when a DRIVER GC collects their
        # handles; the default periodic-GC interval is 30 MINUTES, so a
        # long session accumulates gigabytes of dead block/shuffle
        # state until the heap cap forces a major GC — measured on a
        # full 260-spec run: driver RSS 1.0 → 7.9 GB (the 8g cap),
        # with the Python-exchange sentinel at 2.5x its floor and one
        # codec spec at 9 s in the pressure window, all recovering the
        # moment the JVM finally collected (RSS back to 4.6 GB). A
        # 1-minute cadence keeps cleanup continuous; on a real cluster
        # the same setting bounds executor shuffle-file debris in
        # long-running drivers (streaming, notebook, bench alike).
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "1min"),
        )
        # NOTE: the obvious refinements were measured and REJECTED on
        # this box: -XX:+ExplicitGCInvokesConcurrent and/or
        # G1PeriodicGCInterval+low-IHOP turn the once-a-minute cleanup
        # into long-lived concurrent marking cycles whose background
        # threads tax all 32 executor cores continuously (sentinels
        # ~2x floor for the whole run), while the plain STW System.gc()
        # finishes in well under a second at the 1-2 GB live set and
        # leaves the other 59+ seconds untouched.
    )
    _java_opts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS")
    if _java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", _java_opts)
    builder = (
        builder
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Fork Python workers from a daemon that has numpy/pandas/
        # pyarrow and the engine's kernel modules ALREADY imported
        # (copy-on-write inheritance).  Workers are re-forked all
        # session long — PySpark kills instead of pooling a worker
        # whose task stream ends early (limit/take seeding passes) —
        # and each fresh fork otherwise pays the full import chain on
        # its first task (measured: 5.4 s first Python exchange per
        # session, 5-18 s transients on codec specs mid-bench).  See
        # worker_daemon.py; imports there are guarded so a missing
        # library degrades to stock-daemon lazy imports.
        .config(
            "spark.python.daemon.module",
            os.environ.get(
                "SPARK_GRAFT_PY_DAEMON", "kassette_server_spark.worker_daemon"
            ),
        )
    )
    # The daemon module above is imported by the Python worker, which
    # sees the driver's cwd, not its sys.path: put the package's parent
    # on the workers' PYTHONPATH so the session works from any cwd.
    conf = dict(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (_PACKAGE_PARENT, conf.get("spark.executorEnv.PYTHONPATH")) if p
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
