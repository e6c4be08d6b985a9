"""Delivery ledger — the Spark analogue of the reference's job-status
state machine (jobs/jobsdb.go:37-69: states waiting/executing/
succeeded/waiting_retry/failed/aborted; retry when attempt <
maxRetryNumber and retry_time < now; jobs/jobsdb.go:480-482, 512, 586).

Design: an APPEND-ONLY parquet table of status events. Spark's
checkpointing already guarantees each micro-batch is processed once,
so the reference's `waiting`/`executing` bookkeeping states disappear;
the ledger records delivery *outcomes* (succeeded/failed), and
"latest state per job" is a max_by aggregation — exactly the
reference's `MAX(id) GROUP BY job_id` pattern (jobs/jobsdb.go:557-559)
expressed as an aggregate instead of a self-join.

Scale notes: the ledger is partitioned by date in production; latest-
state is one shuffle on job_id with map-side partial max_by; retry
scans prune to recent partitions. Append-only means no row-level
update contention at 1000 executors.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

MAX_RETRY = 10  # jobdb.maxRetryNumber (config.yaml:10)

STATE_SUCCEEDED = "succeeded"
STATE_FAILED = "failed"
STATE_ABORTED = "aborted"

LEDGER_SCHEMA = (
    "job_id string, connection_id int, state string, attempt int,"
    " exec_time timestamp, retry_time timestamp, error_code string,"
    " error_response string"
)


class DeliveryLedger:
    """Append-only delivery ledger over a parquet directory."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # One server process runs MANY connection queries against ONE
        # ledger directory, and a new landing file wakes them all at
        # the same instant. Hadoop's FileOutputCommitter stages every
        # concurrent append job under the SAME <path>/_temporary/0;
        # the first job to commit (or abort) deletes _temporary and the
        # others die mid-task with "Mkdirs failed to create ..._temporary"
        # — which kills their streaming queries (round-7 churn-soak
        # finding). Appends are micro-batch-sized, so serializing the
        # write job with a process-local lock costs nothing; on a real
        # deployment the ledger is a Delta/Iceberg table whose ACID
        # commit protocol makes concurrent appends safe without it.
        # RLock: compact() holds it across a _read() that may itself
        # lock for crash recovery
        self._write_lock = threading.RLock()
        #: optional quiescence probe wired by the owner (the server
        #: points it at StreamingSupervisor.busy_reason): returns a
        #: human-readable reason the ledger may still be appended to,
        #: or None when compaction is safe. compact() consults it and
        #: FAILS LOUDLY instead of racing a live stream (round-8
        #: hardening of the r7 "quiescence is the caller's contract"
        #: footnote — the contract is now enforced, not documented).
        self.activity_probe: Callable[[], str | None] | None = None

    def append(self, statuses: DataFrame) -> None:
        with self._write_lock:
            statuses.select(
                "job_id",
                "connection_id",
                "state",
                "attempt",
                "exec_time",
                "retry_time",
                "error_code",
                "error_response",
            ).write.mode("append").parquet(self.path)

    def _read(self) -> DataFrame:
        # attempt the read and fall back to empty only on a genuinely
        # missing path — directory probing would misread partitioned
        # layouts (date=… subdirs) or remote paths (s3a/hdfs) as empty
        # and silently break dedup/retry
        from pyspark.errors import AnalysisException

        try:
            df = self.spark.read.schema(LEDGER_SCHEMA).parquet(self.path)
            df.schema  # force path resolution
            return df
        except AnalysisException:
            import os

            # a missing live path with compaction leftovers is a crash
            # mid-swap, NOT an empty ledger — finish the swap and
            # retry, never silently drop delivery history
            if os.path.isdir(self._compact_tmp) or os.path.isdir(self._compact_old):
                with self._write_lock:
                    self._recover_interrupted_compaction()
                if os.path.isdir(self.path):
                    df = self.spark.read.schema(LEDGER_SCHEMA).parquet(self.path)
                    df.schema
                    return df
                # recovery found only an uncommitted first-compaction
                # tmp (fresh ledger) — genuinely empty
            from ..operators.store import local_frame

            return local_frame(self.spark, [], LEDGER_SCHEMA)

    def compact(self) -> int:
        """Rewrite the append-only status log to ONE latest row per
        (job, connection) — the ledger analogue of the reference's
        dataset compaction (jobs/jobsdb.go:1084-1112, which likewise
        runs under the jobsdb lock): an unbounded stream appends a
        status row per outcome forever, and every dedup/retry read
        re-reduces the whole history until someone compacts it.

        Returns the number of rows kept. Preserves EVERY derived view
        bit-for-bit (latest_state, processed_job_ids, retry_candidates,
        dead_letters all reduce to the latest row per key, which is
        exactly what survives).

        Run during QUIESCENCE (before streams start, or in a
        maintenance window): the directory swap is not atomic, and a
        lazily-evaluated reader whose action lands inside the swap
        would see a missing path. The write lock serializes against
        appends; quiescence is the caller's contract, as it is for the
        reference's rotation.

        Crash safety (round-7 code-review finding — an earlier draft
        deleted the live ledger before renaming the replacement, so a
        crash in between lost all delivery history and silently
        re-delivered everything): the swap is now rename(live → .old),
        rename(.tmp → live), delete .old — at every instant a COMPLETE
        copy of the ledger exists under one of the three names, and
        ``_recover_interrupted_compaction`` (run here and by _read on
        a missing path) finishes any half-done swap instead of ever
        treating it as an empty ledger.
        """
        import os
        import shutil

        if self.activity_probe is not None:
            busy = self.activity_probe()
            if busy is not None:
                raise RuntimeError(
                    f"ledger.compact() requires quiescence but {busy}; "
                    "stop the streams (supervisor.stop_all) before "
                    "compacting"
                )
        with self._write_lock:
            self._recover_interrupted_compaction()
            lg = self._read()
            full = (
                lg.groupBy("job_id", "connection_id")
                .agg(
                    F.max_by(
                        F.struct(
                            "state",
                            "attempt",
                            "exec_time",
                            "retry_time",
                            "error_code",
                            "error_response",
                        ),
                        F.struct("exec_time", "attempt"),
                    ).alias("s")
                )
                .select("job_id", "connection_id", "s.*")
            )
            tmp = self._compact_tmp
            old = self._compact_old
            full.write.mode("overwrite").parquet(tmp)
            kept = self.spark.read.schema(LEDGER_SCHEMA).parquet(tmp).count()
            if os.path.isdir(self.path):
                os.rename(self.path, old)
            os.rename(tmp, self.path)
            shutil.rmtree(old, ignore_errors=True)
            return kept

    @property
    def _compact_tmp(self) -> str:
        return self.path.rstrip("/") + ".compact-tmp"

    @property
    def _compact_old(self) -> str:
        return self.path.rstrip("/") + ".compact-old"

    def _recover_interrupted_compaction(self) -> None:
        """Finish a compaction the process died inside. States:
        - live exists: any leftover .tmp is unpromoted (incomplete or
          not yet swapped) and any .old is already-replaced history —
          both safe to delete;
        - live missing, .tmp committed (_SUCCESS): crash landed between
          the two renames — promote .tmp;
        - live missing, .old exists: .tmp never committed — restore
          .old."""
        import os
        import shutil

        tmp, old = self._compact_tmp, self._compact_old
        if os.path.isdir(self.path):
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(old, ignore_errors=True)
            return
        if os.path.isdir(tmp) and os.path.exists(os.path.join(tmp, "_SUCCESS")):
            os.rename(tmp, self.path)
            shutil.rmtree(old, ignore_errors=True)
            return
        if os.path.isdir(old):
            shutil.rmtree(tmp, ignore_errors=True)
            os.rename(old, self.path)
            return
        # first-ever compaction of a FRESH ledger crashed mid-write:
        # live never existed, .old never existed, tmp is uncommitted —
        # there is nothing to recover; clear the leftover so boots
        # don't crash-loop on it (round-7 second-pass review finding)
        shutil.rmtree(tmp, ignore_errors=True)

    def latest_state(self) -> DataFrame:
        """Latest status row per (job, connection) — the reference's
        MAX(id) GROUP BY job_id as a single max_by aggregate (one
        shuffle, partial agg map-side)."""
        lg = self._read()
        return (
            lg.groupBy("job_id", "connection_id")
            .agg(
                F.max_by(
                    F.struct("state", "attempt", "exec_time", "retry_time", "error_code"),
                    F.struct("exec_time", "attempt"),
                ).alias("s")
            )
            .select("job_id", "connection_id", "s.*")
        )

    def retry_candidates(self, now=None) -> DataFrame:
        """jobs in failed state with attempt < MAX_RETRY and retry_time
        elapsed (jobs/jobsdb.go:508-620 GetToRetry)."""
        now = now if now is not None else F.current_timestamp()
        st = self.latest_state()
        return st.filter(
            (F.col("state") == STATE_FAILED)
            & (F.col("attempt") < MAX_RETRY)
            & (F.col("retry_time") <= now)
        )

    def dead_letters(self) -> DataFrame:
        """Retry-exhausted jobs — the reference aborts implicitly by
        excluding attempt >= maxRetryNumber from the retry scan."""
        st = self.latest_state()
        return st.filter((F.col("state") == STATE_FAILED) & (F.col("attempt") >= MAX_RETRY))

    def processed_job_ids(self) -> DataFrame:
        """For at-least-once REST sinks: job ids already succeeded —
        used to dedup re-delivered micro-batches on messageId
        (effective exactly-once, SURVEY §7 phase 4)."""
        return (
            self.latest_state()
            .filter(F.col("state") == STATE_SUCCEEDED)
            .select("job_id", "connection_id")
        )


def make_status(
    df: DataFrame,
    connection_id: int,
    state: str | Column,
    attempt_col=None,
    error_code: str = "",
    error_col=None,
    retry_delay_s: int = 60,
    job_id_col: str = "message_id",
) -> DataFrame:
    """Build ledger rows from a delivered/failed event DataFrame.

    ``state`` is one state for every row, or a Column choosing it per
    row (``error_col`` likewise), so a mixed-outcome batch is one
    append.

    Non-UTF8 error payloads were replaced with {} by the reference
    (jobs/jobsdb.go:1005-1016) — Spark strings are always valid UTF-8,
    so the guard is structural here.
    """
    attempt = attempt_col if attempt_col is not None else F.lit(1)
    error_response = error_col if error_col is not None else F.lit("")
    state_col = state if isinstance(state, Column) else F.lit(state)
    return df.select(
        F.col(job_id_col).alias("job_id"),
        F.lit(connection_id).cast("int").alias("connection_id"),
        state_col.alias("state"),
        attempt.cast("int").alias("attempt"),
        F.current_timestamp().alias("exec_time"),
        (F.current_timestamp() + F.expr(f"INTERVAL {retry_delay_s} SECONDS")).alias("retry_time"),
        F.lit(error_code).alias("error_code"),
        error_response.alias("error_response"),
    )


def job_health(ledger: DeliveryLedger, connections) -> DataFrame:
    """M3 GetJobHealth (jobs/jobsdb.go:852-936): latest failed statuses
    enriched with source/destination names, newest first."""
    rows = [(c.id, c.source.name, c.destination.name) for c in connections]
    from ..operators.store import local_frame

    conf = local_frame(
        ledger.spark,
        rows,
        "connection_id int, source_name string, destination_name string",
    )
    st = ledger.latest_state().filter(F.col("state") == STATE_FAILED)
    return (
        st.join(F.broadcast(conf), "connection_id", "left")
        .orderBy(F.col("exec_time").desc())
        .select(
            "job_id",
            "connection_id",
            "source_name",
            "destination_name",
            "state",
            "attempt",
            "exec_time",
            "error_code",
        )
    )
