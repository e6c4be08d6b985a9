"""Streaming wrapping of the batch pipeline (SURVEY §3.1 lifecycle →
one readStream → transform → foreachBatch graph).

The reference's 3-level micro-batching (HTTP batcher 32/2s, transform
batches of 10, router flush 2s — SURVEY §4.2) collapses into ONE
streaming trigger; its durable Postgres hand-offs become the
checkpoint; its executing/waiting statuses disappear (checkpoint
replay), leaving the ledger to record delivery outcomes with
retry/DLQ.

``run_connection_stream`` builds the plan once per query start:
file/json source → envelope parse → identity → skew → per-connection
transform, applied to the STREAMING frame (``uuid()`` still draws new
ids in every micro-batch and ``current_timestamp()`` is the batch
time), then foreachBatch runs per micro-batch:
  1. dedup against already-succeeded job ids (ledger, message_id) and
     within the batch, and materialize the result once —
     at-least-once delivery + idempotent sink = effective exactly-once;
  2. deliver (REST partition sender or parquet/jdbc write);
  3. append every outcome status to the ledger in one write.

Retry (R5): a failed row waits in the ledger as a
``retry_candidates`` row. Nothing re-delivers it yet: ``retry_frame``
selects those rows with attempt+1, the shape the reference's
CreateNewJobWithFailedEvents (router/router.go:98-116) re-enqueues, but
no stream calls it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import pipeline as P
from ..config import Connection
from .ledger import DeliveryLedger, STATE_FAILED, STATE_SUCCEEDED, make_status

DeliverFn = Callable[[DataFrame], DataFrame]
"""(events with message_id/event_json) → outcomes
(message_id, delivered, status, error). The events frame is already
materialized (its plan is a local checkpoint), so ``deliver`` may run
several actions on it: each sees the same rows and none re-runs the
transform, the ledger read or the dedup."""


def transform_micro_batch(df: DataFrame, conn: Connection, clock=None) -> DataFrame:
    """The full per-connection batch transform, applied to a streaming
    source (once per query start) or to any batch DataFrame with a
    payload column."""
    parsed = P.parse_envelope(df)
    ident = P.synthesize_identity(parsed)
    skewed = P.correct_timestamp_skew(ident, clock=clock)
    out = P.transform_for_connection(skewed, conn)
    dest_fields = [f.name for f in conn.destination.schema.fields if f.name in out.columns]
    return P.wrap_batch_payload(out, dest_fields)


def materialize_outcomes(outcomes: DataFrame) -> DataFrame:
    """Sever lineage from a side-effecting delivery frame.

    localCheckpoint(eager=True) executes every partition exactly once
    and REPLACES the plan with the materialized blocks, so later
    actions (the ledger append, the emptiness check, retries) can
    never re-run the HTTP sends. cache() is NOT enough — under
    executor memory pressure cached partitions are evicted and the
    next action silently recomputes them through deliver(), re-sending
    to the destination; a lost checkpoint block instead fails loudly.
    """
    return outcomes.localCheckpoint(eager=True)


def deliver_with_ledger(
    batch: DataFrame,
    conn: Connection,
    ledger: DeliveryLedger,
    deliver: DeliverFn,
    attempt_col=None,
) -> None:
    """Dedup → deliver → record outcomes. Runs inside foreachBatch."""
    done = ledger.processed_job_ids().filter(F.col("connection_id") == conn.id).select("job_id")
    fresh = batch.join(done, batch.message_id == done.job_id, "left_anti")
    # client retries can land the same messageId twice in ONE micro-batch
    # (the ledger only knows about earlier batches) — dedup within too.
    # Materialized once: the sink's actions and the ledger rows then
    # read the same rows (the same uuid() ids, the same kept retry
    # copy) without re-running the ledger read and both shuffles
    fresh = fresh.dropDuplicates(["message_id"]).localCheckpoint(eager=True)
    outcomes = materialize_outcomes(deliver(fresh))
    if outcomes.isEmpty():
        return
    delivered = F.col("delivered")
    ledger.append(
        make_status(
            outcomes,
            conn.id,
            F.when(delivered, STATE_SUCCEEDED).otherwise(STATE_FAILED),
            attempt_col=attempt_col,
            error_col=F.when(delivered, "").otherwise(F.col("error")),
        )
    )


def run_connection_stream(
    spark: SparkSession,
    conn: Connection,
    source_dir: str,
    checkpoint_dir: str,
    ledger: DeliveryLedger,
    deliver: DeliverFn,
    available_now: bool = True,
):
    """One streaming query per connection (SURVEY §1.1: a connection ≡
    one streaming query). File-json source stands in for Kafka; the
    topology is identical."""
    raw = (
        spark.readStream.schema("payload string")
        .json(source_dir)
    )
    events = transform_micro_batch(raw, conn)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        deliver_with_ledger(batch_df, conn, ledger, deliver)

    trigger = {"availableNow": True} if available_now else {"processingTime": "2 seconds"}
    return (
        events.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trigger)
        .start()
    )


def retry_frame(ledger: DeliveryLedger, conn: Connection, now=None) -> DataFrame:
    """Failed-but-retryable jobs (attempt < MAX_RETRY) as (job_id,
    attempt) — callers re-join with the payload store and re-deliver
    with attempt+1 (R5)."""
    return (
        ledger.retry_candidates(now=now)
        .filter(F.col("connection_id") == conn.id)
        .select("job_id", (F.col("attempt") + 1).alias("attempt"))
    )
