"""Sessionization (reference W1/W2: processor/processor.go:346-420,
525-576 + priorityqueue.go).

The reference buffers events per user and flushes on (a) event-count
threshold, (b) inactivity timeout tracked by a min-heap. Here:

- gap-based island detection (lag + cumulative sum) — one window over
  (user, ts); the exact batch analogue of inactivity sessions
  (declared query q24 oracle-checks it);
- count-triggered flush (the reference's sessionThresholdEvents) is an
  optional post-split on cumulative count inside each gap-session.

The reference never assigns its thresholds (processor.go:32-33), so in
effect it flushes everything; the server's streams behave the same way
and run no sessionizer. Here the thresholds are real parameters of the
batch operator.

Scale: one shuffle keyed by user_id; hot users (celebrity keys) are
the classic skew case — AQE skew-join handles joins, and for the
window itself the count-split below bounds per-session state. For
extreme skew, pre-salt by (user_id, day).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def sessionize_batch(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_cols: tuple[str, ...] = ("event_id",),
    gap_minutes: int = 30,
    count_threshold: int | None = None,
) -> DataFrame:
    """Assign session ids by inactivity gap (and optional count split).

    Output: input columns + session_id (long, ALWAYS numeric). Without
    ``count_threshold`` ids are 1-based per user; with it, each
    gap-session is split every ``count_threshold`` events and the id
    becomes ``gap_session_id * 1_000_000 + chunk`` — still a long, so
    downstream joins/aggregations never see a type flip (chunk counts
    above 1e6 events/session would need a wider radix; the reference's
    thresholds are ≤ 1e3).
    """
    w = W.partitionBy(user_col).orderBy(ts_col, *order_cols)
    prev = F.lag(ts_col).over(w)
    gap_us = gap_minutes * 60 * 1_000_000
    is_new = F.when(
        prev.isNull() | (F.unix_micros(F.col(ts_col)) - F.unix_micros(prev) > gap_us), 1
    ).otherwise(0)
    out = df.withColumn("_is_new", is_new).withColumn(
        "session_id", F.sum("_is_new").over(w).cast("long")
    )
    if count_threshold:
        # split each gap-session every `count_threshold` events
        # (reference sessionThresholdEvents, processor.go:380-382)
        w2 = W.partitionBy(user_col, "session_id").orderBy(ts_col, *order_cols)
        out = out.withColumn(
            "_n", F.row_number().over(w2)
        ).withColumn(
            "session_id",
            F.col("session_id") * 1_000_000
            + ((F.col("_n") - 1) / count_threshold).cast("long"),
        ).drop("_n")
    return out.drop("_is_new")
