"""Layout operators: salted skew joins and scan-parallelism guards."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from conftest import SF_SMOKE

from kassette_server_spark.catalog import load
from kassette_server_spark.operators.layout import (
    ensure_scan_parallelism,
    salted_join,
    salted_join_from_profile,
)


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_salted_join_matches_plain_join(spark):
    ev = load(spark, SF_SMOKE, "events").select("event_id", "user_id")
    dims = (
        load(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("user_total"))
    )
    plain = ev.join(dims, "user_id").select("event_id", "user_total")
    salted = salted_join(ev, dims, "user_id", salt_buckets=4).select("event_id", "user_total")
    a = sorted((r.event_id, r.user_total) for r in plain.collect())
    b = sorted((r.event_id, r.user_total) for r in salted.collect())
    assert a == b


def test_salted_join_from_profile_parity(spark):
    """VERDICT r10 #3: the skew profiler's salt_r must be directly
    consumable — profile→join result identical to the hand-built call
    with the same factor (the band-planner wiring pattern, dedup.py
    minhash_dedup_stream_from_plan)."""
    import pytest

    from kassette_server_spark.operators.diagnostics import key_skew_profile

    ev = load(spark, SF_SMOKE, "events").select("event_id", "user_id")
    dims = (
        load(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("user_total"))
    )
    prof = key_skew_profile(ev, "user_id", target_partitions=8, top_n=1)
    row = prof.collect()[0]  # rank-1 = hottest key; 1 row by top_n
    assert row.salt_r >= 1
    wired = salted_join_from_profile(ev, dims, "user_id", row).select(
        "event_id", "user_total"
    )
    hand = salted_join(ev, dims, "user_id", salt_buckets=int(row.salt_r)).select(
        "event_id", "user_total"
    )
    a = sorted((r.event_id, r.user_total) for r in wired.collect())
    b = sorted((r.event_id, r.user_total) for r in hand.collect())
    assert a == b

    # dict-shaped rows work too (foreachBatch consumers hold dicts)
    as_dict = salted_join_from_profile(
        ev, dims, "user_id", {"salt_r": int(row.salt_r)}
    ).select("event_id", "user_total")
    assert sorted((r.event_id, r.user_total) for r in as_dict.collect()) == a

    # loud fences: a profile row missing salt_r, a non-positive factor,
    # and a factor past the replication sanity cap all fail fast
    with pytest.raises(ValueError, match="salt_r"):
        salted_join_from_profile(ev, dims, "user_id", {"r": 4})
    with pytest.raises(ValueError, match=">= 1"):
        salted_join_from_profile(ev, dims, "user_id", {"salt_r": 0})
    with pytest.raises(ValueError, match="max_buckets"):
        salted_join_from_profile(ev, dims, "user_id", {"salt_r": 5}, max_buckets=4)


def test_ensure_scan_parallelism_fans_out_single_split(spark):
    """A one-file scan must fan out to >= defaultParallelism partitions
    ahead of CPU-heavy map work; an already-wide input is untouched."""
    docs = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    fanned = ensure_scan_parallelism(docs)
    assert fanned.rdd.getNumPartitions() >= min(
        spark.sparkContext.defaultParallelism, 2
    )
    # enough splits for the target: identity, no repartition inserted
    assert ensure_scan_parallelism(docs, min_partitions=1) is docs


def test_ensure_scan_parallelism_passes_streams_through(spark):
    """Streaming DataFrames have no RDD view — the helper must be an
    identity on them, not raise AnalysisException (ADVICE r4)."""
    stream = spark.readStream.format("rate").load()
    assert ensure_scan_parallelism(stream) is stream


def test_ensure_scan_parallelism_handles_in_memory_relations(spark):
    """Non-file-backed plans (inputFiles() empty) fall back safely."""
    local = spark.createDataFrame([(i,) for i in range(10)], "x long")
    out = ensure_scan_parallelism(local, min_partitions=4)
    assert out.rdd.getNumPartitions() >= 4


def test_ensure_scan_parallelism_narrow_repartition_does_not_suppress(spark):
    """ADVICE r15: a caller's NARROW df.repartition(2) upstream must
    not suppress the spread — that is the single-partition trap the
    guard exists to prevent. Only a round-robin repartition at least
    as wide as the target no-ops the helper (the chained-spread case,
    ADVICE r14, stays a no-op)."""
    docs = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    narrow = docs.repartition(2)
    widened = ensure_scan_parallelism(narrow, min_partitions=8)
    assert widened is not narrow
    assert widened.rdd.getNumPartitions() >= 8
    # wide-enough inner repartition: outer call stays a no-op
    wide = docs.repartition(8)
    assert ensure_scan_parallelism(wide, min_partitions=8) is wide
    # exactly at target counts as wide enough; above target too
    wider = docs.repartition(16)
    assert ensure_scan_parallelism(wider, min_partitions=8) is wider
