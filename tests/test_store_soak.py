"""Many-batch soak of the fenced streaming stores (VERDICT r5 #7).

The unit tests in test_round5_ops.py / test_streaming.py verify
replay-fencing and single-pass equivalence over 2-3 micro-batches; at
100 TB the stores run for months over tens of thousands of batches, so
what matters is that the invariants are INVARIANTS, not 2-batch
coincidences:

1. Store size stays at its structural bound forever — <= num_bins
   rows (histogram), <= 2^p rows (HLL), keys+history rows (SCD2) —
   independent of how many batches have been folded in.
2. On-disk state stays exactly ONE committed generation (store.py
   prunes after commit), so disk usage is flat, not O(batches).
3. Interleaved at-least-once replays (every k-th batch re-delivered)
   never move fenced state and never grow idempotent state.
4. Merge latency is flat: the cost of folding batch 100 equals the
   cost of folding batch 10 (each merge reads bounded state, unions
   one bounded batch, rewrites bounded state — nothing accumulates).

Latency flatness is asserted as median(last 10) <= 4x median(first
10): generous because this box shares 32 cores with the rest of CI,
but tight enough to catch the failure mode that matters (state growing
with batch count turns each merge into O(batches) work, which is a
>10x drift over 100 batches, not 4x).
"""

from __future__ import annotations

import time
from datetime import datetime

from kassette_server_spark.operators import sketches
from kassette_server_spark.operators.merge import scd2_merge_into_store
from kassette_server_spark.operators.store import committed_generations, read_store


def _flat(latencies: list[float]) -> bool:
    head = sorted(latencies[:10])[5]
    tail = sorted(latencies[-10:])[5]
    return tail <= 4 * head


def test_hist_store_100_batch_soak(spark, tmp_path):
    """100 fenced additive merges, every 7th batch replayed."""
    store = str(tmp_path / "hist")
    num_bins = 64
    lat = []
    for b in range(100):
        batch = spark.createDataFrame(
            [(float(b * 10 + i),) for i in range(10)], "v double"
        )
        t0 = time.perf_counter()
        assert sketches.hist_merge_into_store(batch, b, "v", store, num_bins=num_bins)
        lat.append(time.perf_counter() - t0)
        if b % 7 == 0:  # at-least-once replay: fence must reject
            assert not sketches.hist_merge_into_store(
                batch, b, "v", store, num_bins=num_bins
            )
        if b % 25 == 24:  # bounds hold mid-soak, not just at the end
            st = read_store(spark, store)
            assert st.count() <= num_bins
            assert committed_generations(store) == [b]
    st = read_store(spark, store)
    assert st.count() <= num_bins
    assert st.agg({"merged_through": "max"}).collect()[0][0] == 99
    # total mass == 1000 inserted values (replays excluded)
    assert (
        st.agg({"cnt": "sum"}).collect()[0][0] == 100 * 10
    ), "a replayed batch was double-counted"
    assert committed_generations(store) == [99]
    assert _flat(lat), f"merge latency drifted: {lat[:10]} -> {lat[-10:]}"


def test_hll_store_60_batch_soak(spark, tmp_path):
    """60 idempotent max-merges with heavy overlap + full replays."""
    store = str(tmp_path / "hll")
    p = 7
    lat = []
    for b in range(60):
        # overlapping windows: ids b*5 .. b*5+20
        batch = spark.createDataFrame(
            [(i,) for i in range(b * 5, b * 5 + 20)], "doc_id long"
        )
        t0 = time.perf_counter()
        sketches.hll_merge_into_store(batch, "doc_id", store, p=p)
        lat.append(time.perf_counter() - t0)
        if b % 10 == 5:  # replay: max-merge must be a no-op
            before = sorted(
                (r.reg, r.m_rank) for r in read_store(spark, store).collect()
            )
            sketches.hll_merge_into_store(batch, "doc_id", store, p=p)
            after = sorted(
                (r.reg, r.m_rank) for r in read_store(spark, store).collect()
            )
            assert after == before
    st = read_store(spark, store)
    assert st.count() <= 2**p
    assert len(committed_generations(store)) == 1
    # streamed estimate == single-pass estimate over the union
    whole = spark.createDataFrame([(i,) for i in range(59 * 5 + 20)], "doc_id long")
    assert (
        sketches.hll_estimate(st, p=p).collect()[0]
        == sketches.hll_count_distinct(whole, "doc_id", p=p).collect()[0]
    )
    assert _flat(lat), f"merge latency drifted: {lat[:10]} -> {lat[-10:]}"


def test_scd2_store_40_batch_soak(spark, tmp_path):
    """40 fenced SCD2 merges of a CDC change feed over a fixed 8-key
    dimension: the feed carries a key only when its value CHANGES
    (scd2_apply opens a version per update row — change-feed
    semantics), so history is bounded by change count, not batch
    count; the fence survives interleaved replays of old batch ids."""
    store = str(tmp_path / "scd2")
    keys = 8
    lat = []
    for b in range(40):
        rows = []
        for k in range(keys):
            if b % (k + 2) == 0:  # key k changes every (k+2) batches
                rows.append((f"k{k}", datetime(2025, 1, 1, 0, b), f"v{b // (k + 2)}"))
        batch = spark.createDataFrame(rows, "k string, valid_from timestamp, val string")
        t0 = time.perf_counter()
        assert scd2_merge_into_store(batch, b, ["k"], store)
        lat.append(time.perf_counter() - t0)
        if b >= 3 and b % 9 == 0:  # replay an OLD batch id: must fence
            assert not scd2_merge_into_store(batch, b - 3, ["k"], store)
    st = read_store(spark, store)
    # exact history size: one open row per key per distinct version seen
    expect = sum(39 // (k + 2) + 1 for k in range(keys))
    assert st.count() == expect
    assert st.where("is_current").count() == keys
    assert len(committed_generations(store)) == 1
    assert _flat(lat), f"merge latency drifted: {lat[:10]} -> {lat[-10:]}"


def test_empty_first_batch_replay_is_graceful(spark, tmp_path):
    """ADVICE r6 #1: a committed generation with ZERO data rows (empty
    first batch) leaves no row-level merged_through high-water; an
    at-least-once replay of the same batch_id must return False via
    the directory fence, not crash-loop on write_store's monotonic
    generation assertion."""
    from pyspark.sql import functions as F

    h = str(tmp_path / "h")
    empty_n = spark.range(0).select(F.col("id").cast("double").alias("v"))
    one_n = spark.range(1).select(F.col("id").cast("double").alias("v"))
    assert sketches.hist_merge_into_store(empty_n, 0, "v", h) is True
    # replay of the committed-but-empty batch: graceful skip
    assert sketches.hist_merge_into_store(empty_n, 0, "v", h) is False
    assert sketches.hist_merge_into_store(one_n, 0, "v", h) is False
    # the stream moves on normally afterwards
    assert sketches.hist_merge_into_store(one_n, 1, "v", h) is True

    s = str(tmp_path / "scd2")
    empty_cdc = spark.range(0).select(
        F.col("id").cast("string").alias("k"),
        F.current_timestamp().alias("valid_from"),
        F.lit("x").alias("attr"),
    )
    cdc = spark.range(1).select(
        F.col("id").cast("string").alias("k"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("valid_from"),
        F.lit("x").alias("attr"),
    )
    assert scd2_merge_into_store(empty_cdc, 0, ["k"], s) is True
    assert scd2_merge_into_store(empty_cdc, 0, ["k"], s) is False
    assert scd2_merge_into_store(cdc, 1, ["k"], s) is True
    assert read_store(spark, s).count() == 1
