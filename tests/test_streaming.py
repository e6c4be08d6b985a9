"""Streaming integration tests: ledger/retry/DLQ state machine,
file-source micro-batch pipeline with crash/restart no-loss, batch
sessionization, REST sink shapes, custom poller DataSource."""

from __future__ import annotations

import json
import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from kassette_server_spark.operators.store import read_store
from kassette_server_spark.config import Connection, DestinationConfig, Schema, SchemaField, SourceConfig
from kassette_server_spark.operators.sessionize import sessionize_batch
from kassette_server_spark.sinks.rest import RestSinkConfig, deliver_rest
from kassette_server_spark.streaming.ledger import (
    MAX_RETRY,
    DeliveryLedger,
    STATE_FAILED,
    STATE_SUCCEEDED,
    job_health,
    make_status,
)
from kassette_server_spark.streaming.pipeline import (
    deliver_with_ledger,
    retry_frame,
    run_connection_stream,
    transform_micro_batch,
)

SRC = SourceConfig(
    id=1,
    name="gw",
    schema=Schema("ev", (SchemaField("event_id", "STRING"), SchemaField("n", "INT"))),
)
DEST = DestinationConfig(
    id=2,
    name="pg",
    dest_type="postgres",
    schema=Schema("ev", (SchemaField("event_id", "VARCHAR"), SchemaField("n", "INT"))),
)
CONN = Connection(id=7, source=SRC, destination=DEST)


def envelope(events, received="2024-03-04T05:06:07.123Z"):
    return json.dumps(
        {"batch": events, "writeKey": "wk", "requestIP": "1.1.1.1", "receivedAt": received}
    )


def ev(i, n=1):
    return {
        "event_id": f"e{i}",
        "n": n,
        "userId": f"u{i % 3}",
        "messageId": f"m{i}",
        "originalTimestamp": "2024-03-04T05:00:00.000Z",
        "sentAt": "2024-03-04T05:00:00.000Z",
    }


# --- ledger state machine ----------------------------------------------------


def test_ledger_latest_state_and_retry(spark, tmp_path):
    lg = DeliveryLedger(spark, str(tmp_path / "ledger"))
    df = spark.createDataFrame([("m1",), ("m2",)], ["message_id"])
    lg.append(make_status(df, 7, STATE_FAILED))
    time.sleep(0.01)
    lg.append(make_status(df.limit(1), 7, STATE_SUCCEEDED, attempt_col=F.lit(2)))
    latest = {r.job_id: r.state for r in lg.latest_state().collect()}
    assert latest == {"m1": STATE_SUCCEEDED, "m2": STATE_FAILED}
    # m2 failed attempt=1 < 10 and retry_time=now+60s NOT yet elapsed
    assert lg.retry_candidates().count() == 0
    far_future = F.lit("2099-01-01").cast("timestamp")
    assert [r.job_id for r in lg.retry_candidates(now=far_future).collect()] == ["m2"]


def test_ledger_dlq_after_max_retries(spark, tmp_path):
    lg = DeliveryLedger(spark, str(tmp_path / "ledger"))
    df = spark.createDataFrame([("m1",)], ["message_id"])
    lg.append(make_status(df, 7, STATE_FAILED, attempt_col=F.lit(MAX_RETRY)))
    assert lg.retry_candidates(now=F.lit("2099-01-01").cast("timestamp")).count() == 0
    assert [r.job_id for r in lg.dead_letters().collect()] == ["m1"]
    # one attempt below the cap is still retried, in the same scan
    below = spark.createDataFrame([("m2",)], ["message_id"])
    lg.append(make_status(below, 7, STATE_FAILED, attempt_col=F.lit(MAX_RETRY - 1)))
    far_future = F.lit("2099-01-01").cast("timestamp")
    assert [r.job_id for r in lg.retry_candidates(now=far_future).collect()] == ["m2"]
    assert [r.job_id for r in lg.dead_letters().collect()] == ["m1"]


def test_job_health_report(spark, tmp_path):
    lg = DeliveryLedger(spark, str(tmp_path / "ledger"))
    df = spark.createDataFrame([("m1",)], ["message_id"])
    lg.append(make_status(df, 7, STATE_FAILED, error_col=F.lit("boom")))
    rows = job_health(lg, [CONN]).collect()
    assert rows[0].source_name == "gw" and rows[0].destination_name == "pg"


# --- REST sink shapes --------------------------------------------------------


def _mk_events(spark, n, fail_marker=None):
    rows = [(f"m{i}", json.dumps({"event_id": f"e{i}", "n": i})) for i in range(n)]
    return spark.createDataFrame(rows, "message_id string, event_json string")


def test_powerbi_sink_batches_and_outcomes(spark):
    events = _mk_events(spark, 5)

    def transport(url, method, headers, body):
        arr = json.loads(body)
        assert isinstance(arr, list) and all("event_id" in e for e in arr)
        return 200, b"ok"

    out = deliver_rest(events, "powerbi", RestSinkConfig(url="http://x/rows"), transport)
    rows = out.collect()
    assert len(rows) == 5 and all(r.delivered for r in rows)


def test_powerbi_sink_http_failure_marks_all(spark):
    events = _mk_events(spark, 3)
    transport = lambda url, m, h, b: (500, b"server err")  # noqa: E731
    out = deliver_rest(events, "powerbi", RestSinkConfig(url="http://x"), transport).collect()
    assert all(not r.delivered and r.status == 500 for r in out)


def test_anaplan_sink_partial_failures(spark):
    events = _mk_events(spark, 4)

    def transport(url, method, headers, body):
        items = json.loads(body)["items"]
        assert all("code" in i and "properties" in i for i in items)
        return 200, json.dumps({"added": len(items) - 1, "failures": [2]}).encode()

    out = deliver_rest(events, "anaplan", RestSinkConfig(url="http://x"), transport).collect()
    by_id = {r.message_id: r.delivered for r in out}
    assert sum(not v for v in by_id.values()) == 1  # exactly index 2 failed


# --- micro-batch pipeline + ledger dedup ------------------------------------


def test_deliver_with_ledger_dedups_redelivery(spark, tmp_path):
    lg = DeliveryLedger(spark, str(tmp_path / "ledger"))
    raw = spark.createDataFrame([(envelope([ev(1), ev(2)]),)], ["payload"])
    events = transform_micro_batch(raw, CONN, clock=F.lit("2024-01-01").cast("timestamp"))

    sent = []

    def deliver(df):
        batch_ids = [r.message_id for r in df.select("message_id").collect()]
        sent.append(sorted(batch_ids))
        return df.select("message_id", F.lit(True).alias("delivered"), F.lit(200).alias("status"), F.lit("").alias("error"))

    deliver_with_ledger(events, CONN, lg, deliver)
    # redelivery of the same batch: everything already succeeded → nothing sent
    deliver_with_ledger(events, CONN, lg, deliver)
    assert sent[0] == ["m1", "m2"] and sent[1] == []


def test_retry_frame_increments_attempt(spark, tmp_path):
    lg = DeliveryLedger(spark, str(tmp_path / "ledger"))
    df = spark.createDataFrame([("m9",)], ["message_id"])
    lg.append(make_status(df, CONN.id, STATE_FAILED, attempt_col=F.lit(3)))
    r = retry_frame(lg, CONN, now=F.lit("2099-01-01").cast("timestamp")).collect()
    assert [(x.job_id, x.attempt) for x in r] == [("m9", 4)]


# --- full streaming run + crash/restart -------------------------------------


def test_streaming_pipeline_no_loss_across_restart(spark, tmp_path):
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "delivered")
    lg = DeliveryLedger(spark, str(tmp_path / "ledger"))

    def deliver(df):
        df.select("message_id", "event_json").write.mode("append").parquet(out_dir)
        return df.select(
            "message_id", F.lit(True).alias("delivered"), F.lit(200).alias("status"), F.lit("").alias("error")
        )

    (src_dir / "b1.json").write_text(json.dumps({"payload": envelope([ev(1), ev(2)])}) + "\n")
    q = run_connection_stream(spark, CONN, str(src_dir), ckpt, lg, deliver)
    q.awaitTermination(60)

    # "crash": the query is gone; add more data; restart from checkpoint
    (src_dir / "b2.json").write_text(json.dumps({"payload": envelope([ev(2), ev(3)])}) + "\n")
    q2 = run_connection_stream(spark, CONN, str(src_dir), ckpt, lg, deliver)
    q2.awaitTermination(60)

    delivered = spark.read.parquet(out_dir)
    # m2 appears in both input files but ledger-dedup drops the second
    # delivery: total unique = 3, total rows = 3 (no loss, no dup)
    assert delivered.count() == 3
    assert delivered.select("message_id").distinct().count() == 3
    assert lg.processed_job_ids().count() == 3


def test_stream_builds_transform_once_per_start(spark, tmp_path, monkeypatch):
    """The transform is built on the streaming frame once per query
    start, not once per micro-batch. Events without a messageId still
    get fresh uuid() ids in every micro-batch, and the delivered file
    and the ledger record the same ids."""
    import kassette_server_spark.streaming.pipeline as sp

    builds = []
    transform = sp.transform_micro_batch

    def counted(*a, **kw):
        builds.append(a[0].isStreaming)
        return transform(*a, **kw)

    monkeypatch.setattr(sp, "transform_micro_batch", counted)
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "delivered")
    lg = DeliveryLedger(spark, str(tmp_path / "ledger"))

    def deliver(df):
        df.select("message_id", "event_json").write.mode("append").parquet(out_dir)
        return df.select(
            "message_id", F.lit(True).alias("delivered"), F.lit(200).alias("status"), F.lit("").alias("error")
        )

    def land(name, first):
        events = [{**ev(i), "messageId": ""} for i in range(first, first + 3)]
        (src_dir / name).write_text(json.dumps({"payload": envelope(events)}) + "\n")

    # one query over two micro-batches (each batch reads one file from
    # the same partition index, where a per-query uuid seed would repeat)
    q = run_connection_stream(spark, CONN, str(src_dir), ckpt, lg, deliver, available_now=False)
    try:
        for k in range(2):
            land(f"b{k}.json", 3 * k)
            q.processAllAvailable()
    finally:
        q.stop()
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 2 and builds == [True]

    # a restart builds it once more
    land("b2.json", 6)
    q2 = run_connection_stream(spark, CONN, str(src_dir), ckpt, lg, deliver)
    q2.awaitTermination(60)
    assert builds == [True, True]

    delivered = [(r.message_id, json.loads(r.event_json)["event_id"])
                 for r in spark.read.parquet(out_dir).collect()]
    ids = [m for m, _ in delivered]
    assert sorted(e for _, e in delivered) == [f"e{i}" for i in range(9)]
    assert len(set(ids)) == 9 and all(ids)
    succeeded = {r.job_id for r in lg.processed_job_ids().collect()}
    assert succeeded == set(ids)


# --- sessionization ----------------------------------------------------------


def test_sessionize_count_threshold_splits(spark):
    rows = [(1, datetime(2024, 1, 1, 0, 0, i), i) for i in range(10)]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, event_id int")
    out = sessionize_batch(df, gap_minutes=30, count_threshold=4)
    # the count split must NOT flip session_id to a string — same long
    # type with or without the threshold (radix-composed id)
    assert dict(out.dtypes)["session_id"] == "bigint"
    sizes = sorted(
        r.n_events for r in out.groupBy("user_id", "session_id").count()
        .withColumnRenamed("count", "n_events").collect()
    )
    assert sizes == [2, 4, 4]


# --- custom poller DataSource ------------------------------------------------


def test_rest_poller_tz_aware_start_and_now():
    """Timezone-aware 'start'/'now' options are CONVERTED to UTC (not
    offset-stripped) and mixed aware/naive arithmetic cannot raise."""
    from datetime import datetime

    from kassette_server_spark.sources.rest_poller import (
        HAVE_DATASOURCE_API,
        RestPollerStreamReader,
        fake_camunda_fetcher,
    )

    if not HAVE_DATASOURCE_API:
        pytest.skip("pyspark datasource API unavailable")
    rdr = RestPollerStreamReader(
        None,
        {
            "start": "2024-03-04T05:00:00+02:00",  # == 03:00 UTC
            "now": "2024-03-04T05:10:00+02:00",  # == 03:10 UTC
            "interval_min": 1,
            "max_windows": 2,
        },
        fake_camunda_fetcher,
    )
    assert rdr.initialOffset() == {"window_start": "2024-03-04T03:00:00"}
    assert rdr.latestOffset() == {"window_start": "2024-03-04T03:02:00"}
    # naive 'now' alongside aware 'start' — no TypeError either way
    rdr2 = RestPollerStreamReader(
        None,
        {"start": "2024-03-04T05:00:00+02:00", "now": "2024-03-04T03:10:00",
         "interval_min": 1},
        fake_camunda_fetcher,
    )
    assert rdr2.latestOffset() == {"window_start": "2024-03-04T03:01:00"}


def test_rest_poller_datasource(spark, tmp_path):
    from kassette_server_spark.sources.rest_poller import (
        HAVE_DATASOURCE_API,
        fake_camunda_fetcher,
        make_poller_datasource,
    )

    if not HAVE_DATASOURCE_API:
        pytest.skip("pyspark datasource API unavailable")
    spark.dataSource.register(make_poller_datasource(fake_camunda_fetcher))
    stream = (
        spark.readStream.format("kassette_rest_poller")
        .option("start", "2024-03-04T05:00:00")
        .option("interval_min", 1)
        .option("max_windows", 2)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("poll_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("SELECT * FROM poll_out").collect()
    # 2 windows × 2 apis × 3 events
    assert len(rows) == 12
    kinds = {r.kassette_type for r in rows}
    assert kinds == {"activity-instance", "process-instance"}
    assert all(json.loads(r.payload)["batch"] for r in rows)


def test_interval_stream_join_attribution(spark, tmp_path):
    """Stream-stream interval join: clicks within the attribution
    window match their impression; late clicks don't; with left_outer
    the unmatched impression appears with null click columns once the
    watermark proves no match can arrive."""
    from kassette_server_spark.streaming.join import interval_stream_join

    imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
    imp_dir.mkdir(), clk_dir.mkdir()
    schema = "event_id long, user_id long, ts_s long"

    # impressions at t=1000 (u1) and t=1000 (u2); clicks: u1 at +300s
    # (inside 10 min), u2 at +900s (outside); a far-future row on each
    # side advances both watermarks so outer results can finalize
    spark.createDataFrame(
        [(1, 1, 1000), (2, 2, 1000), (99, 9, 100000)], schema
    ).write.json(str(imp_dir / "b1"))
    spark.createDataFrame(
        [(11, 1, 1300), (12, 2, 1900), (98, 9, 100000)], schema
    ).write.json(str(clk_dir / "b1"))

    def stream(d):
        return (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .json(str(d))
            .select(
                "event_id", "user_id",
                F.timestamp_seconds(F.col("ts_s")).alias("ts"),
            )
        )

    joined = interval_stream_join(
        stream(imp_dir), stream(clk_dir), key="user_id",
        within="10 minutes", watermark="20 minutes", how="left_outer",
    )
    sink = str(tmp_path / "out")
    q = (
        joined.writeStream.outputMode("append")
        .format("json")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.read.schema(
        "event_id long, user_id long, ts_s long, r_event_id long, r_user_id long"
    ).json(sink).collect()
    got = {r.event_id: r.r_event_id for r in rows}
    assert got[1] == 11  # u1 click inside the window attributes
    assert got[2] is None  # u2 click was 15 min late -> unmatched impression
    assert 99 in got  # watermark-advancer impression also emitted


def test_interval_stream_join_rejects_unknown_how(spark):
    from kassette_server_spark.streaming.join import interval_stream_join

    s = spark.readStream.format("rate").load().select(
        F.col("value").alias("user_id"), F.col("timestamp").alias("ts")
    )
    with pytest.raises(ValueError, match="unsupported"):
        interval_stream_join(s, s, key="user_id", how="full_outer")


def test_streaming_hll_store_equals_single_pass(spark, tmp_path):
    """Streaming sketch maintenance: merging per-micro-batch HLL
    registers into a store must equal the single-pass sketch over
    everything seen — across separate runs, and idempotently under
    re-delivery (max-merge)."""
    from kassette_server_spark.operators import sketches

    src = tmp_path / "in"
    src.mkdir()
    store = str(tmp_path / "hll_store")
    schema = "doc_id long, ts_s long"

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .json(str(src))
            .select(F.col("doc_id"), F.timestamp_seconds("ts_s").alias("ts"))
        )
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(
                lambda bdf, bid: sketches.hll_merge_into_store(bdf, "doc_id", store)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame([(i, 100 + i) for i in range(500)], schema).write.json(
        str(src / "b1")
    )
    drain()
    spark.createDataFrame(
        [(i, 700 + i) for i in range(250, 750)], schema  # 250 overlap
    ).write.json(str(src / "b2"))
    drain()

    streamed = sketches.hll_estimate(read_store(spark, store), p=9).collect()[0]
    whole = spark.createDataFrame([(i,) for i in range(750)], "doc_id long")
    single_pass = sketches.hll_count_distinct(whole, "doc_id", p=9).collect()[0]
    assert streamed == single_pass

    # re-deliver batch 2 wholesale (at-least-once): store must not move
    redelivered = spark.createDataFrame(
        [(i,) for i in range(250, 750)], "doc_id long"
    )
    sketches.hll_merge_into_store(redelivered, "doc_id", store)
    again = sketches.hll_estimate(read_store(spark, store), p=9).collect()[0]
    assert again == streamed


def test_streaming_priority_sample_store_equals_single_pass(spark, tmp_path):
    """Streaming weighted sampling: the top-k priority store after any
    sequence of micro-batches must equal the single-pass batch sample
    over everything seen (mergeable summary), and re-delivery must not
    move it (priorities are pure functions of the row)."""
    from kassette_server_spark.operators.sampling import (
        priority_sample,
        priority_sample_merge_into_store,
    )

    src = tmp_path / "in"
    src.mkdir()
    store = str(tmp_path / "ps_store")
    schema = "doc_id long, w long"

    def drain():
        stream = spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).json(str(src))
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(
                lambda bdf, bid: priority_sample_merge_into_store(
                    bdf, "doc_id", "w", store, k=20
                )
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    b1 = [(i, 10 + (i * 7) % 90) for i in range(300)]
    b2 = [(i, 10 + (i * 7) % 90) for i in range(200, 600)]  # 100 overlap
    spark.createDataFrame(b1, schema).write.json(str(src / "b1"))
    drain()
    spark.createDataFrame(b2, schema).write.json(str(src / "b2"))
    drain()

    streamed = read_store(spark, store).orderBy(F.desc("priority")).collect()
    whole = spark.createDataFrame(sorted(set(b1 + b2)), schema)
    single = priority_sample(whole, "doc_id", "w", k=20).collect()
    assert [(r.doc_id, r.w, r.priority) for r in streamed] == [
        (r.doc_id, r.w, r.priority) for r in single
    ]

    # re-deliver batch 2 wholesale: store must not move
    priority_sample_merge_into_store(
        spark.createDataFrame(b2, schema), "doc_id", "w", store, k=20
    )
    again = read_store(spark, store).orderBy(F.desc("priority")).collect()
    assert [(r.doc_id, r.priority) for r in again] == [
        (r.doc_id, r.priority) for r in streamed
    ]

    # a reweighted id may only improve its priority and occupies one slot
    heavy = [(5, 100000)]
    priority_sample_merge_into_store(
        spark.createDataFrame(heavy, schema), "doc_id", "w", store, k=20
    )
    final = read_store(spark, store).collect()
    assert sum(1 for r in final if r.doc_id == 5) == 1
    assert max(r.priority for r in final) == next(
        r.priority for r in final if r.doc_id == 5
    )


def test_streaming_histogram_store_quantiles_equal_single_pass(spark, tmp_path):
    """Streaming quantile maintenance: the fenced (bin, cnt) store after
    a run of micro-batches equals the single-pass histogram, so the
    integer-rule quantiles binned_quantiles derives from those bins are
    identical, and a replayed batch id is fenced out rather than
    double-counted."""
    from kassette_server_spark.operators.sketches import (
        hist_bins,
        hist_merge_into_store,
    )

    src = tmp_path / "in"
    src.mkdir()
    store = str(tmp_path / "hist_store")
    schema = "v double"

    def drain():
        stream = spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).json(str(src))
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(
                lambda bdf, bid: hist_merge_into_store(bdf, bid, "v", store)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def bins(df):
        return sorted((r.bin, r.cnt) for r in df.select("bin", "cnt").collect())

    b1 = [(float(i % 97),) for i in range(400)]
    b2 = [(float((i * 13) % 311),) for i in range(300)]
    spark.createDataFrame(b1, schema).write.json(str(src / "b1"))
    drain()
    spark.createDataFrame(b2, schema).write.json(str(src / "b2"))
    drain()

    streamed = bins(read_store(spark, store))
    assert streamed == bins(hist_bins(spark.createDataFrame(b1 + b2, schema), "v"))

    # replay the highest batch id: fence must reject it
    last_bid = (
        read_store(spark, store).agg(F.max("merged_through")).collect()[0][0]
    )
    merged = hist_merge_into_store(
        spark.createDataFrame(b2, schema), last_bid, "v", store
    )
    assert merged is False
    assert bins(read_store(spark, store)) == streamed


def test_priority_sample_topk_is_mergeable(spark):
    """The algebraic property the streaming sample store relies on:
    top_k(A ∪ B) == top_k(top_k(A) ∪ top_k(B))."""
    from kassette_server_spark.operators.sampling import priority_sample

    a = spark.createDataFrame([(i, 5 + (i * 11) % 200) for i in range(250)], "id long, w long")
    b = spark.createDataFrame([(i, 5 + (i * 11) % 200) for i in range(200, 500)], "id long, w long")
    whole = a.unionByName(b).dropDuplicates(["id"])
    direct = [(r.id, r.priority) for r in priority_sample(whole, "id", "w", 25).collect()]
    pa = priority_sample(a, "id", "w", 25)
    pb = priority_sample(b, "id", "w", 25)
    remerged = [
        (r.id, r.priority)
        for r in priority_sample(
            pa.unionByName(pb).dropDuplicates(["id"]), "id", "w", 25
        ).collect()
    ]
    assert direct == remerged


def test_streaming_scd2_store_equals_batch_apply(spark, tmp_path):
    """Streaming CDC → SCD2: the fenced dimension store after a run of
    change batches equals applying the same batches in order with the
    batch operator, and a replayed batch id does not corrupt history."""
    import datetime as dt

    from kassette_server_spark.operators.merge import (
        scd2_apply,
        scd2_merge_into_store,
    )

    src = tmp_path / "in"
    src.mkdir()
    store = str(tmp_path / "scd2_store")
    schema = "k long, valid_from timestamp, attr string"
    t0 = dt.datetime(2024, 1, 1)

    def drain():
        stream = spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).json(str(src))
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(
                lambda bdf, bid: scd2_merge_into_store(bdf, bid, ["k"], store)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    b1 = [(1, t0, "a"), (2, t0, "x")]
    b2 = [(1, t0 + dt.timedelta(days=1), "b"), (3, t0 + dt.timedelta(days=1), "z")]
    spark.createDataFrame(b1, schema).write.json(str(src / "b1"))
    drain()
    spark.createDataFrame(b2, schema).write.json(str(src / "b2"))
    drain()

    def snap(df):
        return sorted(
            (r.k, r.valid_from, r.attr, r.valid_to, r.is_current)
            for r in df.collect()
        )

    got = snap(read_store(spark, store).drop("merged_through"))
    empty = (
        spark.createDataFrame(b1, schema)
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
        .limit(0)
    )
    want = snap(
        scd2_apply(
            scd2_apply(empty, spark.createDataFrame(b1, schema), ["k"]),
            spark.createDataFrame(b2, schema),
            ["k"],
        )
    )
    assert got == want
    # history sanity: key 1 has a closed v1 and a current v2
    k1 = [r for r in got if r[0] == 1]
    assert len(k1) == 2
    assert sum(1 for r in k1 if r[4]) == 1

    # replay the last batch id: fence must reject and store not move
    last_bid = read_store(spark, store).agg(F.max("merged_through")).collect()[0][0]
    applied = scd2_merge_into_store(
        spark.createDataFrame(b2, schema), last_bid, ["k"], store
    )
    assert applied is False
    assert snap(read_store(spark, store).drop("merged_through")) == got


def test_streaming_point_in_time_join_stream_static(spark, tmp_path):
    """point_in_time_join composes with Structured Streaming as a
    stream-static join: streaming facts against a static version
    table. The lead() close-out runs on the STATIC side only (window
    functions are illegal on a stream; here they never touch one), so
    the micro-batch plan is the same co-partitioned equi-join +
    residual interval filter as the batch path — per-batch results
    must equal the batch operator on the same rows."""
    from kassette_server_spark.operators.merge import point_in_time_join

    versions = spark.createDataFrame(
        [("c1", 10, "bronze"), ("c1", 20, "silver"), ("c2", 15, "basic")],
        "k string, vf long, tier string",
    )
    src = tmp_path / "facts"
    src.mkdir()
    schema = "fid long, k string, ts long"
    facts = [
        (1, "c1", 5),   # before first version: drops
        (2, "c1", 10),  # inclusive start
        (3, "c1", 19),
        (4, "c1", 25),
        (5, "c2", 16),
        (6, "c9", 16),  # unknown key: drops
    ]
    spark.createDataFrame(facts, schema).write.json(str(src / "b1"))

    got: dict[int, str] = {}

    def sink(bdf, bid):
        for r in bdf.collect():
            got[r.fid] = r.tier

    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .json(str(src))
    )
    joined = point_in_time_join(stream, versions, ["k"], "ts", "vf")
    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_pit"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = {
        r.fid: r.tier
        for r in point_in_time_join(
            spark.createDataFrame(facts, schema), versions, ["k"], "ts", "vf"
        ).collect()
    }
    assert got == batch == {2: "bronze", 3: "bronze", 4: "silver", 5: "basic"}
