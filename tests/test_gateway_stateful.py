"""Gateway shim (S1/R6/T3) and the REST poller's wall-clock clamp."""

from __future__ import annotations

import json
from datetime import datetime, timezone

from kassette_server_spark.sources.gateway import GatewayShim


def fixed_clock():
    return datetime(2024, 3, 4, 5, 6, 7, 123000, tzinfo=timezone.utc)


def test_gateway_shim_envelope_and_auth(spark, tmp_path):
    gw = GatewayShim(
        landing_dir=str(tmp_path / "landing"),
        valid_write_keys=frozenset({"wk1"}),
        max_batch=2,
        clock=fixed_clock,
    )
    assert not gw.accept({"batch": [{"a": 1}]}, write_key="bad")  # 401 path
    assert gw.accept({"batch": [{"a": 1}]}, write_key="wk1", request_ip="9.9.9.9")
    # single (non-batch) request wraps into batch[0] with type stamped
    assert gw.accept({"userId": "u"}, write_key="wk1", req_type="track")
    # max_batch=2 reached → flushed to one landing file
    files = list((tmp_path / "landing").glob("batch-*.json"))
    assert len(files) == 1
    lines = files[0].read_text().strip().splitlines()
    assert len(lines) == 2
    env0 = json.loads(json.loads(lines[0])["payload"])
    assert env0["writeKey"] == "wk1" and env0["requestIP"] == "9.9.9.9"
    assert env0["receivedAt"] == "2024-03-04T05:06:07.123Z"
    env1 = json.loads(json.loads(lines[1])["payload"])
    assert env1["batch"][0]["type"] == "track"  # wrap + type stamp

    # landing file is consumable by the engine's envelope parser
    from kassette_server_spark import pipeline

    raw = spark.read.schema("payload string").json(str(tmp_path / "landing"))
    rows = pipeline.parse_envelope(raw).collect()
    assert len(rows) == 2


def test_rest_poller_wall_clock_clamp():
    """The poller must never advance its offset past now − history
    (future windows would be committed empty and their data skipped)."""
    from kassette_server_spark.sources.rest_poller import (
        RestPollerStreamReader,
        fake_camunda_fetcher,
    )

    r = RestPollerStreamReader(
        None,
        {
            "start": "2024-03-04T05:00:00",
            "interval_min": "1",
            "max_windows": "10",
            "history_min": "5",
            "now": "2024-03-04T05:08:30",
        },
        fake_camunda_fetcher,
    )
    init = r.initialOffset()
    lo = r.latestOffset()
    assert lo == {"window_start": "2024-03-04T05:03:00"}  # clamped to now−5min
    parts = r.partitions(init, lo)
    assert len(parts) == 3 * 2  # 3 windows × 2 apis
    # no progress possible while the clock stands still
    assert r.latestOffset() == lo
    assert r.partitions(lo, r.latestOffset()) == []
    # latestOffset() before initialOffset() must not contaminate initial
    r2 = RestPollerStreamReader(
        None,
        {"start": "2024-03-04T05:00:00", "interval_min": "1", "max_windows": "2"},
        fake_camunda_fetcher,
    )
    _ = r2.latestOffset()
    assert r2.initialOffset() == {"window_start": "2024-03-04T05:00:00"}
