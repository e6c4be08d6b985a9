"""The ``ingest_stream`` workload: the composed server under open-loop
HTTP traffic.

``KassetteServer`` runs in-process with its default file destination.
One source, destination and connection are configured over HTTP, which
starts the connection's streaming query. One generator thread sends
``POST /v1/batch`` requests of ``EVENTS_PER_REQUEST`` events on a fixed
schedule of ``RATE_RPS`` requests per second, one HTTP connection at a
time, and does not slow down when the server does. A ticker thread
calls ``srv.tick()`` every 0.5 s, as ``server.main`` does, and a
watcher thread records when each ``messageId`` first appears under
``delivered/<connection>/``.

Payloads come from the workload seed: ``userId``s follow a Zipf-like
skew, and a share ``RETRY_SHARE`` of requests are client retries that
resend an earlier request, with the same ``messageId``s, either while
it may still share a micro-batch or after it was delivered. Retries
exercise the in-batch dedup and the ledger dedup; the traced run
counts what each of the two dropped. The rate, the skew and the retry
share were chosen, not taken from measured traffic, and no code path
consumes the skew yet: the pipeline only hashes ``userId`` into
``kassette_id`` and copies it, and groups or partitions nothing by
user.

Set-up ends when the connection's stream has started. An event's
latency runs from its scheduled send time to its appearance under
``delivered/``. Events scheduled during the first ``WARMUP_S`` are
discarded from the statistics. The driver's peak resident set is
restarted when the traffic starts. Every event sent must be delivered
exactly once, within ``LATENCY_LIMIT_S``, with the expected transformed
fields; each miss counts as a failed op.

With tracing on, the benchmark wraps the public calls of each layer
(gateway accept and flush, transform, the foreachBatch body, the sink,
the ledger append), reads per-batch ``durationMs`` from the streaming
query's progress, and reads the stream's jobs from the status store.
Tracing alternates on and off every ``SLOT_S`` seconds of schedule, so
the latency of events sent in traced and untraced slots gives the
tracing overhead.
"""

from __future__ import annotations

import base64
import http.client
import itertools
import json
import os
import random
import re
import statistics
import threading
import time
import urllib.parse

from common import Tracer, job_metrics, mean, median, percentile, steal_s

RATE_RPS = 10
EVENTS_PER_REQUEST = 10
RETRY_SHARE = 0.05
#: a retry resends one of the last RETRY_LOOKBACK requests
RETRY_LOOKBACK = 60
N_USERS = 500
ZIPF_S = 1.1
WARMUP_S = 8.0
#: traffic keeps coming this long after the window, so the window's
#: last events ride a full micro-batch like all the others
TAIL_S = 4.0
LATENCY_LIMIT_S = 30.0
TICK_S = 0.5
POLL_S = 0.02
SLOT_S = 4.0

WRITE_KEY = "perfbench-wk"
CONN_ID = 10
SRC_SCHEMA = {
    "table_name": "ev",
    "schema_fields": [
        {"name": "event_id", "type": "STRING", "mode": "view", "primary_key": False},
        {"name": "n", "type": "INT", "mode": "view", "primary_key": False},
        {"name": "amount", "type": "FLOAT", "mode": "view", "primary_key": False},
        {"name": "ok", "type": "BOOLEAN", "mode": "view", "primary_key": False},
    ],
}
DEST_SCHEMA = {
    "table_name": "ev",
    "schema_fields": [
        {"name": "event_id", "type": "VARCHAR", "mode": "view", "primary_key": False},
        {"name": "n", "type": "INT", "mode": "view", "primary_key": False},
        {"name": "amount", "type": "FLOAT", "mode": "view", "primary_key": False},
        {"name": "ok", "type": "BOOLEAN", "mode": "view", "primary_key": False},
    ],
}


class Traffic:
    """The seeded request schedule: request k is due at k / RATE_RPS
    seconds after the start and is either fresh events or a retry of
    an earlier request."""

    def __init__(self, seed: int, n_requests: int):
        rng = random.Random(seed)
        weights = [1.0 / (i + 1) ** ZIPF_S for i in range(N_USERS)]
        self.bodies: list[bytes] = []
        self.fresh: list[bool] = []
        #: messageId -> (request index, expected transformed fields)
        self.expected: dict[str, tuple[int, dict]] = {}
        for k in range(n_requests):
            if k and rng.random() < RETRY_SHARE:
                j = k - rng.randint(1, min(k, RETRY_LOOKBACK))
                while not self.fresh[j]:
                    j -= 1
                self.bodies.append(self.bodies[j])
                self.fresh.append(False)
                continue
            batch = []
            for i in range(EVENTS_PER_REQUEST):
                mid = f"s{seed}-r{k}-e{i}"
                n = rng.randint(0, 10**6)
                cents = rng.randint(0, 10**6)
                ok = rng.random() < 0.5
                batch.append({
                    "event_id": f"ev-{k}-{i}", "n": n, "amount": cents / 100.0, "ok": ok,
                    "userId": f"u{rng.choices(range(N_USERS), weights)[0]}",
                    "messageId": mid, "type": "track",
                    "originalTimestamp": "2024-03-04T05:00:00.000Z",
                    "sentAt": "2024-03-04T05:00:00.000Z",
                })
                self.expected[mid] = (k, {
                    "event_id": f"ev-{k}-{i}", "n": n, "amount": cents / 100.0, "ok": ok,
                })
            self.bodies.append(json.dumps({"batch": batch}).encode())
            self.fresh.append(True)


class DeliveryWatcher:
    """Polls ``delivered/<conn>/`` and records, per messageId, each
    time it appears and the delivered row."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.seen_files: set[str] = set()
        self.deliveries: dict[str, list[float]] = {}
        self.rows: dict[str, dict] = {}
        self.files: list[tuple[float, int]] = []  # (time, rows)

    def poll(self) -> None:
        try:
            names = os.listdir(self.out_dir)
        except FileNotFoundError:
            return
        now = time.perf_counter()
        for name in sorted(names):
            if name.startswith(".") or name in self.seen_files:
                continue
            self.seen_files.add(name)
            with open(os.path.join(self.out_dir, name)) as f:
                rows = [json.loads(line) for line in f if line.strip()]
            self.files.append((now, len(rows)))
            for row in rows:
                mid = row.get("message_id")
                self.deliveries.setdefault(mid, []).append(now)
                self.rows.setdefault(mid, row)


def _post(host: str, port: int, path: str, body: bytes, headers: dict) -> int:
    conn = http.client.HTTPConnection(host, port, timeout=10)
    try:
        conn.request("POST", path, body=body, headers=headers)
        resp = conn.getresponse()
        resp.read()
        return resp.status
    finally:
        conn.close()


def _configure(address: str) -> None:
    """Create source, destination and connection over the config API."""
    u = urllib.parse.urlsplit(address)
    hdr = {"Content-Type": "application/json"}
    for path, doc in (
        ("/source", {"id": 1, "name": "bench-src", "write_key": WRITE_KEY, "schema": SRC_SCHEMA}),
        ("/destination", {"id": 2, "name": "bench-dst", "type": "postgres", "schema": DEST_SCHEMA}),
        ("/connection", {"id": CONN_ID, "source_id": 1, "destination_id": 2}),
    ):
        status = _post(u.hostname, u.port, path, json.dumps(doc).encode(), hdr)
        if status != 200:
            raise RuntimeError(f"config POST {path} returned {status}")


def _check_row(row: dict, want: dict) -> bool:
    try:
        got = json.loads(row["event_json"])
    except (KeyError, TypeError, ValueError):
        return False
    return got == want


class StreamJobs:
    """Reads the streaming query's jobs from the status store while the
    run goes on (the store keeps only the last 100 jobs and stages) and
    sums their metrics per micro-batch."""

    _BATCH = re.compile(r"batch = (\d+)")

    def __init__(self, spark, run_id: str):
        self.spark, self.group = spark, run_id
        self.done: set[int] = set()
        self.per_batch: dict[int, dict[str, float]] = {}

    def poll(self) -> None:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        for jid in sc.statusTracker().getJobIdsForGroup(self.group):
            if jid in self.done:
                continue
            info = sc.statusTracker().getJobInfo(jid)
            if info is None or info.status not in ("SUCCEEDED", "FAILED"):
                continue
            self.done.add(jid)
            desc = store.job(jid).description()
            m = self._BATCH.search(desc.get() if desc.isDefined() else "")
            batch = int(m.group(1)) if m else -1
            acc = self.per_batch.setdefault(batch, {})
            for k, v in job_metrics(self.spark, [jid]).items():
                acc[k] = acc.get(k, 0.0) + v


def _instrument(srv, tracer: Tracer):
    """Wrap each layer's public calls with spans and counters; returns
    a function that puts the two module-level functions back."""
    import kassette_server_spark.streaming.pipeline as sp

    gw = srv.gateway
    accept, flush = gw.accept, gw.flush

    def traced_accept(*a, **kw):
        with tracer.span("gateway.accept"):
            ok = accept(*a, **kw)
        tracer.count("gateway.requests")
        tracer.count("gateway.rejected", 0 if ok else 1)
        return ok

    def traced_flush(*a, **kw):
        with tracer.span("landing.flush"):
            path = flush(*a, **kw)
        tracer.count("landing.files", 1 if path else 0)
        return path

    gw.accept, gw.flush = traced_accept, traced_flush
    srv.ledger.append = tracer.wrap(srv.ledger.append, "ledger.append")
    transform, deliver = sp.transform_micro_batch, sp.deliver_with_ledger
    sp.transform_micro_batch = tracer.wrap(transform, "transform.build")
    sp.deliver_with_ledger = tracer.wrap(deliver, "stream.batch")

    def restore():
        sp.transform_micro_batch, sp.deliver_with_ledger = transform, deliver

    return restore


def dedup_drops(srv_dir: str) -> tuple[int, int]:
    """The ``messageId`` copies that each dedup path dropped, as
    (in-batch, ledger), from what each micro-batch read. The file
    source logs every micro-batch's landing files under the checkpoint.
    ``deliver_with_ledger`` drops the ids the ledger holds first, then
    the second copies within the batch; every earlier batch delivered
    all its ids (the exactly-once check holds), so the ledger holds
    exactly the ids of earlier batches."""
    log_dir = os.path.join(srv_dir, "ckpt", f"conn-{CONN_ID}", "sources", "0")
    files: dict[int, set[str]] = {}
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    files.setdefault(entry["batchId"], set()).add(entry["path"])
    earlier: set[str] = set()
    in_batch = ledger = 0
    for batch in sorted(files):
        ids = []
        for uri in sorted(files[batch]):
            with open(urllib.parse.unquote(urllib.parse.urlsplit(uri).path)) as f:
                for line in f:
                    envelope = json.loads(json.loads(line)["payload"])
                    ids += [e["messageId"] for e in envelope["batch"]]
        fresh = [m for m in ids if m not in earlier]
        ledger += len(ids) - len(fresh)
        in_batch += len(fresh) - len(set(fresh))
        earlier.update(fresh)
    return in_batch, ledger


def _traced_factory(factory, tracer: Tracer):
    def make(conn):
        return tracer.wrap(factory(conn), "sink.deliver")

    return make


def run(ctx) -> dict:
    from common import heap_live_mb, py_peak_mb, reset_py_peak, start_spark
    from kassette_server_spark.server import KassetteServer, default_deliver_factory

    spark = ctx.spark = start_spark(ctx.work_dir, ctx.trace)
    phases = {"spark_ready_s": time.perf_counter() - ctx.t0}
    tracer = Tracer()
    srv_dir = os.path.join(ctx.work_dir, "server")
    factory = default_deliver_factory(srv_dir)
    if ctx.trace:
        factory = _traced_factory(factory, tracer)
    srv = KassetteServer(spark, srv_dir, write_keys=frozenset(), deliver_factory=factory)
    restore = _instrument(srv, tracer) if ctx.trace else (lambda: None)
    srv.start()
    stop = threading.Event()
    threads: list[threading.Thread] = []
    try:
        _configure(srv.config_address)
        query = srv.supervisor.running[CONN_ID]
        phases["server_ready_s"] = time.perf_counter() - ctx.t0
        jobs = StreamJobs(spark, str(query.runId)) if ctx.trace else None
        n_req = int((WARMUP_S + ctx.seconds + TAIL_S) * RATE_RPS)
        traffic = Traffic(ctx.seed, n_req)
        watcher = DeliveryWatcher(os.path.join(srv_dir, "delivered", str(CONN_ID)))
        gw = urllib.parse.urlsplit(srv.gateway_address)
        auth = {
            "Authorization": "Basic " + base64.b64encode(f"{WRITE_KEY}:".encode()).decode(),
            "Content-Type": "application/json",
        }
        post_s: list[float] = []
        late_s: list[float] = []
        http_failed = [0]
        errors: list[BaseException] = []

        def guarded(fn):
            def body():
                try:
                    fn()
                except BaseException as e:  # surfaced after join
                    errors.append(e)
                    stop.set()
            return body

        def tick():
            while not stop.wait(TICK_S):
                srv.tick()

        def watch():
            last_jobs = 0.0
            while not stop.wait(POLL_S):
                watcher.poll()
                if jobs is not None and time.perf_counter() - last_jobs >= 1.0:
                    jobs.poll()
                    last_jobs = time.perf_counter()

        reset_py_peak()
        steal0 = steal_s()
        t_sched = time.perf_counter() + 0.2
        t_window = t_sched + WARMUP_S
        t_window_end = t_window + ctx.seconds
        t_end = t_sched + n_req / RATE_RPS
        wall_window = time.time() + (t_window - time.perf_counter())

        def generate():
            for k, body in enumerate(traffic.bodies):
                due = t_sched + k / RATE_RPS
                if stop.wait(max(0.0, due - time.perf_counter())):
                    return
                if ctx.trace:
                    tracer.enabled = due >= t_window and int((due - t_window) / SLOT_S) % 2 == 1
                t0 = time.perf_counter()
                late_s.append(t0 - due)
                status = _post(gw.hostname, gw.port, "/v1/batch", body, auth)
                post_s.append(time.perf_counter() - t0)
                if status != 200:
                    http_failed[0] += 1
            tracer.enabled = False

        for fn in (tick, watch, generate):
            threads.append(threading.Thread(target=guarded(fn), daemon=True))
            threads[-1].start()
        threads[-1].join()
        # drain: wait until every event is delivered or the limit passes
        deadline = t_end + LATENCY_LIMIT_S
        while time.perf_counter() < deadline and not stop.is_set():
            if all(mid in watcher.deliveries for mid in traffic.expected):
                time.sleep(4 * TICK_S)  # a late duplicate would land now
                break
            time.sleep(0.1)
        phases["drained_s"] = time.perf_counter() - ctx.t0
        phases["steal_s"] = steal_s() - steal0
        stop.set()
        for t in threads:
            t.join(30)
        watcher.poll()
        if errors:
            raise errors[0]
        if jobs is not None:
            jobs.poll()
        progress = [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]
        py_mb = py_peak_mb()
        in_batch_dropped, ledger_dropped = dedup_drops(srv_dir)
        ledger_files = sum(
            1 for _, _, files in os.walk(os.path.join(srv_dir, "ledger"))
            for f in files if not f.startswith((".", "_"))
        )
    finally:
        stop.set()
        for t in threads:
            t.join(30)
        srv.stop()
        restore()
    # with the streams stopped, no micro-batch is in flight
    heap_mb = None if ctx.trace else heap_live_mb(spark)

    # -- correctness: each messageId delivered once, in time, as expected
    failed = http_failed[0]
    failures = [f"{http_failed[0]} POSTs not accepted"] if http_failed[0] else []
    lat, lat_traced, lat_untraced = [], [], []
    window_files = set()
    for mid, (k, want) in traffic.expected.items():
        due = t_sched + k / RATE_RPS
        seen = watcher.deliveries.get(mid, [])
        if len(seen) != 1 or seen[0] - due > LATENCY_LIMIT_S or not _check_row(watcher.rows[mid], want):
            failed += 1
            if len(failures) < 20:
                failures.append(f"{mid}: delivered {len(seen)}x, row {watcher.rows.get(mid)}")
            continue
        if t_window <= due < t_window_end:
            lat.append(seen[0] - due)
            window_files.add(seen[0])
            slot = int((due - t_window) / SLOT_S) % 2
            (lat_traced if slot else lat_untraced).append(seen[0] - due)
    if not lat:
        raise RuntimeError("no event of the measurement window was delivered")
    # delivery rate: least-squares slope of rows delivered so far against
    # time, over the deliveries that hold window events
    deliveries = sorted(watcher.files)
    so_far = itertools.accumulate(n for _, n in deliveries)
    points = [(t, c) for (t, _), c in zip(deliveries, so_far)
              if min(window_files) <= t <= max(window_files)]
    if len(points) < 2:
        raise RuntimeError("the window's events were delivered in one micro-batch")
    rate = statistics.linear_regression(*zip(*points)).slope

    result = {
        "correct": failed == 0,
        "attempted": len(traffic.expected) + http_failed[0],
        "failed": failed,
        "failures": failures,
        "samples": {
            "events": len(lat),
            "batches": len(window_files),
            "requests": len(traffic.bodies),
            "retries": traffic.fresh.count(False),
            "generator_late_max_s": max(late_s) if late_s else 0.0,
            "generator_late_p50_s": median(late_s),
            "window_start_s": t_window - ctx.t0,
            "window_end_s": t_window_end - ctx.t0,
            **phases,
        },
    }
    if not ctx.trace:
        result["metrics"] = {
            "setup_s": phases["server_ready_s"],
            "latency_p50_s": median(lat),
            "ops_per_s": rate,
            "heap_live_mb": heap_mb,
            "py_driver_peak_mb": py_mb,
        }
        return result

    win = [p for p in progress if p["timestamp"] >= _iso(wall_window)]
    dur = lambda p, *ks: sum(p["durationMs"].get(k, 0) for k in ks) / 1000.0  # noqa: E731
    batch_ids = {p["batchId"] for p in win}
    per_batch = [v for b, v in jobs.per_batch.items() if b in batch_ids]
    sent_events = sum(len(json.loads(b)["batch"]) for b in traffic.bodies)
    delivered = sum(n for _, n in watcher.files)
    c = tracer.counters
    n_batch_spans = max(1, len(tracer.durations("stream.batch")))
    layer = {
        "gateway.post_s": median(post_s),
        "gateway.accept_s": median(tracer.durations("gateway.accept")),
        "gateway.requests": c.get("gateway.requests", 0.0),
        "gateway.rejected": c.get("gateway.rejected", 0.0),
        "landing.flush_s": median(tracer.durations("landing.flush")),
        "landing.files": c.get("landing.files", 0.0),
        "stream.batches": float(len(win)),
        "stream.rows_per_batch": mean([p["numInputRows"] for p in win]),
        "stream.trigger_s": median([dur(p, "triggerExecution") for p in win]),
        "stream.add_batch_s": median([dur(p, "addBatch") for p in win]),
        "stream.offsets_s": median([dur(p, "latestOffset", "getBatch") for p in win]),
        "stream.commit_s": median([dur(p, "walCommit", "commitOffsets") for p in win]),
        "stream.batch_self_s": median(tracer.self_durations("stream.batch")),
        "transform.build_s": median(tracer.durations("transform.build")),
        "sink.deliver_s": median(tracer.durations("sink.deliver")),
        "sink.rows": delivered / max(1, len(watcher.files)),
        "ledger.append_s": median(tracer.durations("ledger.append")),
        "ledger.appends": len(tracer.durations("ledger.append")) / n_batch_spans,
        "ledger.files": float(ledger_files),
        "ledger.dedup_dropped": float(sent_events - delivered),
        "dedup.in_batch_dropped": float(in_batch_dropped),
        "dedup.ledger_dropped": float(ledger_dropped),
        "ledger.useful_ratio": delivered / sent_events,
        "spark.jobs_per_batch": mean([b.get("spark.jobs", 0.0) for b in per_batch]),
        "ingest.latency_p95_s": percentile(lat, 95),
        "trace.untraced_p50_s": median(lat_untraced),
        "trace.traced_p50_s": median(lat_traced),
        "trace.overhead_s": median(lat_traced) - median(lat_untraced),
    }
    for k in ("spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
              "spark.executor_cpu_s", "spark.jvm_gc_s", "spark.input_bytes",
              "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
              "spark.spill_bytes", "spark.result_bytes"):
        layer[k] = mean([b.get(k, 0.0) for b in per_batch])
    result["metrics"] = layer
    result["trace"] = {
        "spans": tracer.spans,
        "self_s": tracer.self_times(),
        "progress": win,
        "per_batch_jobs": {str(b): v for b, v in sorted(jobs.per_batch.items())},
    }
    return result


def _iso(wall: float) -> str:
    """UTC ISO-8601 text comparable with progress ``timestamp``s."""
    t = time.gmtime(wall)
    return time.strftime("%Y-%m-%dT%H:%M:%S", t) + f".{int(wall % 1 * 1000):03d}Z"
