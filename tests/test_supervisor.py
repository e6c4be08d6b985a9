"""Supervisor reconciliation: ConfigDiff → stop/start/restart of
per-connection streaming queries (reference config pub-sub parity)."""

from __future__ import annotations

from kassette_server_spark.config import Connection, DestinationConfig, Schema, SchemaField, SourceConfig
from kassette_server_spark.sources.config_api import ConfigStore
from kassette_server_spark.sources.configstore import ConfigDiff
from kassette_server_spark.streaming.supervisor import StreamingSupervisor


def _conn(cid: int, name: str = "src", enabled: bool = True) -> Connection:
    return Connection(
        id=cid,
        source=SourceConfig(id=1, name=name, schema=Schema("e", (SchemaField("event_id", "STRING"),))),
        destination=DestinationConfig(
            id=2, name="pg", dest_type="postgres",
            schema=Schema("e", (SchemaField("event_id", "VARCHAR"),)),
        ),
        enabled=enabled,
    )


class FakeQuery:
    def __init__(self, cid: int, log: list):
        self.cid = cid
        self.log = log
        self.stopped = False

    def stop(self):
        self.stopped = True
        self.log.append(("stop", self.cid))


def test_supervisor_reconciles_diffs():
    log: list = []
    sup = StreamingSupervisor(lambda conn: (log.append(("start", conn.id)), FakeQuery(conn.id, log))[1])

    conns = {10: _conn(10), 11: _conn(11), 12: _conn(12, enabled=False)}
    sup.start_all(conns)
    # the two starts run in parallel, one worker per connection
    assert sorted(log) == [("start", 10), ("start", 11)]  # disabled 12 skipped
    assert set(sup.running) == {10, 11}

    # changed 10 → stop + restart; removed 11 → stop; added 13 → start
    q10_old = sup.running[10]
    conns2 = {10: _conn(10, name="renamed"), 12: _conn(12, enabled=False), 13: _conn(13)}
    sup.apply(ConfigDiff(added=(13,), removed=(11,), changed=(10,)), conns2)
    sup.quiesce()  # removed-connection stops run on background threads
    assert q10_old.stopped
    assert set(sup.running) == {10, 13}
    assert ("stop", 11) in log and ("start", 13) in log

    # a change that disables a connection stops it and does not restart
    sup.apply(ConfigDiff(added=(), removed=(), changed=(13,)), {13: _conn(13, enabled=False)})
    assert set(sup.running) == {10}

    sup.stop_all()
    assert not sup.running and ("stop", 10) in log


def test_supervisor_wired_to_config_store(tmp_path):
    """End-to-end control plane: CRUD on the ConfigStore drives query
    lifecycle through the on_change pub-sub."""
    log: list = []
    sup = StreamingSupervisor(lambda conn: (log.append(("start", conn.id)), FakeQuery(conn.id, log))[1])
    # the documented wiring: on_change delivers (diff, connections)
    # in commit order, matching apply's signature exactly
    store = ConfigStore(str(tmp_path / "cfg.json"), on_change=sup.apply)

    schema = {"table_name": "e", "schema_fields": [{"name": "event_id", "type": "STRING"}]}
    store.create("source", {"id": 1, "name": "s", "schema": schema})
    store.create("destination", {"id": 2, "name": "d", "type": "postgres", "schema": schema})
    assert not sup.running  # no connection yet
    store.create("connection", {"id": 10, "source_id": 1, "destination_id": 2})
    assert set(sup.running) == {10}
    # editing the source restarts the dependent connection's query
    before = sup.running[10]
    store.update("source", {"id": 1, "name": "s2"})
    assert before.stopped and set(sup.running) == {10} and sup.running[10] is not before
    store.delete("connection", 10)
    assert not sup.running
    sup.quiesce()


def test_wedged_stop_never_collides_on_checkpoint():
    """A stop that hangs past the drain window must NOT let the
    restarted query start beside its predecessor (shared checkpoint
    dir): the connection's worker starts the new query only
    after the old query's stop() finally returns (round-7 second-pass
    review finding)."""
    import threading
    import time

    from kassette_server_spark.streaming import supervisor as sup_mod

    release = threading.Event()

    class WedgedQuery(FakeQuery):
        def stop(self):
            release.wait(30)  # simulate a stop stuck in a hung sink
            super().stop()

    log: list = []
    made: list = []

    def start(conn):
        # the invariant under test: no new query while the old one is
        # still un-stopped
        assert all(q.stopped for q in made), "checkpoint collision!"
        q = WedgedQuery(conn.id, log)
        made.append(q)
        log.append(("start", conn.id))
        return q

    old_timeout = sup_mod.DRAIN_TIMEOUT_S
    sup_mod.DRAIN_TIMEOUT_S = 0.2  # keep the test fast
    try:
        sup = sup_mod.StreamingSupervisor(start)
        sup.start_all({10: _conn(10)})
        q_old = sup.running[10]
        # change 10: stop wedges; restart must NOT start a second query
        sup.apply(ConfigDiff(added=(), removed=(), changed=(10,)), {10: _conn(10, name="v2")})
        time.sleep(1.0)
        assert not q_old.stopped  # still wedged
        assert len(made) == 1  # replacement NOT started yet
        assert 10 not in sup.running  # and not falsely reported running
        release.set()  # sink unblocks; stop completes; worker starts v2
        deadline = time.time() + 10
        while time.time() < deadline and 10 not in sup.running:
            time.sleep(0.05)
        assert q_old.stopped
        assert 10 in sup.running and sup.running[10] is not q_old
        assert len(made) == 2
    finally:
        sup_mod.DRAIN_TIMEOUT_S = old_timeout


def test_stacked_reconfigs_converge_to_last_desired_state():
    """Round-8 advice race: two apply()s for the same cid during the
    drain window used to queue two waiters on one pending stop — both
    later started, leaving two live queries sharing a checkpoint dir.
    With one worker per connection, only the LAST desired config starts."""
    import threading
    import time

    from kassette_server_spark.streaming import supervisor as sup_mod

    release = threading.Event()

    class WedgedQuery(FakeQuery):
        def stop(self):
            release.wait(30)
            super().stop()

    log: list = []
    made: list = []

    def start(conn):
        assert all(q.stopped for q in made), "checkpoint collision!"
        q = WedgedQuery(conn.id, log)
        made.append(q)
        log.append(("start", conn.source.name))
        return q

    old_timeout = sup_mod.DRAIN_TIMEOUT_S
    sup_mod.DRAIN_TIMEOUT_S = 0.2
    try:
        sup = sup_mod.StreamingSupervisor(start)
        sup.start_all({10: _conn(10, name="v1")})
        # two reconfigs while the v1 stop is wedged
        sup.apply(ConfigDiff((), (), (10,)), {10: _conn(10, name="v2")})
        sup.apply(ConfigDiff((), (), (10,)), {10: _conn(10, name="v3")})
        time.sleep(0.5)
        assert len(made) == 1  # nothing started beside the wedged v1
        release.set()
        deadline = time.time() + 10
        while time.time() < deadline and 10 not in sup.running:
            time.sleep(0.05)
        time.sleep(0.5)  # give a buggy second waiter time to misfire
        assert len(made) == 2, "superseded v2 start must never run"
        assert ("start", "v3") in log and ("start", "v2") not in log
        assert set(sup.running) == {10}
    finally:
        sup_mod.DRAIN_TIMEOUT_S = old_timeout


def test_enable_then_disable_during_drain_starts_nothing():
    """Round-8 advice race, second limb: enable-then-disable while the
    predecessor's stop drains found nothing in _queries to stop, so the
    queued waiter started a query for a now-disabled connection that
    nothing would ever stop. The disable must supersede the queued
    start."""
    import threading
    import time

    from kassette_server_spark.streaming import supervisor as sup_mod

    release = threading.Event()

    class WedgedQuery(FakeQuery):
        def stop(self):
            release.wait(30)
            super().stop()

    log: list = []
    made: list = []

    def start(conn):
        q = WedgedQuery(conn.id, log)
        made.append(q)
        log.append(("start", conn.source.name))
        return q

    old_timeout = sup_mod.DRAIN_TIMEOUT_S
    sup_mod.DRAIN_TIMEOUT_S = 0.2
    try:
        sup = sup_mod.StreamingSupervisor(start)
        sup.start_all({10: _conn(10, name="v1")})
        sup.apply(ConfigDiff((), (), (10,)), {10: _conn(10, name="v2")})
        sup.apply(ConfigDiff((), (), (10,)), {10: _conn(10, name="v2", enabled=False)})
        release.set()
        time.sleep(1.0)  # give a buggy waiter time to start v2 anyway
        sup.quiesce()
        assert len(made) == 1, "disabled connection must not be started"
        assert 10 not in sup.running
        assert sup.busy_reason() is None
    finally:
        sup_mod.DRAIN_TIMEOUT_S = old_timeout


def test_busy_reason_reports_activity_and_idle():
    log: list = []
    sup = StreamingSupervisor(
        lambda conn: (log.append(("start", conn.id)), FakeQuery(conn.id, log))[1]
    )
    assert sup.busy_reason() is None
    sup.start_all({10: _conn(10)})
    assert "10" in (sup.busy_reason() or "")
    sup.stop_all()
    sup.quiesce()
    assert sup.busy_reason() is None


def test_failed_start_is_recorded_not_silent():
    """A StartFn that throws must surface in failed_starts (ADVICE r8
    item 3: previously the exception died on the waiter daemon thread,
    leaving an enabled-but-never-running connection with no error)."""
    def boom(conn):
        raise RuntimeError("bad checkpoint")

    sup = StreamingSupervisor(boom)
    sup.start_all({10: _conn(10)})
    assert not sup.running
    assert "RuntimeError" in sup.failed_starts.get(10, "")
    assert sup.busy_reason() is None  # failure is terminal, not pending

    # the failure is final until the next apply(); a later successful
    # start clears the failure record
    log: list = []
    fails = [RuntimeError("old")]

    def flaky(conn):
        if fails:
            raise fails.pop()
        return FakeQuery(conn.id, log)

    sup2 = StreamingSupervisor(flaky)
    sup2.start_all({10: _conn(10)})
    sup2.quiesce()
    assert sup2.failed_starts == {10: "RuntimeError('old')"}
    assert not sup2.running
    sup2.apply(ConfigDiff(added=(), removed=(), changed=(10,)), {10: _conn(10)})
    assert sup2.failed_starts == {}
    assert set(sup2.running) == {10}
    sup2.stop_all()

    # disabling a failed connection clears the record too
    sup.apply(ConfigDiff(added=(), removed=(), changed=(10,)),
              {10: _conn(10, enabled=False)})
    assert sup.failed_starts == {}


def test_busy_reason_not_blocked_by_slow_start():
    """busy_reason() (the ledger-compaction quiescence probe) must
    answer promptly WHILE a slow _start is in flight — the lock is no
    longer held across the start (ADVICE r8 item 3); the in-flight
    start shows as a queued start for its cid."""
    import threading as _t
    import time as _time

    gate = _t.Event()
    started = _t.Event()
    log: list = []

    def slow_start(conn):
        started.set()
        assert gate.wait(10)
        return FakeQuery(conn.id, log)

    sup = StreamingSupervisor(slow_start)
    # start_all waits on the calling thread until the start has run,
    # so drive it from a helper thread to observe concurrency
    t = _t.Thread(target=lambda: sup.start_all({10: _conn(10)}), daemon=True)
    t.start()
    assert started.wait(10)
    t0 = _time.monotonic()
    reason = sup.busy_reason()
    assert _time.monotonic() - t0 < 2.0  # promptly, not after the start
    assert reason is not None and "10" in reason  # queued start visible
    gate.set()
    t.join(10)
    assert set(sup.running) == {10}
    sup.stop_all()


def test_disable_during_slow_start_stops_orphan():
    """A disable that lands WHILE _start is executing supersedes the
    start; the query the start created must be stopped, not
    leaked beside an empty registry."""
    import threading as _t

    gate = _t.Event()
    started = _t.Event()
    log: list = []
    made: list = []

    def slow_start(conn):
        started.set()
        assert gate.wait(10)
        q = FakeQuery(conn.id, log)
        made.append(q)
        return q

    sup = StreamingSupervisor(slow_start)
    t = _t.Thread(target=lambda: sup.start_all({10: _conn(10)}), daemon=True)
    t.start()
    assert started.wait(10)
    # disable arrives mid-start: supersedes the in-flight start
    sup.apply(ConfigDiff(added=(), removed=(), changed=(10,)),
              {10: _conn(10, enabled=False)})
    gate.set()
    t.join(10)
    sup.quiesce()  # orphan stop drains on a background thread
    assert not sup.running
    assert len(made) == 1 and made[0].stopped  # orphan was stopped


def test_restart_during_slow_start_never_overlaps():
    """ADVICE r9 item 1: a RESTART (changed cid) that lands while a
    slow _start is executing used to find nothing in _queries or
    _stopping, pop the old token, and fast-path a SECOND _start for the
    same cid — two live queries overlapping on the shared checkpoint
    dir until the first start returned and noticed it was superseded.
    The successor must chain behind the in-flight start: it may only
    begin once the orphan's stop has been scheduled AND completed."""
    import threading as _t
    import time as _time

    gate = _t.Event()
    started = _t.Event()
    log: list = []
    made: list = []
    live: list = []  # queries created and not yet stopped

    def slow_start(conn):
        # the invariant under test: at no instant do two un-stopped
        # queries for cid 10 exist
        assert not [q for q in live if not q.stopped], "checkpoint collision!"
        if conn.source.name == "v1":
            started.set()
            assert gate.wait(10)
        q = FakeQuery(conn.id, log)
        made.append(q)
        live.append(q)
        log.append(("start", conn.source.name))
        return q

    sup = StreamingSupervisor(slow_start)
    t = _t.Thread(target=lambda: sup.start_all({10: _conn(10, name="v1")}), daemon=True)
    t.start()
    assert started.wait(10)
    # restart arrives mid-start: must queue behind the in-flight v1
    # start, not fast-path a parallel v2 start
    sup.apply(ConfigDiff(added=(), removed=(), changed=(10,)),
              {10: _conn(10, name="v2")})
    _time.sleep(0.5)  # give a buggy fast path time to start v2 early
    assert made == [], "v2 started beside the in-flight v1 start"
    gate.set()
    t.join(10)
    deadline = _time.time() + 10
    while _time.time() < deadline and 10 not in sup.running:
        _time.sleep(0.05)
    sup.quiesce()
    assert len(made) == 2  # v1 orphan + live v2
    assert made[0].stopped and not made[1].stopped
    assert ("start", "v1") in log and ("start", "v2") in log
    assert sup.running[10] is made[1]
    sup.stop_all()


def test_stop_all_surfaces_wedged_start(recwarn):
    """ADVICE r10 item 2: a _start slower than stop_all's bounded wait
    used to schedule its orphan's stop only after stop_all had already
    snapshotted _stopping — the orphan silently outlived shutdown. Now
    stop_all warns about the wedged start, busy_reason keeps reporting
    it, and once the start finally returns its orphan is stopped."""
    import threading as _t
    import time as _time
    import warnings as _w

    from kassette_server_spark.streaming import supervisor as sup_mod

    gate = _t.Event()
    started = _t.Event()
    log: list = []
    made: list = []

    def slow_start(conn):
        started.set()
        assert gate.wait(30)
        q = FakeQuery(conn.id, log)
        made.append(q)
        return q

    old_grace = sup_mod.START_WAIT_GRACE_S
    old_drain = sup_mod.DRAIN_TIMEOUT_S
    sup_mod.START_WAIT_GRACE_S = 0.2
    sup_mod.DRAIN_TIMEOUT_S = 0.2
    try:
        sup = sup_mod.StreamingSupervisor(slow_start)
        t = _t.Thread(target=lambda: sup.start_all({10: _conn(10)}), daemon=True)
        t.start()
        assert started.wait(10)
        with _w.catch_warnings(record=True) as caught:
            _w.simplefilter("always")
            sup.stop_all()  # bounded: returns despite the wedged start
        assert any(
            issubclass(w.category, RuntimeWarning)
            and "starts still in flight" in str(w.message)
            for w in caught
        ), [str(w.message) for w in caught]
        # the wedged start is SURFACED, not silently leaked
        reason = sup.busy_reason()
        assert reason is not None and "in flight" in reason
        gate.set()  # start finally returns; stop_all superseded it,
        t.join(10)  # so its worker stops the orphan next
        deadline = _time.time() + 10
        while _time.time() < deadline and sup.busy_reason() is not None:
            _time.sleep(0.05)
        sup.quiesce()
        assert sup.busy_reason() is None
        assert len(made) == 1 and made[0].stopped  # orphan stopped
        assert not sup.running
    finally:
        sup_mod.START_WAIT_GRACE_S = old_grace
        sup_mod.DRAIN_TIMEOUT_S = old_drain


def test_stop_all_joins_healthy_siblings_of_a_wedged_drain():
    """ADVICE r11: stop_all's final join used all() over a generator,
    which short-circuits on the first wedged drain and never awaited
    the remaining (healthy, instantly-joinable) drains in the same
    snapshot — shutdown could return with joinable drains still
    running. Now every cid in the snapshot is awaited before the
    bounded exit: the wedged drain still bounds the loop, but its
    healthy sibling is joined and untracked first."""
    import threading as _t
    import time as _time

    from kassette_server_spark.streaming import supervisor as sup_mod

    release = _t.Event()
    log: list = []

    class WedgedQuery(FakeQuery):
        def stop(self):
            release.wait(30)
            super().stop()

    class SlowButHealthyQuery(FakeQuery):
        def stop(self):
            _time.sleep(0.05)  # real drain work, but joinable
            super().stop()

    old_drain = sup_mod.DRAIN_TIMEOUT_S
    old_grace = sup_mod.START_WAIT_GRACE_S
    sup_mod.DRAIN_TIMEOUT_S = 0.3
    sup_mod.START_WAIT_GRACE_S = 0.1
    try:
        queries: dict[int, FakeQuery] = {}

        def start(conn):
            q = (WedgedQuery if conn.id == 10 else SlowButHealthyQuery)(
                conn.id, log
            )
            queries[conn.id] = q
            return q

        sup = sup_mod.StreamingSupervisor(start)
        sup.start_all({10: _conn(10), 11: _conn(11)})
        sup.stop_all()  # bounded: returns despite the wedged 10
        # the healthy sibling was joined (stopped AND settled)
        # before the bounded exit, not skipped
        assert queries[11].stopped
        reason = sup.busy_reason()
        # only the wedged drain remains
        assert reason == "stops draining for connections [10]", reason
        release.set()
        sup.quiesce()
        assert queries[10].stopped
        assert sup.busy_reason() is None
    finally:
        sup_mod.DRAIN_TIMEOUT_S = old_drain
        sup_mod.START_WAIT_GRACE_S = old_grace


def test_random_interleavings_converge_without_overlap():
    """Seeded stress: three actors, serialized the way ConfigStore
    serializes its on_change callers, issue add / change / disable /
    remove diffs over two connections while starts and stops take
    random short sleeps and 10 % of starts fail. One stop in four
    outlasts apply()'s 0.5 s wait, so later diffs land while the
    worker is still draining or starting. No start may ever see
    an un-stopped query for its connection, and after quiesce()
    ``running`` and ``failed_starts`` match the last desired state with
    every other query stopped."""
    import sys

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # preempt threads often
    try:
        for seed in range(4):
            _interleave_once(seed)
    finally:
        sys.setswitchinterval(switch)


def _interleave_once(seed: int) -> None:
    import itertools
    import random
    import threading as _t
    import time as _time

    rng = random.Random(seed)
    rng_lock = _t.Lock()

    def draw(fn):
        with rng_lock:
            return fn(rng)

    made: list = []
    overlaps: list = []

    class SlowQuery(FakeQuery):
        def stop(self):
            slow = draw(lambda r: r.random() < 0.25)
            _time.sleep(draw(lambda r: r.uniform(0.5, 0.54)) if slow else 0.01)
            super().stop()

    def start(conn):
        # an assert here would only be recorded as a failed start
        live = [q for q in made if q.cid == conn.id and not q.stopped]
        if live:
            overlaps.append((conn.id, conn.source.name))
        _time.sleep(draw(lambda r: r.uniform(0, 0.04)))
        if draw(lambda r: r.random() < 0.1):
            raise RuntimeError(f"start {conn.source.name} failed")
        q = SlowQuery(conn.id, [])
        q.conn = conn
        made.append(q)
        return q

    sup = StreamingSupervisor(start)
    conns: dict[int, Connection] = {}
    store_lock = _t.Lock()  # ConfigStore's mutation lock
    version = itertools.count()

    def actor(k: int):
        arng = random.Random(seed * 10 + k)
        for _ in range(15):
            cid = arng.choice((10, 11))
            op = arng.choice(("add", "change", "disable", "remove"))
            with store_lock:
                name = f"v{next(version)}"
                if op == "add" and cid not in conns:
                    conns[cid] = _conn(cid, name)
                    diff = ConfigDiff(added=(cid,), removed=(), changed=())
                elif op == "remove" and cid in conns:
                    del conns[cid]
                    diff = ConfigDiff(added=(), removed=(cid,), changed=())
                elif op in ("change", "disable") and cid in conns:
                    conns[cid] = _conn(cid, name, enabled=op == "change")
                    diff = ConfigDiff(added=(), removed=(), changed=(cid,))
                else:
                    continue
                sup.apply(diff, dict(conns))
            _time.sleep(arng.uniform(0, 0.04))

    actors = [_t.Thread(target=actor, args=(k,), daemon=True) for k in range(3)]
    for a in actors:
        a.start()
    for a in actors:
        a.join(30)
    assert not any(a.is_alive() for a in actors)
    sup.quiesce()

    assert not overlaps, (seed, overlaps)
    enabled = {cid: c for cid, c in conns.items() if c.enabled}
    running, failed = sup.running, sup.failed_starts
    assert set(running) | set(failed) == set(enabled), (seed, running, failed)
    assert not set(running) & set(failed), seed
    for cid, q in running.items():
        assert q.conn is enabled[cid] and not q.stopped, seed
    assert all(q.stopped for q in made if q not in running.values()), seed
    assert sup.busy_reason() == (
        f"queries running for connections {sorted(running)}" if running else None
    )
    sup.stop_all()
    assert all(q.stopped for q in made) and sup.busy_reason() is None
