"""Streaming-query supervisor: config changes → query lifecycle.

The reference polls config every 5 s and, on a reflect.DeepEqual diff,
tears down and re-creates the affected pipeline workers
(backendconfig/configdb.go:83-94; processor/processor.go worker pools
keyed by connection). Here a connection ≡ one Structured Streaming
query (SURVEY §1.1), so the supervisor's job is exactly: on a
ConfigDiff, stop removed/changed queries and (re)start added/changed
ones. Restarts resume from the per-connection checkpoint — no data
loss, the at-least-once + ledger-dedup contract is unchanged.

Wire it to the control plane as ``ConfigStore(on_change=sup.apply)``
(sources/config_api.py) or call ``apply`` from any config poll loop.
"""

from __future__ import annotations

import os
import threading
import time
import warnings
from collections.abc import Callable

from pyspark.sql import SparkSession

from ..config import Connection
from ..sources.configstore import ConfigDiff

StartFn = Callable[[Connection], object]
"""(connection) -> StreamingQuery; the supervisor owns stop/restart."""

#: how long a config-driven stop waits for the in-flight micro-batch
#: to drain before interrupting anyway
DRAIN_TIMEOUT_S = 10.0

#: extra slack stop_all grants beyond the drain window for in-flight
#: starts to schedule their orphans' stops and for those stops to join
#: (module-level so tests can shrink it; production default generous —
#: a Spark streaming-query start can take seconds)
START_WAIT_GRACE_S = 10.0


def _drain_then_stop(q, timeout_s: float = DRAIN_TIMEOUT_S) -> None:
    """Stop a streaming query POLITELY: let in-flight work finish
    (processAllAvailable) before stop() interrupts the execution
    thread. A bare stop() can land BETWEEN a foreachBatch's side
    effect (delivery) and its ledger append — the restart then replays
    a batch the ledger never saw, re-sending it (round-7 churn-soak
    finding; the reference likewise drains its workers before a config
    teardown). processAllAvailable has no timeout parameter and would
    hang forever on a busy source, so it runs on a scrap thread with a
    bounded join; the interrupt remains the backstop, and the
    idempotent-sink contract covers that residual window."""
    drain = getattr(q, "processAllAvailable", None)
    if drain is not None:
        t = threading.Thread(target=lambda: _swallow(drain), daemon=True)
        t.start()
        t.join(timeout_s)
    q.stop()


def _swallow(fn) -> None:
    try:
        fn()
    except Exception:
        pass  # a concurrently-stopped query raises; stop() handles it


class StreamingSupervisor:
    def __init__(self, start: StartFn):
        self._start = start
        self._queries: dict[int, object] = {}
        #: in-flight drain-then-stop threads, one per connection id
        self._stopping: dict[int, threading.Thread] = {}
        #: per-cid pending-start token: the ONE queued/in-flight start
        #: that currently owns the right to populate _queries[cid].
        #: apply() supersedes it (fresh token, or pop on disable) before
        #: scheduling anything new, and every start re-checks its token
        #: under the lock before going live — closing the round-8 advice
        #: race where two waiters on one pending stop both started (two
        #: live queries sharing a checkpoint dir), and where an
        #: enable-then-disable left a waiter to start a query for a
        #: now-disabled connection that nothing would ever stop.
        self._pending_start: dict[int, object] = {}
        #: cid -> repr(exception) of the most recent FAILED start. A
        #: start that throws (bad config, checkpoint corruption) used
        #: to die silently on its waiter daemon thread, leaving the
        #: connection enabled-but-never-running with no surfaced error
        #: (ADVICE r8 item 3); now the failure is recorded here, read
        #: via ``failed_starts``, and cleared by the next successful
        #: start or disable of the same cid.
        self._failed: dict[int, str] = {}
        #: cid -> Event for a ``_start`` call currently EXECUTING (as
        #: opposed to queued — that's ``_pending_start``). A restart
        #: that arrives mid-start must chain behind this the same way
        #: it chains behind ``_stopping``: without it, apply(changed)
        #: finds nothing in _queries or _stopping, pops the old token,
        #: and fast-paths a second ``_start`` for the same cid — two
        #: live queries overlapping on the shared checkpoint dir until
        #: the first start returns and notices it was superseded
        #: (ADVICE r9 item 1). The event is set only AFTER the start's
        #: outcome is registered (query live, failure recorded, or
        #: orphan stop scheduled into ``_stopping``), so a successor
        #: waking on it always sees the stop it must join.
        self._starting: dict[int, threading.Event] = {}
        # RLock: _finish_start -> _start may be re-entered by callbacks
        self._lock = threading.RLock()

    @property
    def running(self) -> dict[int, object]:
        return dict(self._queries)

    @property
    def failed_starts(self) -> dict[int, str]:
        """cid -> error repr for connections whose last start THREW.
        Health surfaces (M3 /router-job-status) should report these —
        an enabled connection in here is down, not pending."""
        with self._lock:
            return dict(self._failed)

    def busy_reason(self) -> str | None:
        """A human-readable reason the supervisor is NOT quiescent
        (running queries, winding-down stops, or queued starts), or
        None when idle. Maintenance operations that require quiescence
        — ledger compaction above all — consult this to fail loudly
        instead of racing a live stream."""
        with self._lock:
            self._reap_stopped()
            if self._queries:
                return f"queries running for connections {sorted(self._queries)}"
            if self._stopping:
                return f"stops draining for connections {sorted(self._stopping)}"
            if self._pending_start:
                return f"starts queued for connections {sorted(self._pending_start)}"
            # a disable that lands mid-start pops the token but the
            # Spark start is still executing — not quiescent until its
            # orphan is handed to _stopping
            if self._starting:
                return f"starts in flight for connections {sorted(self._starting)}"
        return None

    def _reap_stopped(self) -> None:
        for cid, t in list(self._stopping.items()):
            if not t.is_alive():
                self._stopping.pop(cid, None)

    def apply(self, diff: ConfigDiff, conns: dict[int, Connection]) -> None:
        """Reconcile running queries with a config diff: stop removed,
        restart changed (new plan compiles from the new config, state
        resumes from the checkpoint), start added.

        Stops AND slow restarts run on BACKGROUND threads (round-7
        review findings: apply() is the ConfigStore's on_change
        callback and executes inside its mutation lock — any long wait
        here freezes ingest auth and the whole config surface). A
        restart of the SAME id must never overlap its predecessor on
        the shared checkpoint directory, so the start takes a short
        fast-path join on the pending stop (the common case: the drain
        finished long ago) and otherwise hands the join-then-start to
        a waiter thread — the new query appears in ``running`` when the
        old one is actually gone, never beside it. Each scheduled start
        carries a per-cid token; a later apply() for the same cid
        supersedes it, so stacked reconfigs converge to exactly the
        LAST desired state — never two live queries, never a stranded
        query for a disabled connection."""
        for cid in diff.removed + diff.changed:
            with self._lock:
                # supersede any queued start for this cid: its waiter
                # will find its token gone and do nothing
                self._pending_start.pop(cid, None)
                self._failed.pop(cid, None)  # disabled ≠ failed
                q = self._queries.pop(cid, None)
            if q is not None:
                self._begin_stop(cid, q)
        for cid in diff.added + diff.changed:
            conn = conns[cid]
            if not conn.enabled:
                continue
            self._start_after_stop(cid, conn)

    def _begin_stop(self, cid: int, q) -> None:
        """Schedule this query's drain-then-stop, chained behind any
        predecessor stop for the same cid.

        The read-of-prev, thread start, and tracking-entry install all
        happen under ``self._lock`` (ADVICE r10 item 1): two concurrent
        ``_begin_stop`` calls for one cid — an apply-driven stop racing
        a superseded start's orphan stop — previously interleaved the
        unlocked read-join-write and the loser's drain thread ran
        UNTRACKED, invisible to quiesce()/busy_reason(). Chaining
        unconditionally replaces the old bounded fast-path join: a
        finished predecessor joins instantly inside the new thread, a
        wedged one serializes behind, and the caller never blocks. The
        install happens before the lock is released, and every tracked
        thread is started inside the same critical section that
        installed it, so a racer always observes a STARTED predecessor
        (joining an unstarted thread raises)."""
        with self._lock:
            prev = self._stopping.get(cid)
            if prev is not None and prev.is_alive():

                def chained(prev=prev, q=q):
                    prev.join()
                    _drain_then_stop(q)

                t = threading.Thread(target=chained, daemon=True)
            else:
                t = threading.Thread(
                    target=_drain_then_stop, args=(q,), daemon=True
                )
            t.start()
            self._stopping[cid] = t

    def _start_after_stop(self, cid: int, conn: Connection) -> None:
        token = object()
        with self._lock:
            self._pending_start[cid] = token  # newest start owns cid
            # read _starting in the SAME critical section that installs
            # the token (ADVICE r10 item 3): _finish_start's ownership
            # check and its _starting install share one locked block,
            # so either we see its in-flight event here (and chain), or
            # our token landed first and that start's ownership check
            # will fail before it creates a query — no ordering of the
            # two blocks readmits the two-live-queries race.
            starting = self._starting.get(cid)
        # fast path: no in-flight start AND no pending stop
        if starting is None and self._await_stop(cid, 0.5):
            self._finish_start(cid, conn, token)
            return

        def waiter(cid=cid, conn=conn, token=token):
            # chain behind BOTH predecessor kinds, re-checking after
            # each wait: an in-flight _start, once superseded, SCHEDULES
            # a stop for its orphan before releasing its event, so the
            # loop must look again for a _stopping entry it just missed
            # (ADVICE r9 item 1 — restart-mid-start overlap).
            while True:
                ev = self._starting.get(cid)
                if ev is not None:
                    ev.wait()  # unbounded, but OFF the config-store lock
                    continue
                pending = self._stopping.get(cid)
                if pending is None:
                    break
                pending.join()
                with self._lock:
                    # pop only OUR pending stop — a chained newer stop
                    # may have replaced the entry while we slept
                    if self._stopping.get(cid) is pending:
                        self._stopping.pop(cid, None)
            self._finish_start(cid, conn, token)

        threading.Thread(target=waiter, daemon=True).start()

    def _finish_start(self, cid: int, conn: Connection, token: object) -> None:
        """Go live iff this start still owns the cid (its token was not
        superseded by a later apply()).

        The slow ``_start`` (a Spark streaming-query start can take
        seconds) runs OUTSIDE the lock — holding it across the start
        froze ``busy_reason()`` (hence ledger compaction's quiescence
        probe) and ``apply()`` for the duration (ADVICE r8 item 3).
        The token STAYS in ``_pending_start`` while the start runs, so
        quiescence still sees a queued start, and the post-start
        critical section re-checks ownership: a disable or newer start
        that arrived mid-start superseded the token, and the query this
        thread just created — which nothing registered — is stopped
        here rather than leaking beside its successor. A throwing
        ``_start`` is recorded in ``_failed`` instead of silently
        killing the waiter daemon thread."""
        in_flight = threading.Event()
        with self._lock:
            if self._pending_start.get(cid) is not token:
                return  # superseded: disabled, or a newer start owns cid
            # claim WITHOUT popping: the token doubles as the
            # in-flight placeholder for busy_reason/supersede checks.
            # The _starting event marks the EXECUTING start: a restart
            # arriving mid-start chains behind it (ADVICE r9 item 1)
            # instead of fast-pathing a second start for the same cid.
            self._starting[cid] = in_flight
        try:
            try:
                q = self._start(conn)
            except Exception as exc:  # noqa: BLE001 — any start failure
                with self._lock:
                    if self._pending_start.get(cid) is token:
                        self._pending_start.pop(cid, None)
                        self._failed[cid] = repr(exc)
                return
            with self._lock:
                if self._pending_start.get(cid) is token:
                    self._pending_start.pop(cid, None)
                    self._queries[cid] = q
                    self._failed.pop(cid, None)
                    return
            # superseded while starting: stop the orphan we just
            # created (background drain keeps this thread off the slow
            # path). This registers the stop in _stopping BEFORE the
            # finally block releases the in-flight event, so a queued
            # successor waking on the event finds the stop and chains
            # behind it — never starting beside the orphan.
            self._begin_stop(cid, q)
        finally:
            with self._lock:
                if self._starting.get(cid) is in_flight:
                    self._starting.pop(cid, None)
            in_flight.set()

    def _await_stop(self, cid: int, timeout_s: float | None) -> bool:
        """Join the pending stop; True iff none remains. A timed-out
        thread STAYS tracked (popping it would hide a still-running
        query from quiesce and the restart path — round-7 second-pass
        review finding). The read and the pop each hold ``self._lock``
        (ADVICE r10 item 1) — the join itself runs unlocked so a long
        drain never freezes busy_reason()/apply() — and the pop is
        identity-checked: a chained newer stop may have replaced the
        entry while this thread joined, and popping THAT one would
        untrack a live drain."""
        with self._lock:
            t = self._stopping.get(cid)
        if t is None:
            return True
        t.join(timeout_s)
        if t.is_alive():
            return False
        with self._lock:
            if self._stopping.get(cid) is t:
                self._stopping.pop(cid, None)
        return True

    def quiesce(self) -> None:
        """Join every pending background stop (unbounded) — for tests
        and maintenance windows that need 'no query is still winding
        down' as a hard fact rather than an eventuality. Re-snapshots
        until the map is empty: a joined stop can register a chained
        successor (or a superseded start its orphan's stop) that a
        single pass would miss."""
        while True:
            with self._lock:
                cids = list(self._stopping)
            if not cids:
                return
            for cid in cids:
                self._await_stop(cid, None)

    def start_all(self, conns: dict[int, Connection]) -> None:
        self.apply(ConfigDiff(tuple(sorted(conns)), (), ()), conns)

    def stop_all(self) -> None:
        """Drain every query in PARALLEL (serial drains cost up to
        DRAIN_TIMEOUT_S x N on shutdown), then join them all."""
        with self._lock:
            # cancel queued starts FIRST: a waiter that wakes during
            # shutdown must find its token gone, not start a query
            # nobody will stop
            self._pending_start.clear()
            queries = list(self._queries.items())
            self._queries.clear()
        for cid, q in queries:
            self._begin_stop(cid, q)
        # an in-flight start whose token we just cleared will schedule
        # its orphan's stop itself — wait for it to do so before the
        # final join, RE-CHECKING the map after each bounded wait
        # (ADVICE r10 item 2): a _start slower than the deadline used
        # to schedule its orphan's stop only after this method had
        # already snapshotted _stopping, so the orphan outlived
        # stop_all undetected. Now a wedged start is SURFACED with a
        # warning (busy_reason keeps reporting it too) instead of
        # silently leaked.
        deadline = time.monotonic() + DRAIN_TIMEOUT_S + START_WAIT_GRACE_S
        while True:
            with self._lock:
                events = list(self._starting.items())
            if not events:
                break
            remaining = deadline - time.monotonic()
            if remaining <= 0:
                warnings.warn(
                    "stop_all: starts still in flight for connections "
                    f"{sorted(cid for cid, _ in events)} after bounded "
                    "wait; their orphan stops may land after shutdown "
                    "(supervisor stays non-quiescent until they do)",
                    RuntimeWarning,
                    stacklevel=2,
                )
                break
            events[0][1].wait(remaining)
        # join the stops, re-snapshotting: a start that finished during
        # the wait above registered its orphan's stop AFTER our first
        # look, and a drain can chain a successor. Wedged drains stay
        # tracked (visible to busy_reason) and bound the loop.
        while True:
            with self._lock:
                cids = list(self._stopping)
            if not cids:
                break
            # Join EVERY drain in the snapshot before deciding whether
            # to exit: all() over a generator short-circuits on the
            # first wedged drain and would skip joining its (possibly
            # instantly-joinable) siblings (ADVICE r11). The list
            # comprehension evaluates every cid; one wedged drain still
            # bounds the loop, but its siblings get awaited first.
            results = [
                self._await_stop(cid, DRAIN_TIMEOUT_S + START_WAIT_GRACE_S)
                for cid in cids
            ]
            if not all(results):
                break  # a wedged drain: bounded exit, still tracked


def connection_stream_starter(
    spark: SparkSession,
    source_dir_for: Callable[[Connection], str],
    checkpoint_root: str,
    ledger,
    deliver_for: Callable[[Connection], Callable],
    available_now: bool = False,
) -> StartFn:
    """StartFn factory over run_connection_stream: per-connection
    checkpoint dirs (stable across restarts — that's what makes a
    restart a resume) and per-connection deliver functions."""
    from .pipeline import run_connection_stream

    def start(conn: Connection):
        return run_connection_stream(
            spark,
            conn,
            source_dir_for(conn),
            os.path.join(checkpoint_root, f"conn-{conn.id}"),
            ledger,
            deliver_for(conn),
            available_now=available_now,
        )

    return start
