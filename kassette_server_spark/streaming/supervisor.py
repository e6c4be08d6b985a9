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
#: starts to return and for their queries' stops to finish
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


class _Slot:
    """One connection's desired and actual state. Every field is read
    and written under the supervisor's Condition."""

    __slots__ = (
        "want", "gen", "query", "query_gen", "tried", "error", "step", "worker"
    )

    def __init__(self):
        self.want: Connection | None = None  # None: removed or disabled
        self.gen = 0  # bumped by every apply() that touches the cid
        self.query = None  # the live query, of generation query_gen
        self.query_gen = 0
        self.tried = 0  # last generation whose start was attempted
        self.error: str | None = None  # repr of the last failed start
        self.step: str | None = None  # "start" | "stop" while one runs
        self.worker: threading.Thread | None = None


class StreamingSupervisor:
    """Desired-state reconcile loop, one slot per connection.

    ``apply`` records the desired state (bumping the slot's
    generation) and makes sure the slot has a worker thread; the
    worker alone starts and stops that connection's queries. It
    drain-stops any live query that is not of the current generation,
    then starts the desired config once per generation, and exits when
    nothing is left to do. Because one thread owns each connection's
    lifecycle, two live queries can never share a checkpoint directory,
    and restarts mid-start, orphaned starts, stacked reconfigs and
    enable-then-disable during a drain are just more turns of the loop
    that converge to the LAST desired state. Nothing slow ever runs
    under the lock: ``apply`` is the ConfigStore's on_change callback
    and executes inside its mutation lock, so a stop that is slower
    than 0.5 s finishes in the background."""

    def __init__(self, start: StartFn):
        self._start = start
        self._slots: dict[int, _Slot] = {}
        self._cv = threading.Condition(threading.Lock())

    @property
    def running(self) -> dict[int, object]:
        """cid -> live query of the connection's CURRENT config (a
        query that a newer apply() superseded is draining, not running)."""
        with self._cv:
            return self._running()

    def _running(self) -> dict[int, object]:
        return {
            cid: s.query
            for cid, s in self._slots.items()
            if s.query is not None and s.query_gen == s.gen
        }

    @property
    def failed_starts(self) -> dict[int, str]:
        """cid -> error repr for connections whose last start THREW. An
        enabled connection in here is down, not pending, until the next
        apply() touching it; the planned ``/status`` surface (ROADMAP
        item 3) is to report these."""
        with self._cv:
            return {cid: s.error for cid, s in self._slots.items() if s.error}

    def busy_reason(self) -> str | None:
        """A human-readable reason the supervisor is NOT quiescent
        (running queries, draining stops, or queued and in-flight
        starts), or None when idle. Maintenance operations that require
        quiescence — ledger compaction above all — consult this to fail
        loudly instead of racing a live stream."""
        with self._cv:
            running = self._running()
            slots = self._slots.items()
            draining = [
                c
                for c, s in slots
                if s.step == "stop" or s.query is not None and c not in running
            ]
            starting = [c for c, s in slots if s.worker is not None]
        for what, cids in (
            ("queries running", running),
            ("stops draining", draining),
            ("starts queued or in flight", starting),
        ):
            if cids:
                return f"{what} for connections {sorted(cids)}"
        return None

    def apply(self, diff: ConfigDiff, conns: dict[int, Connection]) -> None:
        """Reconcile with a config diff: stop removed, restart changed
        (the new plan compiles from the new config, state resumes from
        the checkpoint), start added.

        Returns once every start this diff requested has run, so a
        connection created through the control plane is in ``running``
        when the request returns. A start that must first wait for its
        predecessor's stop (or an older in-flight start) is waited for
        at most 0.5 s and otherwise lands in the background; removals
        and disables are not waited for."""
        desired: dict[int, Connection | None] = dict.fromkeys(diff.removed)
        desired.update((cid, conns[cid]) for cid in diff.changed + diff.added)
        deadline = time.monotonic() + 0.5
        with self._cv:
            gens = {cid: self._want(cid, conn) for cid, conn in desired.items()}
            for cid, gen in gens.items():
                s = self._slots[cid]
                # until the start runs (tried == gen) the wait is bounded
                while (
                    s.gen == gen
                    and s.want is not None
                    and (s.tried != gen or s.step == "start")
                ):
                    left = None if s.tried == gen else deadline - time.monotonic()
                    if left is not None and left <= 0:
                        break
                    self._cv.wait(left)

    def _want(self, cid: int, conn: Connection | None) -> int:
        """Record the desired state as a new generation and make sure a
        worker will reconcile it. Caller holds the lock."""
        s = self._slots.setdefault(cid, _Slot())
        s.want = conn if conn is not None and conn.enabled else None
        s.gen += 1
        s.error = None  # disabled ≠ failed; a new config gets a new try
        if s.worker is None:
            s.worker = threading.Thread(target=self._work, args=(s,), daemon=True)
            s.worker.start()
        self._cv.notify_all()
        return s.gen

    def _work(self, s: _Slot) -> None:
        with self._cv:
            while True:
                if s.query is not None and s.query_gen != s.gen:
                    q, s.step = s.query, "stop"
                    self._unlocked(_drain_then_stop, q)
                    s.query = None
                elif s.query is None and s.want is not None and s.tried != s.gen:
                    conn, gen = s.want, s.gen
                    s.tried, s.step = gen, "start"
                    q, err = self._unlocked(self._start, conn)
                    if q is not None:  # a superseded one is stopped next turn
                        s.query, s.query_gen = q, gen
                    elif gen == s.gen:
                        s.error = err  # final until the next apply()
                else:
                    s.worker = None
                    self._cv.notify_all()
                    return
                s.step = None
                self._cv.notify_all()

    def _unlocked(self, fn, arg) -> tuple[object, str | None]:
        """fn(arg) with the lock released: (result, None) or
        (None, repr(exception)). A start that throws (bad config,
        checkpoint corruption) is recorded and a stop that throws leaves
        nothing to retry; neither kills the worker."""
        self._cv.release()
        try:
            return fn(arg), None
        except Exception as exc:  # noqa: BLE001 — any start/stop failure
            return None, repr(exc)
        finally:
            self._cv.acquire()

    def quiesce(self) -> None:
        """Wait (unbounded) until no connection has a worker — for tests
        and maintenance windows that need 'no query is still starting
        or winding down' as a hard fact rather than an eventuality."""
        with self._cv:
            self._cv.wait_for(self._settled)

    def _settled(self) -> bool:
        return all(s.worker is None for s in self._slots.values())

    def start_all(self, conns: dict[int, Connection]) -> None:
        self.apply(ConfigDiff(tuple(sorted(conns)), (), ()), conns)

    def stop_all(self) -> None:
        """Turn every connection off (their drains run in PARALLEL, one
        per worker) and wait for the workers, bounded by
        DRAIN_TIMEOUT_S + START_WAIT_GRACE_S. A wedged drain stays
        visible to busy_reason(); a wedged start is warned about, and
        its query is stopped by its worker once the start returns."""
        with self._cv:
            for cid in list(self._slots):
                self._want(cid, None)
            self._cv.wait_for(self._settled, DRAIN_TIMEOUT_S + START_WAIT_GRACE_S)
            wedged = sorted(c for c, s in self._slots.items() if s.step == "start")
        if wedged:
            warnings.warn(
                f"stop_all: starts still in flight for connections {wedged} "
                "after bounded wait; their orphan stops may land after "
                "shutdown (supervisor stays non-quiescent until they do)",
                RuntimeWarning,
                stacklevel=2,
            )


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
