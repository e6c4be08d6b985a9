"""Static oracle hygiene sweep (VERDICT r7 "Next round" #2).

DuckDB widens a window ``SUM(BIGINT)`` to HUGEINT; pandas materializes
HUGEINT as float64 while the Spark side emits int64 — numerically equal
values, divergent driver hash (r7's single red row, q143). ``DESCRIBE``
is static (no execution), so this sweeps every registered oracle's
output column types and kills the whole failure class: any future
forgotten cast fails here in milliseconds instead of at the driver.
"""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from kassette_server_spark.oracle import duckdb_connection
from kassette_server_spark.queries import all_specs

from conftest import SF_SMOKE

SPECS = all_specs()
ORACLED = sorted(n for n, s in SPECS.items() if s.oracle is not None)

FORBIDDEN = ("HUGEINT", "UHUGEINT")


@pytest.fixture(scope="module")
def con():
    c = duckdb_connection(SF_SMOKE)
    yield c
    c.close()


def test_dtype_gate_catches_prefix_q143(con, spark):
    """The local mirror must fail the way the driver fails: r7's q143
    oracle (pre-CAST) compares value-equal but hash-divergent
    (float64 vs int64). With the r8 driver-fidelity dtype gate
    (oracle._hash_dtype), the pre-fix form is red LOCALLY."""
    import dataclasses

    from kassette_server_spark.oracle import compare

    s = SPECS["q143_weighted_median"]
    prefix = dataclasses.replace(
        s, oracle=s.oracle.replace("CAST(MIN(tot) AS BIGINT)", "MIN(tot)")
    )
    assert prefix.oracle != s.oracle, "fixture drifted: CAST not found"
    res = compare(spark, prefix, SF_SMOKE)
    assert not res.ok and "dtype mismatch" in res.detail
    assert compare(spark, s, SF_SMOKE).ok


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_no_hugeint_outputs(con, name):
    desc = con.execute(f"DESCRIBE {SPECS[name].oracle}").fetchall()
    bad = [
        (col, typ)
        for col, typ, *_ in desc
        if any(f in typ.upper() for f in FORBIDDEN)
    ]
    assert not bad, (
        f"{name}: oracle emits {bad} — pandas renders HUGEINT as float64 "
        f"while Spark emits int64, so the driver hash diverges even when "
        f"values match (q143 r7). CAST the aggregate output to BIGINT."
    )


def test_bench_composed_tier_names_are_registered():
    """bench.py's COMPOSED tier membership is a name list: a spec
    rename would silently shift the core/composed band split instead
    of failing. Lock every tier name to the live registry."""
    import bench

    missing = sorted(bench.COMPOSED - set(SPECS))
    assert not missing, f"COMPOSED tier names not in registry: {missing}"


def test_bench_codec_tier_names_are_registered():
    """Same lock for the CODEC band (VERDICT r11 #2): a rename or
    retirement of a codec spec must fail here, not silently move its
    cost between bands. Also pin the tiers disjoint — a spec counted
    in two bands would double-subtract from core."""
    import bench

    missing = sorted(bench.CODEC - set(SPECS))
    assert not missing, f"CODEC tier names not in registry: {missing}"
    assert not (bench.CODEC & bench.COMPOSED)


def test_bench_compact_doc_fits_capture_window_worst_case():
    """VERDICT r15 "What's wrong" #1: the r15 compact stdout doc
    embedded a per-spec map, overflowed the driver's ~2.3 KB stdout
    tail capture, and the round recorded parsed:null — the exact r6
    failure the code comments warned about. Lock the doc under
    COMPACT_DOC_MAX at WORST-CASE inputs: a full-registry-sized timing
    map with the longest real spec names and wide values, and five
    sentinel samples."""
    import json

    import bench

    long_names = sorted(SPECS, key=len, reverse=True)
    timings = {n: 12345.6789 for n in long_names}
    doc = bench.build_compact_doc(
        timings=timings,
        total=123456.7891,
        core_total=12345.6789,
        n_core=214,
        composed_total=12345.6789,
        n_composed=17,
        codec_total=12345.6789,
        n_codec=29,
        sentinel="q14_topk",
        sentinel_samples=[10.4297, 10.3148, 10.2099, 10.1304, 10.1244],
        sf=0.001,
    )
    assert len(doc) < bench.COMPACT_DOC_MAX
    parsed = json.loads(doc)
    assert len(parsed["queries"]) == 10
    assert set(parsed["queries"]) <= set(long_names)


class _FakeStatus:
    """statusTracker() and status-store stand-in: job ids per group,
    stage ids per job, how many stages each job executed, and the
    status of each stage the store still holds (absent = evicted)."""

    def __init__(self, groups, stages, ran, status):
        self.groups, self.stages, self.ran, self.status = groups, stages, ran, status

    def getJobIdsForGroup(self, group):
        return self.groups.get(group, [])

    def getJobInfo(self, jid):
        return SimpleNamespace(stageIds=self.stages[jid])

    def job(self, jid):
        return SimpleNamespace(
            numCompletedStages=lambda: self.ran[jid], numFailedStages=lambda: 0
        )

    def lastStageAttempt(self, sid):
        from py4j.protocol import Py4JJavaError

        if sid not in self.status:
            raise Py4JJavaError("evicted", SimpleNamespace(_target_id="o0"))
        state = SimpleNamespace(toString=lambda: self.status[sid])
        return SimpleNamespace(status=lambda: state)


def _fake_spark(fake):
    jsc_sc = SimpleNamespace(
        listenerBus=lambda: SimpleNamespace(waitUntilEmpty=lambda: None),
        statusStore=lambda: fake,
    )
    return SimpleNamespace(
        sparkContext=SimpleNamespace(
            statusTracker=lambda: fake, _jsc=SimpleNamespace(sc=lambda: jsc_sc)
        )
    )


_FAKE_METRICS = {
    "spark.jobs": 2.0,
    "spark.stages": 3.0,
    "spark.tasks": 11.0,
    "spark.spill_bytes": 0.0,
    "spark.executor_run_s": 0.41200000000000003,
    "spark.executor_cpu_s": 0.3,
    "spark.jvm_gc_s": 0.0,
    "spark.input_bytes": 6528.0,
    "spark.shuffle_read_bytes": 314755.0,
    "spark.shuffle_write_bytes": 314755.0,
    "spark.result_bytes": 12457.0,
}


def test_bench_full_layer_entry_schema(monkeypatch):
    """ROADMAP item 1: each spec's BENCH_FULL.json ``layers`` entry
    carries the build/exec split and the last sample's counts under
    pinned keys, built here from a fake job_metrics reading. Skipped
    stages that left the store do not void the counts."""
    import bench

    seen = []

    def fake_job_metrics(spark, job_ids):
        seen.append(list(job_ids))
        return dict(_FAKE_METRICS)

    monkeypatch.setattr(bench, "job_metrics", fake_job_metrics)
    fake = _FakeStatus(
        groups={"prev": [1, 2], "last": [4, 3]},
        stages={3: [5, 6], 4: [7, 8]},
        ran={3: 2, 4: 1},
        status={5: "COMPLETE", 6: "COMPLETE", 7: "COMPLETE"},  # 8 skipped, evicted
    )
    counts = bench.layer_counts(_fake_spark(fake), "prev", "last")
    assert seen == [[3, 4]]
    assert bench.layer_entry(0.123456, 0.98765, counts) == {
        "build_s": 0.1235,
        "exec_s": 0.9877,
        "jobs": 2,
        "stages": 3,
        "tasks": 11,
        "executor_run_s": 0.412,
        "input_bytes": 6528,
        "shuffle_read_bytes": 314755,
        "shuffle_write_bytes": 314755,
    }


def test_bench_layer_counts_null_when_evicted(monkeypatch):
    """A sample whose oldest jobs (a gap after the previous sample's
    ids) or any stage it executed left the status store records null
    counts, never an undercount."""
    import bench

    monkeypatch.setattr(bench, "job_metrics", lambda spark, ids: dict(_FAKE_METRICS))
    stages, ran = {5: [1], 6: [2], 7: [3]}, {5: 1, 6: 1, 7: 1}
    done = {1: "COMPLETE", 2: "COMPLETE", 3: "COMPLETE"}
    cases = [
        _FakeStatus({"prev": [3], "last": [6, 7]}, stages, ran, done),  # job 4 gone
        _FakeStatus({"prev": [], "last": [5, 6, 7]}, stages, ran, done),  # no boundary
        _FakeStatus({"prev": [4], "last": [5, 6, 7]}, stages, ran, {1: "COMPLETE", 3: "COMPLETE"}),
    ]
    for fake in cases:
        assert bench.layer_counts(_fake_spark(fake), "prev", "last") is None
    entry = bench.layer_entry(0.5, 1.5, None)
    assert entry["build_s"] == 0.5 and entry["exec_s"] == 1.5
    assert all(entry[k] is None for k in bench.LAYER_KEYS)


def test_bench_window_has_video_tier_first_rows():
    """VERDICT r15 #2: q259/q260 must be inside the 50-spec driver
    window this round (first driver rows the round after birth)."""
    from kassette_server_spark.queries import _WINDOW

    assert "q259_mjpeg_avi_frames" in _WINDOW
    assert "q260_mjpeg_avi_resample" in _WINDOW
    assert len(_WINDOW) == 50
