"""tools/profile.py, run in-process on the session fixture: the
default profile mode reports bench.py's build/exec split and layer
counts, --plans writes a formatted plan dump, --oracle checks parity."""

from __future__ import annotations

import json

from conftest import SF_SMOKE

from tools import profile

SPEC = "q01_scan_filter"


def test_profile_modes(spark, tmp_path, capsys):
    assert profile.main([SPEC, "--sf", SF_SMOKE], spark=spark) == 0
    row = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert row["spec"] == SPEC
    assert len(row["all_s"]) == profile.RUNS == 3
    assert row["total_s"] == min(row["all_s"])
    assert row["build_s"] >= 0 and row["exec_s"] > 0
    assert row["jobs"] >= 1 and row["stages"] >= 1 and row["tasks"] >= 1
    assert row["input_bytes"] > 0

    argv = [SPEC, "--sf", SF_SMOKE, "--plans", "t", "--out", str(tmp_path)]
    assert profile.main(argv, spark=spark) == 0
    assert "== Physical Plan ==" in (tmp_path / f"{SPEC}_t.txt").read_text()

    assert profile.main([SPEC, "--sf", SF_SMOKE, "--oracle"], spark=spark) == 0
    out = capsys.readouterr().out
    assert f"{SPEC} OK" in out and "TALLY ok=1 fail=0" in out
