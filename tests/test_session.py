"""The engine session outside the repository: get_spark() must run
Python-worker operators whatever the working directory is and without
PYTHONPATH, since the worker daemon module it configures is imported
by the worker process, not by the driver."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent

_SCRIPT = r"""
import sys
sys.path.insert(0, {repo!r})
from kassette_server_spark.session import get_spark

spark = get_spark(
    app_name="foreign-cwd",
    shuffle_partitions=2,
    extra_conf={{"spark.executorEnv.PYTHONPATH": {extra!r}}},
)
spark.sparkContext.setLogLevel("ERROR")

def ident(batches):
    import extra_mod  # on the caller's executor PYTHONPATH

    for pdf in batches:
        yield pdf + extra_mod.OFFSET

print("ROWS", spark.range(0, 8, 1, 2).mapInPandas(ident, "id long").count())
spark.stop()
"""


def test_map_in_pandas_from_foreign_cwd(tmp_path):
    """Runs with cwd outside the repo and PYTHONPATH unset; the
    caller's own executor PYTHONPATH entry must survive the merge."""
    extra = tmp_path / "extra"
    extra.mkdir()
    (extra / "extra_mod.py").write_text("OFFSET = 0\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=str(REPO_ROOT), extra=str(extra))],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "ROWS 8" in proc.stdout, proc.stderr[-2000:]

