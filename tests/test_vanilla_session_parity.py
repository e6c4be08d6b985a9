"""The driver runs `__spark_entry__` with its OWN vanilla SparkSession
— in Spark 4 that means ANSI mode ON (the repo session turns it off to
mirror the reference's non-ANSI coercions) and no engine conf at all.
A spec that silently relies on a non-ANSI behavior (wraparound, failed
cast -> null, division by zero -> null) would pass every in-repo
parity run and then go RED on its first driver row.

This test pins the contract in CI: a SUBPROCESS (sessions are
per-JVM, so the vanilla session can't be built in the test process,
which already holds the engine-configured one) runs oracle compare for
a representative slice of the window under a fully vanilla session —
the pinned core plus the specs whose expression trees lean hardest on
cast/modulo/log/integer-division behavior. The full 140-spec vanilla
sweep was run by hand in round 6: 140/140 green.
"""

from __future__ import annotations

import subprocess
import sys

from conftest import REPO_ROOT

SPECS = [
    "q01_scan_filter",
    "q11_window_rank",      # window + dense ranking
    "q24_sessionize",       # timestamp arithmetic
    "q102_pagerank",        # integer division + DECIMAL(38,0) product
    "q117_bigram_logprob",  # ln + frequency-cut joins
    "q118_power_iteration_pca",  # FLOAT·INT quantization (ANSI widens to DOUBLE)
    "q136_dow_seasonality", # modulo sign semantics
    "q140_point_in_time_join",
    "q141_dataset_split",   # md5-hex -> BIGINT conv + double compare
    "q142_pareto_frontier",  # integer-cents dominance
    "q143_weighted_median",  # round(x*100) cents cast under ANSI
]

_SCRIPT = """
import sys
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[8]")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
assert spark.conf.get("spark.sql.ansi.enabled") == "true", "expected vanilla ANSI"
from kassette_server_spark.oracle import compare
from kassette_server_spark.queries import all_specs
specs = all_specs()
bad = []
for name in {specs_list!r}:
    r = compare(spark, specs[name], "/root/testdata/sf0.01")
    if not r.ok:
        bad.append((name, r.detail[:150]))
print("VANILLA_RESULT", bad)
sys.exit(1 if bad else 0)
"""


def test_window_specs_pass_under_vanilla_ansi_session():
    p = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(specs_list=SPECS)],
        capture_output=True, text=True, cwd=str(REPO_ROOT), timeout=600,
    )
    assert p.returncode == 0, (
        "specs diverge under the driver's vanilla (ANSI-on) session:\n"
        + p.stdout[-1500:] + p.stderr[-1500:]
    )
