"""What session start warms, and the explicit worker-pool prewarm.

get_spark warms the JVM once per application on local masters but starts
no Python worker: the pool (a ~3 s job plus ~120 MB resident per daemon)
is pure cost for a session that runs no Pandas UDF. Callers about to run
Pandas UDFs call prewarm_python_workers, at most once per application.
The fresh-process first-draw evidence is PREWARM_PROBE.json (captured via
get_spark only, no bench warmups).
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

from weather_data_pipeline_spark import session as S

# Runs in a fresh process: the shared fixture session may already have run
# Pandas UDFs, so its worker pool says nothing about what get_spark starts.
_SCRIPT = r"""
import sys
sys.path.insert(0, @REPO@)
from perfbench.procs import descendants
from weather_data_pipeline_spark import session as S


def daemons():
    # Python processes below this driver: the pyspark.daemon and the
    # workers it forks (children of the JVM, itself a child of this one)
    return [p for p, (comm, _) in descendants().items() if comm.startswith("python")]


warms = []
real_warm = S._warm_jvm_infra
S._warm_jvm_infra = lambda spark: (warms.append(1), real_warm(spark))
spark = S.get_spark("wdp-prewarm-test", cpus=2)
app = spark.sparkContext.applicationId
print("JVM_WARMS_1", len(warms), (app, "jvm") in S._PREWARMED)
assert S.get_spark("wdp-prewarm-test", cpus=2) is spark
print("JVM_WARMS_2", len(warms))
print("DAEMONS_AFTER_GET_SPARK", len(daemons()))
print("POOL_1", S.prewarm_python_workers(spark))
print("DAEMONS_AFTER_POOL", len(daemons()))
print("POOL_2", S.prewarm_python_workers(spark))
spark.stop()
"""


def test_get_spark_warms_jvm_once_and_starts_no_python_workers():
    repo_root = str(Path(__file__).resolve().parents[1])
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_NO_PREWARM"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.replace("@REPO@", repr(repo_root))],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = dict(
        line.split(" ", 1) for line in proc.stdout.splitlines() if " " in line
    )
    # the JVM warm-up ran once, and a second get_spark did not repeat it
    assert out["JVM_WARMS_1"] == "1 True"
    assert out["JVM_WARMS_2"] == "1"
    # session start forked no Python worker ...
    assert out["DAEMONS_AFTER_GET_SPARK"] == "0"
    # ... the explicit prewarm does (so the count above can see daemons),
    # and it runs at most once per application
    assert out["POOL_1"] == "True"
    assert int(out["DAEMONS_AFTER_POOL"]) > 0
    assert out["POOL_2"] == "False"


# --- first-draw bound (VERDICT r10 #3) --------------------------------------
# PREWARM_PROBE.json measured the post-prewarm first draw at 2.24x the
# steady median; these pin the explicit threshold rule so a prewarm
# regression (like the SPARK_GRAFT_NO_PREWARM bypass the r10 self-review
# caught) fails red instead of surfacing as bench mystery-outliers later.


def test_prewarm_verdict_passes_healthy_probe():
    # the committed r10 capture shape: first 4.34s, steady ~1.94s (2.24x)
    v = S.prewarm_first_draw_verdict([4.34, 2.02, 1.94, 1.90, 1.96, 1.92])
    assert v["passed"] is True
    assert v["first_over_median"] < 3.0
    assert v["outliers_3x"] == []


def test_prewarm_verdict_fails_cold_pool_first_draw():
    # the no-prewarm historical shape: first draw 6x steady (pool fork +
    # numpy/pandas import across 32 workers)
    v = S.prewarm_first_draw_verdict([11.6, 2.0, 1.9, 1.95, 1.92, 1.9])
    assert v["passed"] is False
    assert v["first_over_median"] > 3.0


def test_prewarm_verdict_fails_midrun_outlier():
    # first draw fine, but a later draw spiked 3x — pool respawned or load
    # arrived; either way not evidence of a healthy prewarm
    v = S.prewarm_first_draw_verdict([2.1, 1.9, 7.0, 1.95, 1.92, 1.9])
    assert v["passed"] is False
    assert v["outliers_3x"] == [7.0]


def test_prewarm_verdict_needs_enough_draws():
    assert S.prewarm_first_draw_verdict([2.0])["passed"] is None
    assert S.prewarm_first_draw_verdict([2.0, 1.9])["passed"] is None
    assert S.prewarm_first_draw_verdict([2.0, 0.0, 0.0])["passed"] is None


def test_failed_prewarm_is_marked_attempted_and_not_retried():
    """ADVICE r10: a RAISING prewarm must still count as this session's one
    attempt — otherwise every later get_spark() on the same live session
    retries the failing prewarm and re-pays the multi-second penalty (plus
    the warning) in a persistently broken environment."""

    class _Ctx:
        applicationId = "app-prewarm-fail-test"
        defaultParallelism = 4

    class _FakeSpark:
        sparkContext = _Ctx()

        def range(self, *a, **k):  # both _warm_jvm_infra and the pool job
            raise RuntimeError("broken environment")

    fake = _FakeSpark()
    S._PREWARMED.discard(_Ctx.applicationId)
    try:
        with pytest.raises(RuntimeError):
            S.prewarm_python_workers(fake)
        # the failing attempt is recorded -> at most once per session
        assert _Ctx.applicationId in S._PREWARMED
        assert S.prewarm_python_workers(fake) is False
    finally:
        S._PREWARMED.discard(_Ctx.applicationId)
