"""Spark-free invariants of bench.py's measurement sets.

These mirror the runtime asserts in bench.main() so a rename or a
set-membership drift fails in pytest immediately, not on the next bench run:
- every SESSION_CACHED query exists in the registry (a renamed query would
  silently re-enter the re-draw pass and record warm-cache near-zeros);
- SESSION_CACHED is disjoint from HEADLINE (best-of-3 on a cached query
  would time warm checkpoint reads after the first draw);
- every calibration query exists (the pinned v2 protocol sums exactly the
  3-query reference).
"""

from __future__ import annotations

import bench
from weather_data_pipeline_spark.plans.queries import REGISTRY


def test_session_cached_subset_of_registry():
    assert bench.SESSION_CACHED <= set(REGISTRY)


def test_session_cached_disjoint_from_headline():
    assert not (bench.SESSION_CACHED & set(bench.HEADLINE))


def test_calibration_queries_registered():
    assert all(n in REGISTRY for n in bench.CALIBRATION_QUERIES)


def test_memoized_plan_subset_of_registry():
    assert bench.MEMOIZED_PLAN <= set(REGISTRY)


def test_memoized_plan_disjoint_from_calibration():
    # warm best-of-5 on a plan-memoized query would corrupt the host scalar
    assert not (bench.MEMOIZED_PLAN & set(bench.CALIBRATION_QUERIES))


# --- contamination verdict (VERDICT r08 #1) -------------------------------
# The r8 driver capture calibrated at scale 0.3868 (host ~2.6x slow) yet
# passed the old 1-min-only idle gate. These pin the stamp that makes such
# a capture self-flagging. The verdict is ONE-SIDED toward slowness: the
# end-of-pass calibration legitimately reads faster than the fresh-JVM
# reference recipe (measured 1.8x on the first r9 capture — 201 queries of
# JIT/page-cache deepening), so only slow scales and slow drift flag.


def test_contaminated_fires_on_slow_host_calibration():
    # the exact r8 failure: scale 0.3868 at start, host still slow at end
    assert bench.contamination_verdict(0.3868, 0.40) is True


def test_contaminated_fires_when_load_arrives_mid_pass():
    # start idle (scale ~1.0) but end calibration below the band floor
    assert bench.contamination_verdict(1.0, 0.65) is True
    # or end >20% slower than start even inside the band
    assert bench.contamination_verdict(1.1, 0.85) is True


def test_contaminated_fires_on_out_of_band_start_even_without_end():
    assert bench.contamination_verdict(0.5, None) is True
    # start >1.3 means the pinned warm-best-of-5 protocol wasn't followed
    assert bench.contamination_verdict(1.4, None) is True


def test_clean_capture_not_flagged():
    # r8 builder strict-idle captures: scales 0.865-0.959, stable
    assert bench.contamination_verdict(0.959, 0.93) is False
    assert bench.contamination_verdict(0.865, 0.90) is False
    assert bench.contamination_verdict(1.0, None) is False


def test_end_faster_than_start_is_benign_warmth():
    # first r9 capture: start 1.1415, end 1.8039 (deep JIT) — clean
    assert bench.contamination_verdict(1.1415, 1.8039) is False


def test_off_default_sf_has_no_verdict():
    # no reference scale off sf0.1 — never stamp
    assert bench.contamination_verdict(None, None) is False
    assert bench.contamination_verdict(None, 0.4) is False


def test_drift_threshold_is_relative_to_start():
    # 19% slow-drift inside band: clean; 21%: contaminated
    assert bench.contamination_verdict(1.0, 0.81) is False
    assert bench.contamination_verdict(1.0, 0.79) is True


# --- mid-pass probes (VERDICT r09 #2) --------------------------------------
# The start+end calibration pair has a blind spot: load that arrives after
# the start calibration and clears before the end one passes both probes
# (the committed r9 capture read 36% over same-tree morning draws with
# exactly this shape). Probes every ~50 queries close it.


def test_midpass_flags_synthetic_slow_probe():
    # start q1 warm best-of-5 = 0.48s; probe 2 dips to 0.65s (load arrived
    # mid-pass, >25% slower than start) — contaminated
    assert bench.midpass_contamination(0.48, [0.40, 0.65, 0.38]) is True


def test_midpass_flags_dip_after_warmth():
    # deep warmth pushed probes to 0.30s; a later 0.50s probe is within the
    # start-relative drift band but 1.7x the best earlier reading — the
    # "load arrived after warmth" shape the start-relative rule cannot see
    assert bench.midpass_contamination(0.48, [0.31, 0.30, 0.50]) is True


def test_midpass_clean_probes_do_not_flag():
    # monotone warmth (probes only get faster) is the healthy shape
    assert bench.midpass_contamination(0.48, [0.42, 0.35, 0.33]) is False
    # mild jitter inside both rules is fine too
    assert bench.midpass_contamination(0.48, [0.45, 0.50, 0.46]) is False


def test_midpass_no_probes_or_no_start_is_no_verdict():
    assert bench.midpass_contamination(None, [9.9]) is False
    assert bench.midpass_contamination(0.48, []) is False


# --- BENCH_FULL best-of-N merge (VERDICT r09 #5) ----------------------------


def _pass(total, contaminated, ts):
    return {"full_total": total, "contaminated": contaminated, "captured_at": ts}


def test_choose_artifact_first_capture_records_itself():
    detail = {"full_total": 180.0, "contaminated": False}
    chosen = bench.choose_full_artifact(None, detail, _pass(180.0, False, "t1"))
    assert chosen is detail
    assert [p["full_total"] for p in chosen["same_day_pass_totals"]] == [180.0]


def test_choose_artifact_keeps_faster_clean_prior():
    prior = {
        "full_total": 172.0,
        "contaminated": False,
        "same_day_pass_totals": [_pass(172.0, False, "t1")],
    }
    detail = {"full_total": 190.0, "contaminated": False}
    chosen = bench.choose_full_artifact(prior, detail, _pass(190.0, False, "t2"))
    assert chosen is prior  # min-total clean draw stays canonical
    assert [p["full_total"] for p in chosen["same_day_pass_totals"]] == [
        172.0,
        190.0,
    ]  # but every pass is recorded


def test_choose_artifact_faster_clean_pass_replaces_prior():
    prior = {
        "full_total": 190.0,
        "contaminated": False,
        "same_day_pass_totals": [_pass(190.0, False, "t1")],
    }
    detail = {"full_total": 172.0, "contaminated": False}
    chosen = bench.choose_full_artifact(prior, detail, _pass(172.0, False, "t2"))
    assert chosen is detail
    assert len(chosen["same_day_pass_totals"]) == 2


def test_choose_artifact_contaminated_pass_never_replaces_clean_prior():
    prior = {
        "full_total": 190.0,
        "contaminated": False,
        "same_day_pass_totals": [_pass(190.0, False, "t1")],
    }
    detail = {"full_total": 150.0, "contaminated": True}  # fast but dirty
    chosen = bench.choose_full_artifact(prior, detail, _pass(150.0, True, "t2"))
    assert chosen is prior


def test_choose_artifact_clean_pass_replaces_contaminated_prior():
    prior = {
        "full_total": 150.0,
        "contaminated": True,
        "same_day_pass_totals": [_pass(150.0, True, "t1")],
    }
    detail = {"full_total": 200.0, "contaminated": False}
    chosen = bench.choose_full_artifact(prior, detail, _pass(200.0, False, "t2"))
    assert chosen is detail


# --- thermal / afternoon proxy (VERDICT r10 #4) -----------------------------
# The third r10 same-day pass read 214.1 s with contaminated:false — 16%
# over the 184.6 s body on identical code. Sustained clocks below the pass's
# own start reading now stamp the draw; like every other rule it is
# one-sided (turbo above start is benign) and silent when the host exposes
# no clock reading.


def test_thermal_flags_sustained_downclock_at_end():
    assert bench.thermal_verdict(3500.0, 3100.0) is True  # 11.4% below


def test_thermal_flags_midpass_downclock_that_clears():
    # probe dipped below the floor even though the end reading recovered —
    # the same blind-spot shape the mid-pass timing probes close
    assert bench.thermal_verdict(3500.0, 3480.0, [3400.0, 3000.0]) is True


def test_thermal_small_dip_and_turbo_are_benign():
    assert bench.thermal_verdict(3500.0, 3200.0) is False  # 8.6% below: ok
    assert bench.thermal_verdict(3500.0, 4200.0) is False  # turbo: benign


def test_thermal_no_reading_no_verdict():
    # fixed-clock VM / no cpufreq: never flag, never mask
    assert bench.thermal_verdict(None, 2000.0) is False
    assert bench.thermal_verdict(3500.0, None) is False
    assert bench.thermal_verdict(3500.0, None, [None, None]) is False


def test_cpu_mhz_reads_a_positive_number_or_none():
    m = bench._cpu_mhz()
    assert m is None or m > 0


def test_code_tree_id_includes_bench_protocol(monkeypatch):
    # ADVICE r10: passes measured under different instrument semantics must
    # not best-of-N merge as "same tree" — the protocol constant is part of
    # the measured-surface identity, so bumping it forces a fresh series
    import os

    here = os.path.dirname(os.path.abspath(bench.__file__))
    a = bench._code_tree_id(here)
    monkeypatch.setattr(bench, "BENCH_PROTOCOL", bench.BENCH_PROTOCOL + "-bumped")
    assert bench._code_tree_id(here) != a


def test_measured_names_excludes_errors_and_unvisited():
    d = {"full": {"a": 1.0, "b": -1.0, "c": 0.0, "d": "x"}}
    assert bench._measured_names(d) == {"a"}
    assert bench._measured_names({}) == set()


def test_code_tree_id_is_stable_and_ignores_non_code():
    # identity of the measured code surface: deterministic per call, and by
    # construction reads only package .py files + __spark_entry__.py — so
    # doc/artifact commits between same-day passes can't break best-of-N
    # merging while any package change must
    import os

    here = os.path.dirname(os.path.abspath(bench.__file__))
    a = bench._code_tree_id(here)
    b = bench._code_tree_id(here)
    assert a == b
    assert len(a) == 12 and all(c in "0123456789abcdef" for c in a)


def test_choose_artifact_truncated_prior_never_beats_complete_pass():
    # a budget-truncated pass measured fewer queries — its total is cheaper
    # BY CONSTRUCTION and must not stay canonical over a complete pass
    prior = {
        "full_total": 300.0,
        "contaminated": False,
        "full": {f"q{i}": 2.0 for i in range(150)},
        "same_day_pass_totals": [_pass(300.0, False, "t1")],
    }
    detail = {
        "full_total": 450.0,
        "contaminated": False,
        "full": {f"q{i}": 2.24 for i in range(201)},
    }
    chosen = bench.choose_full_artifact(prior, detail, _pass(450.0, False, "t2"))
    assert chosen is detail


def test_choose_artifact_complete_prior_beats_truncated_pass():
    prior = {
        "full_total": 450.0,
        "contaminated": False,
        "full": {f"q{i}": 2.24 for i in range(201)},
        "same_day_pass_totals": [_pass(450.0, False, "t1")],
    }
    detail = {
        "full_total": 300.0,  # cheaper only because it measured less
        "contaminated": False,
        "full": {f"q{i}": 2.0 for i in range(150)},
    }
    chosen = bench.choose_full_artifact(prior, detail, _pass(300.0, False, "t2"))
    assert chosen is prior


def test_choose_artifact_errored_readings_do_not_count_as_measured():
    # errored queries record -1.0 and are excluded from full_total; they
    # must be excluded from the completeness comparison the same way
    prior = {
        "full_total": 400.0,
        "contaminated": False,
        "full": {**{f"q{i}": 2.0 for i in range(200)}, "q200": -1.0},
        "same_day_pass_totals": [_pass(400.0, False, "t1")],
    }
    detail = {
        "full_total": 410.0,
        "contaminated": False,
        "full": {f"q{i}": 2.04 for i in range(201)},
    }
    chosen = bench.choose_full_artifact(prior, detail, _pass(410.0, False, "t2"))
    assert chosen is detail  # 201 clean readings beat 200 + 1 error


def test_session_desc_reports_master_and_parallelism(spark):
    # VERDICT r11 #2: the artifact must prove its own core count — the
    # printed session block must read the LIVE session's master and widths
    d = bench._session_desc(spark)
    assert d["master"] == spark.sparkContext.master
    assert d["default_parallelism"] == spark.sparkContext.defaultParallelism
    assert d["shuffle_partitions"] == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )


def test_resolve_cpus_honors_env(monkeypatch):
    # SPARK_GRAFT_CPUS=8 must yield local[8]: get_spark builds its master
    # as f"local[{resolve_cpus()}]", so pinning the resolver pins the
    # artifact's session.master for a scaling run
    from weather_data_pipeline_spark.session import resolve_cpus

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert resolve_cpus() == 8
    assert f"local[{resolve_cpus()}]" == "local[8]"
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert resolve_cpus(4) == 4


def test_resolve_driver_memory_is_half_of_physical_memory(monkeypatch):
    # default heap: half of physical memory in whole GB, within [1g, 16g];
    # $SPARK_GRAFT_DRIVER_MEM wins whenever it is set
    from weather_data_pipeline_spark.session import resolve_driver_memory

    gb = 2**30
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert resolve_driver_memory(int(15.7 * gb)) == "7g"
    assert resolve_driver_memory(16 * gb) == "8g"
    assert resolve_driver_memory(64 * gb) == "16g"
    assert resolve_driver_memory(gb) == "1g"
    assert 1 <= int(resolve_driver_memory()[:-1]) <= 16
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert resolve_driver_memory(64 * gb) == "3g"
