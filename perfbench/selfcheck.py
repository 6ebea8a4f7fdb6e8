"""Self-test of the benchmark's output checks: each must pass on the
program's real output and fail once one value of it is perturbed.

    python3 perfbench/selfcheck.py

Run from the repository root; exits 1 if a check passes a perturbed
output or fails a correct one.
"""

from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

import pandas as pd

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import run  # noqa: E402

SEED = 7


def _bump(pdf: pd.DataFrame, col: str, row: int = 0, by: float = 0.5) -> pd.DataFrame:
    out = pdf.copy()
    out.loc[out.index[row], col] = out[col].iloc[row] + by
    return out


def main() -> int:
    work = ROOT / ".bench_work" / f"selfcheck-{os.getpid()}"
    run.configure(work)
    from weather_data_pipeline_spark.session import get_spark

    from perfbench import procs, workloads
    from perfbench.trace import Tracer

    spark = get_spark()
    outcomes = []

    def expect(name: str, problems: list[str], should_fail: bool) -> None:
        ok = bool(problems) == should_fail
        outcomes.append(ok)
        print(f"{'ok  ' if ok else 'FAIL'} {name}: {problems[0] if problems else 'passes'}")

    try:
        wls = {}
        for name, cls in workloads.WORKLOADS.items():
            wl = cls(SEED, str(work / name), Tracer(False))
            wl.generate()
            wl.start(spark)
            wl.prepare_op(0)
            wl.op(0)
            wl.after_op(0)
            wls[name] = wl
            expect(f"{name} as produced", wl.check(), False)

        f = wls["features"]
        good = f.got
        for col in ("temperature_lag_24", "hour_sin", "wind_speed_rolling_std_24"):
            expect(f"features, {col} perturbed",
                   f.check_output(_bump(good, col, row=len(good) // 2)), True)
        expect("features, one row missing", f.check_output(good.iloc[1:]), True)

        d = wls["dashboard"]
        for panel, col in (("entity_comparison", "avg_value"), ("hourly_profile", "n"),
                           ("group_summary_events", "avg_value"), ("latest_event_per_user", "value")):
            good = d.results[0][panel]
            d.results[0][panel] = _bump(good, col, by=1e-6 if col == "avg_value" else 1)
            expect(f"dashboard, {panel}.{col} perturbed", d.check(), True)
            d.results[0][panel] = good

        i = wls["ingest"]
        expect("ingest read-back as produced", i.model.check_latest(i.latest), False)
        expect("ingest read-back, temperature perturbed",
               i.model.check_latest(_bump(i.latest, "temperature")), True)
        i.prepare_op(1)  # batch 1 revises readings of batch 0
        i.op(1)
        i.after_op(1)
        table = i.stored_table()
        expect("ingest table as stored", i.model.check_table(table), False)
        rev = next(iter(i.model.revised))
        at = table.index[(table["city"] == rev[0]) & (table["timestamp"] == rev[1])][0]
        stale = table.copy()
        stale.loc[at, "humidity"] += 1
        expect("ingest table, revised value stale", i.model.check_table(stale), True)
        expect("ingest table, duplicate key", i.model.check_table(pd.concat([table, table.iloc[:1]])), True)
        invalid = table.iloc[:1].copy()
        invalid["timestamp"] += pd.Timedelta(minutes=30)
        expect("ingest table, invalid document stored",
               i.model.check_table(pd.concat([table.iloc[1:], invalid])), True)
        expect("ingest table, row missing", i.model.check_table(table.iloc[1:]), True)
    finally:
        procs.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"{sum(outcomes)}/{len(outcomes)} as expected")
    return 0 if all(outcomes) else 1


if __name__ == "__main__":
    sys.exit(main())
