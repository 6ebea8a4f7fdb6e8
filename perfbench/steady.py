"""Run the workloads repeatedly, alternating their order, and print each
metric's median, quartiles and spread (interquartile range over median).

    python3 perfbench/steady.py --runs 10 --seed 100 --workloads features ingest

Run from the repository root. Every run is a fresh process of run.py with
its own seed (seed, seed+1, ...), untraced. Raw results go to `--out` as JSON.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit code {proc.returncode}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    ops = [ln for ln in proc.stderr.splitlines() if ln.startswith("op seconds:")]
    res.update(workload=workload, seed=seed, wall_s=wall, op_s=ops[-1][11:].split() if ops else [])
    return res


def summary(results: list[dict], bounds: dict[str, float]) -> None:
    for wl in sorted({r["workload"] for r in results}):
        rs = [r for r in results if r["workload"] == wl]
        shares = sorted({(r["failed"], r["attempted"]) for r in rs})
        print(f"{wl}: {len(rs)} runs, correct {all(r['correct'] for r in rs)}, "
              f"failed/attempted {sorted({f / a for f, a in shares})}, "
              f"wall median {statistics.median(r['wall_s'] for r in rs):.1f} s")
        for name in rs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in rs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else 0.0
            bound = bounds.get(name)
            flag = "" if bound is None else f"  bound {bound} {'OK' if spread < bound / 3 else 'WIDE'}"
            print(f"  {name:28s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                  f"spread {spread:.3f}{flag}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=100)
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    results = []
    for i in range(args.runs):
        order = workloads if i % 2 == 0 else workloads[::-1]
        for wl in order:
            results.append(one_run(wl, args.seed + i, seconds))
            r = results[-1]
            print(f"run {i} {wl} seed {r['seed']}: wall {r['wall_s']:.1f} s, " + ", ".join(
                f"{k} {v['value']:.4g}" for k, v in r["metrics"].items())
                + f"; ops {' '.join(r['op_s'])}", flush=True)
            if args.out:
                Path(args.out).write_text(json.dumps(results, indent=1))
    summary(results, bounds)


if __name__ == "__main__":
    main()
