#!/usr/bin/env python3
"""Fresh-session first-draw probe: build a session through get_spark ONLY —
no bench warmups, no explicit worker-pool prewarm — and time N consecutive
draws of a Pandas-UDF-heavy query. get_spark warms the JVM (codegen,
shuffle, checkpoint and parquet class-loading) but does not start the
Python worker pool, so the first draw pays the pool fork plus numpy/pandas
import across the session's workers, and the query's own codegen. It must
stay under 3x the median of the later draws; without the JVM warm-up it
does not (4.4-4.5x measured).

    python tools/prewarm_probe.py [--query cosine_near_dup_embeddings]
        [--draws 6] [--out PREWARM_PROBE.json]

`session_prewarmed_by_get_spark` in the artifact records whether get_spark
ran its JVM warm-up for this session; it says nothing about the worker
pool, which no session start prewarms.

VERDICT r10 #3: the probe is a GATE — session.prewarm_first_draw_verdict
(pytest-pinned rule) stamps a passed/failed verdict into the artifact and
the process exits 4 on failure, so a prewarm regression fails red in the
per-round invariants instead of surfacing as bench mystery-outliers later.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from weather_data_pipeline_spark.plans.queries import REGISTRY  # noqa: E402
from weather_data_pipeline_spark.session import (  # noqa: E402
    _PREWARMED,
    get_spark,
    prewarm_first_draw_verdict,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--query", default="cosine_near_dup_embeddings")
    ap.add_argument("--draws", type=int, default=6)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    load0 = [round(v, 2) for v in os.getloadavg()]
    spark = get_spark("wdp-prewarm-probe")
    prewarmed = (spark.sparkContext.applicationId, "jvm") in _PREWARMED
    q = REGISTRY[args.query]
    draws: list[float] = []
    for i in range(args.draws):
        t0 = time.perf_counter()
        q.spark(spark, args.sf_dir).count()
        draws.append(round(time.perf_counter() - t0, 4))
        print(f"draw {i}: {draws[-1]:.3f}s", flush=True)
    # explicit threshold verdict (VERDICT r10 #3): the probe is a GATE, not
    # just a recorded observation — a prewarm regression fails red here
    verdict = prewarm_first_draw_verdict(draws)
    doc = {
        "metric": "session_prewarm_first_draw_probe",
        "query": args.query,
        "sf_dir": args.sf_dir,
        "session_prewarmed_by_get_spark": prewarmed,
        "note": (
            "session_prewarmed_by_get_spark covers get_spark's JVM warm-up "
            "only; the Python worker pool starts inside the first draw"
        ),
        "no_prewarm_env": bool(os.environ.get("SPARK_GRAFT_NO_PREWARM")),
        "draws": draws,
        "first_draw": draws[0],
        "verdict": verdict,
        "loadavg_start": load0,
        "loadavg_end": [round(v, 2) for v in os.getloadavg()],
        "ncpus": os.cpu_count(),
    }
    line = json.dumps(doc)
    print(line)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)
            fh.write("\n")
    spark.stop()
    if verdict.get("passed") is False:
        print(
            f"prewarm_probe: FAIL — first draw {draws[0]}s vs steady median "
            f"{verdict['median_of_rest']}s ({verdict['first_over_median']}x > "
            f"{verdict['max_x']}x bound, outliers={verdict['outliers_3x']})",
            file=sys.stderr,
        )
        sys.exit(4)


if __name__ == "__main__":
    main()
