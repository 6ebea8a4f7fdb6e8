#!/usr/bin/env python3
"""Warm best-of-N timing of one (or more) registry queries in a fresh
process — the adjudication tool for round-over-round regressions
(VERDICT r06/r07: "probably ambient" needs a controlled A/B, not vibes).

Run it from TWO checkouts (git worktree of the old round's tree vs HEAD)
on an idle box, alternating A/B/A/B so page-cache and thermal state can't
systematically favor one side:

    python tools/ab_query.py training_corpus_manifest --repeats 5

Prints one JSON line per query: every draw, the min, and load metadata.
PYTHONPATH decides which tree's package is measured, so invoke as
`PYTHONPATH=/path/to/tree python /path/to/tree/tools/ab_query.py ...`.
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
    get_spark,
    prewarm_python_workers,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--repeats", type=int, default=5)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args()

    spark = get_spark("wdp-ab")
    # same JVM/codegen warmup as bench.py so draw 1 isn't compilation cost
    spark.read.parquet(f"{args.sf_dir}/region.parquet").count()
    warm = spark.read.parquet(f"{args.sf_dir}/lineitem.parquet")
    warm.groupBy("l_returnflag").count().count()
    # and the Python-worker pool prewarm (r9, SIM_PROBE.json: worker cold
    # start — fork + numpy/pandas import x32 — is the named cause of the
    # historical Pandas-UDF first-draw outliers); get_spark does not start
    # the pool, so it runs here, under the same SPARK_GRAFT_NO_PREWARM
    # diagnostic gate
    if not os.environ.get("SPARK_GRAFT_NO_PREWARM"):
        prewarm_python_workers(spark)

    from bench import SESSION_CACHED

    # the decoy must live at a DIFFERENT sf_dir from the measured one: a
    # decoy at the same path would hit the same cache key, evict nothing,
    # and the warm repeats would be recorded build_inclusive=true —
    # a mislabeled artifact (ADVICE r08). Pick the first shipped fixture
    # that isn't the measured dir.
    _DECOY_CANDIDATES = [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
    ]
    decoy_sf = next(
        (
            d
            for d in _DECOY_CANDIDATES
            if os.path.realpath(d) != os.path.realpath(args.sf_dir)
        ),
        None,
    )
    assert decoy_sf is not None, (
        f"no decoy sf_dir distinct from {args.sf_dir}; add a candidate"
    )
    for name in args.queries:
        q = REGISTRY[name]
        cached = name in SESSION_CACHED
        draws = []
        for r in range(args.repeats):
            if cached and r > 0:
                # session-cached query: a repeat at the same sf_dir reads
                # the warm materialized frame and would time checkpoint
                # reads. An UNTIMED decoy draw at a different sf_dir makes
                # the one-entry cache evict this thread's previous key
                # through its own lease/evict path (checkpoint blocks
                # freed), so the next timed draw is build-inclusive.
                try:
                    q.spark(spark, decoy_sf).count()
                except Exception as e:
                    # a failed decoy means the next draw may read warm —
                    # surface it rather than crash the whole A/B pass
                    print(
                        f"ab_query: decoy draw failed for {name}: {e}; "
                        "next timed draw may not be build-inclusive",
                        file=sys.stderr,
                    )
            t0 = time.perf_counter()
            q.spark(spark, args.sf_dir).count()
            draws.append(round(time.perf_counter() - t0, 4))
        print(
            json.dumps(
                {
                    "query": name,
                    "sf_dir": args.sf_dir,
                    "draws": draws,
                    "min": min(draws),
                    "build_inclusive": cached,
                    "loadavg": round(os.getloadavg()[0], 2),
                    "tree": os.path.dirname(
                        os.path.dirname(os.path.abspath(__file__))
                    ),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
