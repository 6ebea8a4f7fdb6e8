"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload features --seed 1 --seconds 10 --trace 0

Run from the repository root. `--trace 0` prints the end-to-end metrics,
`--trace 1` the per-layer metrics of a separate, traced run (its spans are
written to `.bench_out/`). See perfbench/README.md.
"""

import time

T0 = time.perf_counter()  # setup_s counts from here, before the imports

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "weather_data_pipeline_spark"
CPUS = 4
DRIVER_HEAP = "3g"
MIN_OPS = 3  # timed ops in every run, however slow the host
TRACE_OPS = 3  # traced per-op figures are medians over the first ones


def configure(work: Path) -> None:
    """Session width and heap, and every scratch path inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    for var in ("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_GC_LOG", "SPARK_GRAFT_NO_PREWARM",
                "SPARK_GRAFT_PREWARM", "SPARK_MASTER", "MASTER"):
        os.environ.pop(var, None)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_HEAP,
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(tmp),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options {shlex.quote(java_opts)} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("features", "dashboard", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"error: the program package {PACKAGE}/ is not next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    configure(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: Path) -> int:
    import weather_data_pipeline_spark as pkg

    if ROOT not in Path(pkg.__file__).resolve().parents:
        print(f"error: {PACKAGE} was imported from {pkg.__file__}, not this checkout",
              file=sys.stderr)
        return 2
    from weather_data_pipeline_spark.session import get_spark

    from perfbench import procs
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    tracer = Tracer(args.trace == 1)
    wl = WORKLOADS[args.workload](args.seed, str(work), tracer)
    wl.generate()
    t = time.perf_counter()
    spark = get_spark()
    session_s = time.perf_counter() - t
    try:
        tracer.attach(spark)
        tracer.wrap_sources(PACKAGE)
        wl.start(spark)
        for k in range(wl.warmup_ops):
            wl.prepare_op(k)
            wl.op(k)
            wl.after_op(k)
        setup_s = time.perf_counter() - T0

        durations, attempted, failed, rows = [], 0, 0, 0
        k = wl.warmup_ops
        t_start = time.perf_counter()
        while len(durations) < MIN_OPS or time.perf_counter() - t_start < args.seconds:
            wl.prepare_op(k)
            with tracer.op(k):
                t = time.perf_counter()
                a, f, r = wl.op(k)
                durations.append(time.perf_counter() - t)
            tracer.finish_op()
            wl.after_op(k)
            attempted, failed, rows = attempted + a, failed + f, rows + r
            k += 1
        peaks = procs.peaks_mb()
        tracer.unwrap()
        problems = wl.check()
    finally:
        procs.stop_spark(spark)

    print("op seconds: " + " ".join(f"{d:.3f}" for d in durations), file=sys.stderr)
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    if args.trace:
        metrics = {"session.start_s": session_s, **tracer.layer_metrics(TRACE_OPS)}
        metrics["memory.jvm_peak_mb"] = peaks["jvm"]
        metrics["memory.python_peak_mb"] = peaks["python"]
        tracer.dump(
            str(ROOT / ".bench_out" / f"trace-{args.workload}-{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "op_s": durations,
             "setup_s": setup_s, "session_s": session_s},
        )
    else:
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(durations),
            "rows_per_s": rows / sum(durations),
            "peak_rss_mb": peaks["python"] + peaks["jvm"],
        }
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    unit_of = {m["name"]: m["unit"] for key in ("end_to_end", "per_layer") for m in spec[key]}
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": unit_of[n]} for n, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
