"""The three workloads. Each calls only the program's public functions and
puts a span around every call into a layer.

Per op, `prepare_op` (untimed) readies the inputs, `op` is the timed work
and returns (operations attempted, operations failed, input rows), and
`after_op` (untimed) records what the op left behind. `check` compares the
program's outputs with computations made apart from it."""

from __future__ import annotations

import os
import warnings

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from perfbench import checks, inputs

from weather_data_pipeline_spark.operators import relational as R
from weather_data_pipeline_spark.plans import dashboard as DB
from weather_data_pipeline_spark.plans import features as FP
from weather_data_pipeline_spark.plans.feature_pipeline_sql import ROUND6_COLS
from weather_data_pipeline_spark.plans.queries import REGISTRY
from weather_data_pipeline_spark.sources.tables import load_table, read_jsonl
from weather_data_pipeline_spark.sources.weather_ingest import (
    RAW_WEATHER_SCHEMA,
    ingest_raw_json,
    upsert_parquet_partitioned,
)


class Workload:
    name = ""
    warmup_ops = 0

    def __init__(self, seed: int, work: str, tracer) -> None:
        self.seed, self.work, self.tracer = seed, work, tracer
        self.spark = None

    def generate(self) -> None:
        """Write the inputs (before the session exists)."""

    def start(self, spark) -> None:
        self.spark = spark

    def prepare_op(self, k: int) -> None:
        pass

    def op(self, k: int) -> tuple[int, int, int]:
        raise NotImplementedError

    def after_op(self, k: int) -> None:
        pass

    def check(self) -> list[str]:
        raise NotImplementedError


class Features(Workload):
    """The full 69-column feature pipeline over the events table, rebuilt
    and written to the `noop` sink once per op."""

    name = "features"
    warmup_ops = 2
    rows = 25_000

    def generate(self) -> None:
        self.events = inputs.make_events(self.seed, self.rows)
        self.table_dir = os.path.join(self.work, "tables")
        self.events_path = inputs.write_events(self.events, self.table_dir)

    def op(self, k):
        t = self.tracer
        with t.span("plans.events_as_weather"):
            weather = FP.events_as_weather(self.spark, self.table_dir)
        with t.span("plans.full_feature_pipeline"):
            df = FP.full_feature_pipeline(weather)
        t.action_frame(df)
        with t.span("spark.noop_write"):
            df.write.format("noop").mode("overwrite").save()
        return 1, 0, self.rows

    def collect(self) -> pd.DataFrame:
        """Build the pipeline with the same calls as an op and collect its
        output, normalized as the registry normalizes it so that it compares
        with the pipeline's DuckDB twin: libm columns to 6 dp, ints as longs."""
        df = FP.full_feature_pipeline(FP.events_as_weather(self.spark, self.table_dir))
        sel = []
        for f in df.schema.fields:
            if f.name in ROUND6_COLS:
                sel.append((F.round(f.name, 6) + F.lit(0.0)).alias(f.name))
            elif f.dataType.simpleString() == "int":
                sel.append(F.col(f.name).cast("long").alias(f.name))
            else:
                sel.append(F.col(f.name))
        return df.select(*sel).toPandas()

    def check(self):
        """Collected after the timed ops, so the check sees the state they
        leave behind."""
        self.got = self.collect()
        return self.check_output(self.got)

    def check_output(self, got: pd.DataFrame) -> list[str]:
        want_hash, want_rows = checks.feature_twin_hash(
            self.events_path, REGISTRY["feature_pipeline_weather"].sql
        )
        problems = []
        if len(got) != want_rows or checks.frame_hash(got) != want_hash:
            problems.append(
                f"features: value hash {checks.frame_hash(got)} ({len(got)} rows) != "
                f"DuckDB twin {want_hash} ({want_rows} rows)"
            )
        cities = sorted(np.random.default_rng([self.seed, 4]).choice(20, 3, replace=False))
        problems += checks.check_feature_windows(got, self.events, [f"city_{c}" for c in cities])
        return problems


REFRESH_QUERIES = (
    "group_summary_events",
    "global_stats_events",
    "value_counts_event_type",
    "latest_event_per_user",
)


class Dashboard(Workload):
    """One dashboard refresh per op: the five panels and four registry
    aggregates, each collected to the driver."""

    name = "dashboard"
    warmup_ops = 3
    rows = 100_000

    def generate(self) -> None:
        self.table_dir = os.path.join(self.work, "tables")
        self.events_path = inputs.write_events(inputs.make_events(self.seed, self.rows), self.table_dir)
        self.results: list[dict] = []

    def op(self, k):
        t = self.tracer
        with t.span("plans.dashboard_panels"):
            frames = DB.dashboard_panels(self.spark, self.table_dir)
        for q in REFRESH_QUERIES:
            with t.span(f"plans.{q}"):
                frames[q] = REGISTRY[q].spark(self.spark, self.table_dir)
        out = {}
        for name, df in frames.items():
            t.action_frame(df)
            with t.span("spark.toPandas"):
                out[name] = df.toPandas()
        self.results.append(out)
        return 1, 0, self.rows

    def check(self):
        want = checks.dashboard_expected(
            self.events_path, {q: REGISTRY[q].sql for q in REFRESH_QUERIES}
        )
        problems = []
        for i, got in enumerate(self.results):
            problems += [f"refresh {i}: {p}" for p in checks.check_dashboard(got, want)]
        return problems


def _missing_file(exc: Py4JJavaError) -> bool:
    text = str(exc)
    return "FileNotFoundException" in text or "FILE_NOT_EXIST" in text


def _parquet_files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(root, f))
                out[os.path.join(root, f)] = (st.st_ino, st.st_size)
    return out


class Ingest(Workload):
    """One micro-batch per op: read the JSON documents, validate and
    flatten them, merge them into the day-partitioned table, then read the
    latest reading per city back through `load_table`."""

    name = "ingest"
    warmup_ops = 2

    def generate(self) -> None:
        self.feed = inputs.IngestFeed(self.seed, os.path.join(self.work, "json"))
        self.table_dir = os.path.join(self.work, "tables")
        self.table_path = os.path.join(self.table_dir, "weather.parquet")
        self.model = checks.IngestModel()
        self.problems: list[str] = []
        self.history_path, docs = self.feed.history()
        self.model.apply(docs)

    def start(self, spark) -> None:
        super().start(spark)
        # a failing read-back is expected (see README); its Arrow warning
        # would repeat the Java stack trace on every op
        warnings.filterwarnings("ignore", category=UserWarning, module=r"pyspark\.sql\.pandas")
        self._merge(self.history_path)

    def _merge(self, path: str) -> None:
        t = self.tracer
        with t.span("sources.read_jsonl"):
            raw = read_jsonl(self.spark, path, RAW_WEATHER_SCHEMA)
        with t.span("sources.ingest_raw_json"):
            rows = ingest_raw_json(raw)
        with t.span("sources.upsert"):
            upsert_parquet_partitioned(rows, self.table_path)

    def prepare_op(self, k):
        self.batch_path, self.batch_docs = self.feed.batch(k)
        if self.tracer.enabled:
            self.files_before = _parquet_files(self.table_path)

    def op(self, k):
        t = self.tracer
        self._merge(self.batch_path)
        self.latest = None
        try:
            with t.span("sources.load_table"):
                table = load_table(self.spark, self.table_dir, "weather")
            with t.span("operators.latest_per_group"):
                latest = R.latest_per_group(table, "city", "timestamp", "created_at")
            t.action_frame(latest)
            with t.span("spark.toPandas"):
                self.latest = latest.toPandas()
            failed = 0
        except Py4JJavaError as exc:
            if not _missing_file(exc):
                raise
            failed = 1
        return 2, failed, len(self.batch_docs)

    def after_op(self, k):
        self.model.apply(self.batch_docs)
        if self.latest is not None:
            self.problems += [f"batch {k}: {p}" for p in self.model.check_latest(self.latest)]
        if self.tracer.enabled and self.tracer.ops and self.tracer.ops[-1]["op"] == k:
            after = _parquet_files(self.table_path)
            new = [p for p, v in after.items() if self.files_before.get(p) != v]
            self.tracer.ops[-1].update(
                partitions_rewritten=len({os.path.dirname(p) for p in new}),
                files_written=len(new),
                bytes_written=sum(after[p][1] for p in new),
            )

    def stored_table(self) -> pd.DataFrame:
        """The table as stored, read with pyarrow rather than Spark."""
        got = pads.dataset(self.table_path, format="parquet", partitioning="hive").to_table().to_pandas()
        got["timestamp"] = pd.to_datetime(got["timestamp"]).astype("datetime64[us]")
        return got

    def check(self):
        return self.problems + self.model.check_table(self.stored_table())


WORKLOADS = {w.name: w for w in (Features, Dashboard, Ingest)}
