"""Ingest layer: validation, JSON flatten, upsert, retry/rate-limit policy.

Mirrors the reference's collector tests (`tests/test_data_collection.py`,
`tests/test_api_resilience.py`): parse values, roundtrip, upsert accumulation,
retry matrix, limiter behavior — driven through the Spark surface.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from weather_data_pipeline_spark.sources import weather_ingest as WI

RAW_OK = {
    "name": "London",
    "dt": 1700000000,
    "timezone": 0,
    "visibility": 10000,
    "coord": {"lat": 51.5, "lon": -0.12},
    "main": {
        "temp": 15.5,
        "feels_like": 14.8,
        "temp_min": 14.0,
        "temp_max": 17.0,
        "pressure": 1012,
        "humidity": 72,
    },
    "wind": {"speed": 3.6, "deg": 250},
    "clouds": {"all": 40},
    "weather": [{"main": "Clouds", "description": "scattered clouds"}],
    "rain": {"1h": 0.5},
    "sys": {"country": "GB"},
}


def _raw_df(spark, docs):
    return spark.read.json(
        spark.sparkContext.parallelize([json.dumps(d) for d in docs]),
        schema=WI.RAW_WEATHER_SCHEMA,
    )


def test_flatten_values(spark):
    flat = WI.ingest_raw_json(_raw_df(spark, [RAW_OK])).collect()[0]
    assert flat.city == "London"
    assert flat.country == "GB"
    assert flat.temperature == 15.5
    assert flat.pressure == 1012
    assert flat.weather_main == "Clouds"
    assert flat.rain_1h == 0.5
    assert flat.snow_1h == 0.0  # missing → 0 default
    assert str(flat.timestamp).startswith("2023-11-14")


def test_validation_rejects_incomplete(spark):
    bad = dict(RAW_OK)
    bad["main"] = None
    missing_weather = dict(RAW_OK, weather=[])
    df = _raw_df(spark, [RAW_OK, bad, missing_weather])
    assert WI.ingest_raw_json(df).count() == 1


def test_upsert_accumulates_and_replaces(spark, tmp_path):
    path = str(tmp_path / "weather")

    def mk(city, ts, temp, created):
        return spark.createDataFrame(
            [(city, ts, temp, created)],
            "city string, timestamp string, temperature double, created_at string",
        ).select(
            "city",
            F.to_timestamp("timestamp").alias("timestamp"),
            "temperature",
            F.to_timestamp("created_at").alias("created_at"),
        )

    WI.upsert_parquet(mk("a", "2024-01-01 00:00:00", 1.0, "2024-01-01 01:00:00"), path)
    WI.upsert_parquet(mk("a", "2024-01-01 01:00:00", 2.0, "2024-01-01 02:00:00"), path)
    # conflicting key with newer created_at wins (ON CONFLICT DO UPDATE parity)
    WI.upsert_parquet(mk("a", "2024-01-01 00:00:00", 9.0, "2024-01-01 03:00:00"), path)
    got = {
        (r.city, str(r.timestamp)): r.temperature
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        ("a", "2024-01-01 00:00:00"): 9.0,
        ("a", "2024-01-01 01:00:00"): 2.0,
    }


def test_partitioned_upsert_touches_only_affected_partitions(spark, tmp_path):
    import os

    path = str(tmp_path / "weather_part")

    def mk(rows):
        return spark.createDataFrame(
            rows,
            "city string, timestamp string, temperature double, created_at string",
        ).select(
            "city",
            F.to_timestamp("timestamp").alias("timestamp"),
            "temperature",
            F.to_timestamp("created_at").alias("created_at"),
        )

    def part_files(day):
        d = os.path.join(path, f"part_day={day}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    WI.upsert_parquet_partitioned(
        mk(
            [
                ("a", "2024-01-01 00:00:00", 1.0, "2024-01-01 01:00:00"),
                ("a", "2024-01-02 00:00:00", 2.0, "2024-01-02 01:00:00"),
            ]
        ),
        path,
    )
    day1_before = part_files("2024-01-01")
    # merge touching only day 2: replace one key, add one key
    WI.upsert_parquet_partitioned(
        mk(
            [
                ("a", "2024-01-02 00:00:00", 9.0, "2024-01-02 02:00:00"),
                ("b", "2024-01-02 12:00:00", 5.0, "2024-01-02 02:00:00"),
            ]
        ),
        path,
    )
    # untouched partition's files are byte-identical (same names, same mtimes)
    assert part_files("2024-01-01") == day1_before
    got = {
        (r.city, str(r.timestamp)): r.temperature
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        ("a", "2024-01-01 00:00:00"): 1.0,
        ("a", "2024-01-02 00:00:00"): 9.0,
        ("b", "2024-01-02 12:00:00"): 5.0,
    }
    # idempotency: re-applying the same batch changes nothing
    WI.upsert_parquet_partitioned(
        mk([("a", "2024-01-02 00:00:00", 9.0, "2024-01-02 02:00:00")]), path
    )
    got2 = {
        (r.city, str(r.timestamp)): r.temperature
        for r in spark.read.parquet(path).collect()
    }
    assert got2 == got


def test_load_table_reads_fresh_rows_after_partitioned_upsert(spark, tmp_path):
    """The per-session table memo must not hand back a frame whose plan
    lists files an upsert has since replaced (FILE_NOT_EXIST on read), and
    must still return the very same frame while the table is unchanged."""
    from weather_data_pipeline_spark.sources.tables import load_table

    table_dir = str(tmp_path)
    path = str(tmp_path / "weather.parquet")

    def mk(rows):
        return spark.createDataFrame(
            rows,
            "city string, timestamp string, temperature double, created_at string",
        ).select(
            "city",
            F.to_timestamp("timestamp").alias("timestamp"),
            "temperature",
            F.to_timestamp("created_at").alias("created_at"),
        )

    def read(df):
        return {(r.city, str(r.timestamp)): r.temperature for r in df.collect()}

    WI.upsert_parquet_partitioned(
        mk([("a", "2024-01-01 00:00:00", 1.0, "2024-01-01 01:00:00")]), path
    )
    first = load_table(spark, table_dir, "weather")
    assert read(first) == {("a", "2024-01-01 00:00:00"): 1.0}
    assert load_table(spark, table_dir, "weather") is first

    # revise the key: the merge rewrites the 2024-01-01 partition's files
    WI.upsert_parquet_partitioned(
        mk([("a", "2024-01-01 00:00:00", 9.0, "2024-01-01 02:00:00")]), path
    )
    second = load_table(spark, table_dir, "weather")
    assert read(second) == {("a", "2024-01-01 00:00:00"): 9.0}
    assert load_table(spark, table_dir, "weather") is second


class _Boom(Exception):
    def __init__(self, status=None):
        self.status_code = status


def test_retry_backoff_on_5xx_then_success():
    sleeps, calls = [], []

    def fetch():
        calls.append(1)
        if len(calls) < 3:
            raise _Boom(503)
        return {"ok": True}

    out = WI.fetch_with_retry(fetch, sleep=sleeps.append)
    assert out == {"ok": True}
    assert sleeps == [1.0, 2.0]  # exponential 1s, 2s (reference parity)


def test_no_retry_on_4xx():
    calls = []

    def fetch():
        calls.append(1)
        raise _Boom(404)

    assert WI.fetch_with_retry(fetch, sleep=lambda s: None) is None
    assert len(calls) == 1


def test_retry_exhaustion():
    calls = []

    def fetch():
        calls.append(1)
        raise _Boom(500)

    assert WI.fetch_with_retry(fetch, sleep=lambda s: None) is None
    assert len(calls) == 4  # initial + 3 retries


def test_rate_limiter_blocks_at_limit():
    clock = {"t": 0.0}
    slept = []

    def now():
        return clock["t"]

    def sleep(s):
        slept.append(s)
        clock["t"] += s

    rl = WI.RateLimiter(max_calls=3, window_seconds=60.0)
    for _ in range(3):
        rl.wait_if_needed(now=now, sleep=sleep)
    assert slept == []
    rl.wait_if_needed(now=now, sleep=sleep)  # 4th call must wait out window
    assert slept and slept[0] == pytest.approx(60.0)


def test_jsonl_roundtrip_events(spark, sf_dir, tmp_path):
    # JSONL sink -> explicit-schema source must reproduce the table exactly
    # (timestamps survive as ISO strings and parse back to the same micros)
    from pyspark.sql import types as T

    from weather_data_pipeline_spark.sources.tables import (
        load_table,
        read_jsonl,
        write_jsonl,
    )

    ev = load_table(spark, sf_dir, "events").limit(200)
    path = str(tmp_path / "events_jsonl")
    write_jsonl(ev, path)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    back = read_jsonl(spark, path, schema).cache()
    assert back.where("_corrupt_record IS NOT NULL").count() == 0
    a = sorted(ev.select("event_id", "ts", "value").collect())
    b = sorted(back.select("event_id", "ts", "value").collect())
    assert a == b


def test_jsonl_corrupt_record_surfaces(spark, tmp_path):
    from pyspark.sql import types as T

    from weather_data_pipeline_spark.sources.tables import read_jsonl

    p = tmp_path / "bad"
    p.mkdir()
    (p / "part.json").write_text('{"a": 1}\n{not json}\n{"a": 3}\n')
    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    # Spark disallows querying ONLY the corrupt-record column from a raw
    # JSON scan; cache the parsed result first (the documented pattern)
    df = read_jsonl(spark, str(p), schema).cache()
    assert df.count() == 3
    assert df.where("_corrupt_record IS NOT NULL").count() == 1


def test_weather_rest_datasource_batch(spark):
    from weather_data_pipeline_spark.sources import rest_datasource as RD

    RD.register(spark)
    df = (
        spark.read.format("weather_rest")
        .option("cities", "London,Paris,Tokyo")
        .option("cycles", "4")
        .load()
    )
    rows = df.collect()
    assert len(rows) == 12  # 3 cities x 4 cycles, one partition per city
    assert df.rdd.getNumPartitions() == 3
    # deterministic offline transport: same (city, cycle) -> same observation
    again = (
        spark.read.format("weather_rest")
        .option("cities", "London,Paris,Tokyo")
        .option("cycles", "4")
        .load()
        .collect()
    )
    assert sorted(rows) == sorted(again)
    one = [r for r in rows if r.city == "London" and r.cycle == 0][0]
    assert -10 <= one.temp <= 35 and 20 <= one.humidity < 100


def test_weather_rest_datasource_stream(spark, tmp_path):
    from weather_data_pipeline_spark.sources import rest_datasource as RD

    RD.register(spark)
    df = (
        spark.readStream.format("weather_rest")
        .option("cities", "London,Paris")
        .option("cycles", "3")
        .load()
    )
    name = "weather_rest_stream_test"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name)
    # 2 cities x 3 cycles drained across micro-batches
    assert out.count() == 6
    assert out.select("cycle").distinct().count() == 3


def test_observed_flatten_metrics_single_pass(spark):
    import copy

    bad_missing_temp = copy.deepcopy(RAW_OK)
    bad_missing_temp["main"]["temp"] = None
    bad_no_weather = copy.deepcopy(RAW_OK)
    bad_no_weather["weather"] = []
    raw = _raw_df(spark, [RAW_OK, RAW_OK, bad_missing_temp, bad_no_weather])

    flat, obs = WI.observed_flatten(raw)
    n_valid = flat.count()  # the ONE action; metrics ride along
    m = obs.get
    assert m["n_raw"] == 4
    assert m["n_invalid"] == 2
    assert m["n_null_temp"] == 1
    assert n_valid == 2


def test_ntz_to_ltz_converts_nested_timestamps(spark):
    """NTZ timestamps nested inside struct/array columns convert to LTZ with
    identical wall-clock values (UTC session) — not just top-level fields."""
    import datetime as dt

    from pyspark.sql import types as T

    from weather_data_pipeline_spark.sources.tables import _ntz_to_ltz

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t0 = dt.datetime(2024, 3, 1, 12, 30, 0)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("created", T.TimestampNTZType()),
                        T.StructField("tag", T.StringType()),
                    ]
                ),
            ),
            T.StructField("history", T.ArrayType(T.TimestampNTZType())),
        ]
    )
    df = spark.createDataFrame([(1, t0, (t0, "x"), [t0, t0])], schema)
    out = _ntz_to_ltz(df)
    s = out.schema
    assert s["ts"].dataType == T.TimestampType()
    assert s["meta"].dataType["created"].dataType == T.TimestampType()
    assert s["history"].dataType.elementType == T.TimestampType()
    row = out.collect()[0]
    assert row.ts == t0 and row.meta.created == t0 and row.history == [t0, t0]


def test_ntz_to_ltz_noop_when_no_ntz(spark):
    from weather_data_pipeline_spark.sources.tables import _ntz_to_ltz

    df = spark.range(3).withColumn("s", __import__("pyspark").sql.functions.lit("a"))
    assert _ntz_to_ltz(df) is df  # no projection added for NTZ-free schemas
