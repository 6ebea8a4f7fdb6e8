"""Seeded input generators. The program sees only the files written here.

Events follow the schema of the star-schema `events` fixture: event_id
(int64), ts (µs timestamp without zone), user_id (int64), event_type
(string), value (double, 2 dp), props (string); no nulls. Ingest batches
are OpenWeather-shaped JSON documents, one per line.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
N_USERS = 1500
EVENT_DAYS = 30
EVENT_START = pd.Timestamp("2024-01-01")

N_CITIES = 50
HISTORY_DAYS = 3
REVISED_SHARE = 0.2
INGEST_START_S = int(pd.Timestamp("2024-03-01", tz="UTC").timestamp())
WEATHER_KINDS = (
    ("Clear", "clear sky"),
    ("Clouds", "broken clouds"),
    ("Rain", "light rain"),
    ("Snow", "light snow"),
    ("Mist", "mist"),
)


def make_events(seed: int, n_rows: int) -> pd.DataFrame:
    """`n_rows` events over 30 days, 1,500 users and 5 event types, with
    distinct timestamps so every per-city window order is total."""
    rng = np.random.default_rng([seed, 1])
    span_us = EVENT_DAYS * 86_400 * 1_000_000
    ts = np.unique(rng.integers(0, span_us, size=n_rows + n_rows // 10))
    while ts.size < n_rows:
        ts = np.unique(np.concatenate([ts, rng.integers(0, span_us, size=n_rows)]))
    ts = np.sort(rng.choice(ts, size=n_rows, replace=False))
    return pd.DataFrame(
        {
            "event_id": np.arange(n_rows, dtype=np.int64),
            "ts": (EVENT_START + pd.to_timedelta(ts, unit="us")).astype("datetime64[us]"),
            "user_id": rng.integers(0, N_USERS, size=n_rows, dtype=np.int64),
            "event_type": np.asarray(EVENT_TYPES, dtype=object)[
                rng.integers(0, len(EVENT_TYPES), size=n_rows)
            ],
            "value": np.round(rng.exponential(50.0, size=n_rows), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_rows)],
        }
    )


def write_events(events: pd.DataFrame, table_dir: str) -> str:
    """Write `events` as `<table_dir>/events.parquet` (one file, the layout
    `sources.tables.load_events` reads) and return the path."""
    os.makedirs(table_dir, exist_ok=True)
    path = os.path.join(table_dir, "events.parquet")
    pq.write_table(pa.Table.from_pandas(events, preserve_index=False), path)
    return path


def _city(i: int) -> dict:
    return {
        "name": f"City{i:02d}",
        "country": ("GB", "FR", "DE", "ES", "IT")[i % 5],
        "lat": round(35.0 + i * 0.5, 4),
        "lon": round(-10.0 + i * 0.7, 4),
        "timezone": 3600 * (i % 3),
    }


def _doc(rng, city: dict, dt: int) -> dict:
    temp = round(float(rng.normal(12.0, 8.0)), 2)
    kind = WEATHER_KINDS[int(rng.integers(0, len(WEATHER_KINDS)))]
    doc = {
        "name": city["name"],
        "dt": dt,
        "timezone": city["timezone"],
        "visibility": int(rng.integers(1000, 10001)),
        "coord": {"lat": city["lat"], "lon": city["lon"]},
        "main": {
            "temp": temp,
            "feels_like": round(temp - float(rng.uniform(0, 3)), 2),
            "temp_min": round(temp - 1.5, 2),
            "temp_max": round(temp + 1.5, 2),
            "pressure": int(rng.integers(980, 1041)),
            "humidity": int(rng.integers(20, 101)),
        },
        "wind": {"speed": round(float(rng.uniform(0, 15)), 2), "deg": int(rng.integers(0, 360))},
        "clouds": {"all": int(rng.integers(0, 101))},
        "weather": [{"main": kind[0], "description": kind[1]}],
        "sys": {"country": city["country"]},
    }
    if kind[0] == "Rain":
        doc["rain"] = {"1h": round(float(rng.uniform(0.1, 5)), 2)}
    if kind[0] == "Snow":
        doc["snow"] = {"1h": round(float(rng.uniform(0.1, 3)), 2)}
    return doc


def _invalid_docs(rng, hour_s: int) -> list[dict]:
    """One document for each way validation rejects a reading. Their keys
    fall between readings (minute 30), so none collides with a valid key."""
    cities = [_city(int(i)) for i in rng.integers(0, N_CITIES, size=3)]
    dt = hour_s + 1800
    no_name = _doc(rng, cities[0], dt)
    del no_name["name"]
    no_temp = _doc(rng, cities[1], dt)
    no_temp["main"]["temp"] = None
    no_weather = _doc(rng, cities[2], dt)
    no_weather["weather"] = []
    return [no_name, no_temp, no_weather]


@dataclass
class IngestFeed:
    """Micro-batches of weather documents for `N_CITIES` cities. Batch k
    holds hour `HISTORY_DAYS*24 + k` for every city, revisions of a
    `REVISED_SHARE` of batch k-1's readings, and three invalid documents.
    The history file holds the first `HISTORY_DAYS` days, hourly."""

    seed: int
    out_dir: str
    _prev_keys: list = field(default_factory=list)

    def _write(self, name: str, docs: list[dict]) -> str:
        os.makedirs(self.out_dir, exist_ok=True)
        path = os.path.join(self.out_dir, name)
        with open(path, "w") as f:
            for d in docs:
                f.write(json.dumps(d) + "\n")
        return path

    def history(self) -> tuple[str, list[dict]]:
        rng = np.random.default_rng([self.seed, 2])
        docs = [
            _doc(rng, _city(i), INGEST_START_S + 3600 * h)
            for h in range(HISTORY_DAYS * 24)
            for i in range(N_CITIES)
        ]
        return self._write("history.json", docs), docs

    def batch(self, k: int) -> tuple[str, list[dict]]:
        """Batch k; batches must be asked for in order 0, 1, 2, ..."""
        rng = np.random.default_rng([self.seed, 3, k])
        hour_s = INGEST_START_S + 3600 * (HISTORY_DAYS * 24 + k)
        new = [_doc(rng, _city(i), hour_s) for i in range(N_CITIES)]
        n_rev = int(round(REVISED_SHARE * len(self._prev_keys)))
        picks = rng.choice(len(self._prev_keys), size=n_rev, replace=False) if n_rev else []
        revised = [_doc(rng, _city(self._prev_keys[j][0]), self._prev_keys[j][1]) for j in picks]
        docs = new + revised + _invalid_docs(rng, hour_s)
        order = rng.permutation(len(docs))
        self._prev_keys = [(i, hour_s) for i in range(N_CITIES)]
        return self._write(f"batch_{k:05d}.json", [docs[j] for j in order]), docs
