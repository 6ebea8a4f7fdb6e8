"""Output checks computed apart from the program: DuckDB, pandas and a
pure-Python last-write-wins model. Each check returns a list of problems;
an empty list means the output is correct."""

from __future__ import annotations

import hashlib

import duckdb
import numpy as np
import pandas as pd

from perfbench.inputs import INGEST_START_S

FLOAT_RTOL = 1e-9


def _canonical(pdf: pd.DataFrame) -> pd.DataFrame:
    """Same values, same representation, whichever engine produced them:
    columns by name, numbers as float64 (no -0.0), timestamps as µs."""
    out = {}
    for c in sorted(pdf.columns):
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            us = s.astype("datetime64[us]").astype("int64").astype("float64")
            out[c] = us.where(s.notna(), np.nan)
        elif pd.api.types.is_bool_dtype(s) or pd.api.types.is_numeric_dtype(s):
            out[c] = s.astype("float64") + 0.0
        else:
            out[c] = s.astype(object).where(s.notna(), None)
    return pd.DataFrame(out)


def frame_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash of a frame's values: the sorted multiset of
    per-row hashes, with column names."""
    canon = _canonical(pdf)
    rows = np.sort(pd.util.hash_pandas_object(canon, index=False).to_numpy())
    h = hashlib.sha256("|".join(canon.columns).encode())
    h.update(rows.tobytes())
    return h.hexdigest()[:16]


def frames_match(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Row-order-insensitive comparison; floats to a relative 1e-9, since
    an average summed in another order differs in the last bits."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    g, w = _canonical(got), _canonical(want)
    keys = [c for c in g.columns if g[c].dtype == object] + [
        c for c in g.columns if g[c].dtype != object
    ]
    g = g.sort_values(keys, kind="mergesort").reset_index(drop=True)
    w = w.sort_values(keys, kind="mergesort").reset_index(drop=True)
    problems = []
    for c in g.columns:
        if g[c].dtype == object:
            bad = (g[c] != w[c]).to_numpy()
        else:
            bad = ~np.isclose(g[c], w[c], rtol=FLOAT_RTOL, atol=1e-12, equal_nan=True)
        if bad.any():
            i = int(np.argmax(bad))
            problems.append(f"{name}.{c}: row {i} has {g[c][i]!r}, expected {w[c][i]!r}")
    return problems


def _duck(events_path: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
    return con


# --- features ---------------------------------------------------------------
MEASURES = ("temperature", "humidity", "pressure", "wind_speed")
HORIZON = 24


def weather_view(events: pd.DataFrame) -> pd.DataFrame:
    """The weather reading each event stands for, recomputed in pandas."""
    return pd.DataFrame(
        {
            "city": "city_" + (events["user_id"] % 20).astype(str),
            "timestamp": events["ts"],
            "temperature": events["value"] / 10.0,
            "humidity": (events["user_id"] * 7) % 100,
            "pressure": 1000 + events["user_id"] % 50,
            "wind_speed": events["value"] / 50.0,
        }
    )


def feature_twin_hash(events_path: str, twin_sql: str) -> tuple[str, int]:
    """Hash and row count of the pipeline's DuckDB twin on the input file."""
    con = _duck(events_path)
    try:
        want = con.execute(twin_sql).fetchdf()
    finally:
        con.close()
    return frame_hash(want), len(want)


def check_feature_windows(
    got: pd.DataFrame, events: pd.DataFrame, cities: list[str]
) -> list[str]:
    """Lag-24, rolling mean (min_periods 1) and rolling std (min_periods 2)
    over 24 rows, and the rows left once the last `HORIZON` readings of
    each city (no future target) are dropped."""
    w = weather_view(events).sort_values(["city", "timestamp"], kind="mergesort")
    per_city = w.groupby("city").size()
    problems = []
    want_rows = int((per_city - HORIZON).clip(lower=0).sum())
    if len(got) != want_rows:
        problems.append(f"features: {len(got)} rows after the target drop, expected {want_rows}")
    g = got.assign(timestamp=_canonical(got[["timestamp"]])["timestamp"])
    for city in cities:
        cw = w[w["city"] == city].reset_index(drop=True)
        cw = cw.assign(timestamp=_canonical(cw[["timestamp"]])["timestamp"])
        expect = {}
        for c in MEASURES:
            x = cw[c].astype("float64")
            expect[f"{c}_lag_24"] = x.shift(24)
            expect[f"{c}_rolling_mean_24"] = x.rolling(24, min_periods=1).mean()
            expect[f"{c}_rolling_std_24"] = x.rolling(24, min_periods=2).std()
        exp = pd.DataFrame(expect).assign(timestamp=cw["timestamp"]).iloc[: max(len(cw) - HORIZON, 0)]
        gc = g[g["city"] == city].sort_values("timestamp").reset_index(drop=True)
        if len(gc) != len(exp) or not np.array_equal(gc["timestamp"], exp["timestamp"]):
            problems.append(f"features: rows of {city} differ from the input's readings")
            continue
        for col, want in exp.drop(columns="timestamp").items():
            have = gc[col].astype("float64")
            # the pipeline sums x*x as DECIMAL(18,6): each square is rounded
            # to 6 dp, so a std can differ from the pandas one by ~1e-5
            atol = 1e-4 if "_std_" in col else 1e-9
            bad = ~np.isclose(have, want, rtol=1e-9, atol=atol, equal_nan=True)
            if bad.any():
                i = int(np.argmax(bad))
                problems.append(f"features.{col} ({city}) row {i}: {have[i]!r}, expected {want[i]!r}")
    return problems


# --- dashboard ---------------------------------------------------------------
_RECENT = """
WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
                   value, props FROM events),
r AS (SELECT * FROM ev
      WHERE ts >= (SELECT max(ts) FROM ev) - INTERVAL {hours} HOUR)
"""
PANEL_SQL = {
    "current_stats": "SELECT avg(value) AS avg_value, max(value) AS max_value, "
    "min(value) AS min_value, count(DISTINCT user_id) AS n_users, "
    "count(*) AS n_rows FROM r",
    "entity_comparison": "SELECT event_type, avg(value) AS avg_value FROM r GROUP BY event_type",
    "type_distribution": "SELECT event_type, count(*) AS n FROM r GROUP BY event_type",
    "latest_per_user": "SELECT event_id, ts, user_id, event_type, value, props FROM ("
    "SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)"
    " AS rn FROM r) WHERE rn = 1",
    "hourly_profile": "SELECT hour(ts) AS hour, avg(value) AS avg_value, count(*) AS n "
    "FROM r GROUP BY hour(ts)",
}


def dashboard_expected(
    events_path: str, registry_sql: dict[str, str], hours: int = 24 * 30
) -> dict[str, pd.DataFrame]:
    """Every refresh output, computed by DuckDB: the benchmark's SQL for
    the five panels and the registry's oracle SQL for the other four."""
    con = _duck(events_path)
    try:
        out = {
            name: con.execute(_RECENT.format(hours=hours) + sql).fetchdf()
            for name, sql in PANEL_SQL.items()
        }
        out.update({name: con.execute(sql).fetchdf() for name, sql in registry_sql.items()})
    finally:
        con.close()
    return out


def check_dashboard(got: dict[str, pd.DataFrame], want: dict[str, pd.DataFrame]) -> list[str]:
    if sorted(got) != sorted(want):
        return [f"dashboard: panels {sorted(got)}, expected {sorted(want)}"]
    return [p for name in sorted(want) for p in frames_match(name, got[name], want[name])]


# --- ingest --------------------------------------------------------------------
FLAT_COLS = (
    "city", "country", "timestamp", "temperature", "feels_like", "temp_min",
    "temp_max", "pressure", "humidity", "wind_speed", "wind_deg", "cloudiness",
    "visibility", "weather_main", "weather_description", "rain_1h", "snow_1h",
    "lat", "lon", "timezone",
)


def _valid(doc: dict) -> bool:
    main = doc.get("main")
    return (
        doc.get("name") is not None
        and doc.get("dt") is not None
        and main is not None
        and main.get("temp") is not None
        and doc.get("wind") is not None
        and doc.get("coord") is not None
        and len(doc.get("weather") or []) > 0
    )


def _flat(doc: dict) -> dict:
    m, w = doc["main"], doc["wind"]
    return {
        "city": doc["name"],
        "country": doc["sys"]["country"],
        "timestamp": pd.Timestamp(doc["dt"], unit="s"),
        "temperature": m["temp"],
        "feels_like": m["feels_like"],
        "temp_min": m["temp_min"],
        "temp_max": m["temp_max"],
        "pressure": m["pressure"],
        "humidity": m["humidity"],
        "wind_speed": w["speed"],
        "wind_deg": w["deg"],
        "cloudiness": doc["clouds"]["all"],
        "visibility": doc["visibility"],
        "weather_main": doc["weather"][0]["main"],
        "weather_description": doc["weather"][0]["description"],
        "rain_1h": (doc.get("rain") or {}).get("1h", 0.0),
        "snow_1h": (doc.get("snow") or {}).get("1h", 0.0),
        "lat": doc["coord"]["lat"],
        "lon": doc["coord"]["lon"],
        "timezone": doc["timezone"],
    }


class IngestModel:
    """The table every batch should leave behind: valid documents only,
    one row per (city, timestamp), the latest batch's reading winning."""

    def __init__(self) -> None:
        self.rows: dict[tuple, dict] = {}
        self.revised: set[tuple] = set()

    def apply(self, docs: list[dict]) -> None:
        for d in docs:
            if _valid(d):
                row = _flat(d)
                key = (row["city"], row["timestamp"])
                if key in self.rows:
                    self.revised.add(key)
                self.rows[key] = row

    def table(self) -> pd.DataFrame:
        return pd.DataFrame(list(self.rows.values()), columns=list(FLAT_COLS))

    def latest(self) -> pd.DataFrame:
        t = self.table().sort_values(["city", "timestamp"])
        return t.groupby("city", as_index=False).tail(1)

    def check_latest(self, got: pd.DataFrame) -> list[str]:
        return frames_match("ingest.latest", got[list(FLAT_COLS)], self.latest())

    def check_table(self, got: pd.DataFrame) -> list[str]:
        """Row count, key uniqueness, no invalid document, revised values."""
        problems = []
        keys = got[["city", "timestamp"]]
        if keys.duplicated().any():
            problems.append(f"ingest: {int(keys.duplicated().sum())} duplicate keys")
        ts = _canonical(got[["timestamp"]])["timestamp"]
        if ((ts // 1_000_000 - INGEST_START_S) % 3600 != 0).any():
            problems.append("ingest: a document that fails validation was stored")
        want = self.table()
        got_rev = got.merge(
            pd.DataFrame(sorted(self.revised), columns=["city", "timestamp"]), on=["city", "timestamp"]
        )
        want_rev = want.merge(got_rev[["city", "timestamp"]], on=["city", "timestamp"])
        if len(got_rev) != len(self.revised):
            problems.append(f"ingest: {len(got_rev)} of {len(self.revised)} revised keys stored")
        problems += frames_match("ingest.revised", got_rev[list(FLAT_COLS)], want_rev)
        problems += frames_match("ingest.table", got[list(FLAT_COLS)], want)
        return problems
