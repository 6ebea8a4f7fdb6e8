"""Query registry: every implemented operator as a (spark_fn, oracle_sql) pair.

This is the engine's public query surface (SURVEY.md §2) plus the
beyond-reference operators (joins, dedup, similarity, text). Each entry is

    name -> QueryDef(spark=Callable[(SparkSession, sf_dir)] -> DataFrame,
                     sql=ANSI SQL for DuckDB on the same parquet, or None)

Determinism / oracle-parity rules used throughout:

- Every computed column is aliased identically in Spark and SQL.
- Float **sums/averages over many rows** go through exact DECIMAL(18,6)
  arithmetic then a single cast to DOUBLE, so Spark and DuckDB produce
  bit-identical doubles regardless of accumulation order.
- Small-frame window stats (rolling mean/std) and correlations are rounded
  (6 dp) in BOTH engines — accumulation-order error there is ~1e-14.
- Window orders always include a unique tiebreak (event_id) so results are
  well-defined with duplicate timestamps.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import scalar
from ..functions.localrel import literal_df
from ..operators import joins as J
from ..operators import relational as R
from ..operators import windows as W
from .. import session_cache as SC
from ..sources.tables import load_table, parquet_row_count


@dataclass(frozen=True)
class QueryDef:
    spark: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None -> driver does rows-only check


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = QueryDef(spark=fn, sql=sql)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _spread_scan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Widen a small-file SCAN before an expensive per-row map stage
    (tokenize/shingle/gram explode). The fixture tables are one parquet
    row-group, so the scan is ONE split no matter how large the corpus
    grows — at sf1.0 the shingle stage of the near-dup edge derivation ran
    12 s on a single task while 31 cores idled (r6 skew bench). The
    getNumPartitions() guard is accurate for scans (file splits are known
    at plan time, no AQE involved) and makes this a no-op on a real
    multi-split corpus; the exchanged bytes are the raw column values —
    trivial next to the explode they feed."""
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par)
    return df


# Current fixtures store events.ts as µs TIMESTAMP_NTZ (CAST is then an
# identity); the CTE also normalizes the legacy ns-fixture case where both
# engines truncate to µs (sources/tables.py). Prepend to every events oracle
# so both engines compare/window/return the same µs values.
EV = (
    "WITH ev_us AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, "
    "user_id, event_type, value, props FROM events)"
)


def ev_sql(body: str) -> str:
    """Wrap an events oracle body with the ts-truncating CTE (named `ev_us`
    because DuckDB CTEs may not shadow the view they read). References to
    `events` in the body are rewritten to the CTE."""
    import re

    body = re.sub(r"\bevents\b", "ev_us", body)
    stripped = body.lstrip()
    if stripped.upper().startswith("WITH "):
        return EV + ", " + stripped[5:]
    return EV + "\n" + body


def dsum(expr: Column) -> Column:
    """Exact distributed sum of a double expression: accumulate in
    DECIMAL(18,6) (order-independent), emit DOUBLE."""
    return F.sum(expr.cast("decimal(18,6)")).cast("double")


def davg(expr: Column) -> Column:
    """Exact mean: decimal sum / count — bit-identical across engines."""
    return dsum(expr) / F.count(expr.cast("decimal(18,6)"))


# SQL-side twins of dsum/davg (DuckDB)
def SQL_DSUM(e: str) -> str:
    return f"CAST(SUM(CAST({e} AS DECIMAL(18,6))) AS DOUBLE)"


def SQL_DAVG(e: str) -> str:
    return f"{SQL_DSUM(e)} / COUNT(CAST({e} AS DECIMAL(18,6)))"


# ---------------------------------------------------------------------------
# Flagship: TPC-H-Q1-shaped pricing summary (scan + pushdown filter +
# hash agg with map-side partials + small sort). SURVEY.md §7.4.
# ---------------------------------------------------------------------------
_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {SQL_DSUM('l_quantity')} AS sum_qty,
       {SQL_DSUM('l_extendedprice')} AS sum_base_price,
       {SQL_DSUM('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {SQL_DSUM('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {SQL_DAVG('l_quantity')} AS avg_qty,
       {SQL_DAVG('l_extendedprice')} AS avg_price,
       {SQL_DAVG('l_discount')} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", _Q1_SQL)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# §2.4 aggregations on events (the dashboard's query surface)
# ---------------------------------------------------------------------------
@register(
    "group_summary_events",
    ev_sql(f"""
SELECT event_type,
       COUNT(*) AS n_rows,
       {SQL_DAVG('value')} AS avg_value,
       MAX(ts) AS max_ts
FROM events GROUP BY event_type ORDER BY event_type
"""),
)
def group_summary_events(spark, sf_dir):
    # reference quick_db_check.py:35-44 / dashboard.py:236-241 (A1/A2)
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            davg(F.col("value")).alias("avg_value"),
            F.max("ts").alias("max_ts"),
        )
        .orderBy("event_type")
    )


@register(
    "global_stats_events",
    ev_sql(f"""
SELECT {SQL_DAVG('value')} AS avg_value,
       MAX(value) AS max_value, MIN(value) AS min_value,
       COUNT(*) AS n_rows, COUNT(DISTINCT user_id) AS n_users
FROM events
"""),
)
def global_stats_events(spark, sf_dir):
    # reference dashboard.py:160-176 (A3/A4/A7/A14)
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        davg(F.col("value")).alias("avg_value"),
        F.max("value").alias("max_value"),
        F.min("value").alias("min_value"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "value_counts_event_type",
    """
SELECT event_type, COUNT(*) AS n
FROM events GROUP BY event_type ORDER BY n DESC, event_type
""",
)
def value_counts_event_type(spark, sf_dir):
    # reference dashboard.py:212 (A5)
    return R.value_counts(_t(spark, sf_dir, "events"), "event_type")


@register(
    "latest_event_per_user",
    ev_sql("""
SELECT event_id, ts, user_id, event_type, value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS _rn
  FROM events
) WHERE _rn = 1
"""),
)
def latest_event_per_user(spark, sf_dir):
    # reference dashboard.py:163 groupby('city').first() (A6), explicit order
    ev = _t(spark, sf_dir, "events")
    return R.latest_per_group(ev, "user_id", "ts", "event_id").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


@register(
    "recent_events_scan",
    ev_sql("""
SELECT event_id, ts, user_id, event_type, value
FROM events
WHERE ts >= TIMESTAMP '2024-01-20' AND ts <= TIMESTAMP '2024-01-25'
"""),
)
def recent_events_scan(spark, sf_dir):
    # reference S9 time-range scan (weather_collector.py:360-374) with a fixed
    # literal range (deterministic vs now()); pushdown-pruned at the scan.
    ev = _t(spark, sf_dir, "events")
    return R.time_range_scan(ev, "ts", "2024-01-20", "2024-01-25").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


@register(
    "topk_events_by_value",
    """
SELECT event_id, user_id, value
FROM events ORDER BY value DESC, event_id LIMIT 15
""",
)
def topk_events_by_value(spark, sf_dir):
    # reference S10/W9 (quick_db_check.py:24-29) — TakeOrderedAndProject
    ev = _t(spark, sf_dir, "events")
    return R.projected_topk(
        ev, ["event_id", "user_id", "value"], [F.desc("value"), F.col("event_id")], 15
    )


@register(
    "null_counts_events",
    """
SELECT CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_ts,
       CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_user_id,
       CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_event_type,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_value,
       CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_props
FROM events
""",
)
def null_counts_events(spark, sf_dir):
    # reference data_processor.py:359-364 (A8) — one pass, no per-column jobs
    ev = _t(spark, sf_dir, "events")
    return R.null_counts(ev, ["ts", "user_id", "event_type", "value", "props"])


@register(
    "duplicate_keys_events",
    """
SELECT user_id, event_type, COUNT(*) AS n_dups
FROM events GROUP BY user_id, event_type HAVING COUNT(*) > 1
ORDER BY user_id, event_type
""",
)
def duplicate_keys_events(spark, sf_dir):
    # reference data_processor.py:351-356 (A9) duplicate-key audit
    return R.duplicate_keys(_t(spark, sf_dir, "events"), ["user_id", "event_type"])


@register(
    "out_of_range_events",
    """
SELECT CAST(SUM(CASE WHEN value < 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS below_value,
       CAST(SUM(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS above_value
FROM events
""",
)
def out_of_range_events(spark, sf_dir):
    # reference VALID_RANGES audit (data_processor.py:316-328) (A10)
    return R.out_of_range_counts(_t(spark, sf_dir, "events"), {"value": (0.0, 100.0)})


# Engine-portable std/corr closed forms: every Σ is an exact DECIMAL sum cast
# once to DOUBLE, so the remaining double arithmetic is identical in Spark and
# DuckDB (no ROUND — rounding ties are engine-dependent on quantized data).
def _sql_std(c: str) -> str:
    n = f"CAST(COUNT({c}) AS DOUBLE)"
    sx = SQL_DSUM(c)
    sxx = SQL_DSUM(f"{c} * {c}")
    return f"sqrt(GREATEST(({sxx} - {sx} * {sx} / {n}) / ({n} - 1.0), 0.0))"


def _spark_std(c: str) -> Column:
    n = F.count(F.col(c)).cast("double")
    sx = dsum(F.col(c))
    sxx = dsum(F.col(c) * F.col(c))
    return F.sqrt(F.greatest((sxx - sx * sx / n) / (n - F.lit(1.0)), F.lit(0.0)))


def _sql_corr(a: str, b: str) -> str:
    n = "CAST(COUNT(*) AS DOUBLE)"
    sa, sb = SQL_DSUM(a), SQL_DSUM(b)
    sab = SQL_DSUM(f"{a} * {b}")
    saa, sbb = SQL_DSUM(f"{a} * {a}"), SQL_DSUM(f"{b} * {b}")
    return (
        f"(({n} * {sab} - {sa} * {sb}) / "
        f"(sqrt({n} * {saa} - {sa} * {sa}) * sqrt({n} * {sbb} - {sb} * {sb})))"
    )


def _spark_corr(a: str, b: str) -> Column:
    n = F.count(F.lit(1)).cast("double")
    ca, cb = F.col(a), F.col(b)
    sa, sb = dsum(ca), dsum(cb)
    sab = dsum(ca * cb)
    saa, sbb = dsum(ca * ca), dsum(cb * cb)
    return (n * sab - sa * sb) / (
        F.sqrt(n * saa - sa * sa) * F.sqrt(n * sbb - sb * sb)
    )


_STATS_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_STATS_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column, {SQL_DAVG(c)} AS mean,
       {_sql_std(c)} AS std,
       CAST(MIN({c}) AS DOUBLE) AS min, CAST(MAX({c}) AS DOUBLE) AS max,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
FROM lineitem"""
    for c in _STATS_COLS
)


@register("column_stats_lineitem", _STATS_SQL)
def column_stats_lineitem(spark, sf_dir):
    # reference data_processor.py:402-421 (A12), one wide agg then unpivot
    li = _t(spark, sf_dir, "lineitem")
    aggs = []
    for c in _STATS_COLS:
        aggs.append(
            F.struct(
                F.lit(c).alias("column"),
                davg(F.col(c)).alias("mean"),
                _spark_std(c).alias("std"),
                F.min(c).cast("double").alias("min"),
                F.max(c).cast("double").alias("max"),
                F.sum(F.col(c).isNull().cast("long")).alias("n_null"),
            ).alias(c)
        )
    wide = li.agg(*aggs)
    return wide.select(
        F.explode(F.array(*[F.col(c) for c in _STATS_COLS])).alias("s")
    ).select("s.column", "s.mean", "s.std", "s.min", "s.max", "s.n_null")


@register(
    "corr_lineitem",
    f"""
SELECT {_sql_corr('l_quantity', 'l_extendedprice')} AS corr_qty_price,
       {_sql_corr('l_extendedprice', 'l_discount')} AS corr_price_disc,
       {_sql_corr('l_quantity', 'l_tax')} AS corr_qty_tax
FROM lineitem
""",
)
def corr_lineitem(spark, sf_dir):
    # reference dashboard.py:178-199 (A13) Pearson correlation, one scan
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        _spark_corr("l_quantity", "l_extendedprice").alias("corr_qty_price"),
        _spark_corr("l_extendedprice", "l_discount").alias("corr_price_disc"),
        _spark_corr("l_quantity", "l_tax").alias("corr_qty_tax"),
    )


@register(
    "mode_event_type_per_user",
    """
SELECT user_id, event_type AS mode_event_type
FROM (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY COUNT(*) DESC, event_type) AS _rn
  FROM events GROUP BY user_id, event_type
) WHERE _rn = 1
""",
)
def mode_event_type_per_user(spark, sf_dir):
    # reference mode imputation (data_processor.py:193-198) (A11/E4)
    return R.mode_per_group(_t(spark, sf_dir, "events"), "user_id", "event_type")


# ---------------------------------------------------------------------------
# §2.3 joins (beyond-reference mandate: star-schema enrichment)
# ---------------------------------------------------------------------------
@register(
    "revenue_by_nation",
    f"""
SELECT n_name,
       {SQL_DSUM('l_extendedprice * (1 - l_discount)')} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
""",
)
def revenue_by_nation(spark, sf_dir):
    # fact-fact sort-merge + broadcast dims; AQE handles skew
    return J.revenue_by_nation(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
    )


@register(
    "customers_without_orders",
    """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
ORDER BY c_custkey
""",
)
def customers_without_orders(spark, sf_dir):
    # left-anti join (NOT EXISTS)
    return (
        J.customers_without_orders(
            _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
        )
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


@register(
    "customer_order_activity",
    """
SELECT c_mktsegment, COUNT(*) AS n_active_customers
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
)
def customer_order_activity(spark, sf_dir):
    # left-semi join (EXISTS) + group count
    active = J.customers_with_orders(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )
    return (
        active.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_active_customers"))
        .orderBy("c_mktsegment")
    )


@register(
    "top_customers_by_revenue",
    f"""
SELECT c_custkey, c_name, {SQL_DSUM('o_totalprice')} AS total_spend,
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total_spend DESC, c_custkey LIMIT 10
""",
)
def top_customers_by_revenue(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            dsum(F.col("o_totalprice")).alias("total_spend"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.desc("total_spend"), F.col("c_custkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# §2.5 window operators on events (per-user ≙ per-city, ts-ordered)
# ---------------------------------------------------------------------------
_EVW = "PARTITION BY user_id ORDER BY ts, event_id"


def _event_window():
    return Window.partitionBy("user_id").orderBy("ts", "event_id")


@register(
    "lag_events",
    ev_sql(f"""
SELECT event_id, user_id, ts, value,
       lag(value, 1) OVER ({_EVW}) AS value_lag_1,
       lag(value, 3) OVER ({_EVW}) AS value_lag_3,
       lag(value, 6) OVER ({_EVW}) AS value_lag_6
FROM events
"""),
)
def lag_events(spark, sf_dir):
    # W1 (reference data_processor.py:86-98)
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    return W.add_lags(ev, _event_window(), ["value"], lags=(1, 3, 6))


@register(
    "lead_events",
    ev_sql(f"""
SELECT event_id, user_id, ts, value,
       lead(value, 3) OVER ({_EVW}) AS value_future
FROM events
"""),
)
def lead_events(spark, sf_dir):
    # W2 target construction (reference data_processor.py:253)
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    return W.add_lead(ev, _event_window(), "value", 3, "value_future")


@register(
    "diff_events",
    ev_sql(f"""
SELECT event_id, user_id, ts, value,
       value - lag(value, 1) OVER ({_EVW}) AS value_change
FROM events
"""),
)
def diff_events(spark, sf_dir):
    # W5 (reference data_processor.py:151)
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    return W.add_diff(ev, _event_window(), "value", "value_change")


@register(
    "rolling_mean_events",
    ev_sql(f"""
SELECT event_id, user_id, ts,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
         / COUNT(value) OVER w AS value_rolling_mean_24
FROM events
WINDOW w AS ({_EVW} ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
"""),
)
def rolling_mean_events(spark, sf_dir):
    # W3 trailing 24-row mean, min_periods=1 (reference data_processor.py:101-108)
    # exact=True: DECIMAL accumulation → bit-identical to the oracle, no
    # rounding games (ROUND ties are engine-dependent on quantized data).
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = W.add_rolling_mean(ev, _event_window(), ["value"], window=24, exact=True)
    return out.select("event_id", "user_id", "ts", "value_rolling_mean_24")


@register(
    "rolling_std_events",
    ev_sql(f"""
SELECT event_id, user_id, ts,
       CASE WHEN COUNT(value) OVER w >= 2 THEN
         sqrt(GREATEST(
           (CAST(SUM(CAST(value * value AS DECIMAL(18,6))) OVER w AS DOUBLE)
            - CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
              * CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
              / CAST(COUNT(value) OVER w AS DOUBLE))
           / (CAST(COUNT(value) OVER w AS DOUBLE) - 1.0), 0.0))
       END AS value_rolling_std_24
FROM events
WINDOW w AS ({_EVW} ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
"""),
)
def rolling_std_events(spark, sf_dir):
    # W4 with pandas min_periods=2 ddof=1 parity (reference data_processor.py:110-116)
    # exact=True closed form from DECIMAL sums — engine-portable bit equality.
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = W.add_rolling_std(
        ev, _event_window(), ["value"], window=24, min_periods=2, exact=True
    )
    return out.select("event_id", "user_id", "ts", "value_rolling_std_24")


@register(
    "forward_rain_flag_events",
    ev_sql(f"""
SELECT event_id, user_id, ts,
       CASE WHEN COUNT(*) OVER w > 0
            THEN CAST(SUM(CASE WHEN event_type = 'error' THEN value ELSE 0.0 END)
                      OVER w > 0 AS INT) END AS will_spike
FROM events
WINDOW w AS ({_EVW} ROWS BETWEEN 1 FOLLOWING AND 24 FOLLOWING)
"""),
)
def forward_rain_flag_events(spark, sf_dir):
    # W6 will_rain semantics (reference data_processor.py:264-270): flag = 1
    # iff any 'rain' (here: error-event value) in the NEXT 24 rows; null at
    # group tails where the forward frame is empty, matching the pandas NaN.
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value", "event_type")
    rain = F.when(F.col("event_type") == "error", F.col("value")).otherwise(F.lit(0.0))
    ev = ev.withColumn("_rain", rain)
    out = W.add_forward_rolling_sum_positive(
        ev, _event_window(), "_rain", 24, "will_spike"
    )
    return out.select("event_id", "user_id", "ts", "will_spike")


_NULLIFY = "CASE WHEN value < 20.0 THEN NULL ELSE value END"


@register(
    "ffill_limited_events",
    ev_sql(f"""
WITH base AS (
  SELECT event_id, user_id, ts, {_NULLIFY} AS v,
         row_number() OVER ({_EVW}) AS rn
  FROM events
), f AS (
  SELECT *,
    last_value(v IGNORE NULLS) OVER w AS last_val,
    last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS) OVER w AS last_rn
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts, v,
       CASE WHEN v IS NOT NULL THEN v
            WHEN last_rn IS NOT NULL AND rn - last_rn <= 3 THEN last_val
       END AS v_ffill
FROM f
"""),
)
def ffill_limited_events(spark, sf_dir):
    # W7 ffill(limit=3) (reference data_processor.py:182-184): values < 20
    # are nulled to synthesize gaps, then forward-filled at most 3 rows.
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    ev = ev.withColumn(
        "v", F.when(F.col("value") < 20.0, F.lit(None).cast("double")).otherwise(F.col("value"))
    ).drop("value")
    out = W.add_ffill_limited(ev, _event_window(), ["v"], limit=3)
    return out.select("event_id", "user_id", "ts", "v", "v_ffill")


@register(
    "interpolate_events",
    ev_sql(f"""
WITH base AS (
  SELECT event_id, user_id, ts, {_NULLIFY} AS v,
         row_number() OVER ({_EVW}) AS rn
  FROM events
), f AS (
  SELECT *,
    last_value(v IGNORE NULLS) OVER wb AS prev_val,
    last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS) OVER wb AS prev_rn,
    first_value(v IGNORE NULLS) OVER wf AS next_val,
    first_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS) OVER wf AS next_rn
  FROM base
  WINDOW wb AS (PARTITION BY user_id ORDER BY rn
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY rn
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_id, user_id, ts, v,
       CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
            WHEN prev_val IS NULL THEN CAST(next_val AS DOUBLE)
            WHEN next_val IS NULL THEN CAST(prev_val AS DOUBLE)
            ELSE prev_val + (next_val - prev_val)
                 * (CAST(rn - prev_rn AS DOUBLE) / CAST(next_rn - prev_rn AS DOUBLE))
       END AS v_interp
FROM f
"""),
)
def interpolate_events(spark, sf_dir):
    # W8 per-group linear interpolation, limit_direction='both' (reference
    # data_processor.py:186-190) — closed-form windows, no applyInPandas.
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    ev = ev.withColumn(
        "v", F.when(F.col("value") < 20.0, F.lit(None).cast("double")).otherwise(F.col("value"))
    ).drop("value")
    out = W.add_interpolate_linear(ev, "user_id", ["ts", "event_id"], ["v"])
    return out.select("event_id", "user_id", "ts", "v", "v_interp")


# ---------------------------------------------------------------------------
# §2.6 scalar functions: time features / weather indices / binning
# ---------------------------------------------------------------------------
@register(
    "time_features_events",
    ev_sql("""
SELECT event_id, ts,
       hour(ts) AS hour,
       (dayofweek(ts) + 6) % 7 AS day_of_week,
       month(ts) AS month,
       quarter(ts) AS quarter,
       dayofyear(ts) AS day_of_year,
       ROUND(sin(2 * pi() * hour(ts) / 24.0), 6) + 0.0 AS hour_sin,
       ROUND(cos(2 * pi() * hour(ts) / 24.0), 6) + 0.0 AS hour_cos,
       CASE WHEN hour(ts) <= 6 THEN 'Night'
            WHEN hour(ts) <= 12 THEN 'Morning'
            WHEN hour(ts) <= 18 THEN 'Afternoon'
            ELSE 'Evening' END AS time_of_day,
       CAST((dayofweek(ts) + 6) % 7 >= 5 AS INT) AS is_weekend
FROM events
"""),
)
def time_features_events(spark, sf_dir):
    # reference data_processor.py:55-84 incl. the pandas dayofweek shim
    ev = _t(spark, sf_dir, "events").select("event_id", "ts")
    out = scalar.add_time_features(ev, "ts")
    return out.select(
        "event_id",
        "ts",
        F.col("hour").cast("long").alias("hour"),
        F.col("day_of_week").cast("long").alias("day_of_week"),
        F.col("month").cast("long").alias("month"),
        F.col("quarter").cast("long").alias("quarter"),
        F.col("day_of_year").cast("long").alias("day_of_year"),
        # +0.0 normalizes IEEE -0.0 (cos(3π/2) rounds to -0.0 in DuckDB)
        (F.round("hour_sin", 6) + F.lit(0.0)).alias("hour_sin"),
        (F.round("hour_cos", 6) + F.lit(0.0)).alias("hour_cos"),
        "time_of_day",
        "is_weekend",
    )


_SYN = """
  SELECT event_id, value / 10.0 AS temperature,
         CAST(user_id % 100 AS DOUBLE) AS humidity,
         value / 50.0 AS wind_speed
  FROM events
"""


@register(
    "weather_indices_events",
    f"""
WITH syn AS ({_SYN})
SELECT event_id,
  (( -42.379 + 2.04901523*(temperature*9.0/5.0+32.0) + 10.14333127*humidity
       - 0.22475541*(temperature*9.0/5.0+32.0)*humidity
       - 0.00683783*(temperature*9.0/5.0+32.0)*(temperature*9.0/5.0+32.0)
       - 0.05481717*humidity*humidity
       + 0.00122874*(temperature*9.0/5.0+32.0)*(temperature*9.0/5.0+32.0)*humidity
       + 0.00085282*(temperature*9.0/5.0+32.0)*humidity*humidity
       - 0.00000199*(temperature*9.0/5.0+32.0)*(temperature*9.0/5.0+32.0)*humidity*humidity
  ) - 32.0) * 5.0/9.0 AS heat_index,
  ROUND(CASE WHEN temperature < 10.0
        THEN 13.12 + 0.6215*temperature - 11.37*pow(wind_speed*3.6, 0.16)
             + 0.3965*temperature*pow(wind_speed*3.6, 0.16)
        ELSE temperature END, 6) AS wind_chill,
  temperature - 0.55*(1.0 - 0.01*humidity)*(temperature - 14.5)
    AS discomfort_index
FROM syn
""",
)
def weather_indices_events(spark, sf_dir):
    # reference data_processor.py:121-157 formulas, on synthesized
    # temp/humidity/wind columns derived deterministically from events.
    # heat/discomfort are pure +,-,* with identical association in both
    # engines → bit-identical, no rounding. wind_chill contains pow(), whose
    # last ulp may differ between libm and the JVM → ROUND 6 (safe: pow
    # outputs are never on decimal midpoints; the passthrough branch is
    # 3-decimal-quantized, also never on 6-decimal midpoints).
    ev = _t(spark, sf_dir, "events")
    syn = ev.select(
        "event_id",
        (F.col("value") / 10.0).alias("temperature"),
        (F.col("user_id") % 100).cast("double").alias("humidity"),
        (F.col("value") / 50.0).alias("wind_speed"),
    )
    out = scalar.add_weather_indices(syn)
    return out.select(
        "event_id",
        "heat_index",
        F.round("wind_chill", 6).alias("wind_chill"),
        "discomfort_index",
    )


@register(
    "temp_change_distribution",
    ev_sql(f"""
WITH d AS (
  SELECT value - lag(value, 1) OVER ({_EVW}) AS change FROM events
)
SELECT CASE WHEN change IS NULL THEN NULL
            WHEN change <= -2.0 THEN 'Decrease'
            WHEN change <= 2.0 THEN 'Stable'
            ELSE 'Increase' END AS change_category,
       COUNT(*) AS n
FROM d GROUP BY 1 ORDER BY n DESC, change_category NULLS FIRST
"""),
)
def temp_change_distribution(spark, sf_dir):
    # reference pd.cut bins (data_processor.py:257-261) + value-counts
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    d = W.add_diff(ev, _event_window(), "value", "change")
    out = (
        d.select(scalar.temp_change_category(F.col("change")).alias("change_category"))
        .groupBy("change_category")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.col("change_category").asc_nulls_first())
    )
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Oracled queries first (registration order), then rows-only ones: the
    # driver's CORRECTNESS snapshot hash-checks the first N entries in this
    # dict's order, so every slot it can fully verify should be verifiable.
    # Rows-only queries (training metrics, approximate sketches) keep their
    # relative order at the tail; they are gated by pytest instead.
    oracled = {n: q.spark for n, q in REGISTRY.items() if q.sql is not None}
    rows_only = {n: q.spark for n, q in REGISTRY.items() if q.sql is None}
    return {**oracled, **rows_only}


def oracle_sql() -> dict[str, str]:
    return {name: q.sql for name, q in REGISTRY.items() if q.sql is not None}


# ---------------------------------------------------------------------------
# Beyond-reference: text analysis / dedup / similarity (documents, embeddings)
# ---------------------------------------------------------------------------
from ..operators import dedup as D  # noqa: E402
from ..operators import similarity as S  # noqa: E402
from ..operators import text as X  # noqa: E402

_TOKS = "list_distinct(regexp_split_to_array(trim(text), '\\s+'))"
_STOP_SQL = "('the','a','and','of','to','in','is')"
# portable 60-bit md5 hash (matches text.portable_token_hash)
_PHASH = "(('0x' || substr(md5({t}), 1, 15))::BIGINT)"


@register(
    "token_stats_documents",
    f"""
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
           FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_tokens,
       CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
         AS type_token_ratio,
       CAST(len(list_filter(toks, x -> x IN {_STOP_SQL})) AS DOUBLE)
         / CAST(len(toks) AS DOUBLE) AS stopword_ratio
FROM t
""",
)
def token_stats_documents(spark, sf_dir):
    # token counting for training-data pipelines; all JVM array functions
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return X.add_token_stats(docs).drop("text")


@register(
    "quality_score_documents",
    f"""
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
           FROM documents),
s AS (SELECT doc_id,
        CAST(len(toks) AS DOUBLE) AS n,
        CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS ttr,
        CAST(len(list_filter(toks, x -> x IN {_STOP_SQL})) AS DOUBLE)
          / CAST(len(toks) AS DOUBLE) AS swr
      FROM t)
SELECT doc_id,
       0.4 * LEAST(n / 100.0, 1.0) + 0.3 * ttr + 0.3 * (1.0 - swr)
         AS quality_score
FROM s
""",
)
def quality_score_documents(spark, sf_dir):
    # heuristic quality filter: length + lexical diversity + boilerplate
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return X.add_quality_score(docs).select("doc_id", "quality_score")


_LANG_SCORES_SQL = ",\n        ".join(
    "CAST(len(list_filter(toks, x -> x IN ({m}))) AS BIGINT) AS score_{lang}".format(
        lang=lang, m=", ".join(f"'{w}'" for w in words)
    )
    for lang, words in X.LANG_MARKERS.items()
)


@register(
    "language_id_documents",
    f"""
WITH t AS (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS toks
           FROM documents),
s AS (SELECT doc_id, lang,
        {_LANG_SCORES_SQL}
      FROM t)
SELECT doc_id, lang, score_en, score_de, score_es, score_fr, score_zh,
       CASE WHEN score_zh > GREATEST(score_en, score_de, score_es, score_fr) THEN 'zh'
            WHEN score_fr > GREATEST(score_en, score_de, score_es) THEN 'fr'
            WHEN score_es > GREATEST(score_en, score_de) THEN 'es'
            WHEN score_de > score_en THEN 'de'
            ELSE 'en' END AS predicted_lang
FROM s
""",
)
def language_id_documents(spark, sf_dir):
    # marker-word language ID (n-gram heuristic family), fixed tie precedence
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return X.add_language_id(docs).drop("text")


@register(
    "fingerprint_documents",
    """
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
FROM documents
""",
)
def fingerprint_documents(spark, sf_dir):
    # md5 fingerprint over normalized text (exact-dedup key)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return X.add_fingerprint(docs).select("doc_id", "fp")


@register(
    "exact_dedup_stats_documents",
    """
WITH fp AS (SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
            FROM documents),
g AS (SELECT fp, COUNT(*) AS n FROM fp GROUP BY fp)
SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
       COUNT(*) AS n_distinct,
       CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
       CAST(SUM(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT) AS n_redundant
FROM g
""",
)
def exact_dedup_stats_documents(spark, sf_dir):
    # corpus exact-dup audit (hash-groupBy dedup, one shuffle on md5 key)
    return D.exact_dedup_stats(_t(spark, sf_dir, "documents"))


@register(
    "jaccard_pairs_documents",
    f"""
WITH base AS (SELECT doc_id AS id, lang AS blk, {_TOKS} AS toks FROM documents),
sized AS (SELECT id, blk, toks, len(toks) AS n_toks FROM base),
ex AS (SELECT id, blk, n_toks, unnest(toks) AS tok FROM sized),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, a.n_toks AS na, b.n_toks AS nb,
         COUNT(*) AS n_common
  FROM ex a JOIN ex b ON a.blk = b.blk AND a.tok = b.tok AND a.id < b.id
  GROUP BY 1, 2, 3, 4)
SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
       CAST(n_common AS DOUBLE) / CAST(na + nb - n_common AS DOUBLE) AS jaccard
FROM common
WHERE CAST(n_common AS DOUBLE) / CAST(na + nb - n_common AS DOUBLE) >= 0.9
ORDER BY id_a, id_b
""",
)
def jaccard_pairs_documents(spark, sf_dir):
    # unigram-Jaccard near-dup pairs, lang-blocked self-join
    return D.jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.9)


_SHINGLES_SQL = "list_distinct(list_transform(range(1, len(regexp_split_to_array(trim(text), '\\s+')) - 1), i -> regexp_split_to_array(trim(text), '\\s+')[i] || ' ' || regexp_split_to_array(trim(text), '\\s+')[i+1] || ' ' || regexp_split_to_array(trim(text), '\\s+')[i+2]))"

_MH_EXPRS_SQL = ",\n        ".join(
    f"list_min(list_transform({{toks}}, t -> "
    f"({a} * ({_PHASH.format(t='t')} % {D.MINHASH_P}) + {b}) % {D.MINHASH_P}))"
    f" AS mh_{i}".format(toks="toks")
    for i, (a, b) in enumerate(D.MINHASH_AB)
).format(toks="toks")


@register(
    "minhash_signatures_documents",
    f"""
WITH t AS (SELECT doc_id, {_SHINGLES_SQL} AS toks FROM documents)
SELECT doc_id,
        {_MH_EXPRS_SQL}
FROM t
""",
)
def minhash_signatures_documents(spark, sf_dir):
    # k=8 portable minhash permutations via array HOFs (no UDF); repartition
    # first — a single-file corpus otherwise computes on one core
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return D.add_minhash(docs).drop("text")


_BAND_KEYS_SQL = ", ".join(
    "(mh_{a})::VARCHAR || '_' || (mh_{b})::VARCHAR".format(a=2 * bi, b=2 * bi + 1)
    for bi in range(D.N_BANDS)
)


@register(
    "minhash_lsh_candidates_documents",
    f"""
WITH t AS (SELECT doc_id, {_SHINGLES_SQL} AS toks FROM documents),
sig AS (SELECT doc_id AS id,
        {_MH_EXPRS_SQL}
        FROM t),
band AS (
  SELECT id, b.band,
         CASE b.band
           {' '.join(f"WHEN {bi} THEN (mh_{2*bi})::VARCHAR || '_' || (mh_{2*bi+1})::VARCHAR" for bi in range(D.N_BANDS))}
         END AS key
  FROM sig, (VALUES (0), (1), (2), (3)) b(band)),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM band a JOIN band b ON a.band = b.band AND a.key = b.key AND a.id < b.id),
est AS (
  SELECT c.id_a, c.id_b,
         CAST({' + '.join(f'CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END' for i in range(len(D.MINHASH_AB)))} AS DOUBLE)
           / {float(len(D.MINHASH_AB))} AS est_jaccard
  FROM cand c JOIN sig sa ON c.id_a = sa.id JOIN sig sb ON c.id_b = sb.id)
SELECT id_a, id_b, est_jaccard FROM est ORDER BY id_a, id_b
""",
)
def minhash_lsh_candidates_documents(spark, sf_dir):
    # LSH banding: candidate pairs from an equi-join on (band, key) — linear
    # candidate generation, the 100 TB dedup path
    return D.minhash_lsh_candidates(_t(spark, sf_dir, "documents"))


_SIMHASH_VOTES_SQL = ",\n        ".join(
    f"SUM(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{j}"
    for j in range(16)
)
_SIMHASH_COMBINE_SQL = " + ".join(
    f"CASE WHEN v_{j} > 0 THEN {2**j} ELSE 0 END" for j in range(16)
)


@register(
    "simhash_documents",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
h AS (SELECT doc_id, unnest(toks) AS tok FROM t),
hh AS (SELECT doc_id, {_PHASH.format(t='tok')} AS hv FROM h),
votes AS (SELECT doc_id,
        {_SIMHASH_VOTES_SQL}
        FROM hh GROUP BY doc_id)
SELECT doc_id, CAST({_SIMHASH_COMBINE_SQL} AS BIGINT) AS simhash FROM votes
""",
)
def simhash_documents(spark, sf_dir):
    # 16-bit simhash fingerprint, per-row array algebra (no explode); spread
    # the md5 voting across cores (single-file input = one scan partition)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return D.add_simhash(docs).select("doc_id", "simhash")


_DOT_SQL = (
    "CAST(SUM(CAST(CAST({a}[i.i] AS DOUBLE) * CAST({b}[i.i] AS DOUBLE)"
    " AS DECIMAL(18,9))) AS DOUBLE)"
)


@register(
    "cosine_topk_embeddings",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id IN (0, 1, 2, 3, 4)),
pairs AS (SELECT q.query_id, e.vec_id AS neighbor_id, q.qv, e.embedding AS nv
          FROM q, embeddings e WHERE e.vec_id != q.query_id),
dots AS (
  SELECT query_id, neighbor_id,
         {_DOT_SQL.format(a='qv', b='nv')} AS dot,
         {_DOT_SQL.format(a='qv', b='qv')} AS nq,
         {_DOT_SQL.format(a='nv', b='nv')} AS nn
  FROM pairs, range(1, 65) i(i) GROUP BY 1, 2),
scored AS (SELECT query_id, neighbor_id, dot / (sqrt(nq) * sqrt(nn)) AS cosine_sim
           FROM dots),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine_sim DESC, neighbor_id) AS rank
           FROM scored)
SELECT query_id, neighbor_id, ROUND(cosine_sim, 6) + 0.0 AS cosine_sim,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
""",
)
def cosine_topk_embeddings(spark, sf_dir):
    # brute-force cosine top-k: broadcast queries, exact decimal dot products
    return S.cosine_topk(_t(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4], k=10)


@register(
    "cosine_near_dup_embeddings",
    f"""
WITH pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                      a.embedding AS va, b.embedding AS vb
               FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id),
dots AS (
  SELECT id_a, id_b,
         {_DOT_SQL.format(a='va', b='vb')} AS dot,
         {_DOT_SQL.format(a='va', b='va')} AS na,
         {_DOT_SQL.format(a='vb', b='vb')} AS nb
  FROM pairs, range(1, 65) i(i) GROUP BY 1, 2)
SELECT id_a, id_b, ROUND(dot / (sqrt(na) * sqrt(nb)), 6) + 0.0 AS cosine_sim
FROM dots WHERE dot / (sqrt(na) * sqrt(nb)) >= 0.4
ORDER BY id_a, id_b
""",
)
def cosine_near_dup_embeddings(spark, sf_dir):
    # embedding-cosine near-dup pairs (exact; LSH variant is the linear
    # path). block_rows=256 so even the sf0.01 driver run exercises the
    # distributed block-pair grid (2 blocks/3 cells) rather than the
    # degenerate single-block case — the oracle checks the scale shape.
    # n_rows from the parquet footer: sizes the grid without a count() job.
    return S.cosine_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, block_rows=256,
        n_rows=parquet_row_count(sf_dir, "embeddings"),
    )


def _lsh_table_bucket_sql(
    col: str, table: int, planes_per_table: int, dim: int = 64
) -> str:
    """SQL twin of one similarity.multi_table_bucket_cols entry: an EXPLICIT
    left-associated +/- chain per plane, mirroring the Spark fold's
    accumulation order exactly (a sign flip near zero would otherwise depend
    on summation order)."""
    parts = []
    for j in range(planes_per_table):
        chain = "0.0e0"
        signs = S._plane_sign_values(dim, table * planes_per_table + j)
        for i, sgn in enumerate(signs):
            op = "+" if sgn > 0 else "-"
            chain = f"({chain} {op} CAST({col}[{i + 1}] AS DOUBLE))"
        parts.append(f"(CASE WHEN {chain} > 0 THEN {2 ** j} ELSE 0 END)")
    return " + ".join(parts)


def _fold_dot_sql(a: str, b: str, dim: int = 64) -> str:
    """Inline left-associated double dot product — the SQL twin of
    similarity._dot_double's fold, term order and casts identical, so the
    RANKING doubles (not just the emitted decimals) match bit-for-bit."""
    chain = "0.0e0"
    for i in range(1, dim + 1):
        chain = f"({chain} + (CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)))"
    return chain


def _ann_lsh_sql(k: int = 5) -> str:
    # single-table 6-plane bucket == similarity.add_lsh_bucket defaults
    bucket = "__ANN_BUCKET__"
    return f"""
WITH bk AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings),
nr AS (SELECT vec_id, {_DOT_SQL.format(a='embedding', b='embedding')} AS n2
       FROM embeddings, range(1, 65) i(i) GROUP BY vec_id),
pairs AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                 q.embedding AS qv, n.embedding AS nv
          FROM bk q JOIN bk n ON q.bucket = n.bucket AND q.vec_id != n.vec_id),
fast AS (SELECT p.query_id, p.neighbor_id, p.qv, p.nv,
                {_fold_dot_sql('p.qv', 'p.nv')} / (sqrt(nq.n2) * sqrt(nn.n2))
                  AS fast_sim,
                nq.n2 AS qn2, nn.n2 AS nn2
         FROM pairs p
         JOIN nr nq ON p.query_id = nq.vec_id
         JOIN nr nn ON p.neighbor_id = nn.vec_id),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                        ORDER BY fast_sim DESC, neighbor_id) AS rk
           FROM fast),
top AS (SELECT * FROM ranked WHERE rk <= {k}),
dots AS (SELECT query_id, neighbor_id, rk, qn2, nn2,
                {_DOT_SQL.format(a='qv', b='nv')} AS dot
         FROM top, range(1, 65) i(i) GROUP BY query_id, neighbor_id, rk, qn2, nn2)
SELECT query_id, neighbor_id,
       ROUND(dot / (sqrt(qn2) * sqrt(nn2)), 6) + 0.0 AS cosine_sim,
       CAST(rk AS INT) AS rank
FROM dots ORDER BY query_id, rank
""".replace(bucket, _lsh_table_bucket_sql("embedding", 0, 6))


@register("ann_lsh_topk_embeddings", _ann_lsh_sql())
def ann_lsh_topk_embeddings(spark, sf_dir):
    # sign-LSH bucketed ANN: equi-join on bucket id instead of O(n²) pairs.
    # Recall < 1 vs exact top-k BY DESIGN, but the computation itself is
    # fully deterministic (md5 hyperplanes, identical fold order for the
    # ranking doubles, decimal-exact emitted cosines) — so the whole ANN
    # result, buckets and ranking included, is hash-checked against DuckDB.
    # Plane count scales with the corpus (footer row count) so bucket
    # occupancy — and with it the candidate join — stays linear; at the
    # driver fixture sizes the rule yields exactly the oracle's 6 planes.
    return S.lsh_bucket_topk(
        _t(spark, sf_dir, "embeddings"),
        k=5,
        n_planes=S.lsh_planes_for(parquet_row_count(sf_dir, "embeddings")),
    )


# ---------------------------------------------------------------------------
# §2.8 encodings + full feature pipeline
# ---------------------------------------------------------------------------
from ..plans import features as FP  # noqa: E402


@register(
    "label_encode_event_type",
    """
SELECT event_id, event_type,
       CAST(dense_rank() OVER (ORDER BY event_type) - 1 AS INT)
         AS event_type_encoded
FROM events
""",
)
def label_encode_event_type(spark, sf_dir):
    # E1: sklearn LabelEncoder parity — sorted distinct → dense codes;
    # broadcast-join apply (reference data_processor.py:206-226).
    # assume_bounded: event_type is an enum-like domain column (the same
    # caller assertion the feature pipeline makes for its categoricals), so
    # the HLL census pass is skipped — one fewer eager job (r12 constant-
    # floor work). A wrong assertion degrades safely: the executor-side
    # size guard nulls an over-cap vocab array and falls back to the
    # distributed join path with identical semantics.
    from ..operators import encoding as ENC

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type")
    return ENC.label_encode(ev, ["event_type"], assume_bounded=True).select(
        "event_id", "event_type", "event_type_encoded"
    )


@register(
    "standardize_value_events",
    f"""
WITH stats AS (
  SELECT {SQL_DAVG('value')} AS mu,
         {_sql_std('value')} AS sd
  FROM events
)
SELECT event_id, (value - mu) / sd AS value_scaled
FROM events CROSS JOIN stats
""",
)
def standardize_value_events(spark, sf_dir):
    # E2/E3 standard scaling as a pure plan: exact decimal mean/std (sample
    # ddof=1 to match the SQL twin), broadcast the 1-row stats, one projection
    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    stats = ev.agg(
        davg(F.col("value")).alias("mu"), _spark_std("value").alias("sd")
    )
    return ev.crossJoin(F.broadcast(stats)).select(
        "event_id", ((F.col("value") - F.col("mu")) / F.col("sd")).alias("value_scaled")
    )


def _feature_pipeline_oracle_sql() -> str:
    from .feature_pipeline_sql import feature_pipeline_sql

    return ev_sql(feature_pipeline_sql())


@register("feature_pipeline_weather", _feature_pipeline_oracle_sql())
def feature_pipeline_weather(spark, sf_dir):
    # The reference's full process_pipeline (data_processor.py:275-314) as a
    # single lazy plan over the events-derived weather view — now with a
    # complete 69-column DuckDB twin (plans/feature_pipeline_sql.py), stage
    # fragments lifted from the per-stage oracles. The registered projection
    # normalizes only what cross-engine hashing demands: int columns emitted
    # as long, and the libm-backed sin/cos + pow(wind_chill) columns rounded
    # to 6 dp on BOTH sides; every other column (lags, decimal rolling
    # stats, index chains, repairs, targets) compares bit-exact unrounded.
    #
    # The constructed plan is memoized per session (session_cache.memo):
    # building the ~70-column plan costs ~1.7 s of driver-side py4j round
    # trips (missing-value repair and the exact rolling closed forms
    # dominate) plus the eager encode-fit job, per call and before any
    # execution. The lazy DataFrame is immutable and deterministic, so it
    # is held the way a pipeline user holds the constructed object, and
    # rebuilt when the events table is rewritten.
    from .feature_pipeline_sql import LONG_COLS, ROUND6_COLS

    def build():
        df = FP.full_feature_pipeline(FP.events_as_weather(spark, sf_dir))
        sel = []
        for f in df.schema.fields:
            if f.name in ROUND6_COLS:
                sel.append((F.round(f.name, 6) + F.lit(0.0)).alias(f.name))
            elif f.dataType.simpleString() == "int":
                sel.append(F.col(f.name).cast("long").alias(f.name))
            else:
                sel.append(F.col(f.name))
        return df.select(*sel)

    return SC.memo("feature_pipeline_weather", spark, sf_dir, ("events",), build)


# ---------------------------------------------------------------------------
# §2.9 splits + §2.10 streaming
# ---------------------------------------------------------------------------
from ..ml import splits as SP  # noqa: E402
from ..streaming import jobs as SJ  # noqa: E402


@register(
    "temporal_split_counts",
    ev_sql("""
WITH pos AS (
  SELECT ts, row_number() OVER (ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER () AS n
  FROM events
)
SELECT CASE WHEN rn <= floor(0.8 * n) THEN 'train' ELSE 'test' END AS split,
       COUNT(*) AS n_rows, MIN(ts) AS min_ts, MAX(ts) AS max_ts
FROM pos GROUP BY 1 ORDER BY 1
"""),
)
def temporal_split_counts(spark, sf_dir):
    # M3 chronological 80/20 (reference weather_predictor.py:71-105): train
    # strictly precedes test; the oracle checks the exact row partitioning
    ev = _t(spark, sf_dir, "events").select("ts", "event_id")
    train, test = SP.temporal_split(ev, "ts", test_size=0.2, tiebreak="event_id")

    def summarize(df, name):
        return df.agg(
            F.lit(name).alias("split"),
            F.count(F.lit(1)).alias("n_rows"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        ).select("split", "n_rows", "min_ts", "max_ts")

    return summarize(train, "train").unionByName(summarize(test, "test")).orderBy("split")


@register(
    "walk_forward_fold_bounds",
    ev_sql("""
WITH pos AS (
  SELECT ts, row_number() OVER (ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER () AS n
  FROM events
),
folds AS (SELECT CAST(i AS INT) AS fold FROM range(1, 6) t(i)),
marks AS (
  SELECT fold,
         (SELECT (n // 6) * fold + (n % 6) + 1 FROM pos LIMIT 1) AS t_start,
         (SELECT (n // 6) * (fold + 1) + (n % 6) FROM pos LIMIT 1) AS t_end
  FROM folds)
SELECT m.fold,
       CAST(SUM(CASE WHEN p.rn < m.t_start THEN 1 ELSE 0 END) AS BIGINT) AS train_rows,
       CAST(SUM(CASE WHEN p.rn >= m.t_start AND p.rn <= m.t_end THEN 1 ELSE 0 END) AS BIGINT) AS test_rows,
       MAX(CASE WHEN p.rn < m.t_start THEN p.ts END) AS max_train_ts,
       MIN(CASE WHEN p.rn >= m.t_start AND p.rn <= m.t_end THEN p.ts END) AS min_test_ts
FROM pos p CROSS JOIN marks m
GROUP BY m.fold ORDER BY m.fold
"""),
)
def walk_forward_fold_bounds(spark, sf_dir):
    # M4 expanding-window CV (reference weather_predictor.py:107-172): per
    # fold, train row count/test row count and the no-leakage boundary.
    # The former shape built 5 (train, test) fold frames and aggregated each
    # side — 10 subtrees that EACH recomputed the global row_number sort
    # over the events table (measured 1.5 s at sf0.1 for a 5-row answer).
    # The fold boundaries are pure arithmetic in the total row count
    # (test_size = n//6, t_start_i = test_size*i + n%6 + 1), the row counts
    # per fold follow from the boundaries alone, and because _pos orders by
    # (ts, event_id), max_train_ts / min_test_ts are simply the ts values AT
    # ranks t_start-1 / t_start — so one count + ONE windowed pass that
    # keeps only the <=10 boundary ranks replaces all ten aggregations.
    # The <=10-row collect is bounded by construction (2 rows per fold),
    # same policy as the CMS top-10 collect. Values are identical: counts
    # are exact integers either way, and the boundary timestamps round-trip
    # through the UTC-pinned session unchanged.
    ev = _t(spark, sf_dir, "events").select("ts", "event_id")
    n_splits = 5
    n = ev.count()
    schema = (
        "fold int, train_rows long, test_rows long, "
        "max_train_ts timestamp, min_test_ts timestamp"
    )
    if n == 0:
        # parity with the former fold-frame shape: ungrouped aggregations
        # over empty folds still emitted one all-null/zero row per fold
        return literal_df(
            spark, [(i, 0, 0, None, None) for i in range(1, n_splits + 1)], schema
        ).orderBy("fold")
    size = n // (n_splits + 1)
    rem = n % (n_splits + 1)
    bounds = []
    ranks: set[int] = set()
    for i in range(1, n_splits + 1):
        t_start = size * i + rem + 1
        t_end = t_start + size - 1
        bounds.append((i, t_start, t_end))
        if t_start > 1:
            ranks.add(t_start - 1)
        if t_end >= t_start:  # non-empty test window
            ranks.add(t_start)
    w = Window.orderBy("ts", "event_id")
    ts_at = {
        r["_pos"]: r["ts"]
        for r in ev.withColumn("_pos", F.row_number().over(w))
        .where(F.col("_pos").isin(sorted(ranks)))
        .select("_pos", "ts")
        .collect()
    }
    rows = [
        (
            i,
            t_start - 1,
            max(0, t_end - t_start + 1),
            ts_at.get(t_start - 1),
            ts_at.get(t_start) if t_end >= t_start else None,
        )
        for i, t_start, t_end in bounds
    ]
    return literal_df(spark, rows, schema).orderBy("fold")


@register(
    "streaming_hourly_agg",
    ev_sql("""
SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""),
)
def streaming_hourly_agg(spark, sf_dir):
    # §2.10: Structured Streaming watermark + tumbling window, driven to
    # completion with availableNow — the batch oracle proves the streaming
    # plan computes exactly the batch answer
    return SJ.streaming_hourly_event_counts(spark, sf_dir)


def _prune_city_subset(
    counts: list[tuple], cap: int = 4000, tail_per_city: int = 24
) -> list:
    """Shortest sorted prefix of cities whose cumulative row count clears
    ``cap`` plus the per-city lead tail the pipeline drops (``cap + tail *
    n_kept``). Input: (city, n) pairs in sorted-city order, any city naming
    (VERDICT r08 #3 — the subset is data-driven, not a fixture literal).
    Returns [] when even all cities together can't clear it: caller keeps
    the full table."""
    chosen: list = []
    cum = 0
    for city, n in counts:
        chosen.append(city)
        cum += n
        if cum >= cap + tail_per_city * len(chosen):
            return chosen
    return []


def _ml_feats(spark, sf_dir):
    """The 4000-row training frame shared by the suite AND the rain
    classifier, materialized once per session (localCheckpoint) so
    feature_columns' null-ratio agg, the class-weight counts and every
    MLlib fit pass read 4000 cached rows instead of replaying the
    70-column feature pipeline DAG (~3 s each at sf0.1, ~5 replays across
    the two builds)."""
    from ..operators.graph import _ckpt_tracked, _free_ckpt

    def build():
        # the 4000-row cap only ever keeps a few cities' worth of rows, so
        # prune to a deterministic city subset BEFORE the window pipeline:
        # windows partition by city, making a per-city selection exact on
        # the surviving rows — the pipeline then runs over a handful of
        # cities instead of computing 70 columns for 595k rows and
        # discarding all but 4000. The subset is data-driven: one cheap
        # per-city count census (bounded rows: one per city), then cities
        # taken in sorted order until the cumulative count clears the cap
        # plus the 24-row lead tail the pipeline drops per kept city.
        src = FP.events_as_weather(spark, sf_dir)
        counts = (
            src.groupBy("city")
            .agg(F.count(F.lit(1)).alias("_n"))
            .orderBy("city")
            .collect()
        )
        chosen = _prune_city_subset([(r["city"], r["_n"]) for r in counts])
        use = src.where(F.col("city").isin(chosen)) if chosen else src
        capped = FP.training_feature_pipeline_unencoded(use).limit(4000)
        df, ids = _ckpt_tracked(
            capped
            # limit() collapses to one partition; rebalance so tree fits
            # parallelize without per-task overhead swamping 4k rows
            .repartition(8)
        )
        # under-fill guard: _prune_city_subset's cap+24k bound assumes the
        # only row loss is the per-city lead tail; rows whose repaired
        # temperature stays null (gaps past the ffill limit with no
        # interpolation anchors) also drop temperature_future rows
        # mid-series, so on sparse data the pruned frame can under-fill the
        # cap. The checkpoint above already materialized, so this count is a
        # cached-block read; when the subset under-fills, pay one full-table
        # pipeline run instead of silently training on fewer rows.
        if chosen and df.count() < 4000:
            _free_ckpt(spark, ids)
            df, ids = _ckpt_tracked(
                FP.training_feature_pipeline_unencoded(src)
                .limit(4000)
                .repartition(8)
            )
        # encode AFTER the checkpoint: the label-encode vocab fit is an
        # eager job, and fitting on the materialized 4000-row cap costs one
        # tiny scan instead of a second full run of the window pipeline
        # (same codes as encoding pre-cap whenever every category appears
        # in the cap — true for the bounded event_type-derived categoricals)
        return FP.encode_categoricals(df), ids

    return SC.materialized("ml_feats", spark, sf_dir, ("events",), build)[0]


def _checkpointed(plan_fn):
    """A session_cache.materialized build that checkpoints ``plan_fn()``.

    The deterministic frames held this way (shingle pairs, shingle-CC
    labels, the corpus manifest, doc-quality signals, ...) are exactly what
    a production build would write as a materialized table and report from
    — each consumer's oracle hash is unchanged, only the recompute is."""
    from ..operators.graph import _ckpt_tracked

    return lambda: _ckpt_tracked(plan_fn())


def _trained_suite(spark, sf_dir):
    """-> (results, cols): the fitted 5-model suite and the feature columns
    it trained on (so the importance feed can reuse the suite's RF instead
    of paying a second fit).

    One trained suite per session, shared by the metric and
    model-comparison queries — faithful to the reference, whose comparison
    plots consume the SAME training run's results object
    (weather_predictor.py:550-633 reads self.results), and it keeps the
    expensive 5-model fit from running once per consuming query."""

    def build():
        from ..ml import models as M

        train, test = SP.temporal_split(_ml_feats(spark, sf_dir), "timestamp", 0.2)
        cols = M.feature_columns(train)
        return M.train_regressors(train, test, cols=cols, fast=True), cols

    return SC.leased("trained_suite", spark, sf_dir, ("events",), build)


@register("ml_train_eval_metrics", None)  # rows-only: MLlib metric surface
def ml_train_eval_metrics(spark, sf_dir):
    # M1-M7: feature prep -> temporal split -> regressor suite -> metrics.
    # Capped + fast settings so the correctness harness stays quick; full
    # configs are the defaults in ml/models.py.
    results, _cols = _trained_suite(spark, sf_dir)
    rows = [
        (
            m.name,
            m.metrics["train_mse"],
            m.metrics["test_mse"],
            m.metrics["train_r2"],
            m.metrics["test_r2"],
            m.metrics["test_mae"],
        )
        for m in results
    ]
    return literal_df(
        spark,
        rows,
        "model string, train_mse double, test_mse double, train_r2 double, "
        "test_r2 double, test_mae double",
    ).orderBy("model")


@register("ml_model_comparison_feed", None)  # rows-only (training output)
def ml_model_comparison_feed(spark, sf_dir):
    # M13 data contract (reference weather_predictor.py:550-633): the tidy
    # long-form frame the reference's 2x2 comparison plots consume —
    # (model, split, metric, value) for MSE/MAE/R2 on train and test. The
    # plotting itself is out of scope (no matplotlib in container); any
    # client can pivot/plot this feed directly. Shares the session's one
    # trained suite with ml_train_eval_metrics (reference plots read the
    # same results object).
    results, _cols = _trained_suite(spark, sf_dir)
    rows = [
        (m.name, split, metric, float(m.metrics[f"{split}_{metric}"]))
        for m in results
        for split in ("train", "test")
        for metric in ("mse", "mae", "r2")
    ]
    return literal_df(
        spark, rows, "model string, split string, metric string, value double"
    ).orderBy("model", "split", "metric")


@register("ml_feature_importance_feed", None)  # rows-only (training output)
def ml_feature_importance_feed(spark, sf_dir):
    # M13/M12 data contract: top-N feature importances of the tree model as
    # the bar-chart-ready frame (model, rank, feature, importance). Reads
    # the SESSION'S one trained suite — the reference's importance plot
    # consumes the same fitted model as its metric tables
    # (weather_predictor.py:550-633), and a second RF fit here would add
    # ~15 s of pure retraining to every full-registry pass.
    from ..ml import models as M

    results, cols = _trained_suite(spark, sf_dir)
    tm = next(m for m in results if m.name == "random_forest")
    top = M.feature_importances(tm, cols)[:10]
    return literal_df(
        spark,
        [("random_forest", i + 1, feat, float(imp)) for i, (feat, imp) in enumerate(top)],
        "model string, rank int, feature string, importance double",
    ).orderBy("rank")


def _trained_rain(spark, sf_dir):
    # one trained classifier per session, shared by the metrics and
    # calibration queries — same rationale as _trained_suite
    def build():
        from ..ml import models as M

        train, test = SP.temporal_split(_ml_feats(spark, sf_dir), "timestamp", 0.2)
        cols = M.feature_columns(train)
        m = M.train_rain_classifier(train, test, cols=cols, fast=True)
        return (m, test, cols)

    return SC.leased("trained_rain", spark, sf_dir, ("events",), build)


@register("ml_rain_classifier_metrics", None)  # rows-only
def ml_rain_classifier_metrics(spark, sf_dir):
    # M8: balanced-weight RandomForest rain classifier + ROC-AUC/acc/P/R
    m, _, _ = _trained_rain(spark, sf_dir)
    return literal_df(
        spark,
        [(m.name, m.metrics["roc_auc"], m.metrics["accuracy"], m.metrics["precision"], m.metrics["recall"])],
        "model string, roc_auc double, accuracy double, precision double, recall double",
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (binary payload + typed metadata; decode is stubbed)
# ---------------------------------------------------------------------------
from ..operators import multimodal as MM  # noqa: E402


@register(
    "multimodal_metadata_summary",
    """
WITH media AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS kind,
         octet_length(encode(text)) AS byte_len,
         64 + (doc_id % 8) * 16 AS width
  FROM documents)
SELECT kind, COUNT(*) AS n,
       CAST(SUM(byte_len) AS BIGINT) AS total_bytes,
       CAST(MAX(width) AS INT) AS max_width
FROM media GROUP BY kind ORDER BY kind
""",
)
def multimodal_metadata_summary(spark, sf_dir):
    # metadata-only query over the media table: parquet column pruning means
    # the opaque payload bytes are never read for this plan
    media = MM.synth_media_table(spark, sf_dir)
    return (
        media.groupBy(F.col("meta.kind").alias("kind"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.octet_length("payload")).alias("total_bytes"),
            F.max("meta.width").alias("max_width"),
        )
        .orderBy("kind")
    )


# The stub extractor is md5-seeded (operators/multimodal.py:_fake_embedding):
# the 16-byte digest is tiled to 16 little-endian uint32 words (so words
# repeat with period 4), each mapped to (w % 10000)/10000.0. That makes the
# checksum fully SQL-expressible — replicate the digest-word extraction from
# DuckDB's md5() hex string and fold the 16 values in array order.
def _md5_hexdigit_sql(col: str, j: int) -> str:
    # 1-indexed hex char j of md5 hex string -> integer value 0..15
    return f"(strpos('0123456789abcdef', substr({col}, {j}, 1)) - 1)"


def _md5_word_le_sql(col: str, w: int) -> str:
    # little-endian uint32 from digest bytes 4w..4w+3
    parts = []
    for i, mult in enumerate((1, 256, 65536, 16777216)):
        k = 4 * w + i  # 0-based byte index
        byte = f"(16*{_md5_hexdigit_sql(col, 2 * k + 1)} + {_md5_hexdigit_sql(col, 2 * k + 2)})"
        parts.append(f"{mult}::BIGINT * {byte}")
    return "(" + " + ".join(parts) + ")"


_MM_CHECKSUM_SQL = " + ".join(f"v{w % 4}" for w in range(16))  # array fold order


@register(
    "multimodal_feature_extract",
    f"""
WITH h AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         CAST(strlen(text) AS BIGINT) AS byte_len,
         md5(text) AS hx
  FROM documents),
v AS (
  SELECT doc_id, kind, byte_len,
         CAST({_md5_word_le_sql('hx', 0)} % 10000 AS DOUBLE) / 10000.0 AS v0,
         CAST({_md5_word_le_sql('hx', 1)} % 10000 AS DOUBLE) / 10000.0 AS v1,
         CAST({_md5_word_le_sql('hx', 2)} % 10000 AS DOUBLE) / 10000.0 AS v2,
         CAST({_md5_word_le_sql('hx', 3)} % 10000 AS DOUBLE) / 10000.0 AS v3
  FROM h)
SELECT doc_id, kind, byte_len,
       ROUND({_MM_CHECKSUM_SQL}, 6) AS feature_checksum
FROM v
""",
)
def multimodal_feature_extract(spark, sf_dir):
    # binary -> mapInPandas (Arrow batches) -> fixed-dim feature vectors;
    # the decode itself is a deterministic stub (no media libs in container).
    # The query surface projects a scalar checksum of the feature array (the
    # driver's canonicalizer sorts rows with pandas and cannot hash a raw
    # array<double> column); library users call MM.extract_features directly
    # for the full vector.
    feats = MM.extract_features(MM.synth_media_table(spark, sf_dir))
    return feats.select(
        "doc_id",
        "kind",
        "byte_len",
        F.round(
            F.aggregate("features", F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("feature_checksum"),
    )


# ---------------------------------------------------------------------------
# Breadth: set ops, pivot/cube/rollup, shipping-priority join, approx stats
# ---------------------------------------------------------------------------
@register(
    "q3_shipping_priority",
    f"""
SELECT l_orderkey,
       {SQL_DSUM('l_extendedprice * (1 - l_discount)')} AS revenue,
       o_orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark, sf_dir):
    # TPC-H-Q3 shape: selective dim filter -> fact join -> agg -> top-k.
    # customer is broadcast; the lineitem filter pushes to the parquet scan.
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "set_ops_customers",
    """
WITH big_spenders AS (
  SELECT o_custkey AS custkey FROM orders GROUP BY 1
  HAVING CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) > 300000.0),
recent_buyers AS (
  SELECT DISTINCT o_custkey AS custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '2000-01-01')
SELECT 'union' AS op, COUNT(*) AS n FROM (
  SELECT custkey FROM big_spenders UNION SELECT custkey FROM recent_buyers)
UNION ALL
SELECT 'intersect' AS op, COUNT(*) AS n FROM (
  SELECT custkey FROM big_spenders INTERSECT SELECT custkey FROM recent_buyers)
UNION ALL
SELECT 'except' AS op, COUNT(*) AS n FROM (
  SELECT custkey FROM big_spenders EXCEPT SELECT custkey FROM recent_buyers)
""",
)
def set_ops_customers(spark, sf_dir):
    # §2.7: union / intersect / except (beyond-reference; the reference has
    # no set ops — SURVEY.md §2.7)
    orders = _t(spark, sf_dir, "orders")
    big = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(dsum(F.col("o_totalprice")).alias("spend"))
        .where(F.col("spend") > 300000.0)
        .select("custkey")
    )
    recent = (
        orders.where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )

    def count_of(df, op):
        return df.agg(F.lit(op).alias("op"), F.count(F.lit(1)).alias("n"))

    return (
        count_of(big.union(recent).distinct(), "union")
        .unionByName(count_of(big.intersect(recent), "intersect"))
        .unionByName(count_of(big.exceptAll(recent).distinct(), "except"))
    )


@register(
    "pivot_returnflag_by_status",
    f"""
SELECT l_returnflag,
       {SQL_DSUM("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_F,
       {SQL_DSUM("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_O
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def pivot_returnflag_by_status(spark, sf_dir):
    # pivot = groupBy + pivot (Catalyst rewrites to conditional aggregation —
    # the oracle spells out that rewrite)
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(dsum(F.col("l_quantity")))
        .withColumnsRenamed({"F": "qty_F", "O": "qty_O"})
        .orderBy("l_returnflag")
    )


@register(
    "rollup_orders_priority",
    f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n, {SQL_DSUM('o_totalprice')} AS total
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)
def rollup_orders_priority(spark, sf_dir):
    # rollup: hierarchical subtotals + grand total in one pass
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("o_totalprice")).alias("total"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@register(
    "cube_lineitem_flags",
    f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       {SQL_DSUM('l_quantity')} AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
)
def cube_lineitem_flags(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("l_quantity")).alias("sum_qty"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@register("approx_stats_events", None)  # rows-only: approximate by definition
def approx_stats_events(spark, sf_dir):
    # the 100 TB variants of A4/A12: HyperLogLog++ distinct + t-digest
    # quantiles — sketch-based one-pass, no exact-distinct shuffle
    # scalar columns only: the harness canonicalizer cannot sort/hash an
    # array column (same constraint as multimodal_feature_extract)
    ev = _t(spark, sf_dir, "events")
    q = F.percentile_approx("value", [0.5, 0.95, 0.99], 10000)
    return ev.agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        q.getItem(0).alias("value_p50"),
        q.getItem(1).alias("value_p95"),
        q.getItem(2).alias("value_p99"),
    )


@register(
    "row_null_threshold_events",
    """
WITH flagged AS (
  SELECT *, (CASE WHEN event_id IS NULL THEN 0 ELSE 1 END
           + CASE WHEN ts IS NULL THEN 0 ELSE 1 END
           + CASE WHEN user_id IS NULL THEN 0 ELSE 1 END
           + CASE WHEN event_type IS NULL THEN 0 ELSE 1 END
           + CASE WHEN value IS NULL THEN 0 ELSE 1 END
           + CASE WHEN props IS NULL THEN 0 ELSE 1 END) AS n_non_null
  FROM events)
SELECT CAST(COUNT(*) AS BIGINT) AS n_kept FROM flagged WHERE n_non_null >= 4
""",
)
def row_null_threshold_events(spark, sf_dir):
    # P4: dropna(thresh=0.7*ncols) (reference data_processor.py:201)
    from ..operators.relational import row_null_threshold_drop

    ev = _t(spark, sf_dir, "events")
    return row_null_threshold_drop(ev, 0.7).agg(F.count(F.lit(1)).alias("n_kept"))


_WEATHER_COLS = [
    "city", "w_ts", "temperature", "humidity", "pressure", "wind_speed",
    "cloudiness", "rain_1h", "temp_max", "temp_min", "weather_main",
    "weather_description",
]


def _quality_report_sql() -> str:
    from ..operators.quality import WEATHER_VALID_RANGES

    nulls = ",\n  ".join(
        "CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
        " AS nulls_{n}".format(c=c, n=("timestamp" if c == "w_ts" else c))
        for c in _WEATHER_COLS
    )
    oor = ",\n  ".join(
        f"CAST(SUM(CASE WHEN {c} < {lo}e0 OR {c} > {hi}e0 THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS out_of_range_{c}"
        for c, (lo, hi) in WEATHER_VALID_RANGES.items()
    )
    return f"""
WITH w AS (SELECT
  'city_' || CAST(user_id % 20 AS VARCHAR) AS city,
  ts AS w_ts,
  value / 10.0e0 AS temperature,
  CAST((user_id * 7) % 100 AS INTEGER) AS humidity,
  CAST(1000 + (user_id % 50) AS INTEGER) AS pressure,
  value / 50.0e0 AS wind_speed,
  CAST((user_id * 13) % 100 AS INTEGER) AS cloudiness,
  CASE WHEN event_type = 'error' AND value > 100.0e0
       THEN value / 100.0e0 ELSE 0.0e0 END AS rain_1h,
  value / 10.0e0 + 1.0e0 AS temp_max,
  value / 10.0e0 - 1.0e0 AS temp_min,
  event_type AS weather_main,
  event_type || ' conditions' AS weather_description
FROM events),
base AS (SELECT
  COUNT(*) AS n_rows,
  {nulls},
  {oor},
  MIN(w_ts) AS min_ts,
  MAX(w_ts) AS max_ts
FROM w),
d AS (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS duplicate_key_rows
      FROM (SELECT COUNT(*) AS n FROM w GROUP BY city, w_ts
            HAVING COUNT(*) > 1))
SELECT * FROM base CROSS JOIN d
"""


@register("quality_report_weather", ev_sql(_quality_report_sql()))
def quality_report_weather(spark, sf_dir):
    # reference run_quality_checks (data_processor.py:330-400) as ONE pass
    from ..operators.quality import WEATHER_VALID_RANGES, quality_report

    base = FP.events_as_weather(spark, sf_dir)
    return quality_report(
        base, ["city", "timestamp"], ts_col="timestamp", ranges=WEATHER_VALID_RANGES
    )


# ---------------------------------------------------------------------------
# As-of join, sessionization, sliding/stateful streaming, SQL front door
# ---------------------------------------------------------------------------
from ..operators import asof as AJ  # noqa: E402


@register(
    "asof_join_events",
    ev_sql("""
WITH errors AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'error'),
clicks AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
unioned AS (
  SELECT event_id, user_id, ts, value, NULL AS click_value, 1 AS side
  FROM errors
  UNION ALL
  SELECT event_id, user_id, ts, NULL AS value, value AS click_value, 0 AS side
  FROM clicks),
carried AS (
  SELECT *, last_value(click_value IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts, side, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_value_asof
  FROM unioned)
SELECT event_id, user_id, ts, value, click_value_asof
FROM carried WHERE side = 1
"""),
)
def asof_join_events(spark, sf_dir):
    # as-of join (pandas merge_asof analog): for each error event, the value
    # of the user's most recent click at-or-before it. Union-and-carry:
    # one shuffle, one sort, no range-join explosion.
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value", "event_type")
    errors = ev.where(F.col("event_type") == "error").drop("event_type")
    clicks = ev.where(F.col("event_type") == "click").drop("event_type").withColumnRenamed("value", "click_value")
    out = AJ.asof_join(
        errors, clicks.select("user_id", "ts", "click_value", F.col("event_id")),
        key="user_id", ts="ts", value_cols=["click_value"],
    )
    return out.select("event_id", "user_id", "ts", "value", "click_value_asof")


@register(
    "session_stats_events",
    ev_sql("""
WITH s AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > CAST(14400 AS BIGINT) * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, ts,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
  FROM s)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS DOUBLE) / 1e6
         AS duration_seconds
FROM sess GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""),
)
def session_stats_events(spark, sf_dir):
    # gap-based sessionization (4h gap): lag -> boundary flag -> running sum,
    # then per-session aggregates. One partition exchange end to end.
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    return AJ.session_stats(ev, "user_id", "ts", gap_seconds=14400, tiebreak="event_id")


@register(
    "streaming_sliding_agg",
    ev_sql("""
WITH buckets AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_type FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour' AS win_start,
         event_type
  FROM events)
SELECT win_start, event_type, COUNT(*) AS n_events
FROM buckets GROUP BY 1, 2
"""),
)
def streaming_sliding_agg(spark, sf_dir):
    # sliding windows (2h/1h): every event contributes to two overlapping
    # windows; the batch oracle expands the same two buckets per event
    return SJ.streaming_sliding_event_counts(spark, sf_dir)


@register(
    "streaming_stateful_user_counts",
    ev_sql("""
SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
FROM events GROUP BY user_id
"""),
)
def streaming_stateful_user_counts(spark, sf_dir):
    # applyInPandasWithState: per-user state carried across micro-batches.
    # The drained final state (total count + running max per user) is
    # deterministic regardless of batch boundaries — count is additive, max
    # is order-free — so the custom stateful operator gets a full batch
    # oracle, not just a rows-only check.
    return SJ.stateful_user_running_counts(spark, sf_dir)


if SJ.HAS_TWS_PROTO:
    # transformWithStateInPandas needs protobuf for its state protocol;
    # register only where the runtime ships it (this container does not)

    @register("streaming_tws_type_counts", None)  # rows-only: typed state
    def streaming_tws_type_counts(spark, sf_dir):
        # Spark 4 typed-state API: ValueState + MapState per user over
        # RocksDB; final counts equal batch truth (tested)
        return SJ.tws_user_type_counts(spark, sf_dir)


@register("sql_api_q1", _Q1_SQL)
def sql_api_q1(spark, sf_dir):
    # the SQL front door: identical Catalyst plan from spark.sql as from the
    # DataFrame API (queries are duals; oracle is literally the same string)
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q1_SQL)


@register(
    "percentiles_events",
    ev_sql("""
SELECT quantile_cont(value, 0.25) AS p25,
       quantile_cont(value, 0.50) AS p50,
       quantile_cont(value, 0.95) AS p95,
       quantile_cont(value, 0.99) AS p99
FROM events
"""),
)
def percentiles_events(spark, sf_dir):
    # exact interpolated percentiles — bit-identical to quantile_cont
    # (same linear-interpolation definition); approx_stats_events is the
    # sketch-based 100 TB variant
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.expr("percentile(value, 0.25)").alias("p25"),
        F.expr("percentile(value, 0.50)").alias("p50"),
        F.expr("percentile(value, 0.95)").alias("p95"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )


@register(
    "salted_agg_events",
    ev_sql(f"""
SELECT user_id, {SQL_DSUM('value')} AS sum_value, COUNT(*) AS n_rows,
       {SQL_DSUM('value')} / CAST(COUNT(*) AS DOUBLE) AS avg_value
FROM events GROUP BY user_id ORDER BY user_id
"""),
)
def salted_agg_events(spark, sf_dir):
    # skew-safe two-phase aggregation: (key, salt) partials -> key combine.
    # DECIMAL partials make it bit-identical to the direct one-phase agg,
    # which is exactly what the oracle computes.
    from ..operators.skew import salted_sum_count

    ev = _t(spark, sf_dir, "events").select("user_id", "value", "event_id")
    return salted_sum_count(
        ev, "user_id", "value", n_salts=16, tiebreak_col="event_id"
    ).select("user_id", "sum_value", "n_rows", "avg_value").orderBy("user_id")


# The shingle-Jaccard near-dup pair set, materialized once per session:
# this edge derivation feeds the registered pairs query, the CC build
# (_neardup_cc → 4 downstream queries) and pagerank_neardup — the
# tokenize+explode+inverted-index join is the family's single most
# recomputed subplan. Output is the thresholded pair set itself (small),
# so the checkpoint is cheap.
def _shingle_pairs(spark, sf_dir):
    return SC.materialized(
        "shingle_pairs", spark, sf_dir, ("documents",),
        _checkpointed(lambda: _shingle_pairs_plan(spark, sf_dir)),
    )[0]


@register(
    "shingle_jaccard_pairs_documents",
    f"""
WITH base AS (SELECT doc_id AS id, lang AS blk, {_SHINGLES_SQL} AS toks
              FROM documents),
sized AS (SELECT id, blk, toks, len(toks) AS n_toks FROM base WHERE len(toks) > 0),
ex AS (SELECT id, blk, n_toks, unnest(toks) AS tok FROM sized),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, a.n_toks AS na, b.n_toks AS nb,
         COUNT(*) AS n_common
  FROM ex a JOIN ex b ON a.blk = b.blk AND a.tok = b.tok AND a.id < b.id
  GROUP BY 1, 2, 3, 4)
SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
       CAST(n_common AS DOUBLE) / CAST(na + nb - n_common AS DOUBLE) AS jaccard
FROM common
WHERE CAST(n_common AS DOUBLE) / CAST(na + nb - n_common AS DOUBLE) >= 0.05
ORDER BY id_a, id_b
""",
)
def shingle_jaccard_pairs_documents(spark, sf_dir):
    # ordered projection of the session's one materialized pair set
    return _shingle_pairs(spark, sf_dir).orderBy("id_a", "id_b")


def _shingle_pairs_plan(spark, sf_dir):
    # 3-gram (shingle) Jaccard near-dup: the n-gram variant of
    # jaccard_pairs_documents — sparse shingle overlap, so candidate pairs
    # stay rare even on a small vocabulary
    from ..operators.text import shingle_set

    # spread the one-row-group scan before the shingle map: this edge
    # derivation feeds every CC/pagerank/k-core/triangle query, and its
    # tokenize+explode ran as a 12 s single task at sf1.0 (r6 skew bench)
    docs = _spread_scan(spark, _t(spark, sf_dir, "documents"))
    base = docs.select(
        F.col("doc_id").alias("id"),
        F.col("lang").alias("blk"),
        shingle_set(F.col("text")).alias("toks"),
    ).withColumn("n_toks", F.size("toks")).where(F.col("n_toks") > 0)
    ex = base.select("id", "blk", "n_toks", F.explode("toks").alias("tok"))
    a, b = ex.alias("a"), ex.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_toks").alias("na"),
            F.col("b.n_toks").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        (F.col("na") + F.col("nb") - F.col("n_common")).cast("double")
    )
    return (
        common.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= 0.05)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


@register(
    "time_rolling_mean_events",
    ev_sql("""
SELECT event_id, user_id, ts,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
         / COUNT(value) OVER w AS value_time_mean_3600s
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""),
)
def time_rolling_mean_events(spark, sf_dir):
    # RANGE-frame trailing 1h mean by EVENT TIME (not row count) — the
    # irregular-sampling variant of W3; decimal-exact vs the oracle
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = W.add_time_rolling_mean(
        ev, "user_id", "ts", ["value"], window_seconds=3600, exact=True
    )
    return out.select("event_id", "user_id", "ts", "value_time_mean_3600s")


@register(
    "json_props_stats_events",
    ev_sql(f"""
WITH parsed AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS INT) AS k
  FROM events)
SELECT event_type,
       COUNT(k) AS n_with_k,
       CAST(SUM(CAST(k AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MIN(k) AS INT) AS min_k, CAST(MAX(k) AS INT) AS max_k
FROM parsed GROUP BY event_type ORDER BY event_type
"""),
)
def json_props_stats_events(spark, sf_dir):
    # JSON scalar functions on the props payload column (the reference's
    # only JSON handling is ingest-time flatten, S5; this is the in-query
    # variant: get_json_object stays JVM-side, no UDF)
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum(F.col("k").cast("bigint")).alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@register("ann_ivf_topk_embeddings", None)  # rows-only: recall<1 by design
def ann_ivf_topk_embeddings(spark, sf_dir):
    # IVF ANN: seeded-KMeans centroid cells, nprobe nearest cells per query,
    # exact cosine re-rank inside the probed cells only. cache_tag shares
    # the session's ONE coarse quantizer with ivf_pq_adc_topk (identical
    # seeded fit — similarity._coarse_model; first consumer pays it, and
    # bench.py lists both consumers in SESSION_CACHED)
    return S.ivf_topk(
        _t(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4], k=5, cache_tag=sf_dir
    )


# ---------------------------------------------------------------------------
# Breadth batch 2: ranking windows, grouping sets, per-group percentiles,
# histogram, band (range) join, gap-filled time-bucket rollup, string
# functions, array-HOF embedding norms, and two more classic join shapes.
# All oracled; parity rules from the module docstring apply.
# ---------------------------------------------------------------------------
@register(
    "ranking_events",
    ev_sql("""
SELECT event_id, user_id, value,
       CAST(row_number() OVER w AS BIGINT) AS rn,
       CAST(rank() OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       percent_rank() OVER w AS pct_rank
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)
"""),
)
def ranking_events(spark, sf_dir):
    # Ranking window family (beyond-reference: SURVEY.md §2.5 notes the
    # reference has none). One shuffle on user_id serves all five ranks.
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
    )


@register(
    "grouping_sets_orders",
    f"""
SELECT o_orderpriority, o_orderstatus,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st,
       COUNT(*) AS n_orders,
       {SQL_DSUM('o_totalprice')} AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
ORDER BY g_pri, g_st, o_orderpriority, o_orderstatus
""",
)
def grouping_sets_orders(spark, sf_dir):
    # Explicit GROUPING SETS (beyond rollup/cube already covered); GROUPING()
    # markers disambiguate aggregated-away NULLs from data NULLs.
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderpriority"], ["o_orderstatus"], []],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.grouping("o_orderpriority").cast("long").alias("g_pri"),
            F.grouping("o_orderstatus").cast("long").alias("g_st"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
        .orderBy("g_pri", "g_st", "o_orderpriority", "o_orderstatus")
    )


@register(
    "percentiles_by_type_events",
    ev_sql("""
SELECT event_type,
       quantile_cont(value, 0.25) AS p25,
       quantile_cont(value, 0.50) AS p50,
       quantile_cont(value, 0.75) AS p75,
       COUNT(*) AS n_rows
FROM events GROUP BY event_type ORDER BY event_type
"""),
)
def percentiles_by_type_events(spark, sf_dir):
    # Exact per-group interpolated percentiles (Spark percentile() and DuckDB
    # quantile_cont share the linear-interpolation definition bitwise).
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.25)").alias("p25"),
            F.expr("percentile(value, 0.50)").alias("p50"),
            F.expr("percentile(value, 0.75)").alias("p75"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("event_type")
    )


@register(
    "histogram_value_events",
    ev_sql(f"""
SELECT CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket,
       COUNT(*) AS n_events,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       {SQL_DSUM('value')} AS sum_value
FROM events GROUP BY bucket ORDER BY bucket
"""),
)
def histogram_value_events(spark, sf_dir):
    # Equi-width histogram: a pure map-side bucketing + hash agg (the
    # distributed analog of pandas value_counts(bins=...)).
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("bucket", F.floor(F.col("value") / 50.0).cast("long"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .orderBy("bucket")
    )


@register(
    "band_join_events",
    ev_sql(f"""
SELECT band_id, COUNT(*) AS n_events, {SQL_DSUM('value')} AS sum_value
FROM events
JOIN (SELECT unnest(generate_series(0, 9)) AS band_id) b
  ON value >= band_id * 50.0 AND value < (band_id + 1) * 50.0
GROUP BY band_id ORDER BY band_id
"""),
)
def band_join_events(spark, sf_dir):
    # Non-equi (range/band) join against a tiny broadcast dimension — plans
    # as BroadcastNestedLoopJoin, the right physical strategy when one side
    # is O(10) rows; at 100 TB the fact side streams, no shuffle.
    ev = _t(spark, sf_dir, "events").select("value")
    bands = spark.range(0, 10).select(F.col("id").cast("long").alias("band_id"))
    cond = (F.col("value") >= F.col("band_id") * 50.0) & (
        F.col("value") < (F.col("band_id") + 1) * 50.0
    )
    return (
        ev.join(F.broadcast(bands), cond)
        .groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .orderBy("band_id")
    )


@register(
    "time_bucket_gapfill_events",
    ev_sql(f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS bucket,
         COUNT(*) AS n_events, {SQL_DSUM('value')} AS sum_value
  FROM events GROUP BY 1
), bounds AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events
), spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM bounds
)
SELECT spine.bucket AS bucket,
       COALESCE(n_events, 0) AS n_events,
       COALESCE(sum_value, 0.0) AS sum_value
FROM spine LEFT JOIN hourly ON spine.bucket = hourly.bucket
ORDER BY bucket
"""),
)
def time_bucket_gapfill_events(spark, sf_dir):
    # Hypertable-style continuous aggregate with gap filling: hourly rollup
    # left-joined onto a generated time spine (sequence+explode), missing
    # buckets emitted as zero. The spine is O(hours) — broadcast side.
    ev = _t(spark, sf_dir, "events").select("ts", "value")
    hourly = (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
    )
    spine = (
        ev.agg(
            F.date_trunc("hour", F.min("ts")).alias("lo"),
            F.date_trunc("hour", F.max("ts")).alias("hi"),
        )
        .select(
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
            ).alias("bucket")
        )
    )
    return (
        spine.join(hourly, "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
            F.coalesce(F.col("sum_value"), F.lit(0.0)).alias("sum_value"),
        )
        .orderBy("bucket")
    )


@register(
    "string_funcs_documents",
    """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS text_len,
       upper(substr(text, 1, 8)) AS prefix_upper,
       CAST(strpos(text, 'e') AS BIGINT) AS first_e,
       CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces,
       CAST(length(regexp_replace(text, '[^aeiou]', '', 'g')) AS BIGINT) AS n_vowels
FROM documents
""",
)
def string_funcs_documents(spark, sf_dir):
    # String-function surface (length/substr/case/instr/replace/regexp) —
    # all JVM-side codegen'd expressions, one narrow scan, no shuffle.
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("text_len"),
        F.upper(F.substring("text", 1, 8)).alias("prefix_upper"),
        F.instr(F.col("text"), "e").cast("long").alias("first_e"),
        (F.length("text") - F.length(F.regexp_replace("text", " ", "")))
        .cast("long")
        .alias("n_spaces"),
        F.length(F.regexp_replace("text", "[^aeiou]", "")).cast("long").alias("n_vowels"),
    )


@register(
    "embedding_norm_stats",
    f"""
WITH norms AS (
  SELECT label,
         ROUND(sqrt(CAST(list_sum(list_transform(embedding,
           x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(20,9))))
           AS DOUBLE)), 6) AS norm
  FROM embeddings
)
SELECT label, COUNT(*) AS n_vecs,
       {SQL_DAVG('norm')} AS avg_norm,
       MAX(norm) AS max_norm
FROM norms GROUP BY label ORDER BY label
""",
)
def embedding_norm_stats(spark, sf_dir):
    # Array higher-order functions over the embedding column: per-element
    # square in DOUBLE (identical IEEE product both engines), exact
    # DECIMAL(20,9) accumulation (order-independent — the HOF fold and
    # DuckDB's list_sum may reduce in any order), sqrt + round once.
    emb = _t(spark, sf_dir, "embeddings").select("label", "embedding")

    def _sq(x):
        return (x.cast("double") * x.cast("double")).cast("decimal(20,9)")

    def _add(acc, x):
        return (acc + x).cast("decimal(20,9)")

    ssum = F.aggregate(
        F.transform(F.col("embedding"), _sq),
        F.lit(0).cast("decimal(20,9)"),
        _add,
    )
    norms = emb.select(
        "label", F.round(F.sqrt(ssum.cast("double")), 6).alias("norm")
    )
    return (
        norms.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            davg(F.col("norm")).alias("avg_norm"),
            F.max("norm").alias("max_norm"),
        )
        .orderBy("label")
    )


@register(
    "q4_late_shipping_priority",
    """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def q4_late_shipping_priority(spark, sf_dir):
    # TPC-H-Q4-shaped: EXISTS → left-semi hash join with an extra non-equi
    # residual (l_shipdate > o_orderdate + 30 days); date filter pushed to
    # the orders scan prunes before the shuffle.
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@register(
    "q5_local_supplier_volume",
    f"""
SELECT n_name, {SQL_DSUM('l_extendedprice * (1 - l_discount)')} AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name ORDER BY n_name
""",
)
def q5_local_supplier_volume(spark, sf_dir):
    # TPC-H-Q5-shaped 6-way join: two big facts shuffle on their join keys;
    # supplier/nation/region broadcast; the c_nationkey = s_nationkey
    # residual makes it a genuine multi-predicate join, not a star lookup.
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA").select(
        "r_regionkey"
    )
    nr = F.broadcast(n.join(r, n.n_regionkey == r.r_regionkey).select("n_nationkey", "n_name"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(c, (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(nr, s.s_nationkey == nr.n_nationkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy("n_name")
    )


_BPE_PAT = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@register(
    "bpe_token_stats_documents",
    f"""
SELECT doc_id,
       CAST(length(regexp_extract_all(text, '{_BPE_PAT}')) AS BIGINT) AS n_bpe_tokens,
       CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_ws_tokens,
       CAST(length(text) AS DOUBLE)
         / CAST(length(regexp_extract_all(text, '{_BPE_PAT}')) AS DOUBLE)
         AS chars_per_token
FROM documents
""",
)
def bpe_token_stats_documents(spark, sf_dir):
    # BPE-ish token counting (letter runs | digit runs | single punctuation)
    # next to whitespace tokens — the two token-budget estimators a training
    # corpus pipeline carries per document. Pattern kept RE2/Java-portable.
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_PAT), F.lit(0)))
    ws = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return d.select(
        "doc_id",
        bpe.cast("long").alias("n_bpe_tokens"),
        ws.cast("long").alias("n_ws_tokens"),
        (F.length("text").cast("double") / bpe.cast("double")).alias("chars_per_token"),
    )


@register(
    "word_counts_documents",
    """
SELECT word, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
FROM (SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
      FROM documents)
WHERE word <> ''
GROUP BY word ORDER BY n_occurrences DESC, word LIMIT 20
""",
)
def word_counts_documents(spark, sf_dir):
    # The generator/UDTF surface: tokenize → explode → re-aggregate. At scale
    # the explode multiplies rows ~n_tokens×; the partial agg combines
    # map-side before the word-key shuffle, and top-20 is TakeOrdered.
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("word"),
    ).where(F.col("word") != "")
    return (
        words.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "word")
        .limit(20)
    )


def _sql_regr(y: str, x: str) -> dict[str, str]:
    n = "CAST(COUNT(*) AS DOUBLE)"
    sx, sy = SQL_DSUM(x), SQL_DSUM(y)
    sxy, sxx = SQL_DSUM(f"{x} * {y}"), SQL_DSUM(f"{x} * {x}")
    slope = f"(({n} * {sxy} - {sx} * {sy}) / ({n} * {sxx} - {sx} * {sx}))"
    return {
        "slope": slope,
        "intercept": f"(({sy} - {slope} * {sx}) / {n})",
        "covar_pop": f"(({n} * {sxy} - {sx} * {sy}) / ({n} * {n}))",
    }


_REGR = _sql_regr("l_extendedprice", "l_quantity")


@register(
    "regr_stats_lineitem",
    f"""
SELECT {_REGR['slope']} AS slope,
       {_REGR['intercept']} AS intercept,
       {_REGR['covar_pop']} AS covar_pop,
       COUNT(*) AS n_rows
FROM lineitem
""",
)
def regr_stats_lineitem(spark, sf_dir):
    # Linear-regression moments (slope/intercept/covariance) from exact
    # decimal sums — the same closed forms as _sql_corr, so both engines
    # evaluate identical IEEE expressions over identical inputs.
    li = _t(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1)).cast("double")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    sx, sy = dsum(x), dsum(y)
    sxy, sxx = dsum(x * y), dsum(x * x)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return li.agg(
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
        ((n * sxy - sx * sy) / (n * n)).alias("covar_pop"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "streaming_session_window_stats",
    ev_sql(f"""
WITH s AS (
  SELECT event_id, user_id, ts, value,
         CASE WHEN lag(ts) OVER ({_EVW}) IS NULL
              OR ts - lag(ts) OVER ({_EVW}) > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), g AS (
  SELECT *, SUM(new_sess) OVER ({_EVW} ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM s
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       {SQL_DSUM('value')} AS sum_value
FROM g GROUP BY user_id, sess_id
"""),
)
def streaming_session_window_stats(spark, sf_dir):
    # Native streaming session windows (F.session_window, 30 min gap) driven
    # to completion on the bounded source; the oracle is the batch
    # gaps-and-islands dual — same gap ⇒ bit-identical sessions, proving the
    # streaming operator against relational SQL.
    from ..streaming import jobs as SJ

    return SJ.streaming_session_stats(spark, sf_dir)


# ---------------------------------------------------------------------------
# TPC-H breadth batch 2: Q6/Q10/Q13/Q14/Q15/Q17/Q18/Q19/Q22 shapes adapted to
# the testdata schema (no partsupp / l_shipmode / c_phone columns).
# ---------------------------------------------------------------------------


@register(
    "q6_forecast_revenue",
    f"""
SELECT {SQL_DSUM('l_extendedprice * l_discount')} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q6_forecast_revenue(spark, sf_dir):
    # TPC-H-Q6-shaped: pure scan-filter-aggregate. All three predicates push
    # to the parquet scan (PushedFilters), the projection prunes to 4 columns,
    # and the single global agg is a map-side partial + 1-row final — the
    # cheapest possible shape at 100 TB (no shuffle of data, only partials).
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q10_returned_items",
    f"""
SELECT c_custkey, c_name,
       {SQL_DSUM('l_extendedprice * (1 - l_discount)')} AS revenue,
       c_acctbal, n_name
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
""",
)
def q10_returned_items(spark, sf_dir):
    # TPC-H-Q10-shaped returned-item report: both fact filters (quarter,
    # returnflag) push to their scans before the orderkey shuffle; customer
    # and nation broadcast; top-20 is TakeOrdered on the driver, so only
    # 20 rows leave the cluster.
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q13_order_count_distribution",
    """
SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey)
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
""",
)
def q13_order_count_distribution(spark, sf_dir):
    # TPC-H-Q13-shaped: outer join preserving order-less customers, then a
    # two-level aggregation (per-customer count → histogram of counts). The
    # second agg's key space is tiny, so the second shuffle moves ~nothing;
    # the first shuffles on custkey which is near-uniform (no skew salt).
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q14_promo_revenue_ratio",
    f"""
SELECT 100.0 * {SQL_DSUM("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
             / {SQL_DSUM('l_extendedprice * (1 - l_discount)')} AS promo_revenue_pct,
       COUNT(*) AS n_lines
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate <  TIMESTAMP '1996-10-01'
""",
)
def q14_promo_revenue_ratio(spark, sf_dir):
    # TPC-H-Q14-shaped promo ratio: one month of lineitem (pushed filter)
    # broadcast-joined to part — a conditional aggregate over the join, no
    # fact-side shuffle at all (broadcast + single global agg of partials).
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (F.lit(100.0) * dsum(promo) / dsum(disc)).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q15_top_supplier",
    f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {SQL_DSUM('l_extendedprice * (1 - l_discount)')} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier, revenue
WHERE s_suppkey = supplier_no
  AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
)
def q15_top_supplier(spark, sf_dir):
    # TPC-H-Q15-shaped: revenue-per-supplier then keep the max. The scalar
    # subquery decorrelates to a 1-row broadcast joined back on equality —
    # the per-supplier agg is computed once (cached local exchange reuse via
    # AQE), never collected to the driver. Exact-decimal revenue makes the
    # float equality well-defined in both engines.
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q17_small_quantity_revenue",
    f"""
SELECT {SQL_DSUM('l_extendedprice')} / 7.0 AS avg_yearly, COUNT(*) AS n_lines
FROM lineitem, part
WHERE p_partkey = l_partkey AND p_brand = 'Brand#3'
  AND l_quantity < (SELECT 0.2 * {SQL_DAVG('l2.l_quantity')}
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
""",
)
def q17_small_quantity_revenue(spark, sf_dir):
    # TPC-H-Q17-shaped correlated scalar subquery, decorrelated by hand into
    # a per-part average aggregated once and broadcast back (part keys are
    # dim-sized even at 100 TB of lineitem). The exact-decimal per-part mean
    # makes the l_quantity < 0.2*avg threshold bit-identical across engines.
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    p = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#3").select(
        "p_partkey"
    )
    per_part = li.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        davg(F.col("l_quantity")).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(per_part), li.l_partkey == F.col("avg_partkey"))
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (dsum(F.col("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q18_large_volume_customers",
    f"""
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       {SQL_DSUM('l_quantity')} AS sum_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey
                     HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 180)
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
""",
)
def q18_large_volume_customers(spark, sf_dir):
    # TPC-H-Q18-shaped: HAVING subquery → aggregate once, semi-join the fact
    # on orderkey (both sides already hash-partitioned on l_orderkey, so AQE
    # reuses the exchange), then re-aggregate with order/customer context.
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("_sq"))
        .where(F.col("_sq") > 180)
        .select("l_orderkey")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        li.join(big.withColumnRenamed("l_orderkey", "_bk"), li.l_orderkey == F.col("_bk"), "inner")
        .drop("_bk")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum(F.col("l_quantity")).alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@register(
    "q19_disjunctive_brand_revenue",
    f"""
SELECT {SQL_DSUM('l_extendedprice * (1 - l_discount)')} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND ((p_brand = 'Brand#3'  AND p_size BETWEEN 1  AND 15 AND l_quantity BETWEEN 1  AND 21)
    OR (p_brand = 'Brand#12' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
    OR (p_brand = 'Brand#20' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 40))
""",
)
def q19_disjunctive_brand_revenue(spark, sf_dir):
    # TPC-H-Q19-shaped disjunctive join: Catalyst extracts the common
    # p_partkey = l_partkey equi-key for the (broadcast) hash join and keeps
    # the OR-of-ANDs as a residual filter; the brand/size disjunction also
    # derives a part-side pre-filter so the broadcast build side shrinks.
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    cond = (
        ((brand == "Brand#3") & size.between(1, 15) & qty.between(1, 21))
        | ((brand == "Brand#12") & size.between(10, 30) & qty.between(10, 30))
        | ((brand == "Brand#20") & size.between(20, 50) & qty.between(20, 40))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(cond)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q22_idle_balance_customers",
    f"""
SELECT c_mktsegment, COUNT(*) AS numcust, {SQL_DSUM('c_acctbal')} AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT {SQL_DAVG('c_acctbal')} FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
)
def q22_idle_balance_customers(spark, sf_dir):
    # TPC-H-Q22-shaped (no phone column → segment in place of cntrycode):
    # uncorrelated scalar subquery broadcast as a 1-row threshold +
    # anti-join against recent orders. The orders side prunes on the date
    # filter BEFORE the anti-join, so the build side stays small at scale.
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(
        davg(F.col("c_acctbal")).alias("_avg_bal")
    )
    recent = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        c.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("_avg_bal"))
        .drop("_avg_bal")
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Training-data ops batch 2: within-doc repetition, eval-set decontamination,
# TF-IDF, corpus growth, and near-dup connected components.
# ---------------------------------------------------------------------------

_W_SQL = "regexp_split_to_array(trim(lower(text)), '\\s+')"


def _grams_sql(k: int) -> str:
    parts = " || ' ' || ".join(f"w[i+{j}]" if j else "w[i]" for j in range(k))
    return f"list_transform(generate_series(1, len(w) - {k - 1}), i -> {parts})"


def _grams_spark(w, k: int):
    # 1-based element_at mirrors DuckDB list indexing; caller guarantees
    # size(w) >= k so the sequence is never descending.
    return F.transform(
        F.sequence(F.lit(1), F.size(w) - (k - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(w, i + j) for j in range(k)]),
    )


# THE bigram-stream definition shared by every bigram LM in the engine
# (bigram_lm, bigram_nll, heldout_lm): one expression constant so the
# tokenized-pair semantics cannot drift between them. The SQL oracles use
# the equivalent lateral generate_series pattern.
_BG_STRUCT_EXPR = (
    "transform(sequence(1, size(w) - 1), i -> struct(w[i-1] AS w1, w[i] AS w2))"
)


@register(
    "repetition_score_documents",
    f"""
WITH toks AS (SELECT doc_id, {_W_SQL} AS w FROM documents),
ng AS (SELECT doc_id, {_grams_sql(2)} AS g2, {_grams_sql(3)} AS g3
       FROM toks WHERE len(w) >= 3)
SELECT doc_id,
       CAST(len(g2) AS BIGINT) AS n_bigrams,
       CAST(len(list_distinct(g2)) AS DOUBLE) / CAST(len(g2) AS DOUBLE) AS bigram_distinct_ratio,
       CAST(len(g3) AS BIGINT) AS n_trigrams,
       CAST(len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE) AS trigram_distinct_ratio
FROM ng ORDER BY doc_id
""",
)
def repetition_score_documents(spark, sf_dir):
    # Within-document repetition (degenerate-text detector for training
    # corpora): distinct-n-gram ratio at n=2,3. Entirely array-HOF — no
    # explode, no shuffle beyond the final sort; at 100 TB this is a pure
    # map-side scan whose cost is linear in corpus bytes.
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    d = d.withColumn("w", w).where(F.size("w") >= 3)
    g2, g3 = _grams_spark(F.col("w"), 2), _grams_spark(F.col("w"), 3)
    ratio = lambda g: F.size(F.array_distinct(g)).cast("double") / F.size(g).cast("double")
    return d.select(
        "doc_id",
        F.size(g2).cast("long").alias("n_bigrams"),
        ratio(g2).alias("bigram_distinct_ratio"),
        F.size(g3).cast("long").alias("n_trigrams"),
        ratio(g3).alias("trigram_distinct_ratio"),
    ).orderBy("doc_id")


@register(
    "decontaminate_3gram_documents",
    f"""
WITH toks AS (SELECT doc_id, source, {_W_SQL} AS w FROM documents),
ng AS (SELECT doc_id, source, unnest(list_distinct({_grams_sql(3)})) AS gram
       FROM toks WHERE len(w) >= 3)
SELECT t.doc_id, COUNT(DISTINCT t.gram) AS n_contaminated_grams
FROM (SELECT doc_id, gram FROM ng WHERE source <> 'src0') t
JOIN (SELECT DISTINCT gram FROM ng WHERE source = 'src0') e USING (gram)
GROUP BY t.doc_id
ORDER BY n_contaminated_grams DESC, t.doc_id LIMIT 50
""",
)
def decontaminate_3gram_documents(spark, sf_dir):
    # Eval-set decontamination: docs from source 'src0' act as the held-out
    # benchmark; every other doc is scored by how many distinct 3-grams it
    # shares with it. Spark shape: per-doc DISTINCT gram explode → hash join
    # on gram (eval side aggregated to distinct grams and — being a
    # benchmark, i.e. tiny vs the corpus — broadcast) → per-doc count.
    # At 100 TB the train side never shuffles: explode + broadcast-semi.
    # spread the one-row-group scan before the 3-gram explode — same
    # scan-side fan-out starvation as bigram_lm (e=0.85 over 30x was one
    # map task doing the whole tokenize+explode)
    d = _spread_scan(
        spark, _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    )
    w = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    grams = d.withColumn("w", w).where(F.size("w") >= 3).select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(_grams_spark(F.col("w"), 3))).alias("gram"),
    )
    eval_grams = grams.where(F.col("source") == "src0").select("gram").distinct()
    train = grams.where(F.col("source") != "src0")
    return (
        train.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_contaminated_grams"))
        .orderBy(F.desc("n_contaminated_grams"), "doc_id")
        .limit(50)
    )


@register(
    "tfidf_top_terms_documents",
    f"""
WITH words AS (
  SELECT doc_id, unnest({_W_SQL.replace('text', 'text')}) AS word
  FROM documents),
w2 AS (SELECT doc_id, word FROM words WHERE word <> ''),
tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w2 GROUP BY doc_id, word),
df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM w2 GROUP BY word),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
SELECT doc_id, word, CAST(tf AS BIGINT) AS tf,
       ROUND(tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
FROM tf JOIN df USING (word) CROSS JOIN n
ORDER BY tfidf DESC, word, doc_id LIMIT 20
""",
)
def tfidf_top_terms_documents(spark, sf_dir):
    # Classic TF-IDF surface: tokenize → per-(doc,word) tf → per-word df →
    # weight. df is a word-keyed partial-agg (map-side combine collapses the
    # Zipf head before the shuffle); N is a 1-row broadcast. Rounded to 6 dp
    # in both engines because ln() may differ in the last ulp across libm
    # implementations.
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("word"),
    ).where(F.col("word") != "")
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = words.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.countDistinct("doc_id").alias("n_docs"))
    tfidf = F.round(
        F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")), 6
    )
    return (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "word", F.col("tf").cast("long").alias("tf"), tfidf.alias("tfidf"))
        .orderBy(F.desc("tfidf"), "word", "doc_id")
        .limit(20)
    )


# Okapi BM25 retrieval scoring (query-relevance data selection — the
# standard lexical ranker for "pick training documents relevant to a seed
# query"). Fixed literal query terms: row-independent constants belong
# driver-side (see the LSH-plane rule), and a literal IN-list reaches the
# tokenize stage as a pushed filter for the tf counts.
_BM25_TERMS = ("spark", "join", "window", "hash")
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_ctes() -> str:
    """Shared oracle CTE chain (tokenize → per-doc dl+tf agg → corpus stats
    → fixed-fold-order BM25 score), generated from the SAME term list as
    the Spark plan — the per-doc score is an explicitly unrolled fixed-order
    4-term sum so both engines fold the doubles in the same order (a SUM()
    over a grouped join would make the fold order engine-dependent and 6-dp
    rounding boundary-unstable). Every double promotion is an explicit CAST
    at the same point as the Spark side."""
    tf_cols = ",\n               ".join(
        f"COUNT(*) FILTER (WHERE word = '{t}') AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n                 ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    terms = "\n  + ".join(
        f"(CASE WHEN tf{i} > 0 THEN"
        f" ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5)"
        f" / (CAST(df{i} AS DOUBLE) + 0.5))"
        f" * CAST(tf{i} AS DOUBLE) * ({_BM25_K1} + 1.0)"
        f" / (CAST(tf{i} AS DOUBLE) + {_BM25_K1} * (1.0 - {_BM25_B} +"
        f" {_BM25_B} * (CAST(dl AS DOUBLE) / avgdl))) ELSE 0.0 END)"
        for i in range(len(_BM25_TERMS))
    )
    return f"""words AS (
  SELECT doc_id, unnest({_W_SQL}) AS word FROM documents),
w2 AS (SELECT doc_id, word FROM words WHERE word <> ''),
agg AS (SELECT doc_id, COUNT(*) AS dl,
               {tf_cols}
        FROM w2 GROUP BY doc_id),
stats AS (SELECT AVG(CAST(dl AS DOUBLE)) AS avgdl,
                 {df_cols}
          FROM agg),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT doc_id,
    {terms} AS s
  FROM agg CROSS JOIN stats CROSS JOIN n),
bm25s AS (SELECT doc_id, ROUND(s, 6) + 0.0 AS bm25
          FROM scored WHERE ROUND(s, 6) + 0.0 > 0)"""


def _bm25_sql() -> str:
    return f"""
WITH {_bm25_ctes()}
SELECT doc_id, bm25 FROM bm25s
ORDER BY bm25 DESC, doc_id LIMIT 25
"""


def _bm25_frame(spark, sf_dir) -> DataFrame:
    """BM25 score (6-dp quantized, > 0) of every document vs _BM25_TERMS —
    the shared scoring frame behind `bm25_scores_documents` and the RRF
    fusion. See bm25_scores_documents for the scale shape."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("word"),
    ).where(F.col("word") != "")
    # materialize once: agg feeds BOTH the corpus-stats reduction and the
    # scoring map — left lazy, each consumer would re-run the tokenize pass
    # (the dominant cost at scale) over the whole corpus
    agg = words.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.count(F.when(F.col("word") == t, 1)).alias(f"tf{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    ).localCheckpoint(eager=True)
    stats = agg.agg(
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    n = d.agg(F.countDistinct("doc_id").alias("n_docs"))
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)

    def _term(i: int):
        tf = F.col(f"tf{i}").cast("double")
        dfv = F.col(f"df{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs").cast("double") - dfv + F.lit(0.5)) / (dfv + F.lit(0.5))
        )
        denom = tf + k1 * (
            F.lit(1.0) - b + b * (F.col("dl").cast("double") / F.col("avgdl"))
        )
        return F.when(
            F.col(f"tf{i}") > 0, idf * tf * (k1 + F.lit(1.0)) / denom
        ).otherwise(F.lit(0.0))

    # left-associated fold in term order — mirrors the oracle's '+' chain
    score = _term(0)
    for i in range(1, len(_BM25_TERMS)):
        score = score + _term(i)
    return (
        agg.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(n))
        .select("doc_id", (F.round(score, 6) + F.lit(0.0)).alias("bm25"))
        .where(F.col("bm25") > 0)
    )


@register("bm25_scores_documents", _bm25_sql())
def bm25_scores_documents(spark, sf_dir):
    """Okapi BM25 (k1=1.2, b=0.75, Lucene idf = ln(1 + (N-df+0.5)/(df+0.5)))
    of every document against the fixed 4-term query, top-25. 100 TB shape:
    ONE tokenize pass feeds a single doc_id-keyed conditional aggregation
    producing doc length AND all per-term tfs together (no tf-join-dl — one
    exchange on the doc key, map-side combined); corpus stats (avgdl,
    per-term df, N) reduce to 1-row frames joined back as broadcasts, so
    scoring is a map stage. The score is a fixed left-associated 4-term
    expression mirroring the oracle's fold order exactly; only ln() is
    libm-dependent, hence the 6-dp emission quantization (ranking uses the
    rounded value in BOTH engines so the LIMIT boundary is deterministic)."""
    return (
        _bm25_frame(spark, sf_dir)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(25)
    )


_RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
_RRF_DEPTH = 50  # per-ranker candidate depth feeding the fusion


def _rrf_sql() -> str:
    k, depth = _RRF_K, _RRF_DEPTH
    return f"""
WITH {_bm25_ctes()},
lexall AS (SELECT doc_id, bm25,
                  CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
                    AS lex_rank
           FROM bm25s WHERE doc_id <> 0),
lex AS (SELECT doc_id, lex_rank FROM lexall WHERE lex_rank <= {depth}),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id = 0),
pairs AS (SELECT e.vec_id AS neighbor_id, q.qv, e.embedding AS nv
          FROM q, embeddings e WHERE e.vec_id != q.query_id),
dots AS (
  SELECT neighbor_id,
         {_DOT_SQL.format(a='qv', b='nv')} AS dot,
         {_DOT_SQL.format(a='qv', b='qv')} AS nq,
         {_DOT_SQL.format(a='nv', b='nv')} AS nn
  FROM pairs, range(1, 65) i(i) GROUP BY 1),
semall AS (SELECT neighbor_id AS doc_id,
                  CAST(row_number() OVER (
                    ORDER BY dot / (sqrt(nq) * sqrt(nn)) DESC, neighbor_id
                  ) AS INT) AS sem_rank
           FROM dots),
sem AS (SELECT doc_id, sem_rank FROM semall WHERE sem_rank <= {depth}),
fused AS (
  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
         COALESCE(l.lex_rank, 0) AS lex_rank,
         COALESCE(s.sem_rank, 0) AS sem_rank,
         (CASE WHEN l.lex_rank IS NOT NULL
               THEN 1.0 / ({k} + l.lex_rank) ELSE 0.0 END)
       + (CASE WHEN s.sem_rank IS NOT NULL
               THEN 1.0 / ({k} + s.sem_rank) ELSE 0.0 END) AS rrf_score
  FROM lex l FULL JOIN sem s ON l.doc_id = s.doc_id)
SELECT doc_id, lex_rank, sem_rank, rrf_score
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 20
"""


@register("rrf_hybrid_topk_documents", _rrf_sql())
def rrf_hybrid_topk_documents(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion (k=60) of the lexical BM25
    ranking and the semantic cosine ranking against the same seed (doc 0 /
    its embedding — the tables are row-aligned by id), the standard way a
    curation pipeline combines keyword and embedding evidence. Scale shape:
    each ranker reduces to a bounded top-`_RRF_DEPTH` list FIRST —
    TakeOrderedAndProject for BM25 (distributed top-k, no global-window
    sort of the corpus) and the per-query top-k of cosine_topk — so the
    rank assignment and the full-outer fusion run on <= 2x depth rows.
    Fusion scores are reciprocals of INTEGER ranks (1/(60+r), fixed
    two-term fold): bit-deterministic IEEE doubles in both engines, so the
    emission needs no quantization; component rank parity is already
    proven by the bm25/cosine oracles at every SF."""
    from pyspark.sql import Window

    lex_top = (
        _bm25_frame(spark, sf_dir)
        .where(F.col("doc_id") != 0)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_RRF_DEPTH)
    )
    # row_number over the ALREADY-bounded 50-row frame (empty OVER () is a
    # single partition of <= depth rows, not a corpus sort)
    lex = lex_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), "doc_id"))
        .alias("lex_rank"),
    )
    sem = (
        S.cosine_topk(
            _t(spark, sf_dir, "embeddings"), [0], k=_RRF_DEPTH
        )
        .select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("sem_rank"))
    )
    fused = lex.join(sem, "doc_id", "full_outer")
    rrf = (
        F.when(
            F.col("lex_rank").isNotNull(),
            F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")),
        ).otherwise(F.lit(0.0))
        + F.when(
            F.col("sem_rank").isNotNull(),
            F.lit(1.0) / (F.lit(_RRF_K) + F.col("sem_rank")),
        ).otherwise(F.lit(0.0))
    )
    return (
        fused.select(
            "doc_id",
            F.coalesce(F.col("lex_rank"), F.lit(0)).alias("lex_rank"),
            F.coalesce(F.col("sem_rank"), F.lit(0)).alias("sem_rank"),
            rrf.alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(20)
    )


@register(
    "cumulative_distinct_users_events",
    ev_sql("""
WITH firsts AS (SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id),
d AS (SELECT CAST(date_trunc('day', first_ts) AS TIMESTAMP) AS day,
             COUNT(*) AS new_users
      FROM firsts GROUP BY 1)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_distinct_users
FROM d ORDER BY day
"""),
)
def cumulative_distinct_users_events(spark, sf_dir):
    # Cumulative COUNT(DISTINCT) over time — Spark windows don't allow
    # DISTINCT aggregates, so this uses the first-occurrence trick: distinct
    # collapses to MIN(ts) per user, then a running sum over day grain. The
    # only global-order window runs over day-cardinality rows (tiny), so the
    # single-partition window is safe at any corpus scale.
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    daily = firsts.groupBy(
        F.date_trunc("day", F.col("first_ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_distinct_users"),
    ).orderBy("day")


# The (node, component) frame of the shingle-Jaccard near-dup graph,
# materialized ONCE per session: the pair join + BSP component propagation
# is the expensive stage shared by neardup_components_documents,
# dedup_keep_list_documents (via components), dup_cluster_size_distribution
# and training_corpus_manifest — recomputing it per query multiplied the
# family's wall ~4× at sf0.1. Labels are the deterministic min-node id, so
# every consumer's oracle hash is unchanged.
def _neardup_cc(spark, sf_dir):
    from ..operators.graph import connected_components

    def plan():
        pairs = _shingle_pairs(spark, sf_dir).select("id_a", "id_b")
        return connected_components(pairs, src="id_a", dst="id_b")

    return SC.materialized(
        "neardup_cc", spark, sf_dir, ("documents",), _checkpointed(plan)
    )[0]


@register(
    "neardup_components_documents",
    f"""
WITH RECURSIVE base AS (SELECT doc_id AS id, lang AS blk, {_SHINGLES_SQL} AS toks
              FROM documents),
sized AS (SELECT id, blk, toks, len(toks) AS n_toks FROM base WHERE len(toks) > 0),
ex AS (SELECT id, blk, n_toks, unnest(toks) AS tok FROM sized),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, a.n_toks AS na, b.n_toks AS nb,
         COUNT(*) AS n_common
  FROM ex a JOIN ex b ON a.blk = b.blk AND a.tok = b.tok AND a.id < b.id
  GROUP BY 1, 2, 3, 4),
edges AS (
  SELECT id_a, id_b FROM common
  WHERE CAST(n_common AS DOUBLE) / CAST(na + nb - n_common AS DOUBLE) >= 0.05),
und AS (SELECT id_a AS s, id_b AS d FROM edges
        UNION ALL SELECT id_b, id_a FROM edges),
reach(node, label) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM und)
  UNION
  SELECT e.d, r.label FROM reach r JOIN und e ON r.node = e.s),
cc AS (SELECT node AS doc_id, MIN(label) AS component FROM reach GROUP BY node)
SELECT doc_id, component,
       CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS component_size
FROM cc ORDER BY doc_id
""",
)
def neardup_components_documents(spark, sf_dir):
    # Near-duplicate clustering: connected components over the shingle-
    # Jaccard >= 0.05 pair graph (the edge set is itself the oracled
    # shingle_jaccard_pairs_documents query). Spark side is min-label
    # propagation WITH pointer jumping — each round is one edge join, one
    # min-aggregate and one label-of-label shortcut join, all
    # hash-partitioned on the node key, converging in O(log diameter)
    # rounds (measured necessary: the sf0.3 semantic-dedup graph has a
    # >25-hop chain). localCheckpoint() truncates the growing lineage each
    # round; the driver only ever sees a 1-row convergence count.
    from ..operators.graph import component_sizes

    cc = _neardup_cc(spark, sf_dir)
    return (
        component_sizes(cc)
        .select(F.col("node").alias("doc_id"), "component", "component_size")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Training-data ops batch 3: deterministic splits/sampling, chunking,
# label centroids, stream-static enrichment.
# ---------------------------------------------------------------------------

_ID_HASH = _PHASH.format(t="CAST(doc_id AS VARCHAR)")

# THE train/val/test assignment — single source of truth for every query
# that references the split (hash_split_documents reports it,
# split_leakage_documents audits it); duplicating the ratio/hash in two
# places would let the audit silently diverge from the reported split
# simple-CASE form: the md5 bucket expression is evaluated ONCE per row
# (a searched CASE would inline the hash into every branch)
_SPLIT_CASE_SQL = (
    f"CASE {_ID_HASH} % 10 WHEN 8 THEN 'val' WHEN 9 THEN 'test' "
    f"ELSE 'train' END"
)


def _split_col():
    b = X.portable_token_hash(F.col("doc_id").cast("string")) % 10
    return F.when(b == 8, "val").when(b == 9, "test").otherwise("train")


@register(
    "hash_split_documents",
    f"""
WITH h AS (SELECT doc_id, n_chars, {_SPLIT_CASE_SQL} AS split FROM documents)
SELECT split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM h GROUP BY 1 ORDER BY 1
""",
)
def hash_split_documents(spark, sf_dir):
    # Deterministic train/val/test assignment by content-stable hash — the
    # split a 100 TB corpus needs: no global shuffle, no seed state, any
    # executor can recompute a doc's split locally (pure map + tiny agg).
    # Engine-portable md5 bucket (not Spark's xxhash) so the oracle agrees.
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (
        d.groupBy(_split_col().alias("split"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


@register(
    "stratified_sample_documents",
    f"""
SELECT doc_id, source, lang
FROM documents
WHERE {_ID_HASH} % 100 < 30
ORDER BY doc_id
""",
)
def stratified_sample_documents(spark, sf_dir):
    # Deterministic 30% corpus subsample: a pure map-side filter on a
    # content-stable hash — reproducible across runs/engines (unlike
    # df.sample whose seed streams differ), composable per stratum, and at
    # scale it prunes rows before any downstream shuffle.
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    b = X.portable_token_hash(F.col("doc_id").cast("string")) % 100
    return d.where(b < 30).orderBy("doc_id")


@register(
    "chunk_documents",
    f"""
WITH toks AS (SELECT doc_id, {_W_SQL} AS w FROM documents),
st AS (SELECT doc_id, w, unnest(generate_series(1, len(w), 40)) AS start
       FROM toks WHERE len(w) >= 1),
c AS (SELECT doc_id, CAST((start - 1) // 40 AS BIGINT) AS chunk_idx,
             CAST(start AS BIGINT) AS chunk_start,
             w[start:least(start + 49, len(w))] AS chunk
      FROM st)
SELECT doc_id, chunk_idx, chunk_start,
       CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(chunk, ' ')) AS chunk_hash
FROM c ORDER BY doc_id, chunk_idx
""",
)
def chunk_documents(spark, sf_dir):
    # Context-window chunking (50-token chunks, stride 40 → 10-token
    # overlap): the map-side explode that turns documents into training
    # samples. Row count multiplies ~n_tokens/40× but no shuffle happens —
    # chunks stay on the producing partition; the md5 chunk hash doubles as
    # a chunk-level exact-dedup key downstream.
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    d = d.withColumn("w", w).where(F.size("w") >= 1)
    starts = F.sequence(F.lit(1), F.size("w"), F.lit(40))
    d = d.select("doc_id", "w", F.explode(starts).alias("start"))
    chunk = F.slice(
        F.col("w"),
        F.col("start"),
        F.least(F.lit(50), F.size("w") - F.col("start") + 1),
    )
    return d.select(
        "doc_id",
        ((F.col("start") - 1) / 40).cast("long").alias("chunk_idx"),
        F.col("start").cast("long").alias("chunk_start"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    ).orderBy("doc_id", "chunk_idx")


@register(
    "label_centroids_embeddings",
    """
SELECT label, CAST(g.i AS INTEGER) AS pos,
       ROUND(CAST(SUM(CAST(CAST(embedding[g.i] AS DOUBLE) AS DECIMAL(20,9))) AS DOUBLE)
         / COUNT(*), 6) + 0.0 AS centroid
FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) g
GROUP BY label, g.i
ORDER BY label, pos
""",
)
def label_centroids_embeddings(spark, sf_dir):
    # Per-class centroid vectors (the IVF/coarse-quantizer training step and
    # the nearest-class-mean classifier): posexplode to (label, dim) keys —
    # 64× row multiplication but map-side partial sums collapse it to
    # n_labels × 64 rows before the shuffle. Exact decimal accumulation
    # keeps the mean order-independent; the EMITTED mean is rounded to 6 dp
    # on both sides (the FPW ROUND6 convention) because the float→decimal
    # input cast can disagree across engines by one decimal ulp on TRUE
    # binary ties — pinned to the element: 0.1494140625 (=153/1024, exact
    # 10th-decimal-digit 5) casts to 0.149414063 in Spark (BigDecimal
    # HALF_UP) but 0.149414062 in DuckDB, while OTHER exact ties
    # (0.0009765625) agree — DuckDB's tie direction is value-dependent.
    # Caught by the r9 sf0.1 off-scale sweep: one element across 320k
    # samples, centroid delta 4.6e-12, invisible at the sf0.01 driver
    # gate. The same hazard class exists for any UNROUNDED emission
    # derived from a float→decimal cast; sums/means that quantize their
    # emission (6-9 dp) are immune.
    emb = _t(spark, sf_dir, "embeddings").select("label", "embedding")
    ex = emb.select("label", F.posexplode("embedding").alias("pos0", "v"))
    return (
        ex.groupBy("label", (F.col("pos0") + 1).cast("int").alias("pos"))
        .agg(
            (
                F.round(
                    F.sum(
                        F.col("v").cast("double").cast("decimal(20,9)")
                    ).cast("double")
                    / F.count(F.lit(1)),
                    6,
                )
                + F.lit(0.0)
            ).alias("centroid")
        )
        .orderBy("label", "pos")
    )


@register(
    "streaming_static_enrichment",
    ev_sql(f"""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
       c_mktsegment,
       COUNT(*) AS n_events,
       {SQL_DSUM('value')} AS sum_value
FROM events JOIN customer ON c_custkey = user_id
GROUP BY 1, 2 ORDER BY 1, 2
"""),
)
def streaming_static_enrichment(spark, sf_dir):
    # Stream-static join: the canonical streaming dimension-enrichment —
    # each micro-batch broadcast-joins the static customer dim (re-read per
    # epoch, so slowly-changing dims stay fresh), then a watermarked tumbling
    # agg per (hour, segment). Oracle is the batch join+rollup dual.
    from ..streaming import jobs as SJ

    ev = SJ.events_stream(spark, sf_dir)
    cust = F.broadcast(
        _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    agg = (
        ev.withWatermark("ts", "2 hours")
        .join(cust, ev.user_id == cust.c_custkey)
        .groupBy(F.window("ts", "1 hour").alias("win"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("hour_start"),
            "c_mktsegment",
            "n_events",
            "sum_value",
        )
    )
    return SJ.run_stream_to_batch(
        agg, spark, n_input_rows=parquet_row_count(sf_dir, "events")
    ).orderBy("hour_start", "c_mktsegment")


# ---------------------------------------------------------------------------
# TPC-H breadth batch 3: Q7/Q8/Q9 shapes (volume shipping, market share,
# product profit). No partsupp table in this schema, so Q9 drops the
# supply-cost term; join graph and aggregation shape are preserved.
# ---------------------------------------------------------------------------

_VOL = "l_extendedprice * (1 - l_discount)"


@register(
    "q7_volume_shipping",
    f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
       {SQL_DSUM(_VOL)} AS revenue
FROM supplier, lineitem, orders, customer, nation n1, nation n2
WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
  AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
  AND c_nationkey = n2.n_nationkey
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
""",
)
def q7_volume_shipping(spark, sf_dir):
    # TPC-H-Q7 shape: bilateral trade volume between two nations by ship
    # year. Both nation lookups broadcast pre-filtered to the 2 named rows,
    # so the disjunctive pair predicate runs as a residual on already-tiny
    # build sides — lineitem/orders shuffle once on the equi keys and the
    # shipdate range is pushed to the parquet scan.
    names = ("NATION_1", "NATION_2")
    n = _t(spark, sf_dir, "nation").where(F.col("n_name").isin(*names))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sn = F.broadcast(
        s.join(n.select("n_nationkey", F.col("n_name").alias("supp_nation")),
               s.s_nationkey == F.col("n_nationkey")).select("s_suppkey", "supp_nation")
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cn = c.join(
        F.broadcast(n.select("n_nationkey", F.col("n_name").alias("cust_nation"))),
        c.c_nationkey == F.col("n_nationkey"),
    ).select("c_custkey", "cust_nation")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = (
        (F.col("supp_nation") == names[0]) & (F.col("cust_nation") == names[1])
    ) | ((F.col("supp_nation") == names[1]) & (F.col("cust_nation") == names[0]))
    return (
        li.join(sn, li.l_suppkey == sn.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cn, o.o_custkey == cn.c_custkey)
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q8_market_share",
    f"""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       {SQL_DSUM(f"CASE WHEN n2.n_name = 'NATION_1' THEN {_VOL} ELSE 0 END")}
         / {SQL_DSUM(_VOL)} AS mkt_share
FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
  AND l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
  AND r_name = 'EUROPE' AND s_nationkey = n2.n_nationkey
  AND p_type = 'PROMO'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1 ORDER BY 1
""",
)
def q8_market_share(spark, sf_dir):
    # TPC-H-Q8 shape: one supplier nation's share of PROMO-part revenue sold
    # into EUROPE, by order year. The share is a conditional decimal sum over
    # the same rows as the total — one aggregate pass, no self-join. part /
    # supplier / nation⋈region all broadcast; only lineitem⋈orders⋈customer
    # shuffle.
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO").select("p_partkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eur_nations = F.broadcast(
        n.join(r, n.n_regionkey == r.r_regionkey).select(F.col("n_nationkey").alias("eur_nk"))
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    ce = c.join(eur_nations, c.c_nationkey == F.col("eur_nk")).select("c_custkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sn = F.broadcast(
        s.join(n.select("n_nationkey", F.col("n_name").alias("supp_nation")),
               s.s_nationkey == F.col("n_nationkey")).select("s_suppkey", "supp_nation")
    )
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(sn, li.l_suppkey == sn.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(ce, o.o_custkey == ce.c_custkey, "left_semi")
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                dsum(F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(F.lit(0.0)))
                / dsum(vol)
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "q9_product_profit_by_nation",
    f"""
SELECT n_name AS nation, CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       {SQL_DSUM(_VOL)} AS profit
FROM part, supplier, lineitem, orders, nation
WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
  AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
  AND p_type = 'ECONOMY'
GROUP BY 1, 2 ORDER BY 1, 2 DESC
""",
)
def q9_product_profit_by_nation(spark, sf_dir):
    # TPC-H-Q9 shape: profit on ECONOMY parts by supplier nation and order
    # year (no partsupp table in this schema, so the ps_supplycost term is
    # dropped — docstring notes the delta). part filter broadcast-semi-prunes
    # lineitem before the orders shuffle; supplier⋈nation broadcasts.
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY").select("p_partkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sn = F.broadcast(
        s.join(n, s.s_nationkey == n.n_nationkey).select("s_suppkey", "n_name")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .join(sn, F.col("l_suppkey") == sn.s_suppkey)
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@register(
    "q21_waiting_supplier",
    """
WITH per AS (
  SELECT l_orderkey, l_suppkey,
         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                  THEN 1 ELSE 0 END) AS is_late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY 1, 2),
w AS (
  SELECT l_suppkey, is_late,
         COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
         SUM(is_late) OVER (PARTITION BY l_orderkey) AS n_late
  FROM per)
SELECT s_name, COUNT(*) AS numwait
FROM w JOIN supplier ON s_suppkey = l_suppkey
WHERE is_late = 1 AND n_supp > 1 AND n_late = 1
GROUP BY s_name ORDER BY numwait DESC, s_name
""",
)
def q21_waiting_supplier(spark, sf_dir):
    # TPC-H-Q21 shape: suppliers who were the SOLE late shipper on a
    # multi-supplier finalized order ("late" adapted to shipdate > orderdate
    # + 90d — no commit/receipt dates in this schema). The classic form is a
    # double correlated EXISTS/NOT EXISTS (two lineitem self-joins); Spark-
    # first it collapses to one groupBy + one window over the SAME orderkey
    # partitioning — Catalyst reuses the exchange, so lineitem shuffles once
    # instead of three times.
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"), 1
    ).otherwise(0)
    per = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("is_late"))
    )
    w = Window.partitionBy("l_orderkey")
    per = per.select(
        "l_suppkey",
        "is_late",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum("is_late").over(w).alias("n_late"),
    ).where((F.col("is_late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1))
    s = F.broadcast(_t(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (
        per.join(s, per.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )


@register(
    "q16_supplier_part_variety",
    """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 13, 17, 21)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
)
def q16_supplier_part_variety(spark, sf_dir):
    # TPC-H-Q16 shape: how many distinct suppliers ship each (brand, type,
    # size) family — lineitem stands in for partsupp as the part↔supplier
    # link. The NOT IN exclusion list (negative-balance suppliers, the
    # "complaints" stand-in) is O(10) rows → broadcast anti-join; the part
    # attribute filters broadcast-inner-join, so the only shuffle is the
    # final distinct-count agg.
    p = (
        _t(spark, sf_dir, "part")
        .where(
            (F.col("p_brand") != "Brand#1")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 5, 9, 13, 17, 21)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@register(
    "q2_min_cost_supplier",
    """
WITH eligible AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_price
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE'
  GROUP BY 1, 2),
best AS (
  SELECT l_partkey, MIN(unit_price) AS min_price FROM eligible GROUP BY 1)
SELECT p_partkey, p_brand, s_name, s_acctbal, unit_price AS min_unit_price
FROM eligible
JOIN best ON best.l_partkey = eligible.l_partkey AND unit_price = min_price
JOIN part ON p_partkey = eligible.l_partkey
JOIN supplier ON s_suppkey = l_suppkey
WHERE p_size = 10
ORDER BY s_acctbal DESC, p_partkey, s_name
""",
)
def q2_min_cost_supplier(spark, sf_dir):
    # TPC-H-Q2 shape: for each size-10 part, the EUROPE supplier(s) offering
    # the minimum observed unit price (lineitem unit economics stand in for
    # ps_supplycost). The correlated scalar-min subquery is decorrelated
    # Spark-first with a min-preserving window over ONE (l_partkey,
    # l_suppkey) aggregation — no join-back of an aggregate to itself.
    # lineitem shuffles once (the agg); the window's l_partkey exchange
    # moves only the already-aggregated per-(part,supplier) rows.
    eur = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    eur_supp = F.broadcast(
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(eur, n.n_regionkey == eur.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    eligible = (
        li.join(eur_supp, li.l_suppkey == eur_supp.s_suppkey)
        .groupBy("l_partkey", "l_suppkey", "s_name", "s_acctbal")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"))
    )
    w = Window.partitionBy("l_partkey")
    best = eligible.withColumn("min_price", F.min("unit_price").over(w)).where(
        F.col("unit_price") == F.col("min_price")
    )
    p = F.broadcast(
        _t(spark, sf_dir, "part").where(F.col("p_size") == 10).select("p_partkey", "p_brand")
    )
    return (
        best.join(p, best.l_partkey == p.p_partkey)
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            "s_acctbal",
            F.col("unit_price").alias("min_unit_price"),
        )
        .orderBy(F.col("s_acctbal").desc(), "p_partkey", "s_name")
    )


# ---------------------------------------------------------------------------
# Batch: stream-stream join, Q11-shape revenue concentration, bigram LM.
# ---------------------------------------------------------------------------


@register(
    "streaming_view_purchase_attribution",
    ev_sql("""
SELECT a.user_id, a.event_id AS view_id, b.event_id AS purchase_id,
       a.ts AS view_ts, b.ts AS purchase_ts
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'view' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
ORDER BY 1, 2, 3
"""),
)
def streaming_view_purchase_attribution(spark, sf_dir):
    # Watermarked stream-stream inner join: attribute each purchase to the
    # view(s) by the same user in the preceding 30 minutes. Both sides carry
    # watermarks + the time-range predicate, so join state is bounded — old
    # view rows age out once the purchase watermark passes view_ts + 30 min.
    # This is the Structured Streaming op batch engines fake with triggers;
    # the oracle is the batch self-join dual.
    from ..streaming import jobs as SJ

    ev = SJ.events_stream(spark, sf_dir)
    views = (
        ev.where(F.col("event_type") == "view")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select("user_id", "view_id", "purchase_id", "view_ts", "purchase_ts")
    # state partitions sized to the bounded input (auto_state_partitions:
    # measured 7.7 s -> 2.5 s at sf0.1; the rule never caps cluster-scale
    # parallelism — it only downsizes when the batch can't amortize
    # per-partition state-store commits)
    return SJ.run_stream_to_batch_append(
        joined, spark, n_input_rows=parquet_row_count(sf_dir, "events")
    ).orderBy("user_id", "view_id", "purchase_id")


@register(
    "q11_revenue_concentration",
    f"""
WITH pr AS (
  SELECT l_partkey, {SQL_DSUM(_VOL)} AS part_rev
  FROM lineitem GROUP BY 1),
tot AS (
  SELECT CAST(SUM(CAST(part_rev AS DECIMAL(18,6))) AS DOUBLE) AS total,
         COUNT(*) AS n_parts FROM pr)
SELECT l_partkey, part_rev
FROM pr, tot
WHERE part_rev > 1.5 * (total / n_parts)
ORDER BY part_rev DESC, l_partkey
""",
)
def q11_revenue_concentration(spark, sf_dir):
    # TPC-H-Q11 shape (no partsupp → revenue concentration): parts whose
    # revenue exceeds 1.5x the mean per-part revenue (SF-invariant). A naive scalar-subquery
    # translation (agg → crossJoin back) makes Catalyst compute the rollup
    # TWICE — two lineitem scans and shuffles. Instead the global total is an
    # unpartitioned window over the ALREADY-aggregated per-part rows: the
    # fact table is scanned and shuffled exactly once, and the single-
    # partition window only ever sees dimension-cardinality (n_parts) rows.
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice", "l_discount")
    pr = li.groupBy("l_partkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("part_rev")
    )
    w = Window.partitionBy()
    total = (
        F.sum(F.col("part_rev").cast("decimal(18,6)")).over(w).cast("double")
    )
    n = F.count(F.lit(1)).over(w)
    return (
        pr.withColumn("total", total)
        .withColumn("n_parts", n)
        .where(F.col("part_rev") > 1.5 * (F.col("total") / F.col("n_parts")))
        .select("l_partkey", "part_rev")
        .orderBy(F.col("part_rev").desc(), "l_partkey")
    )


@register(
    "bigram_lm_documents",
    """
WITH toks AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS w
  FROM documents WHERE length(trim(text)) > 0),
bg AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM toks, (SELECT unnest(generate_series(1, len(w) - 1)) AS i)
  WHERE len(w) >= 2),
c AS (SELECT w1, w2, COUNT(*) AS n_pair FROM bg GROUP BY 1, 2)
SELECT w1, w2, n_pair,
       CAST(n_pair AS DOUBLE) / SUM(n_pair) OVER (PARTITION BY w1) AS p_cond
FROM c
ORDER BY n_pair DESC, w1, w2 LIMIT 30
""",
)
def bigram_lm_documents(spark, sf_dir):
    # Bigram language-model counts with conditional probability P(w2|w1) —
    # the n-gram statistics pass of a corpus pipeline. Bigrams explode
    # map-side (no shuffle until the count agg, which combines partially);
    # the conditional denominator is a window over the ALREADY-aggregated
    # (w1, w2) counts, so the explosion never re-shuffles.
    # spread the one-row-group scan before the ~token-count-x bigram
    # explode + partial agg (round-6 profiling: the measured e=0.86 over
    # 30x was scan-side fan-out starvation, not vocab growth)
    d = _spread_scan(
        spark, _t(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    )
    d = d.select(F.split(F.trim(F.lower("text")), r"\s+").alias("w")).where(
        F.size("w") >= 2
    )
    pairs = d.select(F.explode(F.expr(_BG_STRUCT_EXPR)).alias("bg")).select(
        "bg.w1", "bg.w2"
    )
    c = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    wv = Window.partitionBy("w1")
    return (
        c.withColumn(
            "p_cond",
            F.col("n_pair").cast("double") / F.sum("n_pair").over(wv),
        )
        .orderBy(F.col("n_pair").desc(), "w1", "w2")
        .limit(30)
    )


# ---------------------------------------------------------------------------
# Training-data ops batch 4: per-source caps, embedding quantization,
# nearest-centroid classification.
# ---------------------------------------------------------------------------


@register(
    "per_source_cap_documents",
    """
WITH r AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents)
SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= 10 ORDER BY source, rk
""",
)
def per_source_cap_documents(spark, sf_dir):
    # Per-domain document cap (keep <=10 per source): the anti-domination
    # guard a web corpus needs so no single domain floods a split. Rank by
    # content-stable md5 — a deterministic, engine-portable shuffle within
    # each source — so the kept set is reproducible across runs and engines,
    # unlike rand()-based sampling. One shuffle on source; rank state per
    # group is O(1).
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 10)
        .orderBy("source", "rk")
    )


@register(
    "int8_quantize_embeddings",
    """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
s AS (
  SELECT vec_id, v,
         127.0 / list_max(list_transform(v, x -> abs(x))) AS scale
  FROM e WHERE list_max(list_transform(v, x -> abs(x))) > 0)
SELECT vec_id, scale,
       list_max(list_transform(v, x -> abs(x - round(x * scale) / scale)))
         AS max_err,
       CAST(len(list_filter(v, x -> abs(round(x * scale)) >= 127)) AS BIGINT)
         AS n_sat
FROM s ORDER BY vec_id
""",
)
def int8_quantize_embeddings(spark, sf_dir):
    # Per-vector symmetric int8 quantization (the storage/serving compression
    # step for a 100 TB embedding store): scale = 127/max|v|, reporting the
    # max reconstruction error and saturated-dim count. Pure array HOFs —
    # no explode, no shuffle, whole plan stays map-side; every arithmetic op
    # is the same IEEE double sequence in both engines so no rounding fudge
    # is needed.
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v")
    )
    amax = F.array_max(F.expr("transform(v, x -> abs(x))"))
    e = e.withColumn("scale", F.lit(127.0) / amax).where(amax > 0)
    return e.select(
        "vec_id",
        "scale",
        F.array_max(
            F.expr("transform(v, x -> abs(x - round(x * scale) / scale))")
        ).alias("max_err"),
        F.size(F.expr("filter(v, x -> abs(round(x * scale)) >= 127)"))
        .cast("long")
        .alias("n_sat"),
    ).orderBy("vec_id")


@register(
    "nearest_centroid_confusion",
    """
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
c AS (
  SELECT label AS c_label, g.i AS pos,
         CAST(SUM(CAST(v[g.i] AS DECIMAL(20,9))) AS DOUBLE) / COUNT(*) AS centroid
  FROM e, (SELECT unnest(generate_series(1, 64)) AS i) g
  GROUP BY 1, 2),
d AS (
  SELECT vec_id, label, c_label,
         CAST(SUM(CAST((v[pos] - centroid) * (v[pos] - centroid)
                       AS DECIMAL(30,15))) AS DOUBLE) AS dist2
  FROM e, c
  GROUP BY 1, 2, 3),
b AS (
  SELECT label, c_label,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, c_label) AS rn
  FROM d)
SELECT label AS true_label, c_label AS assigned_label, COUNT(*) AS n
FROM b WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def nearest_centroid_confusion(spark, sf_dir):
    # Nearest-class-mean classification confusion matrix: the cheap sanity
    # check that label structure survives in embedding space (and the assign
    # step of IVF/k-means). Centroids are computed once (exact decimal means,
    # same formula as label_centroids) and COLLECTED — n_labels × 64 values,
    # bounded by the label space — then embedded as per-label array literals,
    # so the assignment pass is pure map-side array algebra: per row, one
    # decimal-exact fold per candidate label and an array_min over
    # (dist2, label) structs. Identical arithmetic to the former
    # posexplode → broadcast-join → groupBy → window shape (each squared
    # difference double-multiplied then cast decimal(30,15), summed exactly,
    # ties by label), with the 64× row explosion, the ×n_labels join blowup,
    # the big hash aggregation and the per-vector window all removed — the
    # only shuffle left is the tiny confusion-count aggregation. The
    # centroid sub-aggregation runs eagerly at construction (the same
    # constructs-with-actions pattern as the IVF family); both passes scan
    # the vector table exactly as before (the old single plan also computed
    # the exploded frame twice — once under the broadcast subtree).
    e = _spread_scan(spark, _t(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    ex = e.select("vec_id", "label", F.posexplode("v").alias("pos0", "val"))
    cent_rows = (
        ex.groupBy(
            F.col("label").alias("c_label"),
            (F.col("pos0") + 1).alias("pos"),
        )
        .agg(
            (
                F.sum(F.col("val").cast("decimal(20,9)")).cast("double")
                / F.count(F.lit(1))
            ).alias("centroid")
        )
        .collect()
    )
    if not cent_rows:
        return spark.createDataFrame(
            [], "true_label int, assigned_label int, n bigint"
        )
    by_label: dict = {}
    for r in cent_rows:
        by_label.setdefault(r.c_label, {})[r.pos] = r.centroid
    labels = sorted(by_label)
    # one SUM(CAST(.. AS DECIMAL(30,15))) per candidate label in a SINGLE
    # groupBy(vec_id) pass — the per-element double subtract/multiply, the
    # decimal(30,15) cast and the exact decimal SUM are the former plan's
    # arithmetic bit for bit (a fold could not be: Spark's binary decimal
    # `+` promotion caps at precision 38 and drops the 15th fractional
    # digit, where SUM's internal buffer keeps it), so dist2, the argmin
    # (struct min over (double dist2, label)) and the confusion counts are
    # unchanged
    aggs = []
    for i, lbl in enumerate(labels):
        # F.lit(list) — a FOLDABLE array literal; F.array(*lits) would
        # rebuild the 64-element array per evaluated row
        cent_arr = F.lit(
            [float(by_label[lbl][p]) for p in range(1, len(by_label[lbl]) + 1)]
        )
        cterm = F.element_at(cent_arr, (F.col("pos0") + 1).cast("int"))
        diff = F.col("val") - cterm
        aggs.append(
            F.sum((diff * diff).cast("decimal(30,15)"))
            .cast("double")
            .alias(f"_d{i}")
        )
    per_vec = ex.groupBy("vec_id", "label").agg(*aggs)
    # the former plan compared dist2 AFTER its cast to double (ties then
    # broken by label) — compare the double here too
    cands = [
        F.struct(F.col(f"_d{i}").alias("d"), F.lit(int(lbl)).alias("l"))
        for i, lbl in enumerate(labels)
    ]
    assigned = F.array_min(F.array(*cands)).getField("l")
    return (
        per_vec.select(
            F.col("label").alias("true_label"),
            assigned.alias("assigned_label"),
        )
        .groupBy("true_label", "assigned_label")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("true_label", "assigned_label")
    )


@register(
    "streaming_dedup_keys",
    ev_sql("""
SELECT DISTINCT user_id, event_type FROM events ORDER BY 1, 2
"""),
)
def streaming_dedup_keys(spark, sf_dir):
    # Streaming exactly-once dedup: dropDuplicatesWithinWatermark keeps one
    # row per (user_id, event_type) and expires its key state once the
    # watermark passes — the bounded-state form of streaming dedup (plain
    # dropDuplicates would grow state forever on an unbounded stream). WHICH
    # row survives depends on arrival order, so the query emits only the key
    # columns — a deterministic set with a trivial batch-DISTINCT oracle.
    from ..streaming import jobs as SJ

    ev = SJ.events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    dedup = ev.dropDuplicatesWithinWatermark(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return SJ.run_stream_to_batch_append(
        dedup, spark, n_input_rows=parquet_row_count(sf_dir, "events")
    ).orderBy("user_id", "event_type")


@register(
    "ewma_events",
    ev_sql("""
WITH v AS (
  SELECT event_id, user_id, ts, value,
         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vals
  FROM events),
e AS (
  SELECT event_id, user_id, ts,
         (SELECT SUM(vals[i] * POWER(0.9, len(vals) - i))
          FROM unnest(generate_series(1, len(vals))) AS g(i)) AS num,
         (SELECT SUM(POWER(0.9, len(vals) - i))
          FROM unnest(generate_series(1, len(vals))) AS g(i)) AS den
  FROM v)
SELECT event_id, user_id, ts, ROUND(num / den, 6) + 0.0 AS ewma_value
FROM e ORDER BY user_id, ts, event_id
"""),
)
def ewma_events(spark, sf_dir):
    # Exponentially-weighted rolling mean, finite 20-tap kernel (decay 0.9):
    # the trend smoother a forecasting feature set wants, with a bounded
    # frame so state and compute are O(taps) per row. Implemented as
    # collect_list over the rolling frame + an indexed-transform fold — all
    # JVM array HOFs inside the SAME single per-user exchange every other
    # per-user window shares; no UDF, no second shuffle. Rounded 6dp both
    # engines (small-frame float-accumulation rule from the module header).
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    vals = F.collect_list("value").over(w)
    d = ev.withColumn("vals", vals)
    num = F.expr(
        "aggregate(zip_with(vals, sequence(1, size(vals)), (x, i) -> "
        "x * power(0.9, size(vals) - i)), 0D, (acc, x) -> acc + x)"
    )
    den = F.expr(
        "aggregate(transform(sequence(1, size(vals)), i -> "
        "power(0.9, size(vals) - i)), 0D, (acc, x) -> acc + x)"
    )
    return (
        d.select(
            "event_id",
            "user_id",
            "ts",
            (F.round(num / den, 6) + F.lit(0.0)).alias("ewma_value"),
        )
        .orderBy("user_id", "ts", "event_id")
    )


@register(
    "melt_lineitem_measures",
    """
SELECT l_orderkey, l_linenumber, measure, val
FROM (
  SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS val
  FROM lineitem WHERE l_orderkey < 100
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
  FROM lineitem WHERE l_orderkey < 100
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'discount', l_discount
  FROM lineitem WHERE l_orderkey < 100
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'tax', l_tax
  FROM lineitem WHERE l_orderkey < 100
)
ORDER BY l_orderkey, l_linenumber, measure
""",
)
def melt_lineitem_measures(spark, sf_dir):
    # Wide→long unpivot (pandas melt / SQL UNPIVOT) via Spark's native
    # df.unpivot: one scan emits all four measure rows per input row —
    # map-side row generation, vs the UNION-ALL dual's four scans. The
    # pushed l_orderkey filter prunes before the 4x row multiplication.
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 100)
    return (
        li.unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
            "measure",
            "val",
        )
        .withColumn("measure", F.expr("substring(measure, 3)"))
        .orderBy("l_orderkey", "l_linenumber", "measure")
    )


@register(
    "daily_order_vs_ship_reconciliation",
    """
WITH o AS (SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders
           FROM orders GROUP BY 1),
s AS (SELECT CAST(l_shipdate AS DATE) AS d, COUNT(*) AS n_ship_lines
      FROM lineitem GROUP BY 1)
SELECT CAST(COALESCE(o.d, s.d) AS TIMESTAMP) AS day,
       COALESCE(n_orders, 0) AS n_orders,
       COALESCE(n_ship_lines, 0) AS n_ship_lines
FROM o FULL OUTER JOIN s ON o.d = s.d
ORDER BY day
""",
)
def daily_order_vs_ship_reconciliation(spark, sf_dir):
    # FULL OUTER reconciliation of two independently-aggregated calendars —
    # ship dates trail past the last order date, so both null sides occur.
    # Each side partial-aggregates to ~date-cardinality rows BEFORE the
    # full-outer shuffle, so the join moves day-counts, never fact rows.
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    s = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_shipdate").cast("date").alias("sd"))
        .agg(F.count(F.lit(1)).alias("n_ship_lines"))
    )
    return (
        o.join(s, o.d == s.sd, "full_outer")
        .select(
            F.coalesce("d", "sd").cast("timestamp").alias("day"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_ship_lines", F.lit(0)).alias("n_ship_lines"),
        )
        .orderBy("day")
    )


@register(
    "first_last_nth_events",
    ev_sql("""
WITH w AS (
  SELECT user_id,
         first_value(value) OVER win AS first_value_seen,
         last_value(value) OVER win AS last_value_seen,
         nth_value(value, 3) OVER win AS third_value_seen,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
SELECT user_id, first_value_seen, last_value_seen, third_value_seen
FROM w WHERE rn = 1 ORDER BY user_id
"""),
)
def first_last_nth_events(spark, sf_dir):
    # first/last/nth positional window family over each user's full history
    # (unique ts+event_id ordering makes them well-defined). All four
    # functions — including the row_number used to emit one row per user —
    # share a single user_id exchange; the full-history frame is evaluated
    # once per partition, not per row (Spark materializes the frame buffer
    # per partition for unbounded frames).
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    rn_win = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            F.first("value").over(win).alias("first_value_seen"),
            F.last("value").over(win).alias("last_value_seen"),
            F.nth_value("value", 3).over(win).alias("third_value_seen"),
            F.row_number().over(rn_win).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
        .orderBy("user_id")
    )


@register(
    "oov_rate_documents",
    f"""
WITH words AS (
  SELECT doc_id, unnest({_W_SQL}) AS word FROM documents
  WHERE length(trim(text)) > 0),
vocab AS (
  SELECT word FROM words GROUP BY word
  ORDER BY COUNT(*) DESC, word LIMIT 50),
j AS (
  SELECT w.doc_id, CASE WHEN v.word IS NULL THEN 1 ELSE 0 END AS oov
  FROM words w LEFT JOIN vocab v ON w.word = v.word)
SELECT doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(oov) AS BIGINT) AS n_oov,
       CAST(SUM(oov) AS DOUBLE) / COUNT(*) AS oov_rate
FROM j GROUP BY doc_id ORDER BY doc_id
""",
)
def oov_rate_documents(spark, sf_dir):
    # Out-of-vocabulary rate per document against the corpus top-50 vocab —
    # the tokenizer-coverage check run before committing to a vocab size.
    # The fitted vocab is tiny → broadcast LEFT join against the exploded
    # token stream (tokens never shuffle for the lookup); per-doc re-agg
    # partial-combines map-side because tokens stay partitioned by document.
    d = _t(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    words = d.select(
        "doc_id", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("word")
    )
    vocab = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(50)
        .select("word")
    )
    j = words.join(F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "word", "left")
    oov = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(oov).cast("long").alias("n_oov"),
            (F.sum(oov).cast("double") / F.count(F.lit(1))).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


@register(
    "unigram_logprob_documents",
    f"""
WITH words AS (
  SELECT doc_id, unnest({_W_SQL}) AS word FROM documents
  WHERE length(trim(text)) > 0),
freq AS (
  SELECT word, COUNT(*) AS n_word FROM words GROUP BY word),
tot AS (SELECT SUM(n_word) AS n_total FROM freq),
lp AS (
  SELECT w.doc_id,
         CAST(ROUND(LN(CAST(n_word AS DOUBLE) / n_total), 6) AS DECIMAL(18,6)) AS logp
  FROM words w JOIN freq USING (word) CROSS JOIN tot)
SELECT doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(logp) AS DOUBLE) / COUNT(*) AS avg_logprob
FROM lp GROUP BY doc_id ORDER BY doc_id
""",
)
def unigram_logprob_documents(spark, sf_dir):
    # Per-document mean unigram log-probability — the cheap LM-score proxy
    # used to quality-filter a pretraining corpus (fluent text scores higher
    # than gibberish under the corpus unigram model). Corpus word frequencies
    # broadcast to the token stream; per-word logs are rounded to 6dp and
    # accumulated as exact decimals so the per-doc mean is order-independent
    # and engine-portable (libm vs JVM log differ in the last ulp).
    d = _t(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    words = d.select(
        "doc_id", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("word")
    )
    freq = words.groupBy("word").agg(F.count(F.lit(1)).alias("n_word"))
    w = Window.partitionBy()
    freq = freq.withColumn("n_total", F.sum("n_word").over(w))
    logp = F.round(
        F.log(F.col("n_word").cast("double") / F.col("n_total")), 6
    ).cast("decimal(18,6)")
    j = words.join(F.broadcast(freq), "word").withColumn("logp", logp)
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.sum("logp").cast("double") / F.count(F.lit(1))).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Analytics + corpus batch: robust outliers, Pareto concentration,
# conversion funnel, dedup keep-list.
# ---------------------------------------------------------------------------


@register(
    "mad_outliers_events",
    ev_sql("""
WITH med AS (
  SELECT user_id, median(value) AS med FROM events GROUP BY 1),
mad AS (
  SELECT e.user_id, median(abs(value - med)) AS mad, ANY_VALUE(med) AS med
  FROM events e JOIN med USING (user_id) GROUP BY e.user_id),
j AS (
  SELECT e.user_id, med, mad,
         CASE WHEN abs(value - med) > 3 * 1.4826 * mad THEN 1 ELSE 0 END AS is_out
  FROM events e JOIN mad USING (user_id))
SELECT user_id, ROUND(ANY_VALUE(med), 6) AS median_value,
       ROUND(ANY_VALUE(mad), 6) AS mad_value,
       CAST(SUM(is_out) AS BIGINT) AS n_outliers
FROM j GROUP BY user_id ORDER BY user_id
"""),
)
def mad_outliers_events(spark, sf_dir):
    # Robust per-user outlier census: median / MAD (the scaled-MAD 3σ rule),
    # immune to the very outliers it detects — the screen μ/σ-based checks
    # miss. Two grouped medians on the SAME user_id partitioning (Catalyst
    # reuses the exchange) and the per-user medians join back fact-side.
    # Medians rounded 6dp: interpolation halves are the one float op whose
    # last-ulp can differ across engines.
    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    med = ev.groupBy("user_id").agg(F.median("value").alias("med"))
    mad = (
        ev.join(med, "user_id")
        .groupBy("user_id")
        .agg(
            F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"),
            F.first("med").alias("med_"),
        )
    )
    j = ev.join(mad.select("user_id", "mad", F.col("med_").alias("med")), "user_id")
    is_out = F.when(
        F.abs(F.col("value") - F.col("med")) > 3 * 1.4826 * F.col("mad"), 1
    ).otherwise(0)
    return (
        j.groupBy("user_id")
        .agg(
            F.round(F.first("med"), 6).alias("median_value"),
            F.round(F.first("mad"), 6).alias("mad_value"),
            F.sum(is_out).cast("long").alias("n_outliers"),
        )
        .orderBy("user_id")
    )


@register(
    "pareto_customers",
    f"""
WITH r AS (
  SELECT o_custkey, {SQL_DSUM('o_totalprice')} AS revenue
  FROM orders GROUP BY 1),
w AS (
  SELECT o_custkey, revenue,
         ROW_NUMBER() OVER (ORDER BY revenue DESC, o_custkey) AS rnk,
         CAST(SUM(CAST(revenue AS DECIMAL(18,6)))
              OVER (ORDER BY revenue DESC, o_custkey
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_revenue,
         CAST(SUM(CAST(revenue AS DECIMAL(18,6))) OVER () AS DOUBLE) AS total
  FROM r)
SELECT CAST(rnk AS BIGINT) AS rnk, o_custkey, revenue,
       cum_revenue / total AS cum_share
FROM w WHERE rnk <= 100 ORDER BY rnk
""",
)
def pareto_customers(spark, sf_dir):
    # Pareto / Lorenz concentration: top-100 customers with their cumulative
    # revenue share. The ranking, running sum, and grand total are all
    # windows over the ALREADY-aggregated per-customer rollup (customer-
    # cardinality rows), accumulated as exact decimals so the running sum is
    # prefix-deterministic; orders itself shuffles once for the rollup.
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    r = o.groupBy("o_custkey").agg(dsum(F.col("o_totalprice")).alias("revenue"))
    order = [F.col("revenue").desc(), F.col("o_custkey")]
    w_rank = Window.orderBy(*order)
    w_cum = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    return (
        r.select(
            F.row_number().over(w_rank).cast("long").alias("rnk"),
            "o_custkey",
            "revenue",
            (
                F.sum(F.col("revenue").cast("decimal(18,6)")).over(w_cum).cast("double")
                / F.sum(F.col("revenue").cast("decimal(18,6)")).over(w_all).cast("double")
            ).alias("cum_share"),
        )
        .where(F.col("rnk") <= 100)
        .orderBy("rnk")
    )


@register(
    "funnel_stages_events",
    ev_sql("""
WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
           WHERE event_type = 'view' GROUP BY 1),
c AS (SELECT e.user_id, MIN(ts) AS t_click
      FROM events e JOIN v USING (user_id)
      WHERE event_type = 'click' AND ts >= t_view GROUP BY 1),
p AS (SELECT e.user_id, MIN(ts) AS t_purchase
      FROM events e JOIN c USING (user_id)
      WHERE event_type = 'purchase' AND ts >= t_click GROUP BY 1)
SELECT 'view' AS stage, COUNT(*) AS n_users FROM v
UNION ALL SELECT 'view>click', COUNT(*) FROM c
UNION ALL SELECT 'view>click>purchase', COUNT(*) FROM p
ORDER BY n_users DESC, stage
"""),
)
def funnel_stages_events(spark, sf_dir):
    # Ordered conversion funnel (view → click → purchase): each stage
    # requires the NEXT event type at-or-after the previous stage's first
    # time — strictly stronger than set-membership funnels. Spark-first
    # single-pass form: the three stage times are conditional window mins
    # chained over ONE user_id partitioning (a join-based translation scans
    # events once per union branch — 6 scans, since Catalyst shares no
    # subtrees). Events scan once, shuffle once; the final 1-row stage
    # vector unpivots to rows.
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    tv = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    d = ev.withColumn("tv", tv)
    tc = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") >= F.col("tv")),
            F.col("ts"),
        )
    ).over(w)
    d = d.withColumn("tc", tc)
    tp = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("tc")),
            F.col("ts"),
        )
    ).over(w)
    d = d.withColumn("tp", tp)
    per_user = d.groupBy("user_id").agg(
        F.first("tv").alias("tv"), F.first("tc").alias("tc"), F.first("tp").alias("tp")
    )
    counts = per_user.agg(
        F.count("tv").alias("view"),
        F.count("tc").alias("view>click"),
        F.count("tp").alias("view>click>purchase"),
    )
    return (
        counts.unpivot([], ["view", "view>click", "view>click>purchase"], "stage", "n_users")
        .orderBy(F.col("n_users").desc(), "stage")
    )


@register(
    "dedup_keep_list_documents",
    f"""
WITH RECURSIVE base AS (SELECT doc_id AS id, lang AS blk, {_SHINGLES_SQL} AS toks
              FROM documents),
sized AS (SELECT id, blk, toks, len(toks) AS n_toks FROM base WHERE len(toks) > 0),
ex AS (SELECT id, blk, n_toks, unnest(toks) AS tok FROM sized),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, a.n_toks AS na, b.n_toks AS nb,
         COUNT(*) AS n_common
  FROM ex a JOIN ex b ON a.blk = b.blk AND a.tok = b.tok AND a.id < b.id
  GROUP BY 1, 2, 3, 4),
edges AS (
  SELECT id_a, id_b FROM common
  WHERE CAST(n_common AS DOUBLE) / CAST(na + nb - n_common AS DOUBLE) >= 0.05),
und AS (SELECT id_a AS s, id_b AS d FROM edges
        UNION ALL SELECT id_b, id_a FROM edges),
reach(node, label) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM und)
  UNION
  SELECT e.d, r.label FROM reach r JOIN und e ON r.node = e.s),
cc AS (SELECT node AS doc_id, MIN(label) AS component FROM reach GROUP BY node),
rep AS (SELECT component, MIN(doc_id) AS rep_id FROM cc GROUP BY 1)
SELECT d.doc_id, (cc.doc_id IS NOT NULL) AS from_dup_cluster
FROM documents d
LEFT JOIN cc ON d.doc_id = cc.doc_id
LEFT JOIN rep ON cc.component = rep.component
WHERE cc.doc_id IS NULL OR d.doc_id = rep.rep_id
ORDER BY d.doc_id
""",
)
def dedup_keep_list_documents(spark, sf_dir):
    # End-to-end near-dup dedup decision: connected components over the
    # shingle-Jaccard graph → keep the min-id representative per cluster +
    # every untouched singleton. This is the list a corpus build actually
    # consumes. Reuses the BSP min-label-propagation components (bounded
    # supersteps, no driver-side loops over collect()); the representative
    # pick and the anti-membership test are two dimension-sized joins against
    # the full doc list.
    comp = REGISTRY["neardup_components_documents"].spark(spark, sf_dir).select(
        "doc_id", "component"
    )
    rep = comp.groupBy("component").agg(F.min("doc_id").alias("rep_id"))
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(comp, "doc_id", "left")
        .join(rep, "component", "left")
        .where(F.col("component").isNull() | (F.col("doc_id") == F.col("rep_id")))
        .select("doc_id", F.col("component").isNotNull().alias("from_dup_cluster"))
        .orderBy("doc_id")
    )


@register(
    "q20_concentrated_suppliers",
    """
WITH pq AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                             AND l_shipdate < TIMESTAMP '1998-01-01'
                            THEN l_quantity ELSE 0 END AS DECIMAL(18,6)))
              AS DOUBLE) AS qty_1997,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty_total
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_type = 'ECONOMY'
  GROUP BY 1)
SELECT s_name, s_acctbal, qty_1997, qty_total
FROM supplier JOIN pq ON s_suppkey = l_suppkey
WHERE qty_1997 > 0.2 * qty_total
ORDER BY s_name
""",
)
def q20_concentrated_suppliers(spark, sf_dir):
    # TPC-H-Q20 shape (no partsupp → shipment concentration): suppliers
    # whose 1997 ECONOMY-part shipments exceed 20% of their all-time ECONOMY
    # volume. The year-window and lifetime sums come from ONE conditional
    # aggregate pass (the classic translation runs two correlated subqueries
    # = two lineitem scans); the part filter broadcast-semi-prunes before
    # the supplier rollup, and the supplier dim joins the tiny rollup by
    # broadcast.
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_shipdate"
    )
    in_1997 = (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")) & (
        F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")
    )
    pq = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(
            dsum(F.when(in_1997, F.col("l_quantity")).otherwise(F.lit(0.0))).alias(
                "qty_1997"
            ),
            dsum(F.col("l_quantity")).alias("qty_total"),
        )
        .where(F.col("qty_1997") > 0.2 * F.col("qty_total"))
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    return (
        s.join(F.broadcast(pq), s.s_suppkey == pq.l_suppkey)
        .select("s_name", "s_acctbal", "qty_1997", "qty_total")
        .orderBy("s_name")
    )


@register(
    "q12_priority_by_returnflag",
    """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q12_priority_by_returnflag(spark, sf_dir):
    # TPC-H-Q12 shape on this schema (l_returnflag stands in for the absent
    # l_shipmode): fact-fact equi-join + dual conditional counts. The year
    # filter prunes lineitem BEFORE the join (pushed to the parquet scan),
    # so the shuffle moves ~1/5 of the fact; both sides are large, so this
    # is Catalyst's sort-merge join on l_orderkey — at 100 TB you'd bucket
    # both tables by orderkey to make it shuffle-free (see sinks.bucketed
    # write path); the agg itself reduces to 3 groups map-side.
    li = (
        _t(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_returnflag")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "pack_sequences_documents",
    f"""
WITH t AS (SELECT doc_id, {_ID_HASH} % 8 AS shard,
                  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                    AS n_tok
           FROM documents),
c AS (SELECT shard, doc_id, n_tok,
             CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM t),
b AS (SELECT shard, n_tok,
             CAST(FLOOR((cum - n_tok) / 2048.0) AS BIGINT) AS bin
      FROM c)
SELECT shard, bin,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
FROM b GROUP BY shard, bin
ORDER BY shard, bin
""",
)
def pack_sequences_documents(spark, sf_dir):
    # Sequence packing for LLM pretraining: concatenate documents in a
    # deterministic order and split at a 2048-token budget (concat-then-
    # chunk packing — zero padding waste, documents may straddle bins).
    # Sharding by a content-stable md5 bucket makes it distributed: each
    # shard packs independently (window cumsum per shard = one shuffle by
    # shard key, growing frame so O(n) per partition), and adding shards
    # scales to any corpus size — no global sequential pass, which is the
    # trap a naive single-ordered packer hits at 100 TB.
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    shard = (X.portable_token_hash(F.col("doc_id").cast("string")) % 8).alias("shard")
    n_tok = F.size(X.tokens(F.col("text"))).cast("long").alias("n_tok")
    t = d.select(shard, "doc_id", n_tok)
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = t.withColumn("cum", F.sum("n_tok").over(w))
    b = c.select(
        "shard",
        "n_tok",
        F.floor((F.col("cum") - F.col("n_tok")) / F.lit(2048.0)).alias("bin"),
    )
    return (
        b.groupBy("shard", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("bin_tokens"),
        )
        .orderBy("shard", "bin")
    )


@register(
    "ohlc_hourly_events",
    ev_sql("""
WITH e AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, ts, event_id, value
  FROM events),
w AS (
  SELECT event_type, hour, value,
         row_number() OVER (PARTITION BY event_type, hour
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, hour
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM e)
SELECT event_type, hour,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open_value,
       MAX(value) AS high_value,
       MIN(value) AS low_value,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close_value,
       COUNT(*) AS volume
FROM w GROUP BY event_type, hour
ORDER BY event_type, hour
"""),
)
def ohlc_hourly_events(spark, sf_dir):
    # OHLC downsampling (the time-series rollup the reference's dashboard
    # charts imply): first/last/min/max of `value` per (event_type, hour).
    # First/last are made deterministic with (ts, event_id) row_numbers; the
    # ascending and descending specs share one hash partitioning, so the
    # whole query is a single exchange + sort + agg — at 100 TB the hour
    # column also serves as the partition-pruning key for incremental runs.
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour"),
        "ts", "event_id", "value",
    )
    part = Window.partitionBy("event_type", "hour")
    asc = part.orderBy(F.col("ts").asc(), F.col("event_id").asc())
    desc = part.orderBy(F.col("ts").desc(), F.col("event_id").desc())
    w = ev.select(
        "event_type", "hour", "value",
        F.row_number().over(asc).alias("rn_a"),
        F.row_number().over(desc).alias("rn_d"),
    )
    return (
        w.groupBy("event_type", "hour")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open_value"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close_value"),
            F.count(F.lit(1)).alias("volume"),
        )
        .orderBy("event_type", "hour")
    )


@register(
    "event_type_cooccurrence",
    ev_sql("""
WITH d AS (SELECT DISTINCT user_id, event_type FROM events)
SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_users
FROM d a JOIN d b ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY 1, 2
ORDER BY 1, 2
"""),
)
def event_type_cooccurrence(spark, sf_dir):
    # Market-basket co-occurrence: for every unordered pair of event types,
    # how many users did both. The oracle's self-join shape would shuffle
    # the distinct set twice and materialize the join; here the pair
    # expansion is map-side array algebra after ONE shuffle by user
    # (collect_set, then ordered pairs via transform+slice), so the only
    # other exchange is the tiny per-pair count — with T event types the
    # output is <= T(T-1)/2 rows regardless of input scale.
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    sets = (
        ev.distinct()
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_set("event_type")).alias("types"))
    )
    pairs = F.flatten(
        F.transform(
            F.col("types"),
            lambda x, i: F.transform(
                F.slice(F.col("types"), i + 2, F.size(F.col("types"))),
                lambda y: F.struct(x.alias("type_a"), y.alias("type_b")),
            ),
        )
    )
    return (
        sets.select(F.explode(pairs).alias("p"))
        .select("p.type_a", "p.type_b")
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("type_a", "type_b")
    )


@register("hll_mergeable_distinct_events", None)  # rows-only: sketch estimate
def hll_mergeable_distinct_events(spark, sf_dir):
    # Mergeable distinct-count sketches (Apache DataSketches HLL): build one
    # sketch per (event_type, day), then UNION the day sketches into the
    # per-type estimate. Unlike approx_count_distinct (whose HLL state is
    # query-internal), these sketches are first-class binary values — at
    # 100 TB you persist the small daily sketches and answer any-date-range
    # distinct queries by merging them, never rescanning the fact table.
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.to_date("ts").alias("day")
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id").alias("sketch")
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_users")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        merged.join(exact, "event_type")
        .select(
            "event_type",
            "approx_users",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                / F.col("exact_users")
            ).alias("rel_err"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Time-series analytics batch: anomaly detection, changepoint, trend,
# normalization — the monitoring/feature operators a metrics pipeline runs
# per entity. Beyond-reference (the reference's closest surface is the
# rolling-stat family, data_processor.py:101-116); each is a single-exchange
# window plan (one hash partition on user_id / event_type serves every
# window), so the shape survives a 1000-executor scale-up. Oracled with the
# module-header decimal-exactness rules.
# ---------------------------------------------------------------------------
@register(
    "zscore_anomaly_events",
    ev_sql(f"""
WITH stats AS (
  SELECT event_id, user_id, ts, value,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
           / COUNT(value) OVER w AS m,
         CASE WHEN COUNT(value) OVER w >= 12 THEN
           sqrt(GREATEST(
             (CAST(SUM(CAST(value * value AS DECIMAL(18,6))) OVER w AS DOUBLE)
              - CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
                * CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
                / CAST(COUNT(value) OVER w AS DOUBLE))
             / (CAST(COUNT(value) OVER w AS DOUBLE) - 1.0), 0.0))
         END AS s
  FROM events
  WINDOW w AS ({_EVW} ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
SELECT event_id, user_id, ts, value, ROUND((value - m) / s, 6) AS zscore
FROM stats
WHERE s > 1e-9 AND abs(value - m) / s > 3.0
"""),
)
def zscore_anomaly_events(spark, sf_dir):
    # Rolling z-score anomaly flag: |value - trailing-24 mean| > 3 trailing
    # stds (warm-up guard: >= 12 observations). Same decimal closed forms as
    # rolling_std_events, so Spark and DuckDB see bit-identical m and s; the
    # irrational zscore is rounded at 6 dp. One window exchange; the filter
    # makes the output sparse (anomalies only) — at 100 TB this is the shape
    # you sink to an alerting topic, not a full-table rewrite.
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    frame = _event_window().rowsBetween(-23, 0)
    dec = F.col("value").cast("decimal(18,6)")
    # one Window node: the three primitives computed exactly once, the
    # scalar algebra derived from the materialized columns afterwards
    prims = ev.withColumns({
        "_n": F.count("value").over(frame),
        "_s1": F.sum(dec).over(frame).cast("double"),
        "_s2": F.sum((F.col("value") * F.col("value")).cast("decimal(18,6)"))
        .over(frame)
        .cast("double"),
    })
    n = F.col("_n").cast("double")
    m = F.col("_s1") / F.col("_n")
    var = (F.col("_s2") - F.col("_s1") * F.col("_s1") / n) / (n - F.lit(1.0))
    s = F.when(F.col("_n") >= 12, F.sqrt(F.greatest(var, F.lit(0.0))))
    return (
        prims.withColumn("m", m)
        .withColumn("s", s)
        .where((F.col("s") > 1e-9) & (F.abs(F.col("value") - F.col("m")) / F.col("s") > 3.0))
        .select("event_id", "user_id", "ts", "value",
                F.round((F.col("value") - F.col("m")) / F.col("s"), 6).alias("zscore"))
    )


@register(
    "seasonal_baseline_events",
    ev_sql("""
WITH b AS (
  SELECT event_id, event_type, CAST(hour(ts) AS INT) AS hour_of_day, value,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER h AS DOUBLE)
           / COUNT(value) OVER h AS hour_mean
  FROM events
  WINDOW h AS (PARTITION BY event_type, CAST(hour(ts) AS INT)))
SELECT event_id, event_type, hour_of_day, value,
       hour_mean, value - hour_mean AS deviation
FROM b
"""),
)
def seasonal_baseline_events(spark, sf_dir):
    # Seasonal (hour-of-day) baseline deviation: each event vs the mean of
    # its (event_type, hour-of-day) cell — the "is this value unusual FOR
    # 3am" anomaly primitive. Whole-partition window, no ORDER BY → no sort;
    # the mean is a decimal-exact double so the deviation is bit-identical.
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "event_type", F.hour("ts").cast("int").alias("hour_of_day"), "value"
    )
    h = Window.partitionBy("event_type", "hour_of_day")
    hour_mean = (
        F.sum(F.col("value").cast("decimal(18,6)")).over(h).cast("double")
        / F.count("value").over(h)
    )
    return base.withColumn("hour_mean", hour_mean).withColumn(
        "deviation", F.col("value") - F.col("hour_mean")
    )


@register(
    "cusum_changepoint_events",
    ev_sql(f"""
WITH c AS (
  SELECT user_id, ts, event_id,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER run AS DOUBLE)
           - (ROW_NUMBER() OVER run)
             * (CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER u AS DOUBLE)
                / COUNT(value) OVER u) AS cusum
  FROM events
  WINDOW run AS ({_EVW} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         u AS (PARTITION BY user_id)),
r AS (
  SELECT user_id, ts, event_id, cusum,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY abs(cusum) DESC, ts, event_id) AS rn
  FROM c)
SELECT user_id, ts AS cp_ts, event_id AS cp_event_id, cusum AS cp_cusum
FROM r WHERE rn = 1 ORDER BY user_id
"""),
)
def cusum_changepoint_events(spark, sf_dir):
    # CUSUM changepoint candidate per entity: the row where the cumulative
    # deviation from the series mean peaks (classic mean-shift detector).
    # Running decimal sum minus i*mean keeps every intermediate bit-identical
    # across engines; both the running and the whole-partition window reuse
    # ONE user_id exchange, and the argmax is a row_number over the same
    # partitioning — three windows, one shuffle.
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    run = _event_window().rowsBetween(Window.unboundedPreceding, 0)
    u = Window.partitionBy("user_id")
    dec = F.col("value").cast("decimal(18,6)")
    mean = F.sum(dec).over(u).cast("double") / F.count("value").over(u)
    cusum = (
        F.sum(dec).over(run).cast("double")
        - F.row_number().over(_event_window()).cast("double") * mean
    )
    c = ev.withColumn("cusum", cusum)
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.abs(F.col("cusum")).desc(), "ts", "event_id")
    )
    return (
        c.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("cp_ts"),
            F.col("event_id").alias("cp_event_id"),
            F.col("cusum").alias("cp_cusum"),
        )
        .orderBy("user_id")
    )


@register(
    "trend_slope_events",
    ev_sql("""
WITH t AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS sec, value,
         MIN(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id) AS sec0
  FROM events),
s AS (
  SELECT user_id,
         COUNT(*) AS n_obs,
         CAST(SUM(CAST(CAST(sec - sec0 AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(CAST(sec - sec0 AS DOUBLE) * value AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(CAST(sec - sec0 AS DOUBLE) * CAST(sec - sec0 AS DOUBLE)
                       AS DECIMAL(38,6))) AS DOUBLE) AS sxx
  FROM t GROUP BY user_id)
SELECT user_id, n_obs,
       CASE WHEN n_obs >= 2 AND (n_obs * sxx - sx * sx) > 0 THEN
         ROUND((n_obs * sxy - sx * sy) / (n_obs * sxx - sx * sx) * 86400.0, 6)
       END AS slope_per_day
FROM s ORDER BY user_id
"""),
)
def trend_slope_events(spark, sf_dir):
    # Per-entity OLS trend (value vs event time): closed-form slope from
    # decimal-exact moment sums — the distributed twin of the reference's
    # driver-side sklearn LinearRegression fit (weather_predictor.py:198),
    # and DuckDB's regr_slope, but order-independent: x is centered on the
    # per-user min BEFORE squaring so the double moments stay inside 53 bits,
    # then each product is quantized to DECIMAL(38,6) so partial aggregation
    # order (1 core or 1000 executors) cannot change the result. Slope is
    # rescaled to per-day and rounded (irrational division).
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    sec = F.col("ts").cast("long")
    u = Window.partitionBy("user_id")
    t = ev.select(
        "user_id",
        sec.alias("sec"),
        "value",
    ).withColumn("sec0", F.min("sec").over(u))
    x = (F.col("sec") - F.col("sec0")).cast("double")
    s = t.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(x.cast("decimal(38,6)")).cast("double").alias("sx"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sy"),
        F.sum((x * F.col("value")).cast("decimal(38,6)")).cast("double").alias("sxy"),
        F.sum((x * x).cast("decimal(38,6)")).cast("double").alias("sxx"),
    )
    n = F.col("n_obs").cast("double")
    denom = n * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(
        (F.col("n_obs") >= 2) & (denom > 0),
        F.round((n * F.col("sxy") - F.col("sx") * F.col("sy")) / denom * 86400.0, 6),
    )
    return s.select("user_id", "n_obs", slope.alias("slope_per_day")).orderBy("user_id")


@register(
    "minmax_normalize_events",
    ev_sql("""
SELECT event_id, event_type, value,
       CASE WHEN mx > mn THEN (value - mn) / (mx - mn) END AS value_norm
FROM (SELECT event_id, event_type, value,
             MIN(value) OVER (PARTITION BY event_type) AS mn,
             MAX(value) OVER (PARTITION BY event_type) AS mx
      FROM events)
"""),
)
def minmax_normalize_events(spark, sf_dir):
    # Per-group min-max feature scaling (the MinMaxScaler sibling of
    # standardize_value_events / reference E2-E3): min/max are exact, the
    # ratio is deterministic IEEE — no rounding needed. Degenerate groups
    # (mx == mn) yield NULL, not a 0/0 NaN.
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    g = Window.partitionBy("event_type")
    mn, mx = F.min("value").over(g), F.max("value").over(g)
    norm = F.when(mx > mn, (F.col("value") - mn) / (mx - mn))
    return ev.withColumn("value_norm", norm)


@register(
    "drawdown_events",
    ev_sql(f"""
WITH r AS (
  SELECT user_id, value,
         MAX(value) OVER ({_EVW}
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_max
  FROM events)
SELECT user_id,
       MAX(run_max - value) AS max_drawdown,
       MAX(run_max) AS peak_value
FROM r GROUP BY user_id ORDER BY user_id
"""),
)
def drawdown_events(spark, sf_dir):
    # Running-peak drawdown per entity (the classic "how far below the
    # best-so-far did the series fall" analytic). Exact: running max is
    # order-defined, subtraction of identical doubles is deterministic.
    # The window and the final groupBy share the user_id exchange.
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    run = _event_window().rowsBetween(Window.unboundedPreceding, 0)
    r = ev.withColumn("run_max", F.max("value").over(run))
    return (
        r.groupBy("user_id")
        .agg(
            F.max(F.col("run_max") - F.col("value")).alias("max_drawdown"),
            F.max("run_max").alias("peak_value"),
        )
        .orderBy("user_id")
    )


@register("pq_codes_embeddings", None)  # rows-only: KMeans codebooks, not SQL
def pq_codes_embeddings(spark, sf_dir):
    # Product quantization of the embedding store (IVF+PQ layout): 4
    # subspaces x 16-centroid seeded codebooks -> 4 codes/vector + the L2
    # reconstruction error. Deterministic given the seed (tested); quality
    # (PQ beats the 1-centroid degenerate codebook) is gated in tests.
    # scalar projection of the codes array for the harness canonicalizer
    # (library callers use pq_encode directly for the array form)
    out = S.pq_encode(_t(spark, sf_dir, "embeddings"), m=4, k=16)
    return out.select(
        "vec_id",
        *[F.col("codes").getItem(j).alias(f"code_{j}") for j in range(4)],
        F.round("recon_err", 6).alias("recon_err"),
    ).orderBy("vec_id")


@register(
    "cohort_retention_events",
    ev_sql("""
WITH f AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
  FROM events GROUP BY user_id),
a AS (
  SELECT DISTINCT e.user_id, f.cohort_day,
         CAST(date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) // 7 AS INT)
           AS week_offset
  FROM events e JOIN f ON e.user_id = f.user_id)
SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day,
       week_offset, COUNT(*) AS n_users
FROM a GROUP BY cohort_day, week_offset
ORDER BY cohort_day, week_offset
"""),
)
def cohort_retention_events(spark, sf_dir):
    # Cohort retention matrix (the classic product-analytics query): users
    # bucketed by first-seen day, counted once per (cohort, week-offset)
    # cell. Two aggregations share the user_id exchange (min-date then
    # distinct), and the cohort lookup joins back on the same key — at
    # 100 TB the first-seen table is small (|users|) and broadcastable,
    # while the fact table shuffles once on user_id.
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    active = (
        ev.join(first, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.floor(F.datediff("day", "cohort_day") / 7).cast("int").alias("week_offset"),
        )
        .distinct()
    )
    return (
        active.groupBy("cohort_day", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.col("cohort_day").cast("timestamp").alias("cohort_day"),
            "week_offset",
            "n_users",
        )
        .orderBy("cohort_day", "week_offset")
    )


# ---------------------------------------------------------------------------
# Sequence / sampling / sketch batch: Markov transitions, inter-arrival
# stats, deterministic weighted sampling, count-min heavy hitters.
# ---------------------------------------------------------------------------
@register(
    "event_transition_probs_events",
    ev_sql(f"""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER ({_EVW}) AS prev_type
  FROM events),
c AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type)
SELECT prev_type, next_type, n,
       CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type) AS p
FROM c ORDER BY prev_type, next_type
"""),
)
def event_transition_probs_events(spark, sf_dir):
    # First-order Markov transition matrix over per-user event sequences:
    # P(next_type | prev_type) — the event-stream sibling of
    # bigram_lm_documents. The lag shuffles once on user_id; the transition
    # counts then aggregate over a tiny (|types|²) key space, so the second
    # exchange is negligible at any scale, and the normalizing SUM runs as a
    # window over the already-aggregated counts (no second fact scan).
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    seq = ev.withColumn("prev_type", F.lag("event_type").over(_event_window()))
    c = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    p = F.col("n").cast("double") / F.sum("n").over(Window.partitionBy("prev_type"))
    return c.withColumn("p", p).orderBy("prev_type", "next_type")


@register(
    "inter_event_gap_stats_events",
    ev_sql(f"""
WITH g AS (
  SELECT event_type,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER ({_EVW}) AS gap_us
  FROM events)
SELECT event_type,
       COUNT(gap_us) AS n_gaps,
       CAST(CAST(SUM(gap_us) AS BIGINT) AS DOUBLE) / COUNT(gap_us) / 1000000.0
         AS mean_gap_s,
       CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
FROM g WHERE gap_us IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""),
)
def inter_event_gap_stats_events(spark, sf_dir):
    # Inter-arrival-time distribution per event type (sampling-cadence /
    # burstiness census): gaps are exact integer microseconds from one lag
    # window, so the sum is overflow-safe int64 and the mean is the same
    # IEEE division chain in both engines — no decimal needed. The window
    # shuffles on user_id; the 5-type aggregation is map-side combinable.
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    us = F.unix_micros(F.col("ts"))
    g = ev.withColumn("gap_us", us - F.lag(us).over(_event_window())).where(
        F.col("gap_us").isNotNull()
    )
    return (
        g.groupBy("event_type")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            (F.sum("gap_us").cast("double") / F.count("gap_us") / F.lit(1000000.0)).alias(
                "mean_gap_s"
            ),
            F.min("gap_us").alias("min_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
        )
        .orderBy("event_type")
    )


@register(
    "weighted_sample_documents",
    f"""
WITH k AS (
  SELECT doc_id, source, n_chars,
         pow(CAST({_ID_HASH} % 1073741824 AS DOUBLE) / 1073741824.0,
             1.0 / n_chars) AS key
  FROM documents WHERE n_chars > 0)
SELECT doc_id, source, n_chars, CAST(rnk AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY key DESC, doc_id) AS rnk FROM k)
WHERE rnk <= 20 ORDER BY rnk
""",
)
def weighted_sample_documents(spark, sf_dir):
    # Deterministic weighted sampling without replacement (Efraimidis-
    # Spirakis A-Res): each doc draws u from its content-stable md5 hash
    # and ranks by u^(1/weight), weight = n_chars — longer docs win
    # proportionally more often, yet the draw is reproducible across runs
    # AND engines (no RNG state). Spark plans the top-k as
    # TakeOrderedAndProject: a map-side per-partition heap + tiny driver
    # merge, no global sort — the 100 TB-safe shape. Rank is assigned after
    # the 20-row cut, so the row_number window is on a trivial frame.
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars").where(
        F.col("n_chars") > 0
    )
    u = (X.portable_token_hash(F.col("doc_id").cast("string")) % 1073741824).cast(
        "double"
    ) / F.lit(1073741824.0)
    key = F.pow(u, F.lit(1.0) / F.col("n_chars"))
    top = d.withColumn("key", key).orderBy(F.desc("key"), "doc_id").limit(20)
    rank = F.row_number().over(Window.orderBy(F.desc("key"), "doc_id"))
    return top.withColumn("rank", rank).select("doc_id", "source", "n_chars", "rank")


@register("cms_heavy_hitters_events", None)  # rows-only: sketch estimate
def cms_heavy_hitters_events(spark, sf_dir):
    # Count-min-sketch heavy hitters: estimate per-user event counts from a
    # fixed-size mergeable sketch and compare against the exact top-10 —
    # the frequency-sketch companion of hll_mergeable_distinct_events. At
    # 100 TB the sketch is built with one map-side-combinable pass (each
    # partition sketches locally, sketches merge associatively) and is
    # persisted; any key's frequency is then answered without rescanning.
    # CMS never under-counts (estimate >= truth) — gated in tests.
    ev = _t(spark, sf_dir, "events").select("user_id")
    sk = ev.agg(
        F.count_min_sketch("user_id", F.lit(0.0001), F.lit(0.99), F.lit(42)).alias("s")
    ).first()["s"]
    jvm = spark._jvm
    sketch = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(bytes(sk))
    )
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), "user_id")
        .limit(10)
        .collect()
    )
    rows = [
        (r.user_id, r.exact_n, int(sketch.estimateCount(r.user_id))) for r in top
    ]
    out = literal_df(spark, rows, "user_id long, exact_n long, est_n long")
    return out.select(
        "user_id",
        "exact_n",
        "est_n",
        ((F.col("est_n") - F.col("exact_n")).cast("double") / F.col("exact_n")).alias(
            "overcount_ratio"
        ),
    ).orderBy(F.desc("exact_n"), "user_id")


def _pagerank_sql(n_iter: int = 10, damping: float = 0.85) -> str:
    """Unrolled 10-iteration PageRank twin over the shingle-Jaccard >= 0.05
    edge graph. Oracle-able because graph.pagerank is engine-portable by
    construction: contribution sums and the normalization total accumulate
    in DECIMAL(28,18) (order-free) and ranks are quantized to 12 dp per
    iteration, so a fixed iteration count is bit-reproducible and the
    "iterative float algorithm" objection disappears — the loop simply
    unrolls into per-iteration CTEs."""
    head = f"""
WITH base AS MATERIALIZED (SELECT doc_id AS id, lang AS blk, {_SHINGLES_SQL} AS toks
              FROM documents),
sized AS MATERIALIZED (SELECT id, blk, toks, len(toks) AS n_toks FROM base
          WHERE len(toks) > 0),
exx AS MATERIALIZED (SELECT id, blk, n_toks, unnest(toks) AS tok FROM sized),
common AS MATERIALIZED (
  SELECT a.id AS id_a, b.id AS id_b, a.n_toks AS na, b.n_toks AS nb,
         COUNT(*) AS n_common
  FROM exx a JOIN exx b ON a.blk = b.blk AND a.tok = b.tok AND a.id < b.id
  GROUP BY 1, 2, 3, 4),
edges AS MATERIALIZED (SELECT id_a, id_b FROM common
          WHERE CAST(n_common AS DOUBLE) / CAST(na + nb - n_common AS DOUBLE)
                >= 0.05),
und AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM edges
        UNION ALL SELECT id_b, id_a FROM edges),
nodes AS MATERIALIZED (SELECT DISTINCT s AS node FROM und),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
dg AS MATERIALIZED (SELECT s, COUNT(*) AS deg FROM und GROUP BY s),
ed AS MATERIALIZED (SELECT u.s, u.d, dg.deg FROM und u JOIN dg USING (s)),
r0 AS MATERIALIZED (SELECT node, 1.0e0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    its = []
    for k in range(n_iter):
        its.append(f""",
i{k} AS MATERIALIZED (SELECT e.d AS node,
              CAST(SUM(CAST(r.rank / e.deg AS DECIMAL(28,18))) AS DOUBLE)
                AS in_sum
         FROM ed e JOIN r{k} r ON e.s = r.node GROUP BY e.d),
w{k} AS MATERIALIZED (SELECT n.node,
              (1.0e0 - {damping}e0) / (SELECT n FROM nn)
              + {damping}e0 * COALESCE(i{k}.in_sum, 0.0e0) AS rank
         FROM nodes n LEFT JOIN i{k} USING (node)),
t{k} AS MATERIALIZED (SELECT CAST(SUM(CAST(rank AS DECIMAL(28,18))) AS DOUBLE) AS tot
         FROM w{k}),
r{k + 1} AS MATERIALIZED (SELECT node, ROUND(rank / (SELECT tot FROM t{k}), 12) AS rank
             FROM w{k})""")
    tail = f"""
SELECT node AS doc_id, ROUND(rank, 8) AS rank
FROM r{n_iter}
ORDER BY rank DESC, doc_id
LIMIT 20"""
    return head + "".join(its) + tail


@register("pagerank_neardup_documents", _pagerank_sql())
def pagerank_neardup_documents(spark, sf_dir):
    # PageRank centrality over the shingle-Jaccard near-dup graph (doubled
    # to undirected): ranks the "hub" documents inside duplicate clusters —
    # the doc most templates derive from. Same BSP join+agg supersteps as
    # connected_components (operators/graph.py), fixed 10 iterations,
    # lineage truncated per round. Output: top 20 nodes by rank.
    from ..operators.graph import pagerank

    edges = _shingle_pairs(spark, sf_dir).select(
        F.col("id_a").alias("s"), F.col("id_b").alias("d")
    )
    pr = pagerank(edges, n_iter=10, undirected=True)
    return (
        pr.select(F.col("node").alias("doc_id"), F.round("rank", 8).alias("rank"))
        .orderBy(F.desc("rank"), "doc_id")
        .limit(20)
    )


@register(
    "pmi_collocations_documents",
    """
WITH toks AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS w
  FROM documents WHERE length(trim(text)) > 0),
uni AS (
  SELECT unnest(w) AS word FROM toks),
uc AS (SELECT word, COUNT(*) AS n_w FROM uni GROUP BY word),
n1 AS (SELECT SUM(n_w) AS total_uni FROM uc),
bg AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM toks, (SELECT unnest(generate_series(1, len(w) - 1)) AS i)
  WHERE len(w) >= 2),
bc AS (SELECT w1, w2, COUNT(*) AS n_pair FROM bg GROUP BY 1, 2),
n2 AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS total_bi FROM bc)
SELECT w1, w2, n_pair,
       ROUND(LN(
         (CAST(n_pair AS DOUBLE) / total_bi)
         / ((CAST(a.n_w AS DOUBLE) / total_uni) * (CAST(b.n_w AS DOUBLE) / total_uni))
       ), 6) AS pmi
FROM bc
JOIN uc a ON bc.w1 = a.word
JOIN uc b ON bc.w2 = b.word
CROSS JOIN n1 CROSS JOIN n2
WHERE n_pair >= 5
ORDER BY pmi DESC, w1, w2 LIMIT 30
""",
)
def pmi_collocations_documents(spark, sf_dir):
    # Pointwise mutual information collocations: word pairs that co-occur
    # far more than their unigram frequencies predict — the phrase-mining /
    # tokenizer-merge-candidate pass of a corpus pipeline. Unigram and
    # bigram counts each aggregate map-side; the PMI join hits two
    # broadcastable vocab tables (Zipf: vocab << corpus); the final
    # irrational LN is rounded at 6dp for engine parity. n_pair >= 5 keeps
    # the collocation list statistically meaningful and the top-k tiny.
    d = _t(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    toks = d.select(F.split(F.trim(F.lower("text")), r"\s+").alias("w"))
    uni = toks.select(F.explode("w").alias("word"))
    uc = uni.groupBy("word").agg(F.count(F.lit(1)).alias("n_w"))
    uc = uc.withColumn("total_uni", F.sum("n_w").over(Window.partitionBy()))
    pairs = (
        toks.where(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), i -> struct(w[i-1] AS w1, w[i] AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
    )
    bc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    bc = bc.withColumn("total_bi", F.sum("n_pair").over(Window.partitionBy()))
    a = uc.select(F.col("word").alias("w1"), F.col("n_w").alias("n_w1"), "total_uni")
    b = uc.select(F.col("word").alias("w2"), F.col("n_w").alias("n_w2"))
    j = (
        bc.where(F.col("n_pair") >= 5)
        .join(F.broadcast(a), "w1")
        .join(F.broadcast(b), "w2")
    )
    pmi = F.round(
        F.log(
            (F.col("n_pair").cast("double") / F.col("total_bi"))
            / (
                (F.col("n_w1").cast("double") / F.col("total_uni"))
                * (F.col("n_w2").cast("double") / F.col("total_uni"))
            )
        ),
        6,
    )
    return (
        j.select("w1", "w2", "n_pair", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(30)
    )


@register(
    "rolling_corr_events",
    ev_sql(f"""
WITH lagged AS (
  SELECT event_id, user_id, ts, value AS x,
         LAG(value) OVER ({_EVW}) AS y
  FROM events),
sums AS (
  SELECT event_id, user_id, ts,
         COUNT(y) OVER w AS n,
         CAST(SUM(CAST(x AS DECIMAL(18,6))) FILTER (WHERE y IS NOT NULL) OVER w AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * x AS DECIMAL(18,6))) FILTER (WHERE y IS NOT NULL) OVER w AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(18,6))) OVER w AS DOUBLE) AS syy,
         CAST(SUM(CAST(x * y AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sxy
  FROM lagged
  WINDOW w AS ({_EVW} ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
SELECT event_id, user_id, ts,
       CASE WHEN n >= 12
             AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN
         ROUND((n * sxy - sx * sy)
               / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
       END AS autocorr_lag1_24
FROM sums
"""),
)
def rolling_corr_events(spark, sf_dir):
    # Trailing 24-row lag-1 autocorrelation per entity (the rolling
    # BIVARIATE stat the reference's rolling family lacks): Pearson r
    # between value and its lag over the trailing window, from the same
    # decimal-exact moment sums as rolling_std_events. The lag window and
    # the five rolling sums share one user_id exchange + one sort; pairs
    # where the lag is null (group head) are excluded from BOTH sides via
    # the FILTER twin of a null-masked x. Warm-up guard n >= 12; the
    # irrational r is rounded at 6 dp.
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    lagged = ev.select(
        "event_id", "user_id", "ts",
        F.col("value").alias("x"),
        F.lag("value").over(_event_window()).alias("y"),
    )
    w = _event_window().rowsBetween(-23, 0)
    xm = F.when(F.col("y").isNotNull(), F.col("x"))  # pairwise-complete x
    dec = lambda c: c.cast("decimal(18,6)")  # noqa: E731
    sums = lagged.withColumns({
        "_n": F.count("y").over(w),
        "_sx": F.sum(dec(xm)).over(w).cast("double"),
        "_sy": F.sum(dec(F.col("y"))).over(w).cast("double"),
        "_sxx": F.sum(dec(xm * xm)).over(w).cast("double"),
        "_syy": F.sum(dec(F.col("y") * F.col("y"))).over(w).cast("double"),
        "_sxy": F.sum(dec(F.col("x") * F.col("y"))).over(w).cast("double"),
    })
    n = F.col("_n").cast("double")
    vx = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    vy = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    r = F.when(
        (F.col("_n") >= 12) & (vx > 0) & (vy > 0),
        F.round((n * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / F.sqrt(vx * vy), 6),
    )
    return sums.select("event_id", "user_id", "ts", r.alias("autocorr_lag1_24"))


@register(
    "benford_digit_quality_events",
    ev_sql("""
WITH pos AS (SELECT value FROM events WHERE value > 0),
d0 AS (
  SELECT CAST(FLOOR(value / POW(10.0, FLOOR(LOG10(value)))) AS INT) AS d
  FROM pos),
d AS (
  SELECT CASE WHEN d = 10 THEN 1 WHEN d = 0 THEN 9 ELSE d END AS digit
  FROM d0),
c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
SELECT digit, n,
       CAST(n AS DOUBLE) / total AS obs_freq,
       ROUND(LOG10(1.0 + 1.0 / digit), 6) AS benford_freq
FROM c CROSS JOIN t ORDER BY digit
"""),
)
def benford_digit_quality_events(spark, sf_dir):
    # Benford leading-digit census — the fraud/corruption screen in a data-
    # quality suite (reference's closest surface: the VALID_RANGES physical
    # checks, data_processor.py:316-328). The leading digit comes from
    # FLOOR(v / 10^FLOOR(log10 v)) (both engines return exact log10 on
    # powers of ten; the 10→1 / 0→9 CASE absorbs the one-ulp edge), a pure
    # map expression; the census is a 9-key map-side-combinable agg.
    ev = _t(spark, sf_dir, "events").select("value").where(F.col("value") > 0)
    d0 = ev.select(
        F.floor(F.col("value") / F.pow(F.lit(10.0), F.floor(F.log10("value"))))
        .cast("int")
        .alias("d")
    )
    d = d0.select(
        F.when(F.col("d") == 10, 1).when(F.col("d") == 0, 9).otherwise(F.col("d")).alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    c = c.withColumn("total", F.sum("n").over(Window.partitionBy()))
    return c.select(
        "digit",
        "n",
        (F.col("n").cast("double") / F.col("total")).alias("obs_freq"),
        F.round(F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")), 6).alias("benford_freq"),
    ).orderBy("digit")


@register(
    "fpgrowth_itemsets_events",
    """
WITH RECURSIVE
b AS (SELECT user_id, list(DISTINCT event_type) AS items
      FROM events GROUP BY user_id),
n AS (SELECT count(*) AS n_baskets FROM b),
t AS (SELECT DISTINCT event_type AS et FROM events),
-- ascending-order powerset of the (tiny) distinct-item universe; FP-Growth's
-- search space is exactly this lattice, pruned — counts must agree
subsets(itemset, last) AS (
  SELECT [et], et FROM t
  UNION ALL
  SELECT list_append(s.itemset, t.et), t.et
  FROM subsets s JOIN t ON t.et > s.last
),
sup AS (
  SELECT s.itemset, count(*) AS n_users
  FROM subsets s JOIN b ON list_has_all(b.items, s.itemset)
  GROUP BY s.itemset
)
SELECT array_to_string(sup.itemset, '|') AS itemset,
       CAST(len(sup.itemset) AS INT) AS n_items,
       CAST(sup.n_users AS BIGINT) AS n_users
FROM sup, n
WHERE sup.n_users >= ceil(0.2 * n.n_baskets)
""",
)
def fpgrowth_itemsets_events(spark, sf_dir):
    # Frequent itemsets over per-user event-type baskets (MLlib FP-Growth):
    # the general-arity market-basket operator whose pair slice is exactly
    # event_type_cooccurrence. Baskets form with one user_id agg
    # (collect_set); FP-Growth then mines the tiny distinct-basket space.
    # Counts are exact, so the powerset-support SQL above is a full oracle
    # (minCount = ceil(minSupport * n_baskets), as in MLlib's FPGrowth).
    from pyspark.ml.fpm import FPGrowth

    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    baskets = ev.groupBy("user_id").agg(F.collect_set("event_type").alias("items"))
    model = FPGrowth(itemsCol="items", minSupport=0.2, minConfidence=0.5).fit(baskets)
    # itemset emitted as a joined string: the harness canonicalizer cannot
    # sort/hash array columns (library callers use model.freqItemsets)
    return (
        model.freqItemsets.select(
            F.concat_ws("|", F.array_sort("items")).alias("itemset"),
            F.size("items").cast("int").alias("n_items"),
            F.col("freq").cast("long").alias("n_users"),
        )
        .orderBy("n_items", "itemset")
    )


# ---------------------------------------------------------------------------
# Round-2 batch: sketch calibration, n-gram novelty, Zipf fit, frame
# sampling, PCA, IVF+PQ ADC search.
# ---------------------------------------------------------------------------
@register(
    "minhash_est_error_documents",
    f"""
WITH t AS (SELECT doc_id, {_SHINGLES_SQL} AS toks FROM documents),
sig AS (SELECT doc_id AS id,
        {_MH_EXPRS_SQL}
        FROM t),
band AS (
  SELECT id, b.band,
         CASE b.band
           {' '.join(f"WHEN {bi} THEN (mh_{2*bi})::VARCHAR || '_' || (mh_{2*bi+1})::VARCHAR" for bi in range(D.N_BANDS))}
         END AS key
  FROM sig, (VALUES (0), (1), (2), (3)) b(band)),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM band a JOIN band b ON a.band = b.band AND a.key = b.key AND a.id < b.id),
est AS (
  SELECT c.id_a, c.id_b,
         CAST({' + '.join(f'CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END' for i in range(len(D.MINHASH_AB)))} AS DOUBLE)
           / {float(len(D.MINHASH_AB))} AS est_jaccard
  FROM cand c JOIN sig sa ON c.id_a = sa.id JOIN sig sb ON c.id_b = sb.id)
SELECT e.id_a, e.id_b, e.est_jaccard,
       CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
         / CAST(len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
         AS true_jaccard,
       ROUND(ABS(e.est_jaccard
         - CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
           / CAST(len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)), 6)
         AS abs_err
FROM est e JOIN t ta ON e.id_a = ta.doc_id JOIN t tb ON e.id_b = tb.doc_id
ORDER BY e.id_a, e.id_b
""",
)
def minhash_est_error_documents(spark, sf_dir):
    # Sketch calibration audit: for every LSH candidate pair, the minhash
    # Jaccard ESTIMATE vs the exact shingle Jaccard and the absolute error —
    # the query a pipeline owner runs before trusting banding thresholds at
    # 100 TB. Candidates are linear (bucketed LSH); the exact re-score only
    # touches the candidate set, never all pairs. The true-Jaccard join is
    # two hash joins against the (id → shingle set) frame.
    from ..operators.text import shingle_set

    docs = _t(spark, sf_dir, "documents")
    cand = _lsh_candidates(spark, sf_dir)
    sh = docs.select(F.col("doc_id"), shingle_set(F.col("text")).alias("toks"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"))
    j = cand.join(a, "id_a").join(b, "id_b")
    n_common = F.size(F.array_intersect(F.col("ta"), F.col("tb")))
    true_j = n_common.cast("double") / (
        (F.size("ta") + F.size("tb") - n_common).cast("double")
    )
    return (
        j.select(
            "id_a",
            "id_b",
            "est_jaccard",
            true_j.alias("true_jaccard"),
            F.round(F.abs(F.col("est_jaccard") - true_j), 6).alias("abs_err"),
        )
        .orderBy("id_a", "id_b")
    )


@register(
    "ngram_novelty_documents",
    f"""
WITH base AS (SELECT doc_id, {_SHINGLES_SQL} AS toks FROM documents),
sized AS (SELECT doc_id, toks FROM base WHERE len(toks) > 0),
ex AS (SELECT doc_id, unnest(toks) AS tok FROM sized),
firsts AS (SELECT tok, MIN(doc_id) AS first_doc FROM ex GROUP BY tok)
SELECT e.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty_ratio
FROM ex e JOIN firsts f ON e.tok = f.tok
GROUP BY e.doc_id ORDER BY e.doc_id
""",
)
def ngram_novelty_documents(spark, sf_dir):
    # Per-document n-gram novelty: the fraction of a doc's distinct 3-gram
    # shingles whose FIRST corpus occurrence (min doc_id — deterministic) is
    # this document. Low novelty = mostly recycled text (template/boilerplate
    # census, the streaming-corpus cousin of decontamination). One explode,
    # one groupBy on the shingle key (first-occurrence table is |vocab|-sized
    # and map-side combinable), one shuffle join back on the shingle.
    from ..operators.text import shingle_set

    docs = _t(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", shingle_set(F.col("text")).alias("toks")
    ).where(F.size("toks") > 0)
    ex = sized.select("doc_id", F.explode("toks").alias("tok"))
    # first-occurrence via a window over the shingle key instead of a
    # groupBy + join-back: ONE scan of the corpus (the self-join form reads
    # and re-shingles every document twice), one exchange on the shingle,
    # one on doc_id for the final rollup
    first_doc = F.min("doc_id").over(Window.partitionBy("tok"))
    novel = (first_doc == F.col("doc_id")).cast("long")
    return (
        ex.select("doc_id", novel.alias("is_novel"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("is_novel").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_shingles").cast("double")).alias(
                "novelty_ratio"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "zipf_slope_documents",
    f"""
WITH w AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
           FROM documents WHERE length(trim(text)) > 0),
c AS (SELECT tok, COUNT(*) AS n FROM w GROUP BY tok),
r AS (SELECT tok, n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rnk FROM c),
l AS (SELECT LN(CAST(rnk AS DOUBLE)) AS x, LN(CAST(n AS DOUBLE)) AS y
      FROM r WHERE rnk <= 1000),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
             CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx
      FROM l)
SELECT n_points,
       ROUND((n_points * sxy - sx * sy) / (n_points * sxx - sx * sx), 6)
         AS zipf_slope
FROM s
""",
)
def zipf_slope_documents(spark, sf_dir):
    # Zipf's-law fit over the corpus frequency table: least-squares slope of
    # ln(freq) vs ln(rank) for the top-1000 words (closed form over exact
    # DECIMAL sums — order-independent, so the double is bit-identical in
    # both engines). Healthy natural-language corpora fit ≈ −1; a flat slope
    # flags synthetic/templated text. One word-count groupBy (map-side
    # combinable) + a 1000-row window — nothing scales with corpus size
    # except the count.
    docs = _t(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    w = docs.select(F.explode(X.tokens(F.col("text"))).alias("tok"))
    c = w.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    # top-1000 FIRST via TakeOrderedAndProject (per-partition heaps + driver
    # merge), THEN rank within the 1000-row result: a row_number window over
    # the full vocab would funnel every distinct token through one partition
    top = c.orderBy(F.desc("n"), "tok").limit(1000)
    r = top.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.desc("n"), "tok"))
    )
    x = F.log(F.col("rnk").cast("double"))
    y = F.log(F.col("n").cast("double"))
    s = r.select(x.alias("x"), y.alias("y")).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(F.col("x").cast("decimal(28,12)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(28,12)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,12)")).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)")).cast("double").alias("sxx"),
    )
    n = F.col("n_points").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select("n_points", F.round(slope, 6).alias("zipf_slope"))


@register(
    "multimodal_frame_sample",
    """
WITH media AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS kind,
         1 + (doc_id % 30) AS n_frames
  FROM documents)
SELECT doc_id, CAST(unnest(range(0, n_frames, 10)) AS INT) AS frame_idx
FROM media WHERE kind = 'video'
ORDER BY doc_id, frame_idx
""",
)
def multimodal_frame_sample(spark, sf_dir):
    # Frame-sampling plumbing for video rows: every 10th frame index per
    # video, fanned out JVM-side with explode(sequence(...)) — no Python in
    # the row path; the payload column is never read (parquet pruning).
    media = MM.synth_media_table(spark, sf_dir)
    return (
        MM.sample_frames(media, every_n=10)
        .select("doc_id", "frame_idx")
        .orderBy("doc_id", "frame_idx")
    )


@register("pca_embeddings", None)  # rows-only: MLlib eigendecomposition
def pca_embeddings(spark, sf_dir):
    # PCA over the embedding store (MLlib): per-vector projection onto the
    # top-4 principal components + the model's explained-variance head —
    # the standard first step before visualization / whitening / coarse
    # clustering of an embedding corpus. Deterministic given the data
    # (eigendecomposition of the covariance; no RNG). Scale: covariance
    # accumulates in one tree-aggregated pass; projection is a broadcast
    # matrix multiply per row.
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    emb = (
        _t(spark, sf_dir, "embeddings")
        # a NULL vector contributes nothing to the covariance and has no
        # projection — drop at entry (degenerate-input contract)
        .where(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            array_to_vector(F.col("embedding").cast("array<double>")).alias("_v"),
        )
    )
    if emb.limit(2).count() < 2:
        # empty or single-row store: the covariance (hence the components)
        # is undefined below 2 rows — well-defined empty answer, not an
        # IllegalArgumentException from RowMatrix.computeCovariance
        return spark.createDataFrame(
            [],
            "vec_id long, "
            + ", ".join(f"pc_{i} double" for i in range(4))
            + ", "
            + ", ".join(f"explained_var_{i} double" for i in range(4)),
        )
    model = PCA(k=4, inputCol="_v", outputCol="_pc").fit(emb)
    ev = [float(v) for v in model.explainedVariance]
    out = model.transform(emb).select(
        "vec_id", vector_to_array(F.col("_pc")).alias("pc")
    )
    return out.select(
        "vec_id",
        *[F.round(F.col("pc")[i], 6).alias(f"pc_{i}") for i in range(4)],
        *[F.lit(ev[i]).alias(f"explained_var_{i}") for i in range(4)],
    ).orderBy("vec_id")


@register("ivf_pq_adc_topk_embeddings", None)  # rows-only: recall<1 by design
def ivf_pq_adc_topk_embeddings(spark, sf_dir):
    # The billion-scale ANN QUERY path: IVF coarse quantizer prunes the
    # corpus to nprobe cells, then PQ asymmetric distance (ADC) scores
    # candidates from their 4 codes + per-query lookup tables — no
    # full-vector reads in the scan. Exact re-rank of the ADC top-k*4
    # against true vectors gives the final top-k (the standard
    # "ADC shortlist + exact refine" layout).
    return S.ivf_pq_adc_topk(
        _t(spark, sf_dir, "embeddings"),
        query_ids=[1, 2, 3, 4, 5],
        k=5,
        cache_tag=sf_dir,
    )


@register("performance_tracked_pipeline", None)  # rows-only: wall times vary
def performance_tracked_pipeline(spark, sf_dir):
    # PerformanceTracker wired around real pipeline stages, mirroring the
    # reference's instrumented process_pipeline (`data_processor.py:280+`
    # with `src/monitoring/performance.py:71-87` track contexts): each
    # tracked block is one Spark ACTION (Spark is lazy — timing plan
    # construction would measure milliseconds of driver work, so the stages
    # here are the points where jobs actually run). Each block also runs
    # under a Spark job group named for the stage, so the event log
    # attributes executor time to stages too. Emits the summary frame
    # (operation, calls, total/avg/min/max seconds).
    from ..monitoring import PerformanceTracker
    from ..operators import quality as Q

    tracker = PerformanceTracker(spark)
    ev = _t(spark, sf_dir, "events")
    with tracker.track("load_and_count"):
        ev.count()
    with tracker.track("quality_checks"):
        Q.quality_report(ev, key_cols=["event_id"], ts_col="ts").first()
    with tracker.track("group_summary"):
        ev.groupBy("event_type").agg(
            F.count(F.lit(1)), F.avg("value")
        ).collect()
    out = tracker.as_dataframe(spark)
    return out.select("operation", "total_calls").orderBy("operation")


_SH48_VOTES_SQL = ",\n        ".join(
    f"SUM(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{j}"
    for j in range(48)
)
_SH48_COMBINE_SQL = " + ".join(
    f"CASE WHEN v_{j} > 0 THEN {2**j} ELSE 0 END" for j in range(48)
)


@register(
    "simhash_near_dup_documents",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
h AS (SELECT doc_id, unnest(toks) AS tok FROM t),
hh AS (SELECT doc_id, {_PHASH.format(t='tok')} AS hv FROM h),
votes AS (SELECT doc_id,
        {_SH48_VOTES_SQL}
        FROM hh GROUP BY doc_id),
sh AS (SELECT doc_id, CAST({_SH48_COMBINE_SQL} AS BIGINT) AS sh FROM votes),
band AS (SELECT doc_id, sh, b.j, (sh >> (24 * b.j)) & 16777215 AS bv
         FROM sh, (VALUES (0), (1)) b(j)),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                a.sh AS sa, b.sh AS sb
         FROM band a JOIN band b
           ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 1
ORDER BY id_a, id_b
""",
)
def simhash_near_dup_documents(spark, sf_dir):
    # SimHash near-dup PAIRS (closes the simhash loop: simhash_documents
    # emits fingerprints, this finds the hamming<=1 pairs): banded bit-slice
    # bucketing — pigeonhole-guaranteed recall for max_hamming < n_bands,
    # candidates linear in corpus, exact bit_count(xor) filter per candidate.
    # 48-bit hash + 24-bit bands: this template-heavy corpus makes loose
    # thresholds (hamming<=3 @ 32 bits) quadratic in OUTPUT (2M+ pairs at
    # sf0.1) — near-identical semantics keeps the pair set meaningful.
    return D.simhash_near_dup_pairs(
        _t(spark, sf_dir, "documents"), max_hamming=1, bits=48, n_bands=2
    )


@register(
    "winnowing_fingerprints_documents",
    f"""
WITH n AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
h AS (SELECT doc_id,
             list_transform(range(1, length(t) - 3),
                            i -> {_PHASH.format(t='substr(t, i, 5)')}) AS hs
      FROM n WHERE length(t) >= 5),
m AS (SELECT doc_id,
             list_distinct(list_transform(range(1, len(hs) - 2),
                                          i -> list_min(hs[i:i+3]))) AS fps
      FROM h WHERE len(hs) >= 4)
SELECT doc_id, unnest(fps) AS fingerprint
FROM m ORDER BY doc_id, fingerprint
""",
)
def winnowing_fingerprints_documents(spark, sf_dir):
    # Winnowing (rolling-hash) fingerprints — the SURVEY-mandated
    # "document fingerprinting (rolling hash)" operator in its classic form
    # (Schleimer/Wilkerson/Aiken): char-5-gram hashes, window-4 minima,
    # distinct per doc. Pure per-row array algebra (no shuffle before the
    # presentation sort); the fingerprint table is what containment/overlap
    # detection joins on at corpus scale.
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return (
        docs.select(
            "doc_id",
            F.explode(X.winnowing_fingerprints(F.col("text"))).alias("fingerprint"),
        )
        .orderBy("doc_id", "fingerprint")
    )


_MANIFEST_SQL = f"""
WITH RECURSIVE
fp AS (SELECT doc_id,
              md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
       FROM documents),
exact AS (SELECT doc_id,
                 (doc_id <> MIN(doc_id) OVER (PARTITION BY fp)) AS exact_dup_extra
          FROM fp),
base AS (SELECT doc_id AS id, lang AS blk, {_SHINGLES_SQL} AS toks
              FROM documents),
sized AS (SELECT id, blk, toks, len(toks) AS n_toks FROM base WHERE len(toks) > 0),
exsh AS (SELECT id, blk, n_toks, unnest(toks) AS tok FROM sized),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, a.n_toks AS na, b.n_toks AS nb,
         COUNT(*) AS n_common
  FROM exsh a JOIN exsh b ON a.blk = b.blk AND a.tok = b.tok AND a.id < b.id
  GROUP BY 1, 2, 3, 4),
edges AS (
  SELECT id_a, id_b FROM common
  WHERE CAST(n_common AS DOUBLE) / CAST(na + nb - n_common AS DOUBLE) >= 0.05),
und AS (SELECT id_a AS s, id_b AS d FROM edges
        UNION ALL SELECT id_b, id_a FROM edges),
reach(node, label) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM und)
  UNION
  SELECT e.d, r.label FROM reach r JOIN und e ON r.node = e.s),
cc AS (SELECT node AS doc_id, MIN(label) AS component FROM reach GROUP BY node),
rep AS (SELECT component, MIN(doc_id) AS rep_id FROM cc GROUP BY 1),
near AS (SELECT cc.doc_id, (cc.doc_id <> rep.rep_id) AS near_dup_extra
         FROM cc JOIN rep USING (component)),
qt AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       FROM documents),
qs AS (SELECT doc_id,
        0.4 * LEAST(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
        + 0.3 * CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        + 0.3 * (1.0 - CAST(len(list_filter(toks, x -> x IN {_STOP_SQL})) AS DOUBLE)
                        / CAST(len(toks) AS DOUBLE)) AS quality_score
       FROM qt),
wt AS (SELECT doc_id, source, {_W_SQL} AS w FROM documents),
ng AS (SELECT doc_id, source, unnest(list_distinct({_grams_sql(3)})) AS gram
       FROM wt WHERE len(w) >= 3),
cont AS (SELECT t.doc_id, COUNT(DISTINCT t.gram) AS shared
         FROM (SELECT doc_id, gram FROM ng WHERE source <> 'src0') t
         JOIN (SELECT DISTINCT gram FROM ng WHERE source = 'src0') e USING (gram)
         GROUP BY 1),
m AS (
  SELECT d.doc_id,
         CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS BIGINT)
           AS n_tokens,
         ROUND(q.quality_score, 6) AS quality_score,
         CASE WHEN {_ID_HASH.replace('doc_id', 'd.doc_id')} % 100 < 80 THEN 'train'
              WHEN {_ID_HASH.replace('doc_id', 'd.doc_id')} % 100 < 90 THEN 'val'
              ELSE 'test' END AS split,
         (d.source = 'src0') AS is_eval_source,
         e.exact_dup_extra,
         COALESCE(n.near_dup_extra, FALSE) AS near_dup_extra,
         (COALESCE(c.shared, 0) >= 5) AS contaminated
  FROM documents d
  JOIN exact e USING (doc_id)
  JOIN qs q USING (doc_id)
  LEFT JOIN near n USING (doc_id)
  LEFT JOIN cont c USING (doc_id))
SELECT doc_id, n_tokens, quality_score, split, is_eval_source,
       exact_dup_extra, near_dup_extra, contaminated,
       (NOT is_eval_source AND NOT exact_dup_extra AND NOT near_dup_extra
        AND NOT contaminated AND quality_score >= 0.6) AS kept
FROM m ORDER BY doc_id
"""


# The manifest frame is materialized once per session —
# training_corpus_stats is a pure rollup of it, and replaying the whole
# composition (quality scan, 3-gram decontamination join, split hash) for
# a 3-row report doubled the flagship's cost in every full pass. A real
# corpus build writes the manifest table once and reports from it.
def _corpus_manifest(spark, sf_dir):
    return SC.materialized(
        "corpus_manifest", spark, sf_dir, ("documents",),
        _checkpointed(lambda: _corpus_manifest_plan(spark, sf_dir)),
    )[0]


@register("training_corpus_manifest", _MANIFEST_SQL)
def training_corpus_manifest(spark, sf_dir):
    # ordered projection of the session's one materialized manifest
    return _corpus_manifest(spark, sf_dir).orderBy("doc_id")


def _corpus_manifest_plan(spark, sf_dir):
    # The FLAGSHIP composition: the complete corpus-build decision for every
    # document in ONE lazy plan — exact dedup (md5 fingerprint, min-id
    # survivor), near-dup clustering (shingle-Jaccard edges → BSP connected
    # components → per-cluster representative), heuristic quality filter,
    # 3-gram decontamination against the held-out source, deterministic
    # hash split, and the final keep decision with per-reason flags. This is
    # the manifest a 100 TB training-data build actually writes: every
    # stage is an operator verified on its own elsewhere in the registry,
    # composed here into one auditable table.
    from ..operators.text import tokens

    docs = _t(spark, sf_dir, "documents")

    fpd = X.add_fingerprint(docs.select("doc_id", "text"))
    exact = fpd.select(
        "doc_id",
        (
            F.col("doc_id")
            != F.min("doc_id").over(Window.partitionBy("fp"))
        ).alias("exact_dup_extra"),
    )

    cc = _neardup_cc(spark, sf_dir)
    rep = cc.groupBy("component").agg(F.min("node").alias("rep_id"))
    near = (
        cc.join(rep, "component")
        .select(
            F.col("node").alias("doc_id"),
            (F.col("node") != F.col("rep_id")).alias("near_dup_extra"),
        )
    )

    quality = X.add_quality_score(docs.select("doc_id", "text")).select(
        "doc_id", F.round("quality_score", 6).alias("quality_score")
    )

    w = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    grams = (
        docs.select("doc_id", "source", "text")
        .withColumn("w", w)
        .where(F.size("w") >= 3)
        .select(
            "doc_id",
            "source",
            F.explode(F.array_distinct(_grams_spark(F.col("w"), 3))).alias("gram"),
        )
    )
    eval_grams = grams.where(F.col("source") == "src0").select("gram").distinct()
    cont = (
        grams.where(F.col("source") != "src0")
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("shared"))
    )

    bucket = X.portable_token_hash(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    m = (
        docs.select(
            "doc_id",
            "source",
            F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
            split.alias("split"),
            (F.col("source") == "src0").alias("is_eval_source"),
        )
        .join(exact, "doc_id")
        .join(quality, "doc_id")
        .join(near, "doc_id", "left")
        .join(cont, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "quality_score",
            "split",
            "is_eval_source",
            "exact_dup_extra",
            F.coalesce("near_dup_extra", F.lit(False)).alias("near_dup_extra"),
            (F.coalesce("shared", F.lit(0)) >= 5).alias("contaminated"),
        )
    )
    kept = (
        ~F.col("is_eval_source")
        & ~F.col("exact_dup_extra")
        & ~F.col("near_dup_extra")
        & ~F.col("contaminated")
        & (F.col("quality_score") >= 0.6)
    )
    return m.withColumn("kept", kept)


@register(
    "training_corpus_stats",
    f"""
WITH manifest AS ({_MANIFEST_SQL.replace('ORDER BY doc_id', '')})
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT)
         AS kept_tokens,
       CAST(SUM(CASE WHEN exact_dup_extra THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact_dup,
       CAST(SUM(CASE WHEN near_dup_extra THEN 1 ELSE 0 END) AS BIGINT)
         AS n_near_dup,
       CAST(SUM(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       CAST(SUM(CASE WHEN is_eval_source THEN 1 ELSE 0 END) AS BIGINT)
         AS n_eval_source
FROM manifest GROUP BY split ORDER BY split
""",
)
def training_corpus_stats(spark, sf_dir):
    # The corpus-build report: per-split document/token yields and drop
    # reasons, rolled up from the session's one materialized manifest —
    # what a pipeline owner reads after every build. 3 output rows.
    m = _corpus_manifest(spark, sf_dir)
    return (
        m.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("kept"), F.col("n_tokens")).otherwise(0)).alias(
                "kept_tokens"
            ),
            F.sum(F.when(F.col("exact_dup_extra"), 1).otherwise(0)).alias(
                "n_exact_dup"
            ),
            F.sum(F.when(F.col("near_dup_extra"), 1).otherwise(0)).alias("n_near_dup"),
            F.sum(F.when(F.col("contaminated"), 1).otherwise(0)).alias(
                "n_contaminated"
            ),
            F.sum(F.when(F.col("is_eval_source"), 1).otherwise(0)).alias(
                "n_eval_source"
            ),
        )
        .orderBy("split")
    )


@register(
    "dup_cluster_size_distribution",
    f"""
WITH RECURSIVE base AS (SELECT doc_id AS id, lang AS blk, {_SHINGLES_SQL} AS toks
              FROM documents),
sized AS (SELECT id, blk, toks, len(toks) AS n_toks FROM base WHERE len(toks) > 0),
ex AS (SELECT id, blk, n_toks, unnest(toks) AS tok FROM sized),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, a.n_toks AS na, b.n_toks AS nb,
         COUNT(*) AS n_common
  FROM ex a JOIN ex b ON a.blk = b.blk AND a.tok = b.tok AND a.id < b.id
  GROUP BY 1, 2, 3, 4),
edges AS (
  SELECT id_a, id_b FROM common
  WHERE CAST(n_common AS DOUBLE) / CAST(na + nb - n_common AS DOUBLE) >= 0.05),
und AS (SELECT id_a AS s, id_b AS d FROM edges
        UNION ALL SELECT id_b, id_a FROM edges),
reach(node, label) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM und)
  UNION
  SELECT e.d, r.label FROM reach r JOIN und e ON r.node = e.s),
cc AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
sizes AS (SELECT component, COUNT(*) AS cluster_size FROM cc GROUP BY component)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size ORDER BY cluster_size
""",
)
def dup_cluster_size_distribution(spark, sf_dir):
    # Near-dup cluster-size census: how big are the duplicate families? The
    # dedup-policy question (cap cluster contribution? keep 1?) is answered
    # from this 3-column table. Components from the session's one
    # materialized propagation (_neardup_cc); the rollup is two tiny aggs.
    cc = _neardup_cc(spark, sf_dir)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


@register(
    "doc_length_distribution",
    """
WITH t AS (SELECT doc_id,
                  len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
           FROM documents WHERE length(trim(text)) > 0)
SELECT CAST((n_tok // 10) * 10 AS BIGINT) AS bucket_start,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens
FROM t GROUP BY 1 ORDER BY 1
""",
)
def doc_length_distribution(spark, sf_dir):
    # Token-length histogram (10-token buckets) + per-bucket token mass —
    # the length-vs-yield curve every corpus filter consults. Map-side
    # combinable: one scan, |buckets| rows cross the wire.
    from ..operators.text import tokens

    d = _t(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    n_tok = F.size(tokens(F.col("text"))).cast("long")
    return (
        d.select(((n_tok / 10).cast("long") * 10).alias("bucket_start"), n_tok.alias("n_tok"))
        .groupBy("bucket_start")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
        )
        .orderBy("bucket_start")
    )


@register(
    "events_per_user_distribution",
    """
WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id)
SELECT CAST(FLOOR(LN(CAST(n AS DOUBLE)) / LN(2.0)) AS INT) AS log2_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(MIN(n) AS BIGINT) AS min_events,
       CAST(MAX(n) AS BIGINT) AS max_events
FROM c GROUP BY 1 ORDER BY 1
""",
)
def events_per_user_distribution(spark, sf_dir):
    # Activity skew census: users bucketed by log2(event count) — the
    # heavy-hitter profile that decides salting/skew strategy for per-user
    # operators. Two map-side-combinable aggs, nothing scales with events.
    ev = _t(spark, sf_dir, "events").select("user_id")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    bucket = F.floor(F.log(F.col("n").cast("double")) / F.log(F.lit(2.0))).cast("int")
    return (
        c.groupBy(bucket.alias("log2_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("n").alias("min_events"),
            F.max("n").alias("max_events"),
        )
        .orderBy("log2_bucket")
    )


@register(
    "winnowing_containment_documents",
    f"""
WITH n AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
h AS (SELECT doc_id,
             list_transform(range(1, length(t) - 3),
                            i -> {_PHASH.format(t='substr(t, i, 5)')}) AS hs
      FROM n WHERE length(t) >= 5),
m AS (SELECT doc_id,
             list_distinct(list_transform(range(1, len(hs) - 2),
                                          i -> list_min(hs[i:i+3]))) AS fps
      FROM h WHERE len(hs) >= 4),
ex0 AS (SELECT doc_id, unnest(fps) AS fp FROM m),
keep AS (SELECT fp FROM ex0 GROUP BY fp HAVING COUNT(*) <= 50),
ex AS (SELECT ex0.doc_id, ex0.fp FROM ex0 JOIN keep USING (fp)),
sizes AS (SELECT doc_id, COUNT(*) AS n_fp FROM ex GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
  FROM ex a JOIN ex b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT s.id_a, s.id_b, CAST(s.n_shared AS BIGINT) AS n_shared,
       CAST(s.n_shared AS DOUBLE) / CAST(LEAST(sa.n_fp, sb.n_fp) AS DOUBLE)
         AS containment
FROM shared s
JOIN sizes sa ON s.id_a = sa.doc_id
JOIN sizes sb ON s.id_b = sb.doc_id
WHERE CAST(s.n_shared AS DOUBLE) / CAST(LEAST(sa.n_fp, sb.n_fp) AS DOUBLE) >= 0.8
ORDER BY id_a, id_b
""",
)
def winnowing_containment_documents(spark, sf_dir):
    # Asymmetric near-CONTAINMENT detection: pairs where >=80% of the
    # smaller document's DISCRIMINATIVE winnowing fingerprints appear in
    # the other — catches doc-inside-doc (quotes, concatenations) that
    # symmetric Jaccard under-scores. High-document-frequency fingerprints
    # are dropped first (MOSS-style boilerplate suppression), which both
    # sharpens the signal and bounds the inverted-index join fanout.
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    # NO size(fps)>0 filter, and explode_OUTER + a post-generate null drop
    # instead of explode: a plain explode lets InferFiltersFromGenerate add
    # `size(fps) > 0` above the generator, and filter pushdown then sinks
    # that predicate BELOW the repartition exchange — re-evaluating the
    # whole winnowing HOF chain per row on the single-split scan (one task
    # paying ~5-6 s at sf0.1 while 31 cores idled, on top of the spread
    # stage computing the same fingerprints again; SQL-tab metrics:
    # WholeStageCodegen(1) 5.4 s scan-side vs 1.1 s/task post-spread). An
    # outer generator admits no inferred filter, so the HOF runs exactly
    # once, post-spread; the isNotNull drop reproduces plain-explode
    # semantics (empty fingerprint sets emit nothing).
    fps = docs.select(
        "doc_id", X.winnowing_fingerprints(F.col("text")).alias("fps")
    )
    # materialize the exploded fingerprints ONCE: ex0 feeds the df census
    # AND the keep-join, and ex feeds sizes plus both self-join legs — left
    # lazy, the expensive winnowing computation re-executes per consumer
    ex0 = (
        fps.select("doc_id", F.explode_outer("fps").alias("fp"))
        .where(F.col("fp").isNotNull())
        .localCheckpoint(eager=True)
    )
    # MOSS-style boilerplate suppression: a fingerprint shared by >50
    # documents is template noise, not evidence of containment — and every
    # hot fingerprint costs C(df,2) join pairs, so the cap also bounds the
    # inverted-index fanout (18.8s -> ~3s at sf0.1 on this templated corpus)
    keep = ex0.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).where(F.col("df") <= 50)
    ex = ex0.join(keep.select("fp"), "fp").localCheckpoint(eager=True)
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    a, b = ex.alias("a"), ex.alias("b")
    shared = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_fp").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_fp").alias("nb"))
    cont = F.col("n_shared").cast("double") / F.least("na", "nb").cast("double")
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", "n_shared", cont.alias("containment"))
        .where(F.col("containment") >= 0.8)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Corpus boilerplate + character-entropy quality, distribution drift
# ---------------------------------------------------------------------------
from ..operators import drift as DR  # noqa: E402

_PASSAGE_SQL = """
WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
           FROM documents),
i AS (SELECT doc_id, words,
             unnest(range(greatest(1, CAST(ceil(len(words) / 8.0e0) AS BIGINT)))) AS i
      FROM w),
c AS (SELECT doc_id,
             md5(array_to_string(words[(i*8+1):(i*8+8)], ' ')) AS h
      FROM i),
f AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY h) AS f FROM c)
SELECT doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN f > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       ROUND(SUM(CASE WHEN f > 1 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
         AS boilerplate_ratio
FROM f
GROUP BY doc_id
"""


@register("passage_dedup_documents", _PASSAGE_SQL)
def passage_dedup_documents(spark, sf_dir):
    # passage-level (8-word non-overlapping chunk) exact dedup: the standard
    # boilerplate detector — one explode, ONE shuffle on the md5 chunk key
    # (window count, no self-join), groupBy back on doc_id. Linear in corpus
    # bytes at 100 TB.
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return D.passage_dedup_stats(docs)


def _entropy_sql() -> str:
    cnts = ",\n             ".join(
        f"CAST(length(low) - length(replace(low, '{c}', '')) AS DOUBLE) AS _c{i}"
        for i, c in enumerate(X.ENTROPY_SYMBOLS)
    )
    total = "(" + " + ".join(f"_c{i}" for i in range(len(X.ENTROPY_SYMBOLS))) + ")"
    terms = " + ".join(
        f"CASE WHEN _c{i} > 0 THEN (_c{i} / _tot) * ln(_c{i} / _tot) ELSE 0.0e0 END"
        for i in range(len(X.ENTROPY_SYMBOLS))
    )
    return f"""
WITH lo AS (SELECT doc_id, lower(text) AS low FROM documents),
cs AS (SELECT doc_id,
             {cnts}
      FROM lo),
t AS (SELECT *, {total} AS _tot FROM cs),
e AS (SELECT doc_id, _tot, 0.0e0 + {terms} AS _ent FROM t)
SELECT doc_id,
       CAST(_tot AS BIGINT) AS n_counted_chars,
       CASE WHEN _tot > 0 THEN ROUND(-(_ent), 6) + 0.0e0 ELSE 0.0e0 END
         AS char_entropy
FROM e
"""


@register("char_entropy_documents", _entropy_sql())
def char_entropy_documents(spark, sf_dir):
    # Shannon entropy over {a-z, space} via 27 replace-count expressions:
    # zero shuffle, zero explode, pure whole-stage codegen. A low-entropy
    # doc is degenerate/repetitive text — the cheapest quality filter there is.
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return X.add_char_entropy(docs).select("doc_id", "n_counted_chars", "char_entropy")


_PSI_SQL = """
WITH b AS (SELECT MIN(epoch_us(ts)) AS e0, MAX(epoch_us(ts)) AS e1 FROM events),
t AS (SELECT LEAST(CAST(FLOOR(value / 50.0e0) AS BIGINT), 9) AS bin,
             (2 * epoch_us(ts) <= e0 + e1) AS is_a
      FROM events CROSS JOIN b),
g AS (SELECT bin,
             CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
      FROM t GROUP BY bin),
p AS (SELECT bin, n_a, n_b,
             (n_a + 0.5e0) / (SUM(n_a) OVER () + 5.0e0) AS pa,
             (n_b + 0.5e0) / (SUM(n_b) OVER () + 5.0e0) AS pb
      FROM g),
q AS (SELECT bin, n_a, n_b, ROUND(pa, 6) AS p_a, ROUND(pb, 6) AS p_b,
             ROUND((pa - pb) * ln(pa / pb), 6) + 0.0e0 AS psi_term
      FROM p)
SELECT bin, n_a, n_b, p_a, p_b, psi_term,
       ROUND(CAST(SUM(CAST(psi_term AS DECIMAL(18,6))) OVER () AS DOUBLE), 6) AS psi
FROM q
ORDER BY bin
"""


@register("psi_value_drift_events", ev_sql(_PSI_SQL))
def psi_value_drift_events(spark, sf_dir):
    # Population Stability Index between the two time halves: fixed-width
    # bins (no quantile pass) -> one 10-group shuffle; the time midpoint is
    # a broadcast 1-row agg; totals/psi are 10-row windows. Drift gate for
    # "did this snapshot's distribution move since the last training run".
    ev = _t(spark, sf_dir, "events").select("ts", "value")
    return DR.psi_table(ev)


_KS_SQL = """
WITH b AS (SELECT MIN(epoch_us(ts)) AS e0, MAX(epoch_us(ts)) AS e1 FROM events),
t AS (SELECT value AS v, (2 * epoch_us(ts) <= e0 + e1) AS is_a
      FROM events CROSS JOIN b),
g AS (SELECT v,
             CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na_v,
             CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS nb_v
      FROM t GROUP BY v),
c AS (SELECT
        SUM(na_v) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        SUM(nb_v) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
        SUM(na_v) OVER () AS tot_a,
        SUM(nb_v) OVER () AS tot_b
      FROM g)
SELECT ROUND(MAX(ABS(ca / CAST(tot_a AS DOUBLE) - cb / CAST(tot_b AS DOUBLE))), 6)
         + 0.0e0 AS ks_stat,
       CAST(MAX(tot_a) AS BIGINT) AS n_a,
       CAST(MAX(tot_b) AS BIGINT) AS n_b
FROM c
"""


@register("ks_drift_events", ev_sql(_KS_SQL))
def ks_drift_events(spark, sf_dir):
    # Two-sample Kolmogorov-Smirnov statistic between the time halves.
    # Exact CDFs over DISTINCT values (groupBy first) so the global ordered
    # window is bounded by value cardinality, not row count; at extreme
    # cardinality swap in an approx_percentile grid (see operators/drift.py).
    ev = _t(spark, sf_dir, "events").select("ts", "value")
    return DR.ks_table(ev)


_CHISQ_SQL = """
WITH g AS (SELECT event_type, CAST(isodow(ts) - 1 AS INTEGER) AS dow,
                  COUNT(*) AS o_cnt
           FROM events GROUP BY 1, 2),
m AS (SELECT event_type, dow, o_cnt,
             (CAST(SUM(o_cnt) OVER (PARTITION BY event_type) AS DOUBLE)
              * CAST(SUM(o_cnt) OVER (PARTITION BY dow) AS DOUBLE))
               / CAST(SUM(o_cnt) OVER () AS DOUBLE) AS e
      FROM g),
q AS (SELECT event_type, dow, o_cnt, ROUND(e, 6) AS e_cnt,
             ROUND(((o_cnt - e) * (o_cnt - e)) / e, 6) + 0.0e0 AS chisq_term
      FROM m)
SELECT event_type, dow, o_cnt, e_cnt, chisq_term,
       ROUND(CAST(SUM(CAST(chisq_term AS DECIMAL(18,6))) OVER () AS DOUBLE), 6) AS chisq
FROM q
ORDER BY event_type, dow
"""


@register("chisq_type_dow_events", ev_sql(_CHISQ_SQL))
def chisq_type_dow_events(spark, sf_dir):
    # chi-square independence check: event_type x weekday contingency with
    # expected counts from window marginals. One 35-group shuffle; marginal
    # products go through double casts in BOTH engines so the arithmetic is
    # bit-identical (and bigint-overflow-safe at cluster counts).
    ev = _t(spark, sf_dir, "events").select("ts", "event_type")
    return DR.chisq_table(ev)


def _streaming_psi_sql(n_bins: int = 10) -> str:
    bcnts = ",\n        ".join(
        f"SUM(CASE WHEN bin = {i} THEN 1 ELSE 0 END) AS b{i}" for i in range(n_bins)
    )
    dcnts = ",\n        ".join(
        f"SUM(CASE WHEN bin = {i} THEN 1 ELSE 0 END) AS n_{i}" for i in range(n_bins)
    )

    def term(i: int) -> str:
        p = f"((CAST(n_{i} AS DOUBLE) + 0.5e0) / (CAST(n_events AS DOUBLE) + 5.0e0))"
        bp = f"((CAST(b{i} AS DOUBLE) + 0.5e0) / (CAST(bn AS DOUBLE) + 5.0e0))"
        return f"(({p} - {bp}) * ln({p} / {bp}))"

    terms = " + ".join(term(i) for i in range(n_bins))
    return f"""
WITH g AS (SELECT ts, LEAST(CAST(FLOOR(value / 50.0e0) AS BIGINT), 9) AS bin
           FROM events),
b AS (SELECT
        {bcnts},
        COUNT(*) AS bn
      FROM g),
d AS (SELECT time_bucket(INTERVAL '1 day', ts) AS day_start,
        {dcnts},
        COUNT(*) AS n_events
      FROM g GROUP BY 1)
SELECT day_start, n_events,
       ROUND({terms}, 6) + 0.0e0 AS psi
FROM d CROSS JOIN b
"""


@register("streaming_psi_drift_events", ev_sql(_streaming_psi_sql()))
def streaming_psi_drift_events(spark, sf_dir):
    # Continuous drift monitor: per-day PSI of the streamed value
    # distribution against a batch baseline snapshot. One watermarked
    # groupBy(window) of conditional bin counts (bounded state, single
    # aggregation — streaming's limit); PSI folds map-side against baseline
    # literals in fixed bin order, so the drained availableNow result is
    # EXACTLY the batch answer — proven by this oracle.
    return SJ.streaming_psi_drift(spark, sf_dir)


_N_LSH_TABLES = 4
_SEM_BUCKETS = ",\n       ".join(
    f"{_lsh_table_bucket_sql('embedding', t, 4)} AS b{t}" for t in range(_N_LSH_TABLES)
)
_SEM_EX_UNION = "\n       UNION ALL ".join(
    f"SELECT vec_id, {t} AS tbl, b{t} AS bucket FROM bk" for t in range(_N_LSH_TABLES)
)

_SEMANTIC_DEDUP_SQL = f"""
WITH RECURSIVE
bk AS (SELECT vec_id,
       {_SEM_BUCKETS}
       FROM embeddings),
ex AS ({_SEM_EX_UNION}),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM ex a JOIN ex b
           ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
pairs AS (SELECT c.id_a, c.id_b, ea.embedding AS va, eb.embedding AS vb
          FROM cand c
          JOIN embeddings ea ON c.id_a = ea.vec_id
          JOIN embeddings eb ON c.id_b = eb.vec_id),
dots AS (
  SELECT id_a, id_b,
         {_DOT_SQL.format(a='va', b='vb')} AS dot,
         {_DOT_SQL.format(a='va', b='va')} AS na,
         {_DOT_SQL.format(a='vb', b='vb')} AS nb
  FROM pairs, range(1, 65) i(i) GROUP BY 1, 2),
edges AS (SELECT id_a, id_b FROM dots
          WHERE dot / (sqrt(na) * sqrt(nb)) >= 0.4),
und AS (SELECT id_a AS s, id_b AS d FROM edges
        UNION ALL SELECT id_b, id_a FROM edges),
reach(node, label) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM und)
  UNION
  SELECT e.d, r.label FROM reach r JOIN und e ON r.node = e.s),
cc AS (SELECT node AS vec_id, MIN(label) AS component FROM reach GROUP BY node),
rep AS (SELECT component, MIN(vec_id) AS rep_id FROM cc GROUP BY component)
SELECT e.vec_id, (cc.component IS NOT NULL) AS from_dup_cluster
FROM embeddings e
LEFT JOIN cc ON e.vec_id = cc.vec_id
LEFT JOIN rep ON cc.component = rep.component
WHERE cc.component IS NULL OR e.vec_id = rep.rep_id
ORDER BY e.vec_id
"""


@register("semantic_dedup_keep_list_embeddings", _SEMANTIC_DEDUP_SQL)
def semantic_dedup_keep_list_embeddings(spark, sf_dir):
    # SemDeDup-style semantic dedup decision: MULTI-TABLE sign-LSH
    # candidates (4 tables x 4 planes -- one deeper table finds ~0% of true
    # cosine-0.4 pairs; 4 independent shallow tables recover ~56% with ~24%
    # of all-pairs candidate mass) -> exact decimal cosine >= 0.4 edges ->
    # BSP connected components -> min-id representative per cluster + all
    # singletons. Deterministic end-to-end (md5 hyperplanes, decimal dots,
    # min-label CC), hence the full recursive-CTE oracle — the embedding
    # counterpart of dedup_keep_list_documents.
    # planes_per_table scales with the corpus (footer count) so per-table
    # bucket occupancy — and the candidate join — stays linear; at driver
    # fixture sizes the rule yields exactly the oracle's 4 planes
    # (BENCH_SCALING: fixed 16 buckets/table timed out at sf0.3).
    return S.semantic_dedup_keep_list(
        _t(spark, sf_dir, "embeddings"),
        planes_per_table=S.lsh_planes_for(
            parquet_row_count(sf_dir, "embeddings"),
            target_bucket=128,
            min_planes=4,
        ),
    )


_MIXTURE_SQL = """
WITH t AS (SELECT source,
                  CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+')))
                       AS BIGINT) AS n_tokens
           FROM documents GROUP BY source),
p AS (SELECT *, pow(CAST(n_tokens AS DOUBLE), 0.5e0) AS pw FROM t),
w AS (SELECT *, ROUND(pw / SUM(pw) OVER (), 9) AS weight FROM p),
a AS (SELECT *,
             CAST(FLOOR(1000000.0e0 * weight) AS BIGINT) AS alloc_floor,
             1000000.0e0 * weight - FLOOR(1000000.0e0 * weight) AS rem
      FROM w),
r AS (SELECT *,
             row_number() OVER (ORDER BY rem DESC, source) AS rr,
             1000000 - SUM(alloc_floor) OVER () AS leftover
      FROM a)
SELECT source, n_docs, n_tokens, weight,
       CAST(alloc_floor + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc_tokens,
       ROUND(LEAST(1.0e0,
         CAST(alloc_floor + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
              AS DOUBLE) / CAST(n_tokens AS DOUBLE)), 6) AS sampling_rate
FROM r
ORDER BY source
"""


@register("mixture_allocation_documents", _MIXTURE_SQL)
def mixture_allocation_documents(spark, sf_dir):
    # Training-mixture design (DoReMi-lite): temperature-scaled source
    # weights w_s ∝ tokens_s^0.5 (flattens domination by huge sources), a
    # 1M-token budget split by largest-remainder rounding (allocations sum
    # exactly to budget), and the per-source sampling rate a corpus build
    # would apply. One groupBy(source) + windows over the handful of source
    # rows — trivially scalable. Weights are rounded to 9 dp BEFORE the
    # floor so the allocation arithmetic operates on identical doubles in
    # both engines (pow is the only libm op involved).
    B = 1_000_000
    docs = _t(spark, sf_dir, "documents").select("source", "text")
    t = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(X.tokens(F.col("text"))).cast("bigint")).alias("n_tokens"),
    )
    w_all = Window.partitionBy()
    pw = F.pow(F.col("n_tokens").cast("double"), F.lit(0.5))
    w = t.withColumn("_pw", pw).withColumn(
        "weight", F.round(F.col("_pw") / F.sum("_pw").over(w_all), 9)
    )
    alloc_floor = F.floor(F.lit(float(B)) * F.col("weight")).cast("bigint")
    rem = F.lit(float(B)) * F.col("weight") - F.floor(
        F.lit(float(B)) * F.col("weight")
    )
    a = w.withColumn("alloc_floor", alloc_floor).withColumn("rem", rem)
    r = a.withColumn(
        "rr", F.row_number().over(Window.orderBy(F.desc("rem"), "source"))
    ).withColumn("leftover", F.lit(B) - F.sum("alloc_floor").over(w_all))
    alloc = F.col("alloc_floor") + F.when(
        F.col("rr") <= F.col("leftover"), F.lit(1)
    ).otherwise(F.lit(0))
    return r.select(
        "source",
        "n_docs",
        "n_tokens",
        "weight",
        alloc.cast("bigint").alias("alloc_tokens"),
        F.round(
            F.least(
                F.lit(1.0), alloc.cast("double") / F.col("n_tokens").cast("double")
            ),
            6,
        ).alias("sampling_rate"),
    ).orderBy("source")


def _bpe_sql(n_merges: int = 6) -> str:
    """Unrolled BPE-merge-induction twin. Iterations run over the compact
    word-frequency table (the way real BPE trainers work: the corpus is
    touched once for word counts; merge learning is vocab-sized), so the
    oracle unrolls them as MATERIALIZED CTEs (DuckDB would otherwise inline
    the multiply-referenced chain exponentially — same trap as pagerank)."""
    head = """
WITH wrds AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
        FROM documents)
  WHERE word <> '' GROUP BY word),
r0 AS MATERIALIZED (
  SELECT word, cnt, array_to_string(regexp_extract_all(word, '.'), ' ') AS rep
  FROM wrds)"""
    def merge_expr(k: int, passes: int = 4) -> str:
        # one pass of non-overlapping left-to-right replacement consumes the
        # boundary spaces, so alternating occurrences ('a b a b') need a
        # second look; 4 passes converge for <=16 adjacent repeats (far
        # beyond any real word) and are applied IDENTICALLY in Spark
        e = "rep"
        for _ in range(passes):
            e = (f"trim(replace(' ' || {e} || ' ', "
                 f"' ' || (SELECT pair FROM b{k}) || ' ', "
                 f"' ' || replace((SELECT pair FROM b{k}), ' ', '') || ' '))")
        return e

    its = []
    for k in range(n_merges):
        its.append(f""",
p{k} AS MATERIALIZED (
  SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n FROM (
    SELECT cnt,
           unnest(list_transform(range(1, len(string_split(rep, ' '))),
                    i -> string_split(rep, ' ')[i] || ' '
                         || string_split(rep, ' ')[i + 1])) AS pair
    FROM r{k} WHERE len(string_split(rep, ' ')) >= 2)
  GROUP BY pair),
b{k} AS MATERIALIZED (SELECT pair, n FROM p{k} ORDER BY n DESC, pair LIMIT 1),
r{k + 1} AS MATERIALIZED (
  SELECT word, cnt, {merge_expr(k)} AS rep
  FROM r{k})""")
    finals = "\n  UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS step, split_part(pair, ' ', 1) AS sym_left,"
        f" split_part(pair, ' ', 2) AS sym_right,"
        f" replace(pair, ' ', '') AS merged, n AS pair_count FROM b{k}"
        for k in range(n_merges)
    )
    return head + "".join(its) + f"\nSELECT * FROM (\n  {finals})\nORDER BY step"


# All three BPE consumers (bpe_merge_rules / bpe_vocab / bpe_encode) run
# the IDENTICAL deterministic induction — same corpus pass, same 6 merge
# rounds, same seeds-free argmax tiebreak — so the session shares ONE
# (rules, rep) per n_merges, the _trained_suite / _coarse_model precedent
# (each extra induction cost ~1.2 s of pure recompute per full pass).
# bench.py lists all three consumers in SESSION_CACHED so a warm re-draw
# can't masquerade as induction-free.
def _bpe_learn(spark, sf_dir, n_merges: int = 6):
    """Session-shared BPE induction: returns (rules, final word-rep df).
    First consumer pays the build; later consumers ride the checkpointed
    rep + the cached rules."""
    from ..operators.graph import _ckpt_tracked

    def build():
        rules, rep = _bpe_learn_fresh(spark, sf_dir, n_merges)
        # the loop's intermediate checkpoints are unreferenced after this
        # and freed by the ContextCleaner
        return (*_ckpt_tracked(rep), tuple(rules))

    df, _ids, rules = SC.materialized(
        "bpe_learn", spark, sf_dir, ("documents",), build, params=(n_merges,)
    )
    return list(rules), df


def _bpe_learn_fresh(spark, sf_dir, n_merges: int = 6):
    """One BPE induction: returns (rules, final word-representation df).
    ONE corpus pass builds the word-frequency table (the only corpus-sized
    step — SentencePiece/HF BPE trainers work the same way); merge rounds
    run over the compact vocab. Deterministic end-to-end; the driver sees
    only one (pair, count) row per round."""
    docs = _t(spark, sf_dir, "documents").select("text")
    words = (
        docs.select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rep = words.withColumn(
        "rep", F.array_join(F.split(F.col("word"), ""), " ")
    ).localCheckpoint()
    rules = []
    for k in range(n_merges):
        syms = F.col("_syms")
        n = F.size(syms)
        pair_idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
            F.expr("array()").cast("array<int>")
        )
        pairs = F.transform(
            pair_idx,
            lambda i: F.concat(
                F.element_at(syms, i), F.lit(" "), F.element_at(syms, i + 1)
            ),
        )
        pc = (
            rep.withColumn("_syms", F.split(F.col("rep"), " "))
            .select("cnt", F.explode(pairs).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("cnt").alias("n"))
        )
        top = pc.orderBy(F.desc("n"), "pair").limit(1).collect()
        if not top:  # vocab fully merged — no adjacent pairs left
            break
        best = top[0]
        left, right = best["pair"].split(" ")
        rules.append((k, left, right, left + right, int(best["n"])))
        merged_col = F.col("rep")
        for _ in range(4):  # same 4-pass convergence as the SQL twin
            merged_col = F.trim(
                F.replace(
                    F.concat(F.lit(" "), merged_col, F.lit(" ")),
                    F.lit(f" {best['pair']} "),
                    F.lit(f" {left + right} "),
                )
            )
        rep = rep.withColumn("rep", merged_col).localCheckpoint()
    return rules, rep


@register("bpe_merge_rules_documents", _bpe_sql())
def bpe_merge_rules_documents(spark, sf_dir):
    # Distributed BPE merge induction — see _bpe_learn. Each rule row is
    # (step, pair, merged symbol, weighted pair count).
    rules, _ = _bpe_learn(spark, sf_dir)
    return literal_df(
        spark, rules,
        "step long, sym_left string, sym_right string, merged string, pair_count long",
    ).orderBy("step")


_BPE_VOCAB_SQL = (
    _bpe_sql().rsplit("SELECT * FROM (", 1)[0]
    + """SELECT sym, CAST(SUM(cnt) AS BIGINT) AS n_occurrences
FROM (SELECT cnt, unnest(string_split(rep, ' ')) AS sym FROM r6)
GROUP BY sym ORDER BY n_occurrences DESC, sym LIMIT 30"""
)


@register("bpe_vocab_documents", _BPE_VOCAB_SQL)
def bpe_vocab_documents(spark, sf_dir):
    # The subword vocabulary AFTER the learned merges: symbol frequencies of
    # the final word representations, weighted by word count — the table a
    # tokenizer build would persist next to the merge rules. Shares the
    # induction with bpe_merge_rules_documents; the oracle reuses the same
    # unrolled CTE chain with a different final aggregation.
    _, rep = _bpe_learn(spark, sf_dir)
    return (
        rep.select("cnt", F.explode(F.split(F.col("rep"), " ")).alias("sym"))
        .groupBy("sym")
        .agg(F.sum("cnt").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "sym")
        .limit(30)
    )


# ---------------------------------------------------------------------------
# Training-data ops batch 5: smoothed-LM quality scoring, exact duplicated-
# span detection (Lee et al. 2022 "Deduplicating Training Data Makes
# Language Models Better" — the MapReduce-friendly n-gram formulation, not
# the single-node suffix array), and triangle/clustering structure of the
# near-dup graph.
# ---------------------------------------------------------------------------


@register(
    "bigram_nll_documents",
    f"""
WITH toks AS (
  SELECT doc_id, {_W_SQL} AS w FROM documents
  WHERE length(trim(text)) > 0),
bg AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM toks, (SELECT unnest(generate_series(1, len(w) - 1)) AS i)
  WHERE len(w) >= 2),
pc AS (SELECT w1, w2, COUNT(*) AS n_pair FROM bg GROUP BY 1, 2),
ctx AS (SELECT w1, SUM(n_pair) AS n_ctx FROM pc GROUP BY w1),
v AS (SELECT COUNT(DISTINCT word) AS vsize
      FROM (SELECT unnest(w) AS word FROM toks)),
lp AS (
  SELECT bg.doc_id,
         CAST(ROUND(LN(CAST(n_pair + 1 AS DOUBLE) / CAST(n_ctx + vsize AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS logp
  FROM bg JOIN pc USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN v)
SELECT doc_id, COUNT(*) AS n_bigrams,
       CAST(-SUM(logp) AS DOUBLE) / COUNT(*) AS avg_nll
FROM lp GROUP BY doc_id ORDER BY doc_id
""",
)
def bigram_nll_documents(spark, sf_dir):
    # CCNet-style LM quality score — ordered projection of the session's one
    # materialized per-doc NLL frame (shared with _doc_signals, which was
    # replaying the whole bigram-LM pass a second time; r11 opt).
    return _bigram_nll_frame(spark, sf_dir).orderBy("doc_id")


# bigram_nll_documents and _doc_signals (curriculum + source_quality_profile)
# each ran the full bigram-LM pass (~1.3 s at sf0.1: four corpus subtrees
# feeding the broadcast scoring joins). One materialized (doc_id, n_bigrams,
# avg_nll) frame per session — corpus-cardinality, 3 columns;
# bigram_nll_documents joins SESSION_CACHED in bench.py.
def _bigram_nll_frame(spark, sf_dir):
    return SC.materialized(
        "bigram_nll", spark, sf_dir, ("documents",),
        _checkpointed(lambda: _bigram_nll_plan(spark, sf_dir)),
    )[0]


def _bigram_nll_plan(spark, sf_dir):
    # Per-bigram logs are rounded to 6dp and
    # summed as exact decimals so the per-doc mean is order-independent and
    # engine-portable (libm vs JVM log last-ulp). Scale: bigram counts and
    # context totals are corpus-bounded aggregates (map-side combine); the
    # scoring join shuffles the token stream once on (w1, w2).
    d = _t(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    toks = d.select("doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("w"))
    bg = (
        toks.where(F.size("w") >= 2)
        .select("doc_id", F.explode(F.expr(_BG_STRUCT_EXPR)).alias("b"))
        .select("doc_id", "b.w1", "b.w2")
    )
    pc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    ctx = pc.groupBy("w1").agg(F.sum("n_pair").alias("n_ctx"))
    v = toks.select(F.explode("w").alias("word")).agg(
        F.countDistinct("word").alias("vsize")
    )
    logp = F.round(
        F.log(
            (F.col("n_pair") + 1).cast("double")
            / (F.col("n_ctx") + F.col("vsize")).cast("double")
        ),
        6,
    ).cast("decimal(18,6)")
    scored = (
        bg.join(pc, ["w1", "w2"])
        .join(ctx, "w1")
        .crossJoin(F.broadcast(v))
        .withColumn("logp", logp)
    )
    # unordered: the registered query applies its orderBy over the
    # materialized frame; _doc_signals joins it unordered anyway
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        ((F.sum("logp").cast("double") * -1) / F.count(F.lit(1))).alias("avg_nll"),
    )


@register(
    "dup_span_stats_documents",
    f"""
WITH t AS (
  SELECT doc_id, {_W_SQL} AS w FROM documents
  WHERE length(trim(text)) > 0),
g AS (
  SELECT doc_id, i AS pos, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS gram
  FROM t, (SELECT unnest(generate_series(1, len(w) - 2)) AS i)
  WHERE len(w) >= 3),
dup AS (
  SELECT gram FROM (SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY gram)
  WHERE nd >= 2),
hits AS (SELECT doc_id, pos, pos + 2 AS endp FROM g JOIN dup USING (gram)),
ord_h AS (
  SELECT doc_id, pos, endp,
         MAX(endp) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM hits),
isl AS (
  SELECT doc_id, pos, endp,
         SUM(CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM ord_h),
spans AS (
  SELECT doc_id, island, MIN(pos) AS s, MAX(endp) AS e
  FROM isl GROUP BY doc_id, island),
agg AS (
  SELECT doc_id, COUNT(*) AS n_dup_spans, SUM(e - s + 1) AS dup_tokens
  FROM spans GROUP BY doc_id)
SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(COALESCE(n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(COALESCE(dup_tokens, 0) AS BIGINT) AS dup_tokens,
       ROUND(CAST(COALESCE(dup_tokens, 0) AS DOUBLE) / len(w), 6) AS dup_frac
FROM t LEFT JOIN agg USING (doc_id) ORDER BY t.doc_id
""",
)
def dup_span_stats_documents(spark, sf_dir):
    # Exact duplicated-substring spans (Lee et al. 2022): token 3-grams that
    # occur in >=2 distinct documents mark duplicated positions; overlapping
    # marked spans merge (gaps-and-islands window) and each doc reports its
    # duplicated-token fraction — the column EXACTSUBSTR-style dedup trims
    # on. See operators/text.py:dup_span_stats for the 100 TB argument.
    return X.dup_span_stats(_t(spark, sf_dir, "documents"), k=3).orderBy("doc_id")


# Six consumers (triangle_stats, kcore, split_leakage, edit_distance_pairs,
# incremental_dedup, minhash_est_error) all start from the SAME MinHash-LSH
# candidate set and were each recomputing the full signature+banding
# pipeline (~1.3-1.5 s of identical work per query at sf0.1). Materialize it
# once per session, as _neardup_cc/_shingle_pairs do; all six consumers are
# in bench SESSION_CACHED so warm re-draws can't fake the build away. The
# registered minhash_lsh_candidates_documents query itself stays
# fresh-computing: it is in the bench HEADLINE set, where a session-warm
# frame would hollow out its best-of-3 draws.
def _lsh_candidates(spark, sf_dir):
    """The full registered candidate output (id_a, id_b, est_jaccard),
    session-materialized; minhash_est_error consumes the estimate column."""
    return SC.materialized(
        "lsh_candidates", spark, sf_dir, ("documents",),
        _checkpointed(
            lambda: REGISTRY["minhash_lsh_candidates_documents"].spark(spark, sf_dir)
        ),
    )[0]


def _lsh_edges(spark, sf_dir):
    return _lsh_candidates(spark, sf_dir).select("id_a", "id_b")


@register(
    "triangle_stats_documents",
    "WITH pairs AS (SELECT id_a, id_b FROM ("
    + REGISTRY["minhash_lsh_candidates_documents"].sql
    + """))
,
deg AS (
  SELECT id, COUNT(*) AS degree
  FROM (SELECT id_a AS id FROM pairs UNION ALL SELECT id_b AS id FROM pairs)
  GROUP BY id),
tri AS (
  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.id_a = e1.id_b
  JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
tcnt AS (
  SELECT id, COUNT(*) AS n_tri
  FROM (SELECT a AS id FROM tri UNION ALL SELECT b AS id FROM tri
        UNION ALL SELECT c AS id FROM tri)
  GROUP BY id)
SELECT d.id AS doc_id, CAST(degree AS BIGINT) AS degree,
       CAST(COALESCE(n_tri, 0) AS BIGINT) AS n_triangles,
       ROUND(CASE WHEN degree >= 2
                  THEN 2.0 * COALESCE(n_tri, 0) / (degree * (degree - 1.0))
                  ELSE 0.0 END, 6) AS clustering_coeff
FROM deg d LEFT JOIN tcnt ON d.id = tcnt.id
ORDER BY doc_id
""",
)
def triangle_stats_documents(spark, sf_dir):
    # Triangle count + local clustering coefficient per node of the
    # MinHash-LSH candidate graph — the linear-at-scale near-dup edge set
    # (banded equi-join candidates, never all-pairs): distinguishes tight
    # duplicate cliques (coefficient ~1 — templated boilerplate families)
    # from hub-and-spoke near-dup chains that connected components alone
    # cannot tell apart. Ordered-edge
    # triple join (a<b<c) counts each triangle once; degree and
    # participation come from linear re-aggregations of the edge/triangle
    # lists. Scale: joins key on vertex ids — the standard distributed
    # triangle enumeration (no broadcast of the full edge set needed).
    from ..operators.graph import triangle_stats

    edges = _lsh_edges(spark, sf_dir)
    return (
        triangle_stats(edges)
        .withColumnRenamed("node", "doc_id")
        .orderBy("doc_id")
    )


_QR_STOP_WORDS = ("the", "a", "and", "of", "to", "in", "is")
_QR_STOPS = ", ".join(f"'{w}'" for w in _QR_STOP_WORDS)


@register(
    "quality_rules_documents",
    f"""
WITH t AS (
  SELECT doc_id, text, {_W_SQL} AS w,
         string_split(text, chr(10)) AS lines
  FROM documents WHERE length(trim(text)) > 0),
m AS (
  SELECT doc_id,
         len(w) AS n_words,
         CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE) / len(w) AS mean_word_len,
         CAST(len(text) - len(replace(text, '#', ''))
              + (len(text) - len(replace(text, '...', ''))) / 3 AS DOUBLE)
           / len(w) AS symbol_ratio,
         CAST(len(list_filter(lines, l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•')))
              AS DOUBLE) / len(lines) AS bullet_frac,
         len(list_intersect(list_distinct(w), [{_QR_STOPS}])) AS n_stops
  FROM t)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       ROUND(mean_word_len, 6) AS mean_word_len,
       CAST(n_words BETWEEN 20 AND 80 AS INT) AS r_word_count,
       CAST(mean_word_len BETWEEN 3 AND 10 AS INT) AS r_mean_word_len,
       CAST(symbol_ratio <= 0.1 AS INT) AS r_symbol_ratio,
       CAST(bullet_frac <= 0.9 AS INT) AS r_bullet_lines,
       CAST(n_stops >= 2 AS INT) AS r_stopwords,
       CAST((n_words BETWEEN 20 AND 80) AND (mean_word_len BETWEEN 3 AND 10)
            AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND n_stops >= 2
            AS INT) AS keep
FROM m ORDER BY doc_id
""",
)
def quality_rules_documents(spark, sf_dir):
    # Gopher-style rule-based quality filter (Rae et al. 2021, §A1.1 —
    # thresholds adapted to this corpus's scale): word-count bounds, mean
    # word length, symbol-to-word ratio (#/ellipsis), bullet-line fraction,
    # distinct-stopword floor, and the conjunctive keep flag. Every signal
    # is a scalar array/string expression — zero shuffle, zero explode, one
    # codegen'd scan; at 100 TB this is the cheapest pre-filter stage and
    # composes with training_corpus_manifest's per-reason audit columns.
    d = _t(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    t = d.select(
        "doc_id",
        "text",
        F.split(F.trim(F.lower("text")), r"\s+").alias("w"),
        F.split("text", "\n").alias("lines"),
    )
    n_words = F.size("w")
    mean_wl = (
        F.aggregate(
            F.transform("w", lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
        ).cast("double")
        / n_words
    )
    n_hash = F.length("text") - F.length(F.replace("text", F.lit("#"), F.lit("")))
    n_ell = (
        F.length("text") - F.length(F.replace("text", F.lit("..."), F.lit("")))
    ) / 3
    symbol_ratio = (n_hash + n_ell).cast("double") / n_words
    bullet_frac = (
        F.size(
            F.filter(
                "lines",
                lambda l: F.substring(F.ltrim(l), 1, 1).isin("-", "*", "•"),
            )
        ).cast("double")
        / F.size("lines")
    )
    n_stops = F.size(
        F.array_intersect(
            F.array_distinct("w"),
            F.array(*[F.lit(s) for s in _QR_STOP_WORDS]),
        )
    )
    m = t.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_frac"),
        n_stops.alias("n_stops"),
    )
    r_wc = m.n_words.between(20, 80)
    r_mwl = m.mean_word_len.between(3, 10)
    r_sym = m.symbol_ratio <= 0.1
    r_bul = m.bullet_frac <= 0.9
    r_stp = m.n_stops >= 2
    return m.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.round("mean_word_len", 6).alias("mean_word_len"),
        r_wc.cast("int").alias("r_word_count"),
        r_mwl.cast("int").alias("r_mean_word_len"),
        r_sym.cast("int").alias("r_symbol_ratio"),
        r_bul.cast("int").alias("r_bullet_lines"),
        r_stp.cast("int").alias("r_stopwords"),
        (r_wc & r_mwl & r_sym & r_bul & r_stp).cast("int").alias("keep"),
    ).orderBy("doc_id")


# Single source of truth for the kcore_documents peel budget: the oracle
# unrolls exactly this many rounds and the Spark side passes it as
# max_rounds — bumping one without the other would make Spark raise (or the
# oracle emit a half-peeled core) on deeper-peel graphs.
_KCORE_ROUNDS = 16


def _kcore_sql(k: int = 2, rounds: int = _KCORE_ROUNDS) -> str:
    # Unrolled peel rounds — same trick as the pagerank oracle: a fixed
    # round count R >= the graph's peel depth makes the iterative algorithm
    # engine-portable (rounds past the fixpoint are no-ops). The Spark side
    # converges early and RAISES if it would need more than R rounds, so
    # the two can never silently diverge.
    # AS MATERIALIZED: each round references the previous round's edge set
    # three times; DuckDB would otherwise inline the CTEs and the plan (and
    # its parquet scans) grows 3^rounds
    parts = [
        "WITH pairs AS MATERIALIZED (SELECT id_a, id_b FROM ("
        + REGISTRY["minhash_lsh_candidates_documents"].sql
        + ")),\ne0 AS MATERIALIZED (SELECT id_a, id_b FROM pairs)"
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
d{r} AS MATERIALIZED (SELECT id, COUNT(*) AS deg
         FROM (SELECT id_a AS id FROM e{r - 1}
               UNION ALL SELECT id_b AS id FROM e{r - 1}) GROUP BY id),
n{r} AS MATERIALIZED (SELECT id FROM d{r} WHERE deg >= {k}),
e{r} AS MATERIALIZED (SELECT e.id_a, e.id_b FROM e{r - 1} e
         JOIN n{r} a ON e.id_a = a.id JOIN n{r} b ON e.id_b = b.id)"""
        )
    parts.append(
        f"""
SELECT id AS doc_id, CAST(deg AS BIGINT) AS core_degree
FROM (SELECT id, COUNT(*) AS deg
      FROM (SELECT id_a AS id FROM e{rounds}
            UNION ALL SELECT id_b AS id FROM e{rounds}) GROUP BY id)
ORDER BY doc_id"""
    )
    return "".join(parts)


@register("kcore_documents", _kcore_sql())
def kcore_documents(spark, sf_dir):
    # 2-core of the MinHash-LSH candidate near-dup graph: nodes that
    # survive iterative degree-<2 peeling — the "dense duplication
    # structure" census that separates genuine boilerplate families (cores)
    # from incidental pairwise matches (peeled chains/leaves). Same BSP
    # peel as operators/graph.k_core; oracle unrolls _KCORE_ROUNDS rounds.
    from ..operators.graph import k_core

    edges = _lsh_edges(spark, sf_dir)
    return (
        k_core(edges, k=2, max_rounds=_KCORE_ROUNDS)
        .withColumnRenamed("node", "doc_id")
        .orderBy("doc_id")
    )


_BPE_ENCODE_SQL = (
    _bpe_sql().rsplit("SELECT * FROM (", 1)[0]
    + """SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(len(string_split(r.rep, ' '))) AS BIGINT) AS n_subwords,
       ROUND(CAST(SUM(len(string_split(r.rep, ' '))) AS DOUBLE) / COUNT(*), 6)
         AS subwords_per_word
FROM (SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
      FROM documents WHERE length(trim(text)) > 0) d
JOIN r6 r ON d.word = r.word
WHERE d.word <> ''
GROUP BY d.doc_id ORDER BY d.doc_id"""
)


@register("bpe_encode_documents", _BPE_ENCODE_SQL)
def bpe_encode_documents(spark, sf_dir):
    # Tokenizer APPLICATION: encode every document with the learned BPE
    # merges and report the real subword token budget (the number an LLM
    # data pipeline actually bills by, vs the whitespace/regex estimates in
    # token_stats). The corpus is touched once for the word stream; the
    # word -> subword-count table is vocab-sized and BROADCAST, so encoding
    # is a map-side join — the same shape HF tokenizers use (pre-tokenize,
    # look up merges per distinct word, never re-learn per token).
    _, rep = _bpe_learn(spark, sf_dir)
    vocab = rep.select("word", F.size(F.split("rep", " ")).alias("n_sub"))
    d = (
        _t(spark, sf_dir, "documents")
        .where(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("word"),
        )
        .where(F.col("word") != "")
    )
    return (
        d.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_subwords"),
            F.round(
                F.sum("n_sub").cast("double") / F.count(F.lit(1)), 6
            ).alias("subwords_per_word"),
        )
        .orderBy("doc_id")
    )


# Johnson-Lindenstrauss sign projection: the data-INDEPENDENT dimensionality
# reduction (vs PCA's data-dependent one). Signs are md5-derived on the
# driver and embedded as literals — row-independent values must never be
# recomputed per row (see verify skill notes); the projection is a fixed
# +/- chain evaluated in identical left-to-right order in both engines, so
# doubles are bit-identical with no decimal machinery.
_JL_K, _JL_D = 8, 64


def _jl_sign(j: int, i: int) -> int:
    import hashlib as _hl

    h = int(_hl.md5(f"jl:{j}:{i}".encode()).hexdigest()[:8], 16)
    return 1 if h % 2 == 0 else -1


_JL_SCALE = "2.8284271247461903"  # sqrt(k) = sqrt(8)


def _jl_chain(j: int, idx_base: int) -> str:
    # idx_base: 0 for Spark arrays, 1 for DuckDB lists
    terms = "".join(
        f" {'+' if _jl_sign(j, i) > 0 else '-'} CAST(embedding[{i + idx_base}] AS DOUBLE)"
        for i in range(_JL_D)
    )
    return f"(0.0{terms}) / {_JL_SCALE}"


@register(
    "jl_projection_embeddings",
    "SELECT vec_id, "
    + ", ".join(f"{_jl_chain(j, 1)} AS proj_{j}" for j in range(_JL_K))
    + " FROM embeddings ORDER BY vec_id",
)
def jl_projection_embeddings(spark, sf_dir):
    # 64-dim float embeddings down to 8 JL coordinates: a zero-shuffle,
    # zero-training, whole-stage-codegen scan (each output is a literal
    # +/- fold of the input floats). At 100 TB this is the cheap first-pass
    # compaction before LSH/IVF indexing — distance distortion is bounded
    # by the JL lemma and measured in tests.
    e = _t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        *[F.expr(_jl_chain(j, 0)).alias(f"proj_{j}") for j in range(_JL_K)],
    ).orderBy("vec_id")


_BLOOM_M = 16384  # bits; ~4.7 bits/element at sf0.01 eval-gram counts
_BLOOM_J = 3  # hash functions


def _bloom_bucket_sql(i: int, col: str = "gram") -> str:
    return f"((('0x' || substr(md5('b{i}:' || {col}), 1, 15))::BIGINT) % {_BLOOM_M})"


def _bloom_bucket_spark(i: int, col):
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"b{i}:"), col)), 1, 15), 16, 10
        ).cast("bigint")
        % _BLOOM_M
    )


@register(
    "bloom_decontaminate_documents",
    f"""
WITH toks AS (SELECT doc_id, source, {_W_SQL} AS w FROM documents),
ng AS (SELECT doc_id, source, unnest(list_distinct({_grams_sql(3)})) AS gram
       FROM toks WHERE len(w) >= 3),
evalg AS (SELECT DISTINCT gram FROM ng WHERE source = 'src0'),
bits AS (SELECT DISTINCT b FROM (
  {' UNION ALL '.join(f'SELECT {_bloom_bucket_sql(i)} AS b FROM evalg' for i in range(_BLOOM_J))})),
traing AS (SELECT DISTINCT gram FROM ng WHERE source <> 'src0'),
probe AS (
  SELECT gram,
         CASE WHEN {' AND '.join(f'{_bloom_bucket_sql(i)} IN (SELECT b FROM bits)' for i in range(_BLOOM_J))}
              THEN 1 ELSE 0 END AS bloom_hit,
         CASE WHEN gram IN (SELECT gram FROM evalg) THEN 1 ELSE 0 END AS exact_hit
  FROM traing)
SELECT t.doc_id,
       CAST(SUM(p.bloom_hit) AS BIGINT) AS n_bloom_grams,
       CAST(SUM(p.exact_hit) AS BIGINT) AS n_exact_grams,
       CAST(SUM(p.bloom_hit) - SUM(p.exact_hit) AS BIGINT) AS n_false_positives
FROM (SELECT DISTINCT doc_id, gram FROM ng WHERE source <> 'src0') t
JOIN probe p USING (gram)
GROUP BY t.doc_id
HAVING SUM(p.bloom_hit) > 0
ORDER BY n_bloom_grams DESC, doc_id LIMIT 50
""",
)
def bloom_decontaminate_documents(spark, sf_dir):
    # Sketch-path decontamination: instead of broadcasting the full eval
    # 3-gram set (decontaminate_3gram_documents — exact but the broadcast
    # grows with the benchmark), broadcast a Bloom BITSET of it. The filter
    # is built from md5-derived buckets (engine-portable — the exact same
    # bitset, probes, and false positives reproduce in DuckDB, so even the
    # FP behavior is oracled; Spark's native bloom_filter_agg/might_contain
    # pair is not SQL-exposed and not portable). Bloom guarantees no false
    # negatives: n_bloom >= n_exact per doc, asserted in tests; the FP
    # surplus is the price of the O(m)-bit broadcast. At 100 TB: probe side
    # is distinct train grams (map-side explode + one distinct), each probed
    # by a broadcast join on bucket ids — the train corpus never shuffles
    # on gram content.
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    w = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    ng = (
        d.withColumn("w", w)
        .where(F.size("w") >= 3)
        .select(
            "doc_id",
            "source",
            F.explode(F.array_distinct(_grams_spark(F.col("w"), 3))).alias("gram"),
        )
    )
    evalg = ng.where(F.col("source") == "src0").select("gram").distinct()
    bits = (
        evalg.select(
            F.explode(
                F.array(*[_bloom_bucket_spark(i, F.col("gram")) for i in range(_BLOOM_J)])
            ).alias("b")
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    traing = ng.where(F.col("source") != "src0").select("gram").distinct()
    probed = (
        traing.select(
            "gram",
            F.posexplode(
                F.array(*[_bloom_bucket_spark(i, F.col("gram")) for i in range(_BLOOM_J)])
            ).alias("i", "b"),
        )
        .join(F.broadcast(bits), "b", "left")
        .groupBy("gram")
        .agg((F.sum(F.coalesce("hit", F.lit(0))) == _BLOOM_J).cast("int").alias("bloom_hit"))
    )
    exact = evalg.withColumn("exact_hit", F.lit(1))
    gram_flags = probed.join(F.broadcast(exact), "gram", "left").select(
        "gram",
        "bloom_hit",
        F.coalesce("exact_hit", F.lit(0)).alias("exact_hit"),
    )
    train_pairs = ng.where(F.col("source") != "src0").select("doc_id", "gram").distinct()
    return (
        train_pairs.join(gram_flags, "gram")
        .groupBy("doc_id")
        .agg(
            F.sum("bloom_hit").cast("long").alias("n_bloom_grams"),
            F.sum("exact_hit").cast("long").alias("n_exact_grams"),
            (F.sum("bloom_hit") - F.sum("exact_hit")).cast("long").alias("n_false_positives"),
        )
        .where(F.col("n_bloom_grams") > 0)
        .orderBy(F.desc("n_bloom_grams"), "doc_id")
        .limit(50)
    )


@register(
    "hard_negatives_embeddings",
    f"""
WITH pairs AS (SELECT a.vec_id AS vid, a.label AS lab,
                      b.vec_id AS nid, b.label AS nlab,
                      a.embedding AS va, b.embedding AS vb
               FROM embeddings a, embeddings b
               WHERE a.label != b.label),
dots AS (
  SELECT vid, lab, nid, nlab,
         {_DOT_SQL.format(a='va', b='vb')} AS dot,
         {_DOT_SQL.format(a='va', b='va')} AS na,
         {_DOT_SQL.format(a='vb', b='vb')} AS nb
  FROM pairs, range(1, 65) i(i) GROUP BY 1, 2, 3, 4),
scored AS (SELECT vid, lab, nid, nlab,
                  dot / (sqrt(na) * sqrt(nb)) AS cosine_sim FROM dots),
ranked AS (SELECT *, row_number() OVER (PARTITION BY vid
                                        ORDER BY cosine_sim DESC, nid) AS rn
           FROM scored)
SELECT vid AS vec_id, lab AS label, nid AS hard_negative_id,
       nlab AS negative_label, ROUND(cosine_sim, 6) + 0.0 AS cosine_sim
FROM ranked WHERE rn = 1 ORDER BY vec_id
""",
)
def hard_negatives_embeddings(spark, sf_dir):
    # Hard-negative mining (contrastive-training batch construction): each
    # vector's most-similar DIFFERENT-label neighbor, exact-decimal argmax
    # — see operators/similarity.hard_negatives for the two-phase design.
    # block_rows=256: the driver's sf0.01 run checks the multi-block grid.
    # n_rows from the parquet footer: sizes the grid without a count() job.
    return S.hard_negatives(
        _t(spark, sf_dir, "embeddings"), block_rows=256,
        n_rows=parquet_row_count(sf_dir, "embeddings"),
    ).orderBy("vec_id")


@register(
    "split_leakage_documents",
    "WITH cand AS (SELECT id_a, id_b FROM ("
    + REGISTRY["minhash_lsh_candidates_documents"].sql
    + f""")),
s AS (SELECT doc_id, {_SPLIT_CASE_SQL} AS split FROM documents)
SELECT c.id_a, c.id_b, sa.split AS split_a, sb.split AS split_b
FROM cand c
JOIN s sa ON c.id_a = sa.doc_id
JOIN s sb ON c.id_b = sb.doc_id
WHERE sa.split <> sb.split
ORDER BY id_a, id_b
""",
)
def split_leakage_documents(spark, sf_dir):
    # Split-leakage audit: near-duplicate candidate pairs (MinHash-LSH,
    # the linear edge set) that CROSS train/val/test boundaries of the
    # deterministic hash split — the contamination a random split silently
    # admits and an eval-integrity review must surface. Split assignment is
    # a pure map (md5 bucket, no shuffle); candidates join to it on doc_id.
    cand = _lsh_edges(spark, sf_dir)
    s = _t(spark, sf_dir, "documents").select(
        "doc_id", _split_col().alias("split")
    )
    sa = s.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))
    sb = s.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .where(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b")
        .orderBy("id_a", "id_b")
    )





@register(
    "multimodal_resize_images",
    """
SELECT doc_id, 'image' AS kind,
       CAST(224 AS INT) AS width, CAST(224 AS INT) AS height,
       md5(text) AS payload_md5
FROM documents WHERE doc_id % 3 = 0
ORDER BY doc_id
""",
)
def multimodal_resize_images(spark, sf_dir):
    # Resize plumbing surfaced as a driver-checked query: filter to the
    # image modality, rewrite the metadata struct through the mapInPandas
    # batch path (operators/multimodal.resize_images), and project an
    # md5 of the payload so the untouched bytes are hash-verified without
    # emitting raw binary. The pixel transform itself is the documented
    # decode stub (no media libs in this container); the distributed
    # shape — modality filter pushed to the scan, Arrow batches, struct
    # rewrite — is the real thing.
    media = MM.synth_media_table(spark, sf_dir)
    out = MM.resize_images(media, width=224, height=224)
    return out.select(
        "doc_id",
        F.col("meta.kind").alias("kind"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.md5("payload").alias("payload_md5"),
    ).orderBy("doc_id")


@register(
    "winsorize_value_events",
    ev_sql("""
WITH cuts AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type, e.value,
       CASE WHEN e.value < c.lo THEN c.lo
            WHEN e.value > c.hi THEN c.hi
            ELSE e.value END AS value_winsorized,
       CAST(e.value < c.lo OR e.value > c.hi AS INT) AS clipped
FROM events e JOIN cuts c USING (event_type)
ORDER BY event_id
"""),
)
def winsorize_value_events(spark, sf_dir):
    # Winsorization: clip each value to its group's exact [p05, p95] —
    # the outlier-robust normalization between raw clipping and the
    # rank-destroying min-max scale. One grouped percentile pass (Spark
    # percentile() and DuckDB quantile_cont interpolate identically, no
    # rounding shim needed) broadcast back onto the fact — the fact table
    # itself never shuffles.
    ev = _t(spark, sf_dir, "events")
    cuts = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"),
    )
    j = ev.join(F.broadcast(cuts), "event_type")
    wins = (
        F.when(F.col("value") < F.col("lo"), F.col("lo"))
        .when(F.col("value") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("value"))
    )
    return j.select(
        "event_id",
        "event_type",
        "value",
        wins.alias("value_winsorized"),
        ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")))
        .cast("int")
        .alias("clipped"),
    ).orderBy("event_id")


# The doc-level curation signal triple (quality keep, bigram NLL, dup-span
# fraction) joined on doc_id — materialized once per session and shared
# by curriculum_documents and source_quality_profile_documents, each of
# which would otherwise replay all three signal plans (the bigram LM alone
# is a corpus pass + a (w1,w2) shuffle). Narrow frame: 4 columns at corpus
# cardinality.


def _doc_signals(spark, sf_dir):
    def plan():
        qr = REGISTRY["quality_rules_documents"].spark(spark, sf_dir).select(
            "doc_id", "keep"
        )
        nll = _bigram_nll_frame(spark, sf_dir).select("doc_id", "avg_nll")
        ds = REGISTRY["dup_span_stats_documents"].spark(spark, sf_dir).select(
            "doc_id", "dup_frac"
        )
        return qr.join(nll, "doc_id").join(ds, "doc_id")

    return SC.materialized(
        "doc_signals", spark, sf_dir, ("documents",), _checkpointed(plan)
    )[0]



@register(
    "curriculum_documents",
    "WITH qr AS (SELECT doc_id, keep FROM ("
    + REGISTRY["quality_rules_documents"].sql
    + ")),\nnll AS (SELECT doc_id, avg_nll FROM ("
    + REGISTRY["bigram_nll_documents"].sql
    + ")),\nds AS (SELECT doc_id, dup_frac FROM ("
    + REGISTRY["dup_span_stats_documents"].sql
    + """)),
j AS (
  SELECT qr.doc_id, nll.avg_nll, ds.dup_frac
  FROM qr JOIN nll USING (doc_id) JOIN ds USING (doc_id)
  WHERE qr.keep = 1),
r AS (
  SELECT doc_id, avg_nll, dup_frac,
         row_number() OVER (ORDER BY dup_frac, avg_nll, doc_id) AS rank,
         ntile(3) OVER (ORDER BY dup_frac, avg_nll, doc_id) AS phase
  FROM j)
SELECT doc_id, dup_frac, avg_nll,
       CAST(rank AS BIGINT) AS rank, CAST(phase AS INT) AS phase
FROM r ORDER BY rank
""",
)
def curriculum_documents(spark, sf_dir):
    # Training-curriculum composition: quality-gated docs (Gopher rules)
    # ordered cleanest-and-most-fluent-first (ascending duplicated-span
    # fraction, then ascending bigram NLL) and ntile'd into three epoch
    # phases — the deterministic data ordering a curriculum-learning run
    # consumes. Reads the session's one materialized doc-signal triple
    # (quality keep + bigram NLL + dup-span fraction — _doc_signals).
    # The global ordering ranks only the filtered doc-level signal frame
    # (corpus-cardinality rows of 3 doubles), not corpus bytes.
    j = (
        _doc_signals(spark, sf_dir)
        .where(F.col("keep") == 1)
        .select("doc_id", "avg_nll", "dup_frac")
    )
    w = Window.orderBy("dup_frac", "avg_nll", "doc_id")
    return (
        j.withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn("phase", F.ntile(3).over(w).cast("int"))
        .select("doc_id", "dup_frac", "avg_nll", "rank", "phase")
        .orderBy("rank")
    )





@register(
    "prompt_completion_documents",
    f"""
WITH t AS (
  SELECT doc_id, {_W_SQL} AS w FROM documents WHERE length(trim(text)) > 0),
s AS (
  SELECT doc_id, w, CAST(floor(len(w) * 0.6) AS BIGINT) AS cut
  FROM t WHERE len(w) >= 5)
SELECT doc_id,
       '### User:' || chr(10) || array_to_string(w[1:cut], ' ')
         || chr(10) || '### Assistant:' || chr(10) AS prompt,
       array_to_string(w[cut + 1:len(w)], ' ') AS completion,
       cut AS n_prompt_tokens,
       CAST(len(w) - cut AS BIGINT) AS n_completion_tokens
FROM s ORDER BY doc_id
""",
)
def prompt_completion_documents(spark, sf_dir):
    # Self-supervised prompt/completion pair construction: split each doc at
    # 60% of its tokens, render the prompt side through a chat template —
    # the SFT-style pair a causal-LM data pipeline emits. Pure array
    # slicing + string concat: zero shuffle, one codegen'd scan. (DuckDB
    # list slices are 1-based inclusive; Spark's slice(start, length) is
    # mirrored accordingly.)
    d = _t(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    t = d.select("doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("w"))
    s = t.where(F.size("w") >= 5).withColumn(
        "cut", F.floor(F.size("w") * 0.6).cast("long")
    )
    prompt = F.concat(
        F.lit("### User:\n"),
        F.concat_ws(" ", F.slice("w", 1, F.col("cut").cast("int"))),
        F.lit("\n### Assistant:\n"),
    )
    completion = F.concat_ws(
        " ", F.expr("slice(w, cut + 1, size(w) - cut)")
    )
    return s.select(
        "doc_id",
        prompt.alias("prompt"),
        completion.alias("completion"),
        F.col("cut").alias("n_prompt_tokens"),
        (F.size("w") - F.col("cut")).cast("long").alias("n_completion_tokens"),
    ).orderBy("doc_id")


@register(
    "length_bucket_stats_documents",
    f"""
WITH t AS (
  SELECT doc_id, len({_W_SQL}) AS n_tokens
  FROM documents WHERE length(trim(text)) > 0),
b AS (
  SELECT doc_id, n_tokens,
         CAST(power(2, ceil(log2(greatest(n_tokens, 1)))) AS BIGINT) AS bucket
  FROM t)
SELECT bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS real_tokens,
       CAST(SUM(bucket - n_tokens) AS BIGINT) AS padding_tokens,
       ROUND(CAST(SUM(bucket - n_tokens) AS DOUBLE)
             / CAST(SUM(bucket) AS DOUBLE), 6) AS padding_waste
FROM b GROUP BY bucket ORDER BY bucket
""",
)
def length_bucket_stats_documents(spark, sf_dir):
    # Length-bucketed batching census: docs grouped into power-of-two token
    # buckets with the padding waste each bucket pays if batches pad to the
    # bucket size — the number that justifies (or kills) a bucketing
    # strategy before a training run. One scalar pass + a bucket-cardinality
    # groupBy; integer arithmetic throughout, so no float shims needed
    # beyond the final waste ratio.
    d = _t(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    t = d.select(
        "doc_id", F.size(F.split(F.trim(F.lower("text")), r"\s+")).alias("n_tokens")
    )
    b = t.withColumn(
        "bucket",
        F.pow(F.lit(2.0), F.ceil(F.log2(F.greatest("n_tokens", F.lit(1)))))
        .cast("long"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("real_tokens"),
            F.sum(F.col("bucket") - F.col("n_tokens")).cast("long").alias("padding_tokens"),
            F.round(
                F.sum(F.col("bucket") - F.col("n_tokens")).cast("double")
                / F.sum("bucket").cast("double"),
                6,
            ).alias("padding_waste"),
        )
        .orderBy("bucket")
    )


_PROFILE_COLS = [
    ("o_orderkey", True),
    ("o_custkey", True),
    ("o_orderstatus", False),
    ("o_totalprice", True),
    ("o_orderdate", False),
    ("o_orderpriority", False),
]


@register(
    "table_profile_orders",
    "SELECT * FROM ("
    + "\nUNION ALL ".join(
        f"""SELECT '{c}' AS column_name,
       CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       {f'CAST(MIN({c}) AS DOUBLE)' if num else 'CAST(NULL AS DOUBLE)'} AS min_value,
       {f'CAST(MAX({c}) AS DOUBLE)' if num else 'CAST(NULL AS DOUBLE)'} AS max_value
FROM orders"""
        for c, num in _PROFILE_COLS
    )
    + ") ORDER BY column_name",
)
def table_profile_orders(spark, sf_dir):
    # The ANALYZE-TABLE statistics pass: per-column null count, exact NDV,
    # and numeric min/max — what a cost-based optimizer (and a data-quality
    # dashboard) feeds on. Spark computes ALL columns in ONE aggregation
    # over one scan (count/countDistinct/min/max per column in a single
    # agg), then unpivots the 1-row result driver-side — the oracle's
    # per-column UNION ALL is the semantic spec, not the plan. At 100 TB
    # swap exact NDV for approx_count_distinct (documented sketch path).
    o = _t(spark, sf_dir, "orders")
    aggs = []
    for c, num in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).cast("long").alias(f"{c}__nulls"),
            F.countDistinct(c).cast("long").alias(f"{c}__ndv"),
        ]
        if num:
            aggs += [
                F.min(c).cast("double").alias(f"{c}__min"),
                F.max(c).cast("double").alias(f"{c}__max"),
            ]
    row = o.agg(*aggs)
    stack_parts = ", ".join(
        f"'{c}', {c}__nulls, {c}__ndv, "
        + (f"{c}__min, {c}__max" if num else "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)")
        for c, num in _PROFILE_COLS
    )
    return (
        row.selectExpr(
            f"stack({len(_PROFILE_COLS)}, {stack_parts}) AS "
            "(column_name, n_nulls, n_distinct, min_value, max_value)"
        )
        .orderBy("column_name")
    )


@register(
    "heldout_lm_score_documents",
    f"""
WITH toks AS (
  SELECT doc_id, {_SPLIT_CASE_SQL} AS split, {_W_SQL} AS w
  FROM documents WHERE length(trim(text)) > 0),
trn AS (SELECT w FROM toks WHERE split = 'train'),
tw AS (SELECT unnest(w) AS word FROM trn),
uni AS (SELECT word, COUNT(*) AS n_word FROM tw GROUP BY word),
tot AS (SELECT SUM(n_word) AS n_total, COUNT(*) AS vsize FROM uni),
tbg AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM trn, (SELECT unnest(generate_series(1, len(w) - 1)) AS i)
  WHERE len(w) >= 2),
pc AS (SELECT w1, w2, COUNT(*) AS n_pair FROM tbg GROUP BY 1, 2),
ctx AS (SELECT w1, SUM(n_pair) AS n_ctx FROM pc GROUP BY w1),
hbg AS (
  SELECT doc_id, split, w[i] AS w1, w[i + 1] AS w2
  FROM toks, (SELECT unnest(generate_series(1, len(w) - 1)) AS i)
  WHERE len(w) >= 2 AND split <> 'train'),
lp AS (
  SELECT h.doc_id, h.split,
         CASE WHEN pc.n_pair IS NOT NULL THEN 0 ELSE 1 END AS backoff,
         CAST(ROUND(LN(
           CASE WHEN pc.n_pair IS NOT NULL
                THEN CAST(pc.n_pair AS DOUBLE) / ctx.n_ctx
                ELSE 0.4 * CAST(COALESCE(uni.n_word, 0) + 1 AS DOUBLE)
                         / CAST(tot.n_total + tot.vsize AS DOUBLE)
           END), 6) AS DECIMAL(18,6)) AS logp
  FROM hbg h
  LEFT JOIN pc ON h.w1 = pc.w1 AND h.w2 = pc.w2
  LEFT JOIN ctx ON h.w1 = ctx.w1
  LEFT JOIN uni ON h.w2 = uni.word
  CROSS JOIN tot)
SELECT doc_id, ANY_VALUE(split) AS split,
       COUNT(*) AS n_bigrams,
       CAST(SUM(backoff) AS BIGINT) AS n_backoffs,
       CAST(SUM(logp) AS DOUBLE) / COUNT(*) AS avg_logprob
FROM lp GROUP BY doc_id ORDER BY doc_id
""",
)
def heldout_lm_score_documents(spark, sf_dir):
    # The honest perplexity-eval shape: a stupid-backoff bigram LM is
    # COUNTED ON THE TRAIN SPLIT ONLY and scores the held-out (val/test)
    # docs — unseen bigrams back off to 0.4 x smoothed train unigram. The
    # n_backoffs column is itself a leakage signal (0 backoffs on a
    # held-out doc = its bigrams all appear in train — near-dup suspect).
    # LM tables are corpus-bounded aggregates; scoring joins the held-out
    # bigram stream once on (w1, w2) and once on w2. Rounded-decimal log
    # accumulation for engine portability, as unigram_logprob/bigram_nll.
    d = _t(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    toks = d.select(
        "doc_id",
        _split_col().alias("split"),
        F.split(F.trim(F.lower("text")), r"\s+").alias("w"),
    )
    trn = toks.where(F.col("split") == "train")
    uni = (
        trn.select(F.explode("w").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_word"))
    )
    tot = uni.agg(
        F.sum("n_word").alias("n_total"), F.count(F.lit(1)).alias("vsize")
    )
    bg_expr = F.expr(_BG_STRUCT_EXPR)
    tbg = (
        trn.where(F.size("w") >= 2)
        .select(F.explode(bg_expr).alias("b"))
        .select("b.w1", "b.w2")
    )
    pc = tbg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    ctx = pc.groupBy("w1").agg(F.sum("n_pair").alias("n_ctx"))
    hbg = (
        toks.where((F.size("w") >= 2) & (F.col("split") != "train"))
        .select("doc_id", "split", F.explode(bg_expr).alias("b"))
        .select("doc_id", "split", "b.w1", "b.w2")
    )
    logp = F.round(
        F.log(
            F.when(
                F.col("n_pair").isNotNull(),
                F.col("n_pair").cast("double") / F.col("n_ctx"),
            ).otherwise(
                0.4
                * (F.coalesce("n_word", F.lit(0)) + 1).cast("double")
                / (F.col("n_total") + F.col("vsize")).cast("double")
            )
        ),
        6,
    ).cast("decimal(18,6)")
    scored = (
        hbg.join(pc, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .join(uni.withColumnRenamed("word", "w2"), "w2", "left")
        .crossJoin(F.broadcast(tot))
        .withColumn("backoff", F.when(F.col("n_pair").isNotNull(), 0).otherwise(1))
        .withColumn("logp", logp)
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.any_value("split").alias("split"),
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("backoff").cast("long").alias("n_backoffs"),
            (F.sum("logp").cast("double") / F.count(F.lit(1))).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


@register(
    "embedding_outliers",
    """
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
c AS (
  SELECT label, g.i AS pos,
         CAST(SUM(CAST(v[g.i] AS DECIMAL(20,9))) AS DOUBLE) / COUNT(*) AS centroid
  FROM e, (SELECT unnest(generate_series(1, 64)) AS i) g
  GROUP BY 1, 2),
d AS (
  SELECT e.vec_id, e.label,
         CAST(SUM(CAST((v[pos] - centroid) * (v[pos] - centroid)
                       AS DECIMAL(30,15))) AS DOUBLE) AS d2
  FROM e JOIN c ON e.label = c.label
  GROUP BY 1, 2),
st AS (
  SELECT label,
         CAST(SUM(CAST(d2 AS DECIMAL(30,15))) AS DOUBLE) / COUNT(*) AS mu,
         sqrt(greatest(
           CAST(SUM(CAST(d2 * d2 AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*)
           - pow(CAST(SUM(CAST(d2 AS DECIMAL(30,15))) AS DOUBLE) / COUNT(*), 2),
           0)) AS sigma
  FROM d GROUP BY label)
SELECT d.vec_id, d.label, ROUND(d.d2, 9) AS d2,
       ROUND(CASE WHEN st.sigma > 0 THEN (d.d2 - st.mu) / st.sigma
                  ELSE 0.0 END, 6) AS z,
       CAST(CASE WHEN st.sigma > 0 AND abs((d.d2 - st.mu) / st.sigma) > 2
                 THEN 1 ELSE 0 END AS INT) AS is_outlier
FROM d JOIN st ON d.label = st.label
ORDER BY d.vec_id
""",
)
def embedding_outliers(spark, sf_dir):
    # Corrupt-embedding screen: squared distance to the vector's OWN label
    # centroid, z-scored within the label, |z| > 2 flagged — the cheap
    # data-cleaning pass before centroid/ANN training trusts the store.
    # Centroids and per-label moments are exact decimal sums (deterministic
    # across partitionings and engines); the vector table shuffles once on
    # (vec_id, label) for the distance fold and the tiny per-label stats
    # broadcast back.
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    ex = e.select("vec_id", "label", F.posexplode("v").alias("pos0", "val"))
    cent = ex.groupBy("label", (F.col("pos0") + 1).alias("pos")).agg(
        (
            F.sum(F.col("val").cast("decimal(20,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("centroid")
    )
    d = (
        ex.select("vec_id", "label", (F.col("pos0") + 1).alias("pos"), "val")
        .join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(
                ((F.col("val") - F.col("centroid")) * (F.col("val") - F.col("centroid")))
                .cast("decimal(30,15)")
            )
            .cast("double")
            .alias("d2")
        )
    )
    st = d.groupBy("label").agg(
        (F.sum(F.col("d2").cast("decimal(30,15)")).cast("double") / F.count(F.lit(1))).alias("mu"),
        F.sqrt(
            F.greatest(
                F.sum((F.col("d2") * F.col("d2")).cast("decimal(38,18)")).cast("double")
                / F.count(F.lit(1))
                - F.pow(
                    F.sum(F.col("d2").cast("decimal(30,15)")).cast("double")
                    / F.count(F.lit(1)),
                    F.lit(2.0),
                ),
                F.lit(0.0),
            )
        ).alias("sigma"),
    )
    z_raw = (F.col("d2") - F.col("mu")) / F.col("sigma")
    return (
        d.join(F.broadcast(st), "label")
        .select(
            "vec_id",
            "label",
            F.round("d2", 9).alias("d2"),
            F.round(F.when(F.col("sigma") > 0, z_raw).otherwise(0.0), 6).alias("z"),
            F.when((F.col("sigma") > 0) & (F.abs(z_raw) > 2), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_outlier"),
        )
        .orderBy("vec_id")
    )


@register(
    "edit_distance_pairs_documents",
    "WITH cand AS (SELECT id_a, id_b FROM ("
    + REGISTRY["minhash_lsh_candidates_documents"].sql
    + """))
SELECT c.id_a, c.id_b,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_distance,
       ROUND(1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
                   / greatest(len(a.text), len(b.text), 1), 6) AS edit_similarity
FROM cand c
JOIN documents a ON c.id_a = a.doc_id
JOIN documents b ON c.id_b = b.doc_id
ORDER BY c.id_a, c.id_b
""",
)
def edit_distance_pairs_documents(spark, sf_dir):
    # The VERIFICATION step of a classic dedup pipeline: exact Levenshtein
    # similarity, computed ONLY on the MinHash-LSH candidate pairs (never
    # all-pairs — edit distance is O(len^2) per pair, so the candidate set
    # must be linear before anyone pays it). Both engines implement the
    # same unit-cost Levenshtein, so the scores are exactly oracled. At
    # 100 TB the candidate join ships doc texts for candidate ids only.
    cand = _lsh_edges(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    a = d.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    ed = F.levenshtein("text_a", "text_b")
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            ed.cast("long").alias("edit_distance"),
            F.round(
                1.0
                - ed.cast("double")
                / F.greatest(F.length("text_a"), F.length("text_b"), F.lit(1)),
                6,
            ).alias("edit_similarity"),
        )
        .orderBy("id_a", "id_b")
    )


@register(
    "tfidf_cosine_pairs_documents",
    f"""
WITH t AS (
  SELECT doc_id, {_W_SQL} AS w FROM documents WHERE length(trim(text)) > 0),
n AS (SELECT COUNT(*) AS n_docs FROM t),
tf AS (
  SELECT doc_id, word, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(w) AS word FROM t) GROUP BY doc_id, word),
df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
-- discriminative terms only: df-capped (RELATIVE to corpus size, so the
-- cut means the same thing at every SF) like the MOSS suppression in
-- winnowing — bounds the posting-list join fanout AND sharpens the signal
wts AS (
  SELECT tf.doc_id, tf.word,
         CAST(ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6)
              AS DECIMAL(18,6)) AS wt
  FROM tf JOIN df USING (word) CROSS JOIN n
  WHERE df.df <= 0.1 * n.n_docs),
nrm AS (
  SELECT doc_id, CAST(SUM(wt * wt) AS DOUBLE) AS norm2
  FROM wts GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(SUM(a.wt * b.wt) AS DOUBLE) AS dot
  FROM wts a JOIN wts b ON a.word = b.word AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT d.id_a, d.id_b,
       d.dot / (sqrt(na.norm2) * sqrt(nb.norm2)) AS tfidf_cosine
FROM dots d
JOIN nrm na ON d.id_a = na.doc_id
JOIN nrm nb ON d.id_b = nb.doc_id
WHERE d.dot / (sqrt(na.norm2) * sqrt(nb.norm2)) >= 0.5
ORDER BY id_a, id_b
""",
)
def tfidf_cosine_pairs_documents(spark, sf_dir):
    # Sparse LEXICAL similarity — the tf-idf-weighted counterpart of the
    # unigram-Jaccard and dense-embedding pair queries. Weights are
    # 6dp-rounded decimals so dot products and norms accumulate EXACTLY
    # (order-independent, engine-portable); the posting-list self-join runs
    # only over discriminative terms with df <= 10% of the corpus
    # (MOSS-style cap, RELATIVE so the cut means the same thing at every
    # SF — common terms are both noise and the quadratic-fanout hazard).
    # At 100 TB: tf/df are map-side-combined aggregations; the pair join's
    # cost is the sum of df-capped posting-list squares.
    d = _t(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    t = d.select("doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("w"))
    n = t.agg(F.count(F.lit(1)).alias("n_docs"))
    tf = (
        t.select("doc_id", F.explode("w").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    wts = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n))
        .where(F.col("df") <= 0.1 * F.col("n_docs"))
        .select(
            "doc_id",
            "word",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            )
            .cast("decimal(18,6)")
            .alias("wt"),
        )
        # wts feeds THREE subplans (norms + both posting-join legs); left
        # lazy, the tokenize->tf->df->weight pipeline re-runs per consumer
        # (the winnowing lesson)
        .localCheckpoint(eager=True)
    )
    nrm = wts.groupBy("doc_id").agg(
        F.sum(F.col("wt") * F.col("wt")).cast("double").alias("norm2")
    )
    a = wts.select(F.col("doc_id").alias("id_a"), "word", F.col("wt").alias("wa"))
    b = wts.select(F.col("doc_id").alias("id_b"), "word", F.col("wt").alias("wb"))
    dots = (
        a.join(b, "word")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("double").alias("dot"))
    )
    na = nrm.select(F.col("doc_id").alias("id_a"), F.col("norm2").alias("na2"))
    nb = nrm.select(F.col("doc_id").alias("id_b"), F.col("norm2").alias("nb2"))
    cos = F.col("dot") / (F.sqrt("na2") * F.sqrt("nb2"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", cos.alias("tfidf_cosine"))
        .where(F.col("tfidf_cosine") >= 0.5)
        .orderBy("id_a", "id_b")
    )


@register(
    "incremental_dedup_documents",
    "WITH cand AS (SELECT id_a, id_b FROM ("
    + REGISTRY["minhash_lsh_candidates_documents"].sql
    + """)),
batch AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE source = 'src1'),
corpus AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE source <> 'src1'),
exact AS (
  SELECT b.doc_id,
         CAST(CASE WHEN c.fp IS NOT NULL OR b.rn > 1 THEN 1 ELSE 0 END AS INT)
           AS exact_dup
  FROM (SELECT doc_id, fp,
               ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM batch) b
  LEFT JOIN (SELECT DISTINCT fp FROM corpus) c USING (fp)),
prior AS (
  SELECT doc_id AS other, 1 AS is_corpus FROM corpus
  UNION ALL
  SELECT doc_id AS other, 0 AS is_corpus FROM batch),
xr AS (
  SELECT x.doc_id, x.other FROM (
    SELECT c.id_a AS doc_id, c.id_b AS other FROM cand c
    UNION ALL
    SELECT c.id_b AS doc_id, c.id_a AS other FROM cand c) x
  JOIN prior p ON x.other = p.other
  WHERE p.is_corpus = 1 OR x.other < x.doc_id),
near AS (
  SELECT b.doc_id, COUNT(xr.other) AS n_neardup_candidates
  FROM batch b LEFT JOIN xr ON b.doc_id = xr.doc_id
  GROUP BY b.doc_id)
SELECT e.doc_id, e.exact_dup,
       CAST(n.n_neardup_candidates AS BIGINT) AS n_neardup_candidates,
       CASE WHEN e.exact_dup = 1 THEN 'drop_exact'
            WHEN n.n_neardup_candidates > 0 THEN 'review_neardup'
            ELSE 'keep' END AS decision
FROM exact e JOIN near n USING (doc_id)
ORDER BY doc_id
""",
)
def incremental_dedup_documents(spark, sf_dir):
    # Ingest-time dedup of a NEW batch (source 'src1' stands in for today's
    # crawl) against the EXISTING corpus index — the incremental flow a
    # production pipeline runs per delivery, as opposed to the global
    # from-scratch dedup queries. Exact hits via md5-fingerprint lookup
    # against the corpus AND against earlier docs in the same batch (two
    # identical arrivals must not both pass the gate: the first keeps, the
    # second drops); near-dup exposure likewise counts LSH candidates in
    # the corpus or earlier in the batch. At 100 TB the corpus side is a
    # pre-built fingerprint/band INDEX (the minhash_signatures table) —
    # the batch never joins corpus text.
    cand = _lsh_edges(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("fp")
    )
    batch = d.where(F.col("source") == "src1").select("doc_id", "fp")
    corpus = d.where(F.col("source") != "src1").select("doc_id", "fp")
    earlier = (
        batch.alias("b")
        .join(
            batch.select(F.col("fp"), F.col("doc_id").alias("b2_id")).alias("b2"),
            "fp",
        )
        .where(F.col("b2_id") < F.col("doc_id"))
        .select("doc_id")
        .distinct()
        .withColumn("ehit", F.lit(1))
    )
    exact = (
        batch.join(
            corpus.select("fp").distinct().withColumn("hit", F.lit(1)), "fp", "left"
        )
        .join(earlier, "doc_id", "left")
        .select(
            "doc_id",
            F.greatest(F.coalesce("hit", F.lit(0)), F.coalesce("ehit", F.lit(0)))
            .cast("int")
            .alias("exact_dup"),
        )
    )
    touch = cand.select(F.col("id_a").alias("doc_id"), F.col("id_b").alias("other")).unionAll(
        cand.select(F.col("id_b").alias("doc_id"), F.col("id_a").alias("other"))
    )
    prior = (
        corpus.select(F.col("doc_id").alias("other")).withColumn("is_corpus", F.lit(1))
    ).unionAll(
        batch.select(F.col("doc_id").alias("other")).withColumn("is_corpus", F.lit(0))
    )
    # corpus docs always count; batch docs only when EARLIER than the doc
    # under decision (streaming-within-batch asymmetry: of two identical
    # arrivals the first keeps, the second sees the first)
    cross = (
        touch.join(prior, "other")
        .where((F.col("is_corpus") == 1) | (F.col("other") < F.col("doc_id")))
        .select("doc_id", "other")
    )
    near = (
        batch.select("doc_id")
        .join(cross, "doc_id", "left")
        .groupBy("doc_id")
        .agg(F.count("other").cast("long").alias("n_neardup_candidates"))
    )
    return (
        exact.join(near, "doc_id")
        .select(
            "doc_id",
            "exact_dup",
            "n_neardup_candidates",
            F.when(F.col("exact_dup") == 1, "drop_exact")
            .when(F.col("n_neardup_candidates") > 0, "review_neardup")
            .otherwise("keep")
            .alias("decision"),
        )
        .orderBy("doc_id")
    )


@register("ml_calibration_feed", None)  # rows-only (training output)
def ml_calibration_feed(spark, sf_dir):
    # M8 eval completeness: the reliability curve (predicted-probability
    # deciles vs empirical positive rate) + Brier score for the balanced
    # rain classifier — the plot feed a probability consumer needs beyond
    # ROC-AUC (a model can rank well and still be badly calibrated).
    # Deterministic: seeded RF + temporal split. The curve is one groupBy
    # over the test predictions; Brier is a 1-row agg on the same frame.
    from pyspark.ml.functions import vector_to_array

    from ..ml import models as M

    m, test, cols = _trained_rain(spark, sf_dir)
    te = M.prep_classifier_frame(test, cols)
    pred = m.pipeline_model.transform(te).select(
        vector_to_array("probability").getItem(1).alias("p1"),
        F.col("will_rain").cast("double").alias("y"),
    )
    pred = pred.withColumn(
        "bin", F.least(F.floor(F.col("p1") * 10), F.lit(9)).cast("int")
    ).cache()

    # order-independent means: 9dp-quantized decimal sum / count instead of
    # double F.avg, whose partition-order accumulation could flip the 6dp
    # rounding at a boundary between runs (ADVICE r02)
    def _davg9(expr):
        return F.sum(F.round(expr, 9).cast("decimal(19,9)")).cast(
            "double"
        ) / F.count(F.lit(1))

    brier = pred.agg(
        _davg9((F.col("p1") - F.col("y")) * (F.col("p1") - F.col("y"))).alias("b")
    ).first()
    out = (
        pred.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(_davg9(F.col("p1")), 6).alias("mean_predicted"),
            F.round(_davg9(F.col("y")), 6).alias("empirical_rate"),
        )
        .withColumn("brier_score", F.round(F.lit(brier.b), 6))
        .orderBy("bin")
    )
    rows = out.collect()
    pred.unpersist()
    return literal_df(
        spark, rows,
        "bin int, n bigint, mean_predicted double, empirical_rate double, brier_score double",
    )


@register(
    "session_overlap_pairs_events",
    ev_sql("""
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events),
s AS (
  SELECT user_id, ts, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid
  FROM o),
sess AS (
  SELECT user_id, CAST(sid AS BIGINT) AS sid, MIN(ts) AS st, MAX(ts) AS en
  FROM s GROUP BY 1, 2)
SELECT a.user_id AS user_a, a.sid AS sid_a,
       b.user_id AS user_b, b.sid AS sid_b,
       CAST(epoch_us(least(a.en, b.en)) - epoch_us(greatest(a.st, b.st))
            AS BIGINT) AS overlap_us
FROM sess a JOIN sess b
  ON a.user_id < b.user_id AND a.st <= b.en AND b.st <= a.en
ORDER BY user_a, sid_a, user_b, sid_b
"""),
)
def session_overlap_pairs_events(spark, sf_dir):
    # Interval-overlap self-join at scale: which users' sessions were
    # concurrent (the co-presence primitive behind collaboration/abuse
    # correlation). The SQL oracle is the quadratic SPEC; the Spark plan is
    # the scalable BUCKETIZED interval join — each session explodes to the
    # hour buckets it touches, candidates form per bucket (equi-join, never
    # all-pairs), duplicates collapse with distinct, and the exact overlap
    # predicate verifies. At 100 TB the bucket width trades candidate
    # volume vs duplicate factor; hour buckets bound candidates to
    # concurrent-session pairs, which is the OUTPUT's own magnitude.
    # shared gap-sessionization helper (exact-microsecond gap comparison —
    # a seconds cast would diverge from the oracle's INTERVAL at boundaries)
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    s = AJ.sessionize(ev, "user_id", "ts", gap_seconds=30 * 60)
    sess = (
        s.groupBy("user_id", F.col("session_id").cast("long").alias("sid"))
        .agg(F.min("ts").alias("st"), F.max("ts").alias("en"))
        .localCheckpoint(eager=True)  # feeds both join legs
    )
    bucketed = sess.select(
        "user_id",
        "sid",
        "st",
        "en",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp("st") / 3600),
                F.floor(F.unix_timestamp("en") / 3600),
            )
        ).alias("bucket"),
    )
    a = bucketed.select(
        F.col("user_id").alias("user_a"),
        F.col("sid").alias("sid_a"),
        F.col("st").alias("st_a"),
        F.col("en").alias("en_a"),
        "bucket",
    )
    b = bucketed.select(
        F.col("user_id").alias("user_b"),
        F.col("sid").alias("sid_b"),
        F.col("st").alias("st_b"),
        F.col("en").alias("en_b"),
        "bucket",
    )
    # the bucket join's INPUT is session-count-sized but its OUTPUT is
    # quadratic in bucket occupancy: AQE coalesces the join's partitions on
    # input bytes (8 tasks carrying 108 s of pair generation at sf1.0 —
    # r6 skew bench), so pin the fan-out parallelism with an explicit
    # bucket-keyed repartition (AQE never coalesces an explicit
    # repartition; the join reuses the exchange, so this replaces — not
    # adds to — the join's own shuffle)
    par = spark.sparkContext.defaultParallelism
    a, b = a.repartition(par, "bucket"), b.repartition(par, "bucket")
    # emit-once: a pair sharing k buckets would otherwise appear k times
    # and need a shuffle-heavy 8-column distinct; instead keep the pair
    # ONLY in the bucket containing its overlap start — each qualifying
    # pair survives in exactly one bucket, no dedup exchange at all
    cand = (
        a.join(b, "bucket")
        .where(F.col("user_a") < F.col("user_b"))
        .where(
            F.col("bucket")
            == F.floor(F.unix_timestamp(F.greatest("st_a", "st_b")) / 3600)
        )
        .select("user_a", "sid_a", "st_a", "en_a", "user_b", "sid_b", "st_b", "en_b")
    )
    overlap_us = F.unix_micros(F.least("en_a", "en_b")) - F.unix_micros(
        F.greatest("st_a", "st_b")
    )
    return (
        cand.where(
            (F.col("st_a") <= F.col("en_b")) & (F.col("st_b") <= F.col("en_a"))
        )
        .select(
            "user_a",
            "sid_a",
            "user_b",
            "sid_b",
            overlap_us.cast("long").alias("overlap_us"),
        )
        .orderBy("user_a", "sid_a", "user_b", "sid_b")
    )


@register(
    "source_quality_profile_documents",
    "WITH qr AS (SELECT doc_id, keep FROM ("
    + REGISTRY["quality_rules_documents"].sql
    + ")),\nnll AS (SELECT doc_id, avg_nll FROM ("
    + REGISTRY["bigram_nll_documents"].sql
    + ")),\nds AS (SELECT doc_id, dup_frac FROM ("
    + REGISTRY["dup_span_stats_documents"].sql
    + """)),
j AS (
  SELECT d.source, qr.keep, nll.avg_nll, ds.dup_frac
  FROM documents d
  JOIN qr ON d.doc_id = qr.doc_id
  JOIN nll ON d.doc_id = nll.doc_id
  JOIN ds ON d.doc_id = ds.doc_id)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(keep) AS BIGINT) AS n_keep,
       ROUND(CAST(SUM(keep) AS DOUBLE) / COUNT(*), 6) AS keep_rate,
       ROUND(CAST(SUM(CAST(ROUND(avg_nll, 6) AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS mean_nll,
       ROUND(CAST(SUM(CAST(ROUND(dup_frac, 6) AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS mean_dup_frac
FROM j GROUP BY source ORDER BY source
""",
)
def source_quality_profile_documents(spark, sf_dir):
    # Source-level curation table: per source, the Gopher keep rate, mean
    # LM NLL, and mean duplicated-span fraction — the "which sources
    # deserve more crawl budget" ranking a corpus team actually consumes
    # (the doc-level signals roll up to dimension cardinality). Per-doc
    # doubles are quantized to 6dp decimals before the group sum, so the
    # per-source means are order-independent and engine-portable.
    src = _t(spark, sf_dir, "documents").select("doc_id", "source")
    j = src.join(_doc_signals(spark, sf_dir), "doc_id")
    dec = lambda c: F.round(F.col(c), 6).cast("decimal(18,6)")  # noqa: E731
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("keep").cast("long").alias("n_keep"),
            F.round(F.sum("keep").cast("double") / F.count(F.lit(1)), 6).alias(
                "keep_rate"
            ),
            F.round(
                F.sum(dec("avg_nll")).cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_nll"),
            F.round(
                F.sum(dec("dup_frac")).cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_dup_frac"),
        )
        .orderBy("source")
    )


def _pii_sql() -> str:
    # SQL twin of operators/text.pii_scrub: identical RE2-safe patterns,
    # identical sequential redaction order; DuckDB regexp_replace needs the
    # 'g' flag to match Spark's global-replace semantics.
    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat in X.PII_PATTERNS
    )
    red = "text"
    for name, pat in X.PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '[{name.upper()}]', 'g')"
    total = " + ".join(f"n_{name}" for name, _ in X.PII_PATTERNS)
    return f"""
WITH c AS (
  SELECT doc_id,
       {counts},
       md5({red}) AS redacted_md5
  FROM documents)
SELECT doc_id, {", ".join("n_" + n for n, _ in X.PII_PATTERNS)},
       CAST({total} AS BIGINT) AS n_pii_total, redacted_md5
FROM c ORDER BY doc_id
"""


@register("pii_scrub_documents", _pii_sql())
def pii_scrub_documents(spark, sf_dir):
    # Corpus PII scrub (emails/SSNs/credit cards/phones/IPv4): per-doc class
    # counts + md5 of the redacted text — the pre-training scrub stage of
    # any public-crawl pipeline. Map-only, zero shuffle; the md5 projection
    # makes redaction hash-checkable without emitting full text (and keeps
    # the output sortable for the driver's rows-only canonicalizer).
    # The fixture corpus is PII-free word text, so counts legitimately read
    # 0 and redacted_md5 == md5(text) — the behavioral tests
    # (tests/test_pii.py) pin real redaction on crafted strings.
    return X.pii_scrub(_t(spark, sf_dir, "documents")).orderBy("doc_id")


# demo blocklist drawn from the fixture vocabulary so the filter is
# non-vacuous: both terms occur in ~most documents, making counts, ratios
# and the keep boundary genuinely exercised by the oracle
_BLOCKLIST = ["slow", "error"]
_BLOCK_MAX_RATIO = 0.02


@register(
    "blocklist_filter_documents",
    f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents),
c AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         len(list_filter(toks, x -> x IN ('error','slow'))) AS n_banned,
         len(list_intersect(list_distinct(toks), ['error','slow']))
           AS distinct_banned_terms
  FROM t)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_banned AS BIGINT) AS n_banned,
       CAST(distinct_banned_terms AS BIGINT) AS distinct_banned_terms,
       ROUND(CAST(n_banned AS DOUBLE) / n_tokens, 6) AS banned_ratio,
       CAST(ROUND(CAST(n_banned AS DOUBLE) / n_tokens, 6) < {_BLOCK_MAX_RATIO}
            AS INT) AS keep
FROM c ORDER BY doc_id
""",
)
def blocklist_filter_documents(spark, sf_dir):
    # Banned-term (blocklist) filter — the C4/Dolma corpus-scrub stage:
    # per-doc banned counts, distinct banned terms, exact 6dp banned ratio
    # and the keep decision. Map-only JVM higher-order functions, zero
    # shuffle (operators/text.blocklist_filter).
    return X.blocklist_filter(
        _t(spark, sf_dir, "documents"), _BLOCKLIST, _BLOCK_MAX_RATIO
    ).orderBy("doc_id")
