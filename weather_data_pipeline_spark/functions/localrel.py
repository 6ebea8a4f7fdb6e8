"""Driver-computed row sets as JVM LocalRelations, not pickled-RDD scans.

``spark.createDataFrame(rows, ddl)`` over a local Python list plants a
pickled-RDD scan (``Scan ExistingRDD``) in the plan: EVERY action of every
consuming query then re-runs defaultParallelism Python-worker tasks just to
re-ship a handful of driver-side rows (measured 0.3-1.9 s per action for a
6-row table on local[32] — guide §4: a JVM↔Python boundary paid per action,
forever). The pandas/Arrow entry point instead lands the same rows as a
``LocalRelation`` (``LocalTableScan`` in the executed plan): zero Python
workers at action time, and construction itself is faster (measured 0.09 s
vs 0.3+ s at 640 rows, flat in n where an explode-of-struct-literals plan
grew super-linearly past ~30 rows).

Use it for bounded row sets (collected stats rows, fitted codebooks, probe
maps, merge rules — the "tiny table the driver computed" shape). Values are
shipped once through Arrow with the DDL schema applied field-by-field, so
``object``-dtype construction below preserves None/mixed cells exactly as
the RDD path did. Empty inputs fall back to ``createDataFrame`` — nothing
to convert, and the empty RDD scan schedules no tasks.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def _split_ddl(ddl: str) -> list[str]:
    """Split a DDL field list on top-level commas only (``decimal(20,9)``
    and ``array<struct<...>>`` carry commas that must not split)."""
    parts: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in ddl:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


def literal_df(spark: SparkSession, rows: Sequence, ddl: str) -> DataFrame:
    """``createDataFrame(rows, ddl)`` twin with a LocalRelation body: same
    rows, same column names and types, no ExistingRDD / Python-worker scan.
    ``rows`` may be tuples or pyspark Rows; values must be plain Python
    scalars/lists (the same contract createDataFrame already required).

    Fallback hazard (ADVICE r11): the no-ExistingRDD guarantee depends on
    the Arrow conversion SUCCEEDING — with
    ``spark.sql.execution.arrow.pyspark.fallback.enabled=true`` (Spark's
    default) an unconvertible cell would silently fall back to the
    pickled-RDD path and quietly reintroduce the per-action Python-worker
    scans this helper exists to remove. session.get_spark therefore pins
    the fallback OFF so a conversion regression fails loudly; sessions
    built elsewhere should do the same or rely on tests/test_literal_df.py
    plan asserts."""
    if not rows:
        return spark.createDataFrame([], ddl)
    import pandas as pd
    import re

    # Accept both DDL field forms ("a int" and "a:int") when deriving the
    # pandas column names (ADVICE r11: the old space-only split would name a
    # colon-form column "a:int" and build a mismatched frame).
    names = [re.split(r"[:\s]", part, maxsplit=1)[0] for part in _split_ddl(ddl)]
    # dtype=object: pandas must not infer (None in an int column would
    # become NaN-float before Arrow sees it); the Arrow converter applies
    # the DDL type per field from the object cells directly
    pdf = pd.DataFrame([tuple(r) for r in rows], columns=names, dtype=object)
    return spark.createDataFrame(pdf, ddl)
