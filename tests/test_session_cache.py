"""The session cache (weather_data_pipeline_spark/session_cache.py): no
query may serve data from before a table rewrite, and the package keeps
one cache module, keyed by applicationId."""

from __future__ import annotations

import ast
import pathlib
import re
import shutil

from weather_data_pipeline_spark.plans.queries import REGISTRY

PKG = pathlib.Path(__file__).resolve().parent.parent / "weather_data_pipeline_spark"


def _rows(df) -> list[str]:
    # repr: a NaN cell compares equal to itself
    return sorted(repr(tuple(r)) for r in df.collect())


def _halve(path: str) -> None:
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    pq.write_table(t.slice(0, t.num_rows // 2), path)


def test_rewritten_tables_are_not_served_stale(spark, sf_dir, tmp_path):
    """Rewrite documents and events mid-session, at the same paths: the
    session-materialized shingle pairs and the memoized feature-pipeline
    plan must both return what a fresh key returns."""
    live, fresh = tmp_path / "live", tmp_path / "fresh"
    live.mkdir()
    fresh.mkdir()
    for f in pathlib.Path(sf_dir).iterdir():
        shutil.copyfile(f, live / f.name)
    queries = ("shingle_jaccard_pairs_documents", "feature_pipeline_weather")
    before = {q: _rows(REGISTRY[q].spark(spark, str(live))) for q in queries}
    for table in ("documents", "events"):
        _halve(str(live / f"{table}.parquet"))
    for f in live.iterdir():
        shutil.copyfile(f, fresh / f.name)
    for q in queries:
        got = _rows(REGISTRY[q].spark(spark, str(live)))
        want = _rows(REGISTRY[q].spark(spark, str(fresh)))
        assert want != before[q], f"{q}: the rewrite changed nothing"
        assert got == want, f"{q}: {len(got)} rows served, fresh key {len(want)}"


def _module_level_caches(tree: ast.Module) -> list[str]:
    names = []
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        is_dict = isinstance(value, (ast.Dict, ast.DictComp)) or (
            isinstance(value, ast.Call)
            and getattr(value.func, "id", getattr(value.func, "attr", None))
            in ("dict", "defaultdict", "OrderedDict")
        )
        for t in targets:
            if (
                isinstance(t, ast.Name)
                and re.fullmatch(r"_\w*(CACHE|MEMO)\w*", t.id)
                and is_dict
            ):
                names.append(t.id)
    return names


def test_caches_live_only_in_session_cache():
    """Every cross-query cache goes through session_cache: no module-level
    `_*CACHE*` / `_*MEMO*` dict elsewhere, and no key on the Python id of
    a session object (a new session can reuse a dead one's id)."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        rel = path.relative_to(PKG)
        if "id(spark)" in src:
            found.append(f"{rel}: id(spark)")
        if path.name != "session_cache.py":
            found += [f"{rel}: {n}" for n in _module_level_caches(ast.parse(src))]
    assert not found, found
