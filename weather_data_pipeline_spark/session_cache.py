"""Session-scoped reuse across queries: one store, one key, two lifecycles.

Every value held here is looked up under one key,

    (entry, params, applicationId, realpath(sf_dir), table fingerprints)

- ``entry`` names what is cached (``"shingle_pairs"``, ``"load_table"``);
  ``params`` are the build's own arguments (a table name, a merge count).
- ``applicationId`` is unique per SparkContext, so a restarted session
  never sees the previous context's values. (The Python id of a session
  object is not: a new session object can reuse a dead one's id.)
- ``realpath(sf_dir)`` makes two spellings of one directory one key.
- the fingerprint of every table the entry declares it reads
  (:func:`table_fingerprint`): rewriting a table changes the key, so no
  entry ever serves data from before a rewrite.

Two lifecycles, the only two the engine has:

- :func:`memo` — a bounded multi-entry memo of lazy plan objects
  (``load_table`` frames, the feature-pipeline plan). DataFrames are
  immutable, so handing one back is a no-op semantically; only the
  driver-side construction is saved. A rewritten table replaces its slot.
- :func:`leased` / :func:`materialized` — a single entry per (thread,
  entry): each thread holds a lease on the key it last asked for, and a
  value is evicted only when no live thread leases it. Same-key callers
  share one build, and a slow build blocks only callers of the same key
  (the store lock guards dict edits only). :func:`materialized` entries
  hold a localCheckpoint-materialized frame: eviction frees its blocks,
  and a lookup revalidates them (executor loss can drop blocks outside
  the lease lifecycle) and rebuilds a dead entry.

Single-entry is deliberate: the consumers of one entry run back to back on
one (session, sf_dir), and a caller alternating two keys rebuilds per call.
A multi-tenant serving layer should hold trained models in its own registry
(ml/registry.py), not here.
"""

from __future__ import annotations

import os
import threading

# Plan memo bound: entries are small driver-side plan objects, and the memo
# is cleared wholesale if test churn (many sessions or sf_dirs) grows it.
PLAN_MEMO_MAX = 64

_APP = 2  # position of the applicationId in a key

# Guards dict edits only; builds run outside it, under a per-key lock.
# Reentrant because eviction hooks run under it.
_LOCK = threading.RLock()
_MEMO: dict = {}  # key without fingerprints -> (full key, value)
_ENTRIES: dict = {}  # key -> {lock, users, built, value, on_evict}
_LEASES: dict = {}  # (thread ident, entry) -> key


def table_fingerprint(path: str) -> tuple:
    """Sorted (path, size, mtime_ns) of every file under a table directory,
    or of the path itself when it is one file: a driver-side stat that
    changes whenever a file is written, replaced or removed."""
    if os.path.isdir(path):
        paths = [os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs]
    else:
        paths = [path]
    out = []
    for p in paths:
        try:
            st = os.stat(p)
        except OSError:  # absent, or removed mid-walk: a later lookup sees it
            continue
        out.append((p, st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def key(entry: str, spark, sf_dir: str, tables, params=()) -> tuple:
    """The store key of ``entry`` over ``tables`` of ``sf_dir``."""
    return (
        entry,
        tuple(params),
        spark.sparkContext.applicationId,
        os.path.realpath(sf_dir),
        tuple(table_fingerprint(f"{sf_dir}/{t}.parquet") for t in tables),
    )


def memo(entry: str, spark, sf_dir: str, tables, build, params=()):
    """``build()``'s value, reused while the key holds. One slot per key
    without its fingerprints, so a rewritten table replaces its slot."""
    k = key(entry, spark, sf_dir, tables, params)
    hit = _MEMO.get(k[:-1])
    if hit is not None and hit[0] == k:
        return hit[1]
    value = build()
    with _LOCK:
        if len(_MEMO) >= PLAN_MEMO_MAX:
            _MEMO.clear()
        _MEMO[k[:-1]] = (k, value)
    return value


def leased(entry: str, spark, sf_dir: str, tables, build, params=()):
    """``build()``'s value under the lease lifecycle (no eviction hook: the
    value is an ordinary driver object, such as a fitted model)."""
    return _lease(key(entry, spark, sf_dir, tables, params), build)


def materialized(entry: str, spark, sf_dir: str, tables, build, params=()):
    """A materialized frame under the lease lifecycle.

    ``build()`` materializes the frame itself (``graph._ckpt_tracked``) and
    returns ``(frame, ids)`` or ``(frame, ids, extra)``, ``ids`` being the
    checkpoint RDD ids the frame reads; the tuple is returned as built.
    Eviction frees ``ids``. A lookup whose blocks are gone (executor loss;
    truncated lineage cannot recompute them) drops the entry and rebuilds
    once, instead of serving a frame that fails at action time with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND; a second loss fails at action time."""
    k = key(entry, spark, sf_dir, tables, params)
    for _ in range(2):
        value = _lease(k, build, on_evict=_free_blocks)
        if _blocks_alive(spark, value[1]):
            return value
        _drop(k, expect_ids=value[1])
    return value


def clear() -> None:
    """Empty the store, freeing the blocks of materialized entries."""
    with _LOCK:
        _MEMO.clear()
        _LEASES.clear()
        for k in list(_ENTRIES):
            _evict(k)


def _lease(k: tuple, build, on_evict=None):
    """Get-or-build ``k`` and lease it to the calling thread.

    The thread's previous key of the same entry loses this thread's lease,
    and is evicted if no other thread holds one; entries leased only by
    threads that have exited are evicted on every call, so pool-thread
    churn cannot pin values. ``on_evict(key, value)`` runs when a built
    value is evicted."""
    tid = threading.get_ident()
    slot = (tid, k[0])
    with _LOCK:
        prev = _LEASES.get(slot)
        if prev is not None and prev != k and prev in _ENTRIES:
            _ENTRIES[prev]["users"].discard(tid)
            if not _ENTRIES[prev]["users"]:
                _evict(prev)
        live = {t.ident for t in threading.enumerate()}
        for dead in [s for s in _LEASES if s[0] not in live]:
            del _LEASES[dead]
        for other in list(_ENTRIES):
            _ENTRIES[other]["users"] &= live
            if not _ENTRIES[other]["users"]:
                _evict(other)
        ent = _ENTRIES.get(k)
        if ent is None:
            ent = _ENTRIES[k] = {
                "lock": threading.Lock(),
                "users": set(),
                "built": False,
                "value": None,
                "on_evict": on_evict,
            }
        ent["users"].add(tid)
        _LEASES[slot] = k
    # build (or wait for the builder) outside the store lock; the lease
    # taken above keeps the entry alive until this thread switches keys
    with ent["lock"]:
        if ent["built"]:
            return ent["value"]
        try:
            value = build()
        except BaseException:
            with _LOCK:
                ent["users"].discard(tid)
                if _LEASES.get(slot) == k:
                    del _LEASES[slot]
                if _ENTRIES.get(k) is ent and not ent["users"]:
                    del _ENTRIES[k]  # unbuilt: nothing to evict
            raise
        ent["value"] = value
        ent["built"] = True
        return value


def _evict(k: tuple) -> None:
    ent = _ENTRIES.pop(k)
    if ent["built"] and ent["on_evict"] is not None:
        ent["on_evict"](k, ent["value"])


def _free_blocks(k: tuple, value) -> None:
    """Free a materialized value's checkpoint blocks, but only through the
    context that created them: RDD ids restart from 0 in a new context, so
    a stale id freed there could unpersist an unrelated RDD."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    try:
        if sc is None or k[_APP] != sc.applicationId:
            return
        jmap = sc._jsc.getPersistentRDDs()
        for i in value[1]:
            rdd = jmap.get(i)
            if rdd is not None:
                rdd.unpersist(False)
    except Exception:
        pass  # best effort: a stopping context has no blocks left


def _blocks_alive(spark, ids) -> bool:
    """True iff every tracked checkpoint RDD id still has live blocks.
    Empty ids (file-backed reliable checkpoints, or the id-extraction
    fallback) validate trivially. On an introspection error, report alive:
    a dead frame still fails loudly at action time."""
    if not ids:
        return True
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return all(jmap.get(i) is not None for i in ids)
    except Exception:
        return True


def _drop(k: tuple, expect_ids) -> None:
    """Drop a materialized entry whose blocks failed validation, clear its
    leases so the next caller rebuilds, and free whatever blocks survive
    (validation is all-or-nothing, so a partly lost entry still pins some).

    Dropped only while the entry still holds ``expect_ids``: two threads can
    both see dead blocks, and the slower one must not pop the entry the
    faster one already rebuilt (or is rebuilding) — that would leak its
    blocks and force a third build."""
    with _LOCK:
        ent = _ENTRIES.get(k)
        if ent is None or not (ent["built"] and ent["value"][1] == expect_ids):
            return
        del _ENTRIES[k]
        for s in [s for s, held in _LEASES.items() if held == k]:
            del _LEASES[s]
    # outside the lock (py4j round trips): the entry is unreachable now
    if ent["on_evict"] is not None:
        ent["on_evict"](k, ent["value"])
