"""Concurrent registry queries on ONE shared session (VERDICT r05 wrong #1).

A long-lived engine behind a Thrift server or notebook scheduler runs
queries from multiple threads against one SparkSession. The process-global
caches (`similarity._PREV_CAND`, `graph._RELIABLE`, the leased entries
of `session_cache`) previously assumed sequential consumption — a
concurrent pair of same-operator calls could free each other's candidate
checkpoint blocks mid-query (localCheckpoint truncates lineage: freed
blocks CANNOT be recomputed, the job dies). These tests pin the fix:
per-thread keying + locks, thread-local reliable mode.

The cosine_near_dup / hard_negatives pair is the deliberate worst case:
both route through `_ckpt_cand`, whose eviction is exactly what used to
race. Two threads run the SAME operator concurrently, twice each, and every
result must match the single-threaded baseline bit-for-bit.
"""

from __future__ import annotations

import threading

from weather_data_pipeline_spark.plans.queries import REGISTRY


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_concurrent_registry_queries_match_sequential(spark, sf_dir):
    """4 registry queries (incl. two `_ckpt_cand`-routed similarity calls)
    run concurrently from threads on one session; each thread re-invokes its
    query TWICE (collecting between calls) so the per-thread deferred-free
    path in `_ckpt_cand` actually fires under contention. All results must
    equal the sequential baseline and no thread may die with an
    unpersist-induced 'checkpoint block not found' recompute failure."""
    names = [
        "cosine_near_dup_embeddings",  # _ckpt_cand("cosine_near_dup_pairs")
        "hard_negatives_embeddings",   # _ckpt_cand("hard_negatives")
        "minhash_lsh_candidates_documents",
        "group_summary_events",
    ]
    baseline = {n: _rows(REGISTRY[n].spark(spark, sf_dir)) for n in names}

    results: dict[str, list] = {}
    errors: list[tuple[str, BaseException]] = []
    barrier = threading.Barrier(len(names) * 2)

    def run(name: str, slot: str):
        try:
            barrier.wait(timeout=120)  # maximize overlap across threads
            for _ in range(2):  # second call exercises the deferred free
                got = _rows(REGISTRY[name].spark(spark, sf_dir))
            results[slot] = got
        except BaseException as exc:  # noqa: BLE001 — surfaced below
            errors.append((slot, exc))

    # two threads per similarity operator: the same-operator concurrent
    # eviction is the exact race the per-thread _PREV_CAND keying fixes
    threads = [
        threading.Thread(target=run, args=(n, f"{n}#{i}"), daemon=True)
        for n in names
        for i in (0, 1)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, f"concurrent queries failed: {errors}"
    for slot, got in results.items():
        name = slot.split("#")[0]
        assert got == baseline[name], f"{slot} diverged from sequential run"
    assert len(results) == len(threads)


def test_reliable_mode_is_thread_local(spark, tmp_path):
    """`with reliable_checkpoints(...)` on one thread must not flip
    checkpoint mode under a concurrently running loop on another thread."""
    from weather_data_pipeline_spark.operators import graph

    inside = threading.Event()
    release = threading.Event()
    seen_other: list[bool] = []

    def holder():
        with graph.reliable_checkpoints(spark, str(tmp_path / "ckpt")):
            inside.set()
            release.wait(timeout=60)

    def observer():
        inside.wait(timeout=60)
        seen_other.append(graph._reliable_on(spark))
        release.set()

    th, to = threading.Thread(target=holder), threading.Thread(target=observer)
    th.start(), to.start()
    th.join(timeout=120), to.join(timeout=120)
    assert seen_other == [False], "reliable mode leaked across threads"


def test_ml_cache_is_per_thread(spark, sf_dir):
    """Two threads building the ML feature frame concurrently must each get
    a working frame (no cross-thread eviction of a frame the other thread is
    still consuming), and counts must agree with a fresh build."""
    from weather_data_pipeline_spark import session_cache as SC
    from weather_data_pipeline_spark.plans.queries import _ml_feats

    SC.clear()
    expected = _ml_feats(spark, sf_dir).count()
    SC.clear()

    counts: list[int] = []
    errors: list[BaseException] = []
    barrier = threading.Barrier(2)

    def run():
        try:
            barrier.wait(timeout=60)
            df = _ml_feats(spark, sf_dir)
            # consume AFTER both threads have built/fetched: a cross-thread
            # evict here would unpersist the other thread's frame mid-read
            barrier.wait(timeout=300)
            counts.append(df.count())
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=run, daemon=True) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, f"concurrent _ml_feats failed: {errors}"
    assert counts == [expected, expected]
    # cleanup: free both threads' entries so the shared session stays lean
    SC.clear()


def test_one_entry_cache_shares_same_key_single_build():
    """ADVICE r06 rework: concurrent SAME-KEY callers must share one build
    (one stored value, no duplicate training) and builds must not hold the
    store lock (a slow build blocks only same-key callers)."""
    import time

    from weather_data_pipeline_spark import session_cache as SC

    key_a = ("share_test_a", (), "app-test", "/k", ())
    key_b = ("share_test_b", (), "app-test", "/k", ())
    builds = {"a": 0, "b": 0}
    started = threading.Event()

    def build_slow():
        builds["a"] += 1
        started.set()
        time.sleep(0.5)
        return "A"

    def build_fast():
        builds["b"] += 1
        return "B"

    results: list = []
    t_slow = [
        threading.Thread(
            target=lambda: results.append(
                SC._lease(key_a, build_slow)
            )
        )
        for _ in range(3)
    ]
    for t in t_slow:
        t.start()
    started.wait(timeout=10)
    # while the slow build holds ONLY its per-key lock, an unrelated entry
    # must be immediately serviceable from this thread
    t0 = time.perf_counter()
    assert SC._lease(key_b, build_fast) == "B"
    assert time.perf_counter() - t0 < 0.4, "unrelated entry blocked by build"
    for t in t_slow:
        t.join(timeout=30)
    assert results == ["A", "A", "A"]
    assert builds == {"a": 1, "b": 1}, "same-key callers must share ONE build"


def test_one_entry_cache_evicts_only_when_last_lease_drops():
    """Two live threads lease one key; one switches keys — the shared value
    must survive (the other still consumes it). When the LAST lease moves,
    the value is evicted exactly once. Dead threads' leases are pruned."""
    from weather_data_pipeline_spark import session_cache as SC

    def key(k):
        return ("evict_test", (), "app-test", k, ())

    def on_evict(_key, value):
        evicted.append(value)

    evicted: list = []
    gate_built = threading.Barrier(3)
    gate_switch = threading.Event()
    gate_done = threading.Barrier(3)

    def worker(do_switch: bool):
        assert SC._lease(key("k1"), lambda: "V1", on_evict) == "V1"
        gate_built.wait(timeout=30)
        gate_switch.wait(timeout=30)
        if do_switch:
            SC._lease(key("k2"), lambda: "V2", on_evict)
        gate_done.wait(timeout=30)

    ts = [threading.Thread(target=worker, args=(i == 0,)) for i in range(2)]
    for t in ts:
        t.start()
    gate_built.wait(timeout=30)
    gate_switch.set()
    gate_done.wait(timeout=30)
    for t in ts:
        t.join(timeout=30)
    # thread 0 switched to k2 but thread 1 still leases k1: nothing evicted
    assert evicted == [], "evicted a value another live thread still leases"
    # both workers are dead now: the next call on any key prunes their
    # leases and frees BOTH their values
    assert SC._lease(key("k3"), lambda: "V3", on_evict) == "V3"
    assert sorted(evicted) == ["V1", "V2"], "dead threads' entries must free"


def test_concurrent_bsp_graph_loops_do_not_free_each_other(spark, sf_dir):
    """r8 regression net for the _ckpt_tracked id race: two ITERATIVE BSP
    queries run simultaneously, each freeing its per-round checkpoints via
    _free_ckpt as it goes. With the old getPersistentRDDs-diff tracking, a
    round's diff could sweep the OTHER loop's freshly-pinned checkpoint id
    and the next per-round free would kill it mid-superstep
    (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). The id now comes off the
    checkpointed plan directly, so interleaved loops must be safe and
    bit-identical to their sequential baselines."""
    names = ["neardup_components_documents", "pagerank_neardup_documents"]
    baseline = {n: _rows(REGISTRY[n].spark(spark, sf_dir)) for n in names}

    results: dict[str, list] = {}
    errors: list[tuple[str, BaseException]] = []
    barrier = threading.Barrier(len(names))

    def run(name: str):
        try:
            barrier.wait(timeout=120)
            results[name] = _rows(REGISTRY[name].spark(spark, sf_dir))
        except BaseException as exc:  # noqa: BLE001 — surfaced below
            errors.append((name, exc))

    threads = [
        threading.Thread(target=run, args=(n,), daemon=True) for n in names
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, f"concurrent BSP loops failed: {errors}"
    for name in names:
        assert results[name] == baseline[name], f"{name} diverged"
