"""No registered query may leave cached RDD partitions behind (VERDICT r01 #4).

A `persist()`/`cache()` without a paired `unpersist()` accumulates executor
memory across calls in a long-lived session — at 100 TB that is an OOM, not a
nuisance. The persist-prone query surfaces (LSH candidate generation,
walk-forward CV) are exercised here and the session's persistent-RDD map and
SQL cache manager are asserted empty afterwards.
"""

from __future__ import annotations

from weather_data_pipeline_spark.plans.queries import REGISTRY


def _persistent_rdd_ids(spark) -> set[int]:
    # other test modules may have live localCheckpoint RDDs awaiting GC in
    # the shared session, so leak checks are DELTAS against a snapshot, not
    # assertions of a globally empty map
    it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def _sql_cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_persist_prone_queries_leave_no_cache(spark, sf_dir):
    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    for name in (
        "minhash_lsh_candidates_documents",
        "walk_forward_fold_bounds",
        "multimodal_feature_extract",
    ):
        REGISTRY[name].spark(spark, sf_dir).collect()
        leaked = _persistent_rdd_ids(spark) - before
        assert not leaked, f"{name} leaked persistent RDDs: {leaked}"
        assert _sql_cache_empty(spark), f"{name} leaked SQL-cached plans"


def test_train_regressors_unpersists(spark, sf_dir, tmp_path):
    # train paths cache the filled training frame; they must unpersist it
    # before returning (ml/models.py train_regressors / stacking_ensemble).
    import pyspark.sql.functions as F

    from weather_data_pipeline_spark.ml import models as M

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            F.col("value").alias("temperature"),
            (F.col("value") * 2).alias("humidity"),
            F.col("value").alias("temperature_future"),
        )
        .limit(200)
    )
    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    M.train_regressors(ev, ev, cols=["temperature", "humidity"], fast=True)
    assert not (_persistent_rdd_ids(spark) - before)
    assert _sql_cache_empty(spark)


def test_ml_cache_lifecycle_alternating_keys(spark, sf_dir, tmp_path):
    """Single-entry ML caches are a documented decision: alternating
    (session, sf_dir) keys retrains per call — intended for the
    back-to-back harness — but eviction must FREE the evicted feature
    frame's checkpoint blocks, never pin one frame per key ever used."""
    import shutil

    from weather_data_pipeline_spark import session_cache as SC
    from weather_data_pipeline_spark.plans.queries import _ml_feats

    # same data, distinct key: the key holds the directory's realpath, so
    # the second key is a copy of the table, not another spelling
    other = str(tmp_path)
    shutil.copyfile(f"{sf_dir}/events.parquet", f"{other}/events.parquet")
    SC.clear()
    before = _persistent_rdd_ids(spark)
    for _ in range(3):  # alternate keys: each switch evicts + rebuilds
        _ml_feats(spark, sf_dir).count()
        _ml_feats(spark, other).count()
    new = _persistent_rdd_ids(spark) - before
    # only the CURRENT entry's checkpoint may stay pinned
    assert len(new) <= 1, f"evicted ML feats frames left {len(new)} pinned"
    SC.clear()


def test_ml_cache_evict_skips_foreign_context_ids(spark, sf_dir):
    """Eviction must NOT free ids owned by a different (stopped, replaced)
    SparkContext — after a restart RDD ids restart from 0, so a stale id
    can collide with an unrelated live RDD in the new context. A planted
    entry keyed by a foreign applicationId but holding a LIVE victim's ids
    must leave the victim's blocks persistent after eviction."""
    from weather_data_pipeline_spark import session_cache as SC
    from weather_data_pipeline_spark.operators.graph import (
        _ckpt_tracked,
        _free_ckpt,
    )
    from weather_data_pipeline_spark.plans.queries import _ml_feats

    victim, victim_ids = _ckpt_tracked(spark.range(10))
    assert set(victim_ids) <= _persistent_rdd_ids(spark)
    SC.clear()
    # an ml_feats entry of a foreign application whose ids COLLIDE with the
    # live victim's, leased by THIS thread so the key switch in _ml_feats
    # drops the last lease and runs eviction
    stale = ("ml_feats", (), "app-STALE", "/stale", ())
    SC._lease(stale, lambda: (None, list(victim_ids)), on_evict=SC._free_blocks)
    _ml_feats(spark, sf_dir).count()  # evicts the planted entry
    assert stale not in SC._ENTRIES
    assert set(victim_ids) <= _persistent_rdd_ids(spark), (
        "evict freed ids owned by a foreign context (id-collision hazard)"
    )
    _free_ckpt(spark, victim_ids)
    SC.clear()


def test_iterative_graph_loops_free_per_round_checkpoints(spark, monkeypatch):
    """connected_components / k_core / pagerank must free each superstep's
    localCheckpoint blocks once the next round is materialized (ADVICE r02):
    only the inputs of the RETURNED lazy frame may stay pinned, never one
    edge/label/rank set per round."""
    from weather_data_pipeline_spark.operators.graph import (
        connected_components,
        k_core,
        pagerank,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (10, 11), (11, 12), (20, 21)],
        "id_a long, id_b long",
    )
    # pin the distributed loop: the r12 union-find fast path pins no blocks
    # at all, which would make this lifecycle test vacuous
    from weather_data_pipeline_spark.operators import graph as _g

    monkeypatch.setattr(_g, "_CC_LOCAL_MAX_ROWS", 0)
    before = _persistent_rdd_ids(spark)

    cc = connected_components(edges, src="id_a", dst="id_b", max_iter=25)
    cc.count()
    after_cc = _persistent_rdd_ids(spark) - before
    assert len(after_cc) <= 2  # und + final labels, NOT one per superstep

    kc = k_core(edges, k=2, max_rounds=16)
    assert sorted((r.node, r.core_degree) for r in kc.collect()) == [
        (1, 2),
        (2, 2),
        (3, 2),
    ]
    pr = pagerank(edges, src="id_a", dst="id_b", undirected=True, n_iter=10)
    assert pr.count() == 10
    total_new = _persistent_rdd_ids(spark) - before
    # cc(2) + k_core(2: input e + converged-round e) + pagerank(1: final
    # ranks only — nodes + deg-joined edges are freed on return, ADVICE r03)
    # — a leaking loop would add 2 per round
    assert len(total_new) <= 5, f"pinned {len(total_new)} checkpoint RDD sets"


def test_block_pair_similarity_frees_block_table(spark, sf_dir):
    """cosine_near_dup_pairs / hard_negatives must free the corpus-sized
    block-table checkpoint once the candidate set is materialized (ADVICE
    r03), and — ADVICE r04 — the candidate checkpoints themselves must not
    accumulate per CALL: each invocation frees the previous same-operator
    invocation's candidate blocks (_ckpt_cand), so pinned storage is bounded
    at one candidate set per OPERATOR regardless of call count."""
    from weather_data_pipeline_spark.operators.similarity import (
        cosine_near_dup_pairs,
        hard_negatives,
    )
    from weather_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    before = _persistent_rdd_ids(spark)
    for _ in range(3):  # a leak would grow per CALL, not just per operator
        cosine_near_dup_pairs(emb, 0.4, block_rows=64).count()
        hard_negatives(emb, block_rows=64).count()
    new = _persistent_rdd_ids(spark) - before
    # 6 calls, but only the LATEST candidate checkpoint per operator stays
    assert len(new) <= 2, f"pinned {len(new)} checkpoint RDD sets"


def test_hard_negatives_count_then_collect_does_not_redo_matmul(spark, sf_dir):
    """The candidate frame is eagerly checkpointed (ADVICE r03): a second
    action must replay from the checkpoint, not re-run the O(n²) block
    matmul. Detect via job count: collect() after count() should launch no
    mapInPandas stage (checkpointed scan + the small exact re-score only)."""
    from weather_data_pipeline_spark.operators.similarity import hard_negatives
    from weather_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    hn = hard_negatives(emb, block_rows=64)
    n = hn.count()
    assert n > 0
    # the executed plan of the second action must source from the checkpoint
    # RDD scan, not from a mapInPandas over the block grid
    hn.collect()
    plan = hn._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert "mapInPandas" not in plan.lower().replace(" ", "")


def _plant_entry(key, value) -> None:
    """A built materialized entry holding ``value`` = (frame, ids), leased
    by the calling thread."""
    from weather_data_pipeline_spark import session_cache as SC

    SC._lease(key, lambda: value, on_evict=SC._free_blocks)


def test_drop_cache_entry_keeps_rebuilt_entry(spark):
    """Validation-loop race: a slow validator that observed dead ids must
    NOT pop an entry another thread already rebuilt — drop happens only
    while the stored value still holds the ids that failed."""
    from weather_data_pipeline_spark import session_cache as SC

    key = ("drop_test", (), spark.sparkContext.applicationId, "/k", ())
    _plant_entry(key, ("rebuilt-df", [9999991]))
    # slow validator saw OLD ids [123]; the entry now holds the rebuild
    SC._drop(key, expect_ids=[123])
    assert key in SC._ENTRIES, "live rebuilt entry was dropped"
    # matching ids: the entry is the dead one — dropped
    SC._drop(key, expect_ids=[9999991])
    assert key not in SC._ENTRIES


def test_drop_cache_entry_frees_surviving_blocks(spark):
    """Block validation is all-or-nothing, so an entry with only SOME
    blocks lost is dropped while survivors would stay pinned — the drop
    must best-effort free whatever is still alive."""
    from weather_data_pipeline_spark import session_cache as SC
    from weather_data_pipeline_spark.operators.graph import _ckpt_tracked

    _df, ids = _ckpt_tracked(spark.range(10))
    assert set(ids) <= _persistent_rdd_ids(spark)
    key = ("drop_test", (), spark.sparkContext.applicationId, "/k", ())
    _plant_entry(key, (None, list(ids)))
    SC._drop(key, expect_ids=list(ids))
    assert not (set(ids) & _persistent_rdd_ids(spark)), (
        "dropped entry's surviving checkpoint blocks stayed pinned"
    )


def test_drop_cache_entry_skips_foreign_context_ids(spark):
    """The survivor-freeing path must respect the same foreign-appId guard
    as eviction: stale ids from a restarted context may collide with a live
    victim's ids in the new context."""
    from weather_data_pipeline_spark import session_cache as SC
    from weather_data_pipeline_spark.operators.graph import (
        _ckpt_tracked,
        _free_ckpt,
    )

    victim, ids = _ckpt_tracked(spark.range(10))
    key = ("drop_test", (), "app-STALE", "/k", ())
    _plant_entry(key, (None, list(ids)))
    SC._drop(key, expect_ids=list(ids))
    assert key not in SC._ENTRIES
    assert set(ids) <= _persistent_rdd_ids(spark), (
        "drop freed ids owned by a foreign context"
    )
    _free_ckpt(spark, ids)


def test_ckpt_cand_prunes_dead_thread_entries(spark, sf_dir):
    """r8: a worker thread that ran a `_ckpt_cand`-routed operator and
    exited must not pin its candidate blocks forever — the next call of
    ANY `_ckpt_cand` operator (from any thread) frees entries whose owning
    thread is gone. Without pruning, a pooled server with thread churn
    leaks one candidate set per (operator, dead thread)."""
    import threading

    from weather_data_pipeline_spark.operators import similarity as S
    from weather_data_pipeline_spark.plans.queries import REGISTRY

    def run():
        REGISTRY["cosine_near_dup_embeddings"].spark(spark, sf_dir).count()

    t = threading.Thread(target=run)
    t.start()
    t.join()
    dead_key = ("cosine_near_dup_pairs", t.ident)
    with S._PREV_CAND_LOCK:
        assert dead_key in S._PREV_CAND, "worker entry should exist pre-prune"
        _, dead_ids = S._PREV_CAND[dead_key]
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    assert any(jmap.get(i) is not None for i in dead_ids), (
        "dead thread's candidate blocks should still be pinned before the "
        "next call triggers pruning"
    )

    # any _ckpt_cand call from a live thread prunes the dead entry
    REGISTRY["cosine_near_dup_embeddings"].spark(spark, sf_dir).count()
    with S._PREV_CAND_LOCK:
        assert dead_key not in S._PREV_CAND, "dead-thread entry not pruned"
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    assert all(jmap.get(i) is None for i in dead_ids), (
        "dead thread's candidate blocks were not unpersisted"
    )
