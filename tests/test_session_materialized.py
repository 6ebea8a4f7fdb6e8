"""The session-materialization layer (session_cache.materialized):
cached shared frames must be value-identical to a fresh computation of the
same plan, reused within a (session, sf_dir) key, and rebuilt per key.

The sf0.01 oracle sweep already hash-verifies every CONSUMER; these tests pin
the cache mechanics themselves at sf0.001 so a lifecycle regression (stale
entry served across sf_dirs, memoized plan diverging from a fresh build)
fails in pytest before it reaches the driver.
"""

from __future__ import annotations

from weather_data_pipeline_spark.plans import queries as Q


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_neardup_cc_matches_fresh_computation(spark, sf_dir):
    from weather_data_pipeline_spark.operators.graph import connected_components

    cached = Q._neardup_cc(spark, sf_dir)
    fresh = connected_components(
        Q._shingle_pairs(spark, sf_dir).select("id_a", "id_b"),
        src="id_a",
        dst="id_b",
    )
    assert _rows(cached) == _rows(fresh)


def test_shingle_pairs_cache_reused_within_key(spark, sf_dir):
    a = Q._shingle_pairs(spark, sf_dir)
    b = Q._shingle_pairs(spark, sf_dir)
    # same entry: the one-entry cache returns the SAME materialized frame,
    # not a second build
    assert a is b


def test_corpus_manifest_cached_equals_plan(spark, sf_dir):
    cached = Q._corpus_manifest(spark, sf_dir)
    fresh = Q._corpus_manifest_plan(spark, sf_dir)
    assert _rows(cached) == _rows(fresh)
    # and the registered query is the ordered projection of the same frame
    reg = Q.REGISTRY["training_corpus_manifest"].spark(spark, sf_dir)
    assert _rows(reg) == _rows(cached)


def test_cache_survives_external_block_loss(spark, sf_dir):
    """Executor loss invalidates localCheckpoint blocks outside the lease
    lifecycle (test_reliable_checkpoints simulates it by unpersisting every
    block in the shared session — which is exactly what broke the first
    full-suite run of this file). The cache must detect the dead entry at
    lookup time and rebuild instead of serving an unrecomputable frame."""
    before = _rows(Q._shingle_pairs(spark, sf_dir))
    # simulated cluster-wide storage loss, blocking
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd in jmap.values():
        rdd.unpersist(True)
    after = _rows(Q._shingle_pairs(spark, sf_dir))  # must rebuild, not fail
    assert after == before
    man = _rows(Q._corpus_manifest(spark, sf_dir))
    assert man  # manifest path rebuilds too


def test_fpw_plan_memo_reuses_and_keys_by_sf(spark, sf_dir):
    a = Q.REGISTRY["feature_pipeline_weather"].spark(spark, sf_dir)
    b = Q.REGISTRY["feature_pipeline_weather"].spark(spark, sf_dir)
    assert a is b  # memo hit: same immutable plan object
    from weather_data_pipeline_spark import session_cache as SC

    key = SC.key("feature_pipeline_weather", spark, sf_dir, ("events",))
    assert SC._MEMO[key[:-1]] == (key, a)


def test_concurrent_block_loss_validators_dont_drop_rebuild(spark, sf_dir):
    """ADVICE r08 race, stress form: N threads that all observed dead
    checkpoint blocks call the lookup concurrently. Exactly one rebuild
    must win; the losers must NOT pop the winner's live entry (the
    expect_ids guard in session_cache._drop) — afterwards the cache serves
    one entry whose blocks are alive and whose values match a fresh
    computation."""
    import threading

    # build, then kill its blocks so every thread's validation fails
    want = _rows(Q._shingle_pairs(spark, sf_dir))
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd in jmap.values():
        rdd.unpersist(True)

    results: list = []
    errors: list = []
    barrier = threading.Barrier(4)

    def run():
        try:
            barrier.wait(timeout=60)
            df = Q._shingle_pairs(spark, sf_dir)
            results.append(df)
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=run, daemon=True) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, f"concurrent validation failed: {errors}"
    # every thread must hold a USABLE frame (an action succeeds and values
    # match) — a loser that popped the winner's entry un-evicted would leave
    # some thread holding a frame whose blocks were freed
    for df in results:
        assert _rows(df) == want


def test_lsh_candidates_cached_equals_fresh(spark, sf_dir):
    """The six _lsh_candidates consumers (triangle/kcore/split_leakage/
    edit_distance/incremental_dedup/minhash_est_error, r11 opt) must read
    the SAME materialized frame, and its rows — including est_jaccard,
    which minhash_est_error consumes — must equal a fresh run of the
    registered candidate query they all used to recompute."""
    cached = Q._lsh_candidates(spark, sf_dir)
    assert Q._lsh_candidates(spark, sf_dir) is cached
    fresh = Q.REGISTRY["minhash_lsh_candidates_documents"].spark(spark, sf_dir)
    assert _rows(cached) == _rows(fresh)
    assert cached.columns == fresh.columns


def test_bpe_learn_session_share_is_build_identical(spark, sf_dir):
    """The three BPE consumers share one session induction (r11 opt). The
    shared (rules, rep) must be exactly what a fresh induction produces —
    the induction is deterministic, so any divergence is a cache bug."""
    rules, rep = Q._bpe_learn(spark, sf_dir)
    rules2, rep2 = Q._bpe_learn(spark, sf_dir)
    assert rep2 is rep
    assert rules2 == rules
    fresh_rules, fresh_rep = Q._bpe_learn_fresh(spark, sf_dir)
    assert rules == fresh_rules
    assert _rows(rep) == _rows(fresh_rep)


def test_bpe_learn_survives_external_block_loss(spark, sf_dir):
    """Same executor-loss contract as the shared frames: a dead entry must
    be detected at lookup and rebuilt, never served unrecomputable."""
    before_rules, before = Q._bpe_learn(spark, sf_dir)
    before_rows = _rows(before)
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd in jmap.values():
        rdd.unpersist(True)
    after_rules, after = Q._bpe_learn(spark, sf_dir)
    assert after_rules == before_rules
    assert _rows(after) == before_rows


def test_bigram_nll_frame_cached_equals_fresh(spark, sf_dir):
    """bigram_nll_documents and _doc_signals both ride one materialized
    per-doc NLL frame (r11 opt); its rows must equal a fresh build of the
    same plan, and the registered query is its ordered projection."""
    cached = Q._bigram_nll_frame(spark, sf_dir)
    assert Q._bigram_nll_frame(spark, sf_dir) is cached
    assert _rows(cached) == _rows(Q._bigram_nll_plan(spark, sf_dir))
    reg = Q.REGISTRY["bigram_nll_documents"].spark(spark, sf_dir)
    assert _rows(reg) == _rows(cached)
