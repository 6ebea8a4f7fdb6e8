"""ML layer: split semantics, training suite, classifier, stacking, registry.

Mirrors the reference's predictor tests (`tests/test_weather_predictor.py`):
all models trained with finite metrics, temporal split strictly ordered,
walk-forward folds leak-free, save/load/predict identity, registry versions.
Runs with fast=True model sizes on sf0.001-derived features.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from weather_data_pipeline_spark.ml import models as M
from weather_data_pipeline_spark.ml import splits as SP
from weather_data_pipeline_spark.ml.registry import ModelRegistry
from weather_data_pipeline_spark.plans import features as FP


@pytest.fixture(scope="module")
def feats(spark, sf_dir):
    df = FP.full_feature_pipeline(FP.events_as_weather(spark, sf_dir)).cache()
    df.count()
    return df


def test_temporal_split_strictly_ordered(spark, feats):
    train, test = SP.temporal_split(feats, "timestamp", 0.2)
    max_train = train.agg(F.max("timestamp")).first()[0]
    min_test = test.agg(F.min("timestamp")).first()[0]
    assert max_train <= min_test
    n, ntr, nte = feats.count(), train.count(), test.count()
    assert ntr + nte == n
    assert ntr == int(0.8 * n)


def test_temporal_split_by_cutoff_scalable(spark, feats):
    train, test = SP.temporal_split_by_cutoff(feats, "timestamp", 0.2)
    assert train.count() + test.count() == feats.count()
    assert (
        train.agg(F.max("timestamp")).first()[0]
        <= test.agg(F.min("timestamp")).first()[0]
    )


def test_walk_forward_no_leakage(spark, feats):
    folds = SP.walk_forward_folds(feats, "timestamp", n_splits=3)
    assert len(folds) == 3
    prev_train_n = -1
    for train, test in folds:
        tr_n = train.count()
        assert tr_n > prev_train_n  # expanding window
        prev_train_n = tr_n
        assert (
            train.agg(F.max("timestamp")).first()[0]
            <= test.agg(F.min("timestamp")).first()[0]
        )


@pytest.fixture(scope="module")
def trained_suite(spark, feats):
    # one training of the full suite, shared by the metric-finiteness and
    # xgboost-fallback tests (each full training is ~30 s of suite wall)
    train, test = SP.temporal_split(feats.limit(1500), "timestamp", 0.2)
    return M.train_regressors(train, test, fast=True)


def test_regressor_suite_metrics_finite(spark, trained_suite):
    import math

    results = trained_suite
    names = {m.name for m in results}
    assert {"linear", "ridge", "random_forest", "gradient_boosting"} <= names
    assert len(names) >= 5  # xgboost or the documented gbt_deep substitute
    for m in results:
        for k, v in m.metrics.items():
            if isinstance(v, str):
                continue  # e.g. the gbt_deep deviation note
            assert math.isfinite(v), (m.name, k, v)
    best = M.select_best(results)
    assert best.metrics["test_r2"] == max(m.metrics["test_r2"] for m in results)


def test_m13_plot_feed_queries(spark, sf_dir):
    """M13 data contract (reference weather_predictor.py:550-633): the
    model-comparison and feature-importance feeds a plotting client needs."""
    from weather_data_pipeline_spark.plans.queries import REGISTRY

    comp = REGISTRY["ml_model_comparison_feed"].spark(spark, sf_dir).collect()
    models = {r.model for r in comp}
    assert len(models) >= 5
    # every model emits exactly train/test x mse/mae/r2
    assert len(comp) == 6 * len(models)
    assert {(r.split, r.metric) for r in comp} == {
        (s, m) for s in ("train", "test") for m in ("mse", "mae", "r2")
    }
    imp = REGISTRY["ml_feature_importance_feed"].spark(spark, sf_dir).collect()
    assert 0 < len(imp) <= 10
    assert [r.rank for r in imp] == list(range(1, len(imp) + 1))
    imps = [r.importance for r in imp]
    assert imps == sorted(imps, reverse=True)


def test_parallel_fits_match_sequential(spark, feats):
    """train_regressors fits on driver threads (CrossValidator-style
    parallelism); metrics must be bit-identical to sequential fits — fixed
    seeds, one cached partitioning, result order pinned to suite order."""
    train, test = SP.temporal_split(feats.limit(800), "timestamp", 0.2)
    cols = M.feature_columns(train)
    seq = M.train_regressors(train, test, cols=cols, fast=True, parallelism=1)
    par = M.train_regressors(train, test, cols=cols, fast=True, parallelism=3)
    assert [m.name for m in seq] == [m.name for m in par]
    for a, b in zip(seq, par):
        for k, v in a.metrics.items():
            if isinstance(v, str):
                assert b.metrics[k] == v
            else:
                assert b.metrics[k] == v, (a.name, k, v, b.metrics[k])


def test_xgboost_fallback_decision_on_record(spark, trained_suite):
    """M5 parity decision (VERDICT r01 #7): the reference trains XGBoost;
    this environment has no xgboost wheel, so the suite must contain the
    documented GBT stand-in with its exact recorded params — and if the
    environment ever ships xgboost, the real SparkXGBRegressor instead."""
    suite = M.regressor_suite(fast=True)
    if M.HAS_XGBOOST:
        assert "xgboost" in suite and "gbt_deep" not in suite
        assert type(suite["xgboost"]).__name__ == "SparkXGBRegressor"
    else:
        assert "gbt_deep" in suite and "xgboost" not in suite
        gbt = suite["gbt_deep"]
        assert type(gbt).__name__ == "GBTRegressor"
        assert gbt.getMaxDepth() == 6 and gbt.getStepSize() == 0.1
        # and the deviation must be visible in the training output itself
        deep = next(m for m in trained_suite if m.name == "gbt_deep")
        assert "xgboost unavailable" in deep.metrics["note"]


def test_rain_classifier_and_importances(spark, feats):
    train, test = SP.temporal_split(feats.limit(1500), "timestamp", 0.2)
    m = M.train_rain_classifier(train, test, fast=True)
    assert 0.0 <= m.metrics["roc_auc"] <= 1.0
    assert 0.0 <= m.metrics["accuracy"] <= 1.0
    cols = M.feature_columns(train)
    imps = M.feature_importances(m, cols)
    assert imps and abs(sum(v for _, v in imps) - 1.0) < 1e-6


def test_stacking_ensemble(spark, feats):
    train, test = SP.temporal_split(feats.limit(1200), "timestamp", 0.2)
    m = M.stacking_ensemble(train, test, fast=True)
    import math

    assert math.isfinite(m.metrics["test_mse"])


def test_save_load_predict_identity(spark, feats, tmp_path):
    train, test = SP.temporal_split(feats.limit(1200), "timestamp", 0.2)
    cols = M.feature_columns(train)
    results = M.train_regressors(train, test, cols=cols, fast=True)
    best = M.select_best(results)
    path = str(tmp_path / "model")
    M.save_model(best, path)
    loaded = M.load_model(path)
    assert loaded.name == best.name and loaded.metrics == best.metrics
    te = test.fillna(0, subset=cols).limit(50)
    a = [r.prediction for r in best.pipeline_model.transform(te).select("prediction").collect()]
    b = [r.prediction for r in loaded.pipeline_model.transform(te).select("prediction").collect()]
    assert a == b


def test_registry_versions_and_hash(tmp_path):
    reg = ModelRegistry(str(tmp_path / "registry.json"))
    art = tmp_path / "artifact"
    art.mkdir()
    (art / "m.bin").write_bytes(b"model-bytes")
    e1 = reg.register(str(art), "linear", {"test_r2": 0.9}, ["f1", "f2"])
    e2 = reg.register(str(art), "ridge", {"test_r2": 0.95}, ["f1", "f2"])
    assert (e1["version"], e2["version"]) == (1, 2)
    assert reg.latest()["model_type"] == "ridge"
    assert reg.verify_artifact(1)
    cmp = reg.compare(1, 2, "test_r2")
    assert abs(cmp["delta"] - 0.05) < 1e-12
    (art / "m.bin").write_bytes(b"tampered")
    assert not reg.verify_artifact(1)


def test_grid_search_gbt_fast(spark, feats):
    m = M.grid_search_gbt(feats.limit(600), num_folds=2, fast=True)
    # CrossValidator returns the best refit model + per-combo avg metrics
    assert len(m.avgMetrics) == 4  # 2x2 fast grid
    assert all(v > 0 for v in m.avgMetrics)
    pred = m.transform(feats.limit(100).fillna(0))
    assert "prediction" in pred.columns


def test_predict_latest_single_entity(spark, feats):
    train, test = SP.temporal_split(feats.limit(1200), "timestamp", 0.2)
    cols = M.feature_columns(train)
    best = M.select_best(M.train_regressors(train, test, cols=cols, fast=True))
    out = M.predict_latest(feats, best, "city", "city_1", cols).collect()
    assert len(out) == 1
    import math

    assert math.isfinite(out[0].predicted_temperature)


def test_strip_training_summary_prevents_observation_capture(spark):
    # regression (Spark 4.1): any df.observe() initializes the session's
    # lazy ObservationManager; a fitted classifier's trainingSummary then
    # drags session -> manager into the transform task closure and dies
    # with NotSerializableException. strip_training_summary severs that.
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import VectorAssembler
    from pyspark.sql import Observation

    from weather_data_pipeline_spark.ml.models import strip_training_summary

    obs = Observation("probe_obs")
    spark.range(5).observe(obs, F.count(F.lit(1)).alias("n")).count()
    assert obs.get["n"] == 5

    df = spark.range(100).select(
        F.col("id").cast("double").alias("x"),
        (F.col("id") % 2).cast("double").alias("label"),
    )
    vec = VectorAssembler(inputCols=["x"], outputCol="features").transform(df)
    m = strip_training_summary(RandomForestClassifier(numTrees=3, seed=1).fit(vec))
    assert not m.hasSummary
    auc = BinaryClassificationEvaluator().evaluate(m.transform(vec))
    assert 0.0 <= auc <= 1.0


def test_ml_calibration_feed_shape_and_bounds(spark, sf_dir):
    from weather_data_pipeline_spark.plans.queries import REGISTRY

    rows = REGISTRY["ml_calibration_feed"].spark(spark, sf_dir).collect()
    assert 1 <= len(rows) <= 10
    brier = rows[0].brier_score
    assert 0.0 <= brier <= 1.0
    total = 0
    for r in rows:
        assert 0 <= r.bin <= 9
        assert 0.0 <= r.mean_predicted <= 1.0
        assert 0.0 <= r.empirical_rate <= 1.0
        assert r.brier_score == brier
        total += r.n
    assert total > 0


def test_prune_city_subset_is_data_driven():
    """VERDICT r08 #3: the training-cap city prune must not depend on the
    fixture's `city_0..2` names — any sorted city naming selects the
    shortest prefix that clears cap + per-city lead tail."""
    from weather_data_pipeline_spark.plans.queries import _prune_city_subset

    # renamed cities, each 2000 rows: need cum >= 4000 + 24*k
    counts = [(f"metro_{c}", 2000) for c in "abcdefg"]
    assert _prune_city_subset(counts) == ["metro_a", "metro_b", "metro_c"]
    # one huge city suffices alone
    assert _prune_city_subset([("z_only", 10_000)]) == ["z_only"]
    # all cities together can't clear the cap: no prune (full table)
    assert _prune_city_subset([("a", 100), ("b", 100)]) == []
    # boundary: exactly cap + tail*k rows clears it
    assert _prune_city_subset([("a", 4024)]) == ["a"]
    assert _prune_city_subset([("a", 4023)]) == []
    assert _prune_city_subset([]) == []


def test_ml_feats_underfill_guard_falls_back_to_full_table(
    spark, sf_dir, monkeypatch
):
    """ADVICE r09: _prune_city_subset's cap+24k bound assumes the only row
    loss is the per-city lead tail; repaired-null gaps can drop more rows,
    under-filling the 4000-row cap. When the pruned frame materializes short,
    _ml_feats must fall back to the full table instead of silently training
    on fewer rows. Forced here by pruning to a single city (far under cap at
    sf0.001)."""
    from weather_data_pipeline_spark import session_cache as SC
    from weather_data_pipeline_spark.plans import queries as Q

    SC.clear()
    chosen_rec: list = []

    def fake_prune(counts, cap=4000, tail_per_city=24):
        chosen_rec.append(counts[0][0])
        return [counts[0][0]]

    monkeypatch.setattr(Q, "_prune_city_subset", fake_prune)
    df = Q._ml_feats(spark, sf_dir)
    n = df.count()
    src = FP.events_as_weather(spark, sf_dir)
    expected = FP.training_feature_pipeline_unencoded(src).limit(4000).count()
    pruned_only = FP.training_feature_pipeline_unencoded(
        src.where(F.col("city") == chosen_rec[0])
    ).count()
    # the forced prune genuinely under-fills, so the guard must have fired
    assert pruned_only < 4000 and pruned_only < expected
    assert n == expected
    assert "weather_main_encoded" in df.columns
    SC.clear()
