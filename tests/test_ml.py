"""ML pipeline: encoder semantics (determinism, unseen-category handling,
ref ml.py:106-107,138-139), seeded training determinism, scoring analytics
(SURVEY §5.4 — schema/determinism tests, not sklearn number parity)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from acled_spark.ml import (
    TargetEncoder,
    TrainedModel,
    add_distance_from_center,
    build_feature_pipeline,
    error_analysis,
    label_encode_fit,
    label_encode_transform,
    out_of_fold_target_encode,
    train_regressor,
)
from acled_spark.ml.score import score
from acled_spark.tables import load

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def training_frame(spark):
    """events joined features: predict value from type/user/hour."""
    ev = load(spark, SF_DIR, "events")
    return ev.select(
        "event_id",
        "event_type",
        F.col("user_id").cast("string").alias("user_cat"),
        F.hour("ts").cast("double").alias("hour"),
        F.dayofweek("ts").cast("double").alias("dow"),
        "value",
    )


def test_target_encoder_unseen_falls_back_to_global(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 10.0)], "cat string, y double"
    )
    enc = TargetEncoder("cat", "y", smoothing=0).fit(df)
    serving = spark.createDataFrame([("a",), ("zzz",)], "cat string")
    got = {
        r["cat"]: r["cat_target_encoded"] for r in enc.transform(serving).collect()
    }
    assert got["a"] == pytest.approx(2.0)
    assert got["zzz"] == pytest.approx(df.agg(F.avg("y")).collect()[0][0])


def test_out_of_fold_encoding_excludes_own_fold(spark):
    # two folds; category 'a' has mean 1.0 in fold 0 and 3.0 in fold 1.
    df = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 1, 3.0), ("b", 0, 5.0), ("b", 1, 7.0)],
        "cat string, fold int, y double",
    )
    out = out_of_fold_target_encode(
        df, "cat", "y", "fold", n_folds=2, smoothing=0
    )
    got = {
        (r["cat"], r["fold"]): r["cat_target_encoded"] for r in out.collect()
    }
    # encoding for ('a', fold 0) must use only fold-1 data: mean 3.0
    assert got[("a", 0)] == pytest.approx(3.0)
    assert got[("a", 1)] == pytest.approx(1.0)
    assert got[("b", 0)] == pytest.approx(7.0)


def test_label_encode_sorted_ids_and_unseen(spark):
    df = spark.createDataFrame([("x",), ("m",), ("a",)], "c string")
    mapping = label_encode_fit(df, "c")
    assert mapping == {"a": 0, "m": 1, "x": 2}
    serving = spark.createDataFrame([("m",), ("new",)], "c string")
    got = {
        r["c"]: r["c_label_encoded"]
        for r in label_encode_transform(serving, "c", mapping).collect()
    }
    assert got == {"m": 1, "new": -1}


@pytest.mark.parametrize(
    "ddl, seen, unseen",
    [
        ("c string", ["x", "m", "a"], "new"),
        ("c int", [30, -2, 7], 8),
        ("c date", [datetime.date(2024, 2, 29), datetime.date(1999, 1, 1)],
         datetime.date(2024, 3, 1)),
        ("c timestamp", [datetime.datetime(2024, 3, 10, 1, 30),
                         datetime.datetime(2024, 3, 10, 3, 30)],
         datetime.datetime(2024, 3, 10, 2, 30)),
    ],
    ids=["string", "int", "date", "timestamp"],
)
def test_label_encode_keeps_the_class_dtype(spark, ddl, seen, unseen):
    """The map frame takes the fitted column's own dtype, so a class
    matches only itself, whatever its type, and never an unseen value
    that a cast would make equal."""
    df = spark.createDataFrame([(v,) for v in seen], ddl)
    mapping = label_encode_fit(df, "c")
    assert list(mapping) == sorted(seen)
    serving = spark.createDataFrame([(v,) for v in [*seen, unseen, None]], ddl)
    out = label_encode_transform(serving, "c", mapping)
    assert out.schema["c"].dataType == df.schema["c"].dataType
    got = {r["c"]: r["c_label_encoded"] for r in out.collect()}
    assert got == {**mapping, unseen: -1, None: -1}


def test_distance_from_center_frozen_medians(spark):
    df = spark.createDataFrame(
        [(0.0, 0.0), (4.0, 3.0), (8.0, 6.0)], "x double, y double"
    )
    out, center = add_distance_from_center(df, "x", "y")
    assert center == (4.0, 3.0)
    vals = sorted(r["distance_from_center"] for r in out.collect())
    assert vals == pytest.approx([0.0, 5.0, 5.0])
    # serving reuses frozen center
    serving = spark.createDataFrame([(4.0, 7.0)], "x double, y double")
    out2, _ = add_distance_from_center(serving, "x", "y", center=center)
    assert out2.collect()[0]["distance_from_center"] == pytest.approx(4.0)


def test_xgb_param_translation_is_total():
    """Every canonical search knob has an xgboost analog registered —
    a new SEARCH_SPACE knob without a mapping would silently shrink
    the xgboost search grid (this runs WITHOUT the library; the real
    fit rides the env-gated tests/test_xgboost_integration.py)."""
    from acled_spark.ml.train import SEARCH_SPACE, XGB_PARAM_NAMES

    assert set(SEARCH_SPACE) == set(XGB_PARAM_NAMES)


def test_train_score_deterministic(spark, training_frame):
    pipeline = build_feature_pipeline(
        onehot_cols=["event_type"],
        label_cols=["user_cat"],
        numeric_cols=["hour", "dow"],
    )

    def run() -> TrainedModel:
        return train_regressor(
            training_frame,
            pipeline,
            label_col="value",
            n_candidates=3,
            n_folds=2,
            parallelism=2,
        )

    t1 = run()
    assert t1.metrics["train"]["rmse"] > 0
    assert t1.best_params.keys() == set(
        __import__("acled_spark.ml.train", fromlist=["SEARCH_SPACE"]).SEARCH_SPACE
    )
    assert t1.feature_importances and abs(
        sum(v for _, v in t1.feature_importances) - 1.0
    ) < 1e-6

    t2 = run()
    assert t2.best_params == t1.best_params          # seeded search
    assert t2.metrics["test"]["rmse"] == pytest.approx(
        t1.metrics["test"]["rmse"]
    )

    scored = score(t1.model, training_frame, label_col="value")
    analysis = error_analysis(scored, group_col="event_type")
    assert analysis["n"] == training_frame.count()
    # cumulative buckets: |err|<=1 implies |err|<=5 (r7 test review —
    # the old a + b >= a spelling held for ANY non-negative counts)
    assert analysis["within_5"] >= analysis["within_1"]
    assert analysis["within_5"] + analysis["above_5"] == analysis["n"]
    assert 0.0 <= analysis["risk_accuracy"] <= 1.0
    assert len(analysis["by_group"]) == 5


def test_xgboost_path_gated_with_gbt_fallback(spark):
    """SparkXGBRegressor is optional (ref ml.py:390-420): when xgboost is
    absent the factory raises cleanly and the GBT path — same seeded
    9-dim space, same budget — is the documented fallback.  The sampled
    combos are estimator-agnostic and deterministic under the seed."""
    import pytest as _pytest

    from acled_spark.ml.train import (
        XGB_PARAM_NAMES,
        make_estimator,
        sample_param_combos,
        sample_param_maps,
    )

    assert sample_param_combos(10, seed=42) == sample_param_combos(10, seed=42)
    assert sample_param_combos(10, seed=42) != sample_param_combos(10, seed=7)
    assert set(XGB_PARAM_NAMES) == set(
        sample_param_combos(1, seed=42)[0]
    ), "every searched knob has an XGB translation"

    try:
        import xgboost  # noqa: F401

        have_xgb = True
    except ImportError:
        have_xgb = False

    if not have_xgb:
        with _pytest.raises(ImportError, match="estimator='gbt'"):
            make_estimator("xgboost", "label")
        est = make_estimator("gbt", "label")
    else:
        est = make_estimator("xgboost", "label")
    # the same seeded draw renders to ParamMaps on whichever estimator
    maps = sample_param_maps(est, 5, seed=42)
    assert len(maps) == 5

    with _pytest.raises(ValueError, match="unknown estimator"):
        make_estimator("catboost", "label")


def test_oof_encode_keeps_null_category_rows(spark):
    """NULL categories are real categories: the stats joins are
    null-safe, so no input row may vanish from the encoded frame."""
    from acled_spark.ml.features import out_of_fold_target_encode

    df = spark.createDataFrame(
        [(1, None, 5.0, 0), (2, None, 7.0, 1), (3, "a", 1.0, 0),
         (4, "a", 3.0, 1), (5, "b", 9.0, 0)],
        "id long, cat string, y double, fold int",
    )
    out = out_of_fold_target_encode(df, "cat", "y", "fold", n_folds=2)
    assert out.count() == 5
    enc = {r["id"]: r["cat_target_encoded"] for r in out.collect()}
    assert all(v is not None for v in enc.values())


def test_risk_level_null_labels_excluded_from_accuracy(spark):
    """Unlabeled rows must not be scored as 'Minimal' ground truth —
    risk accuracy's denominator is labeled rows only."""
    from acled_spark.ml.score import error_analysis, risk_level

    scored = spark.createDataFrame(
        [(7.0, 6.0), (2.0, 1.0), (9.0, None)],
        "prediction double, label double",
    ).selectExpr(
        "prediction",
        "label",
        "prediction - label AS prediction_error",
        "abs(prediction - label) AS absolute_error",
    ).withColumn("predicted_risk", risk_level(F.col("prediction"))).withColumn(
        "actual_risk", risk_level(F.col("label"))
    )
    assert scored.filter("label IS NULL").collect()[0]["actual_risk"] is None
    out = error_analysis(scored)
    # both labeled rows risk-match (Medium/Medium, Low/Low); the
    # unlabeled row is excluded rather than counted as a mismatch
    assert out["risk_accuracy"] == 1.0


def test_target_encoder_null_category_no_train_serve_skew(spark):
    """Round-7 review: fit() keeps a NULL-category stats row, but
    transform()'s plain equi-join could never match it — NULL-category
    rows got the global mean at serving while training treated NULL as
    a real category (feature skew on exactly those rows)."""
    df = spark.createDataFrame(
        [(None, 100.0), (None, 100.0), ("b", 1.0), ("b", 1.0)],
        "cat string, y double",
    )
    enc = TargetEncoder("cat", "y", smoothing=0).fit(df)
    out = {r["cat"]: r["cat_target_encoded"] for r in enc.transform(df).collect()}
    assert out[None] == 100.0  # the fitted NULL-category stat, not 50.5
    assert out["b"] == 1.0
    # row cardinality preserved (no join fan-out/loss)
    assert enc.transform(df).count() == 4


def test_oof_smoothing_prior_excludes_whole_fold(spark):
    """r7 review (leakage): with smoothing>0 the prior used to subtract
    only the row's own (category, fold) cell, so OTHER categories'
    same-fold targets leaked into every encoded training feature.  The
    prior must be the global mean over all OTHER folds."""
    from acled_spark.ml.features import out_of_fold_target_encode

    # fold 0: a=10, b=100 ; fold 1: a=20, b=200
    df = spark.createDataFrame(
        [("a", 10.0, 0), ("b", 100.0, 0), ("a", 20.0, 1), ("b", 200.0, 1)],
        "cat string, y double, fold int",
    )
    out = {
        (r["cat"], r["fold"]): r["cat_target_encoded"]
        for r in out_of_fold_target_encode(
            df, "cat", "y", "fold", n_folds=2, smoothing=10
        ).collect()
    }
    # row (a, fold 0): oof stats = a's fold-1 cell (sum 20, cnt 1);
    # prior = mean over fold 1 ONLY = (20+200)/2 = 110
    expected_a0 = (20.0 + 10 * 110.0) / (1 + 10)
    assert out[("a", 0)] == pytest.approx(expected_a0, rel=1e-12)
    # row (b, 1): oof = b fold-0 (100, 1); prior = fold-0 mean = 55
    expected_b1 = (100.0 + 10 * 55.0) / (1 + 10)
    assert out[("b", 1)] == pytest.approx(expected_b1, rel=1e-12)


def test_oof_null_targets_match_serving_encoder(spark):
    """r7 review (train/serve skew): a NULL-target row must contribute
    to NEITHER sum nor count — the serving TargetEncoder's convention —
    instead of being coerced to target=0 at training."""
    from acled_spark.ml.features import TargetEncoder, out_of_fold_target_encode

    df = spark.createDataFrame(
        [("a", 4.0, 0), ("a", 4.0, 1), ("a", None, 0), ("b", 8.0, 0),
         ("b", 8.0, 1)],
        "cat string, y double, fold int",
    )
    # serving: category 'a' mean must be 4.0 (2 labeled rows), not 8/3
    enc = TargetEncoder("cat", "y", smoothing=0).fit(df)
    serve = {
        r["cat"]: r["cat_target_encoded"]
        for r in enc.transform(df.select("cat").distinct()).collect()
    }
    assert serve["a"] == pytest.approx(4.0)
    # training (smoothing 0): the (a, fold 1) row's oof stats are
    # fold-0's LABELED rows only -> mean 4.0, same as serving
    oof = {
        (r["cat"], r["fold"], r["y"]): r["cat_target_encoded"]
        for r in out_of_fold_target_encode(
            df, "cat", "y", "fold", n_folds=2, smoothing=0
        ).collect()
    }
    assert oof[("a", 1, 4.0)] == pytest.approx(4.0)


def test_model_package_sidecar_is_strict_json_with_nan_metrics(spark, tmp_path):
    """r7 review: a NaN metric (r2 on a constant-label split) used to be
    written as a bare NaN literal — invalid JSON for strict consumers
    (DuckDB read_json, jq)."""
    import json
    import math

    from acled_spark.ml import build_feature_pipeline
    from acled_spark.ml.persist import SIDECAR_NAME, save_model_package
    from acled_spark.ml.train import TrainedModel, train_regressor
    from acled_spark.tables import load

    ev = (
        load(spark, "/root/testdata/sf0.001", "events")
        .limit(80)
        .withColumn("hour", F.hour("ts"))
    )
    pipeline = build_feature_pipeline(
        onehot_cols=["event_type"], label_cols=[], numeric_cols=["hour"]
    )
    trained = train_regressor(
        ev, pipeline, label_col="value", n_candidates=1, n_folds=2,
        parallelism=1,
    )
    broken = TrainedModel(
        trained.model,
        trained.best_params,
        {**trained.metrics, "r2": float("nan"), "inf_metric": float("inf")},
        trained.feature_importances,
    )
    path = str(tmp_path / "pkg")
    save_model_package(spark, broken, path)
    raw = open(f"{path}/{SIDECAR_NAME}").read()
    parsed = json.loads(raw)  # and strictly:
    assert "NaN" not in raw and "Infinity" not in raw
    assert parsed["performance_metrics"]["r2"] is None
    assert parsed["performance_metrics"]["inf_metric"] is None
    assert not any(
        isinstance(v, float) and not math.isfinite(v)
        for v in parsed["performance_metrics"].values()
    )


def test_error_analysis_reports_labeled_base(spark, training_frame):
    """r8 lens: on a part-labeled serving frame (the NULL-propagation
    path score() supports), the within/above buckets partition
    n_labeled, NOT n — and both bases are reported so no consumer
    divides by the wrong one."""
    from pyspark.sql import functions as F

    from acled_spark.ml.score import error_analysis, risk_level

    scored = training_frame.limit(100).select(
        "event_id",
        F.col("value").alias("prediction"),
        F.when(F.col("event_id") % 5 != 0, F.col("value") + 2.0).alias("label"),
    ).select(
        "*",
        (F.col("prediction") - F.col("label")).alias("prediction_error"),
        F.abs(F.col("prediction") - F.col("label")).alias("absolute_error"),
        risk_level(F.col("prediction")).alias("predicted_risk"),
        risk_level(F.col("label")).alias("actual_risk"),
    )
    out = error_analysis(scored)
    assert out["n"] == 100
    assert out["n_labeled"] == scored.filter("label IS NOT NULL").count()
    assert out["within_1"] + out["within_5"] - out["within_1"] >= 0
    assert out["within_5"] + out["above_5"] == out["n_labeled"]
    assert out["n_labeled"] < out["n"]


def test_oof_encode_validates_fold_domain(spark):
    """r8 lens: n_folds was accepted and ignored; it now validates the
    fold column so a mismatched bucketing fails loudly."""
    import pytest

    from acled_spark.ml.features import out_of_fold_target_encode

    df = spark.createDataFrame(
        [("a", 1.0, 0), ("a", 2.0, 7), ("b", 3.0, 1)],
        "cat string, y double, fold int",
    )
    with pytest.raises(ValueError, match="outside"):
        out_of_fold_target_encode(df, "cat", "y", "fold", n_folds=5).collect()
    # in-domain folds pass
    ok = spark.createDataFrame(
        [("a", 1.0, 0), ("a", 2.0, 1), ("b", 3.0, 1)],
        "cat string, y double, fold int",
    )
    assert out_of_fold_target_encode(ok, "cat", "y", "fold", n_folds=5).count() == 3
