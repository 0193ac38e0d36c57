"""Model-package persistence: PipelineModel + metadata sidecar (S9/M8-M9).

The reference persists the trained model WITH its evaluation context —
``model_package = {model, best_params, performance_metrics,
feature_importance, training_date, model_version, training_samples}``
(ref assets/ml.py:456-473) — so serving and monitoring never see a
model divorced from its metrics.  :class:`~acled_spark.ml.train.
TrainedModel` carries the same fields in memory; this module makes
them durable next to ``PipelineModel.save``:

    <path>/            MLlib PipelineModel directory (stages/, metadata/)
    <path>/package.json  the sidecar

The sidecar is written through the Hadoop FileSystem API
(:mod:`acled_spark.fsutil`, like every filesystem touch in the
package): ``open()`` would silently work on local paths and break on
``s3a://``/``hdfs://`` model stores.  The JSON is tiny driver-side state; the model itself is
saved/loaded by MLlib's own distributed writer.
"""

from __future__ import annotations

import json

from pyspark.ml import PipelineModel
from pyspark.sql import SparkSession

from acled_spark.ml.train import TrainedModel

SIDECAR_NAME = "package.json"
PACKAGE_FORMAT_VERSION = 1


from acled_spark.fsutil import fs_read_text as _fs_read_text  # noqa: E402
from acled_spark.fsutil import fs_write_text as _fs_write_text  # noqa: E402


def save_model_package(
    spark: SparkSession,
    trained: TrainedModel,
    path: str,
    model_version: str = "1.0",
    training_samples: int | None = None,
    training_date: str | None = None,
) -> dict:
    """Persist the model and its metadata sidecar; returns the sidecar.

    ``training_date`` is caller-supplied (ISO string) rather than
    stamped here — persistence stays deterministic and replayable.
    """
    trained.model.write().overwrite().save(path)

    def _portable(x):
        # NaN/Inf metrics (e.g. r2 on a constant-label split) would be
        # emitted as bare NaN literals — json.loads round-trips them but
        # strict consumers (DuckDB read_json, jq, JS) reject the sidecar
        # as invalid JSON; serialize them as null (r7 review)
        if isinstance(x, float) and (x != x or x in (float("inf"), float("-inf"))):
            return None
        return x

    package = {
        "format_version": PACKAGE_FORMAT_VERSION,
        "best_params": trained.best_params,
        "performance_metrics": {
            k: _portable(v) for k, v in trained.metrics.items()
        },
        "feature_importance": [
            {"feature": name, "importance": weight}
            for name, weight in trained.feature_importances
        ],
        "model_version": model_version,
        "training_samples": training_samples,
        "training_date": training_date,
    }
    _fs_write_text(
        spark,
        f"{path}/{SIDECAR_NAME}",
        # allow_nan=False enforces the portability contract at write
        # time: any non-finite float that escapes _portable fails HERE,
        # not in a downstream strict parser
        json.dumps(package, indent=1, sort_keys=True, allow_nan=False),
    )
    return package


def load_model_package(spark: SparkSession, path: str) -> tuple[TrainedModel, dict]:
    """Load the PipelineModel and rehydrate its TrainedModel wrapper.

    Returns ``(trained, sidecar)`` — ``trained`` carries the persisted
    best_params/metrics/importances, so a loaded model is
    indistinguishable from a freshly trained one to scoring/reporting
    code; ``sidecar`` adds the package-level fields (model_version,
    training_samples, training_date).
    """
    model = PipelineModel.load(path)
    sidecar = json.loads(_fs_read_text(spark, f"{path}/{SIDECAR_NAME}"))
    trained = TrainedModel(
        model=model,
        best_params=sidecar["best_params"],
        metrics=sidecar["performance_metrics"],
        feature_importances=[
            (row["feature"], row["importance"])
            for row in sidecar["feature_importance"]
        ],
    )
    return trained, sidecar
