"""Feature-engineering operators M1-M5 (ref assets/ml.py:47-163).

All encoders are DataFrame-native:
- M1 target encoding: per-category smoothed means as a tiny stats frame,
  broadcast-joined back (never a Python dict .map) — fit/transform split
  mirrors the reference's ``fit_encoders`` serving mode (ml.py:84-126);
- M2 one-hot / M3 label encoding via StringIndexer/OneHotEncoder inside
  a Pipeline (unseen/NULL -> handleInvalid="keep", i.e. the extra
  LARGEST ordinal — the MLlib-native convention the assembler needs;
  the reference's -1-sentinel parity (ml.py:138-139) lives in the
  standalone ``label_encode_fit``/``label_encode_transform`` pair,
  which the ml_label_encode oracle checks — the two conventions are
  deliberately NOT the same, r8 lens);
- M4 distance-from-center from frozen medians (ml.py:142-153);
- M5 assembly via VectorAssembler.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.ml import Pipeline
from pyspark.ml.feature import OneHotEncoder, StringIndexer, VectorAssembler
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from acled_spark.session import arrow_frame

SMOOTHING = 10  # ref ml.py:47-70
N_FOLDS = 5


@dataclass
class TargetEncoder:
    """M1: smoothed target encoding with fit/transform lifecycle.

    ``fit`` computes per-category (count, mean) + the global mean;
    ``transform`` broadcast-joins them on, unseen categories fall back
    to the global mean (ref ml.py:63-68,106-107).
    """

    cat_col: str
    target_col: str
    smoothing: int = SMOOTHING
    stats: DataFrame | None = None
    global_mean: float | None = None

    @property
    def out_col(self) -> str:
        return f"{self.cat_col}_target_encoded"

    def fit(self, df: DataFrame) -> "TargetEncoder":
        # ONE source scan: raw per-category stats materialize first
        # (category-sized, tiny), and the global mean rolls up from them
        # driver-side — a separate df.agg job would scan the fact twice
        # (round-7 review; same rollup discipline as ml_target_encode_cv)
        raw = (
            df.groupBy(self.cat_col)
            .agg(
                F.count(self.target_col).alias("cnt"),
                F.avg(self.target_col).alias("mean_t"),
            )
            # lazy (r14): the global-mean collect() on the next line is
            # the first action and materializes it in the same job; an
            # eager checkpoint ran a dedicated job for the same bytes
            .localCheckpoint(eager=False)
        )
        g = raw.agg(
            (F.sum(F.col("cnt") * F.col("mean_t")) / F.sum("cnt")).alias("m")
        ).collect()[0]
        self.global_mean = g["m"]
        smoothed = (
            F.col("cnt") * F.col("mean_t") + self.smoothing * F.lit(self.global_mean)
        ) / (F.col("cnt") + self.smoothing)
        self.stats = (
            raw.select(self.cat_col, smoothed.alias(self.out_col))
            # materialize NOW: a lazy plan would re-aggregate the SOURCE
            # at every transform, mixing post-fit table contents with the
            # fit-time global_mean — the frozen-at-fit contract the
            # serving mode promises (stats are category-sized, tiny)
            .localCheckpoint()
        )
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        if self.stats is None:
            raise RuntimeError("TargetEncoder.transform before fit")
        # null-safe on the category (round-7 review): fit's groupBy keeps
        # a NULL-category stats row, and a plain equi-join could never
        # match it — NULL-category rows silently fell back to the global
        # mean at serving while training encoded them as a real category
        # (train/serve feature skew on exactly those rows)
        stats = self.stats.withColumnRenamed(self.cat_col, "__te_cat")
        return (
            df.join(
                F.broadcast(stats),
                F.col(self.cat_col).eqNullSafe(F.col("__te_cat")),
                "left",
            )
            .drop("__te_cat")
            .withColumn(
                self.out_col,
                F.coalesce(F.col(self.out_col), F.lit(self.global_mean)),
            )
        )


def out_of_fold_target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    fold_col: str,
    n_folds: int = N_FOLDS,
    smoothing: int = SMOOTHING,
) -> DataFrame:
    """M1 training mode: K-fold out-of-fold encoding (ref ml.py:47-70).

    Each row is encoded from statistics computed WITHOUT its own fold —
    derived by subtracting the row's fold partials from category totals,
    one stats shuffle total instead of K passes.  Folds must be a
    deterministic int column (e.g. ``pmod(hash(key), k)``); the oracle-
    checked variant lives in queries/mlq.py (ml_target_encode_cv).

    ``n_folds`` VALIDATES the fold column (r8 lens — it was previously
    accepted and ignored, inviting the false belief it controlled
    bucketing): every observed fold value must lie in [0, n_folds);
    checked on the already-tiny stats frame, no extra corpus pass.
    """
    out_col = f"{cat_col}_target_encoded"
    # internal stat columns carry a __oof_ prefix so an input frame
    # that happens to contain "cnt"/"s"/... can't collide (ambiguous
    # reference) or be silently dropped below
    # materialized: THREE consumers below (totals rollup, global rollup,
    # the per-row join) would otherwise each re-run the aggregation —
    # three scans of the fact for a |cat|·|folds|-row frame
    fold_stats = (
        df.groupBy(
            F.col(cat_col).alias("__oof_cat"), F.col(fold_col).alias("__oof_fold")
        )
        # count(target), not count(*): a NULL-target row contributes to
        # neither sum nor count, matching TargetEncoder.fit — counting
        # it coerced NULL targets to 0 at training while serving
        # excluded them (train/serve skew on every such category;
        # r7 review)
        .agg(
            F.count(target_col).alias("__oof_cnt"),
            F.sum(target_col).alias("__oof_s"),
        )
        # lazy (r14): the fold-validation collect() just below is the
        # first action and materializes it; eager ran an extra job
        .localCheckpoint(eager=False)
    )
    bad_folds = [
        r["__oof_fold"]
        for r in fold_stats.select("__oof_fold").distinct().collect()
        if r["__oof_fold"] is None
        or not (0 <= r["__oof_fold"] < n_folds)
    ]
    if bad_folds:
        raise ValueError(
            f"fold column {fold_col!r} holds values outside "
            f"[0, {n_folds}): {sorted(bad_folds, key=str)[:10]} — pass "
            "the n_folds the fold column was actually bucketed with"
        )
    totals = fold_stats.groupBy("__oof_cat").agg(
        F.sum("__oof_cnt").alias("__oof_tot_cnt"),
        F.sum("__oof_s").alias("__oof_tot_s"),
    )
    # per-FOLD totals: the smoothing prior must exclude the row's whole
    # fold, not just its own (category, fold) cell — subtracting only
    # the cell left every OTHER category's same-fold targets inside the
    # prior, leaking validation-fold values into training features
    # (r7 review)
    fold_tot = fold_stats.groupBy("__oof_fold").agg(
        F.sum("__oof_cnt").alias("__oof_f_cnt"),
        F.sum("__oof_s").alias("__oof_f_s"),
    )
    # global totals roll up from fold_stats — NOT a second aggregation
    # over the fact (round-7 review; mirrors ml_target_encode_cv's
    # "rollup of fold_stats" plan): sum of per-(cat, fold) counts/sums
    # equals the frame totals exactly, with zero extra input I/O
    g = fold_stats.agg(
        F.sum("__oof_cnt").alias("__oof_g_cnt"),
        F.sum("__oof_s").alias("__oof_g_s"),
    )
    joined = (
        # null-safe on the category: a NULL category is a real category
        # here (groupBy keeps it), and a plain equi-join would silently
        # DROP every NULL-category row from the returned frame
        df.join(
            F.broadcast(totals),
            F.col(cat_col).eqNullSafe(totals["__oof_cat"]),
        )
        .drop(totals["__oof_cat"])
        .join(
            F.broadcast(fold_stats),
            F.col(cat_col).eqNullSafe(fold_stats["__oof_cat"])
            # null-safe on the fold too: a NULL-fold row would otherwise
            # miss its own fold_stats match and be encoded from FULL
            # category totals INCLUDING its own target — silent leakage
            & F.col(fold_col).eqNullSafe(fold_stats["__oof_fold"]),
            "left",
        )
        .join(
            F.broadcast(fold_tot),
            F.col(fold_col).eqNullSafe(fold_tot["__oof_fold"]),
            "left",
        )
        .drop(fold_tot["__oof_fold"])
        .crossJoin(F.broadcast(g))
    )
    oof_cnt = F.col("__oof_tot_cnt") - F.coalesce(F.col("__oof_cnt"), F.lit(0))
    oof_s = F.col("__oof_tot_s") - F.coalesce(F.col("__oof_s"), F.lit(0.0))
    # leave-FOLD-out global prior (whole fold subtracted, see fold_tot);
    # guarded: a single-fold frame leaves zero out-of-fold rows and the
    # prior is undefined — NULL, not an ANSI divide-by-zero abort
    oof_g_cnt = F.col("__oof_g_cnt") - F.coalesce(F.col("__oof_f_cnt"), F.lit(0))
    oof_gmean = F.when(
        oof_g_cnt > 0,
        (F.col("__oof_g_s") - F.coalesce(F.col("__oof_f_s"), F.lit(0.0)))
        / oof_g_cnt,
    )
    smoothed = (oof_s + smoothing * oof_gmean) / (oof_cnt + smoothing)
    return joined.withColumn(
        out_col, F.when(oof_cnt > 0, smoothed).otherwise(oof_gmean)
    ).drop(
        "__oof_cat", "__oof_fold", "__oof_cnt", "__oof_s",
        "__oof_tot_cnt", "__oof_tot_s", "__oof_g_cnt", "__oof_g_s",
        "__oof_f_cnt", "__oof_f_s",
    )


def label_encode_fit(df: DataFrame, col: str) -> dict[str, int]:
    """M3: sklearn-LabelEncoder-compatible mapping (sorted classes -> 0..n-1,
    ref ml.py:128-139)."""
    classes = sorted(
        r[0] for r in df.select(col).distinct().collect() if r[0] is not None
    )
    return {c: i for i, c in enumerate(classes)}


def label_encode_transform(
    df: DataFrame, col: str, mapping: dict[str, int]
) -> DataFrame:
    """Serving mode: unseen classes -> -1 (ref ml.py:138-139).

    The mapping ships as a BROADCAST-joined frame, not a create_map
    literal: a literal map inlines 2·|classes| expressions into the
    plan, which blows up analysis/codegen for high-cardinality columns
    — the module's own broadcast-stats discipline applies to the
    encoder itself.
    """
    if not mapping:
        return df.withColumn(f"{col}_label_encoded", F.lit(-1).cast("int"))
    # the class column keeps the fitted column's own dtype (fit()
    # collects its values, so the keys may be ints, dates, ...)
    map_df = arrow_frame(
        df.sparkSession,
        list(mapping.items()),
        StructType(
            [
                StructField("__le_cls", df.schema[col].dataType),
                StructField("__le_code", LongType()),
            ]
        ),
    )
    return (
        df.join(
            F.broadcast(map_df), F.col(col) == F.col("__le_cls"), "left"
        )
        .withColumn(
            f"{col}_label_encoded",
            F.coalesce(F.col("__le_code"), F.lit(-1)).cast("int"),
        )
        .drop("__le_cls", "__le_code")
    )


def add_distance_from_center(
    df: DataFrame, x_col: str, y_col: str,
    center: tuple[float, float] | None = None,
) -> tuple[DataFrame, tuple[float, float]]:
    """M4: euclidean distance from (median x, median y); medians freeze at
    fit time and are reused for serving (ref ml.py:142-153)."""
    if center is None:
        row = df.agg(
            F.percentile(x_col, 0.5).alias("mx"),
            F.percentile(y_col, 0.5).alias("my"),
        ).collect()[0]
        center = (row["mx"], row["my"])
    cx, cy = center
    out = df.withColumn(
        "distance_from_center",
        F.sqrt(F.pow(F.col(x_col) - cx, 2) + F.pow(F.col(y_col) - cy, 2)),
    )
    return out, center


def build_feature_pipeline(
    onehot_cols: list[str],
    label_cols: list[str],
    numeric_cols: list[str],
    output_col: str = "features",
) -> Pipeline:
    """M2+M3+M5 as one MLlib Pipeline: indexers -> one-hot -> assembler.

    handleInvalid="keep" gives unseen categories their own index at
    serving (the reference maps them to -1; the overflow index is the
    MLlib-idiomatic equivalent — SURVEY §7.4.3).
    """
    stages = []
    oh_inputs, oh_outputs = [], []
    for c in onehot_cols:
        stages.append(
            StringIndexer(inputCol=c, outputCol=f"{c}_idx", handleInvalid="keep",
                          stringOrderType="alphabetAsc")
        )
        oh_inputs.append(f"{c}_idx")
        oh_outputs.append(f"{c}_oh")
    if oh_inputs:
        stages.append(
            OneHotEncoder(inputCols=oh_inputs, outputCols=oh_outputs,
                          handleInvalid="keep")
        )
    label_outputs = []
    for c in label_cols:
        stages.append(
            StringIndexer(inputCol=c, outputCol=f"{c}_label_idx",
                          handleInvalid="keep", stringOrderType="alphabetAsc")
        )
        label_outputs.append(f"{c}_label_idx")
    stages.append(
        VectorAssembler(
            inputCols=oh_outputs + label_outputs + numeric_cols,
            outputCol=output_col,
            handleInvalid="skip",
        )
    )
    return Pipeline(stages=stages)
