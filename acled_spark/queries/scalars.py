"""Scalar-function operators F1-F11 (SURVEY.md §2.8).

Casts with null-on-error, JSON extraction, time extraction, string
cleanup, math — all as native Column expressions (whole-stage codegen;
the reference needed zero black-box UDFs and so do we, SURVEY §2.11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from acled_spark.registry import query
from acled_spark.tables import load
from acled_spark.vector import l2_norm, l2_norm_sql


# --- F1: null-on-error casts + JSON extraction ------------------------------
# Ref: assets/base_assets.py:120-131 (strict=False casts -> null on failure).
# events.props is a JSON string — extraction is the modern analog of the
# reference's flattened-JSON ingest (utils.py:12-16).
@query(
    "f1_try_cast_json",
    oracle="""
    -- json_valid guard (r13 adversarial tier): Spark's get_json_object
    -- is null-on-error for malformed JSON, but DuckDB's
    -- json_extract_string THROWS on it — the whole oracle died on one
    -- planted 'not json' props row.  Guarding the input (not TRY around
    -- the call) keeps the expression null-on-error like the builder.
    WITH k AS (
      SELECT TRY_CAST(json_extract_string(
               CASE WHEN json_valid(props) THEN props END, '$.k')
             AS INTEGER) AS k,
             event_type
      FROM events
    )
    SELECT
      COUNT(*) AS n_rows,
      CAST(SUM(k) AS BIGINT) AS k_sum,
      ROUND(AVG(k), 4) AS k_avg,
      COUNT(CASE WHEN TRY_CAST(event_type AS INTEGER) IS NULL THEN 1 END) AS non_numeric_types
    FROM k
    """,
    tags=("scalar", "json"),
)
def f1_try_cast_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction + try_cast null-on-error (ref base_assets.py:120-131)."""
    # spread=True (measured opt-in, r14): the per-row JsonPath
    # evaluation is the dominant CPU and ran single-threaded on the
    # single-split events scan — same-session A/B at sf0.1:
    # 0.49s spread vs 1.33s unspread (min of 3).
    ev = load(spark, sf_dir, "events", spread=True)
    # Project the JSON extraction ONCE before aggregating: aggregate
    # children are not subexpression-eliminated, so an inline `k` in both
    # sum and avg runs the JsonPath evaluator twice per row (measured
    # 2.5s -> 0.5s at sf0.1).
    projected = ev.select(
        F.expr("try_cast(get_json_object(props, '$.k') AS int)").alias("k"),
        F.expr("try_cast(event_type AS int)").alias("et_num"),
    )
    return projected.agg(
        F.count("*").alias("n_rows"),
        F.sum("k").cast("long").alias("k_sum"),
        F.round(F.avg("k"), 4).alias("k_avg"),
        F.count(F.when(F.col("et_num").isNull(), 1)).alias("non_numeric_types"),
    )


# --- F2/F3: timestamp component extraction / truncation ---------------------
# Ref: base_assets.py:132-140 (epoch->timestamp; the loader in tables.py does
# the epoch conversion); ml.py:863 (DATE_TRUNC).  Hourly profile:
@query(
    "f2_time_extract",
    oracle="""
    SELECT CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour,
           COUNT(*) AS cnt,
           ROUND(AVG(value), 4) AS avg_value
    FROM events GROUP BY hour ORDER BY hour
    """,
    tags=("scalar", "time"),
)
def f2_time_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day extraction + profile (ref base_assets.py:132-140)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.hour("ts").alias("hour"))
        .agg(F.count("*").alias("cnt"), F.round(F.avg("value"), 4).alias("avg_value"))
        .orderBy("hour")
    )


# --- F6: string replace / truncate / concat ---------------------------------
# Ref: assets/report.py:307-312 (label cleanup: replace + truncate + suffix).
@query(
    "f6_string_cleanup",
    oracle="""
    SELECT p_partkey,
           regexp_replace(upper(p_type), ' ', '_', 'g') AS type_code,
           substr(p_name, 1, 12) || '...' AS short_name,
           concat_ws('/', p_brand, p_type) AS brand_type
    FROM part ORDER BY p_partkey LIMIT 50
    """,
    tags=("scalar", "string"),
)
def f6_string_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """replace/truncate/concat label cleanup (ref report.py:307-312)."""
    p = load(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.regexp_replace(F.upper("p_type"), " ", "_").alias("type_code"),
            F.concat(F.substring("p_name", 1, 12), F.lit("...")).alias("short_name"),
            F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        )
        .orderBy("p_partkey")
        .limit(50)
    )


# --- F7/F8/F9/F10: round, coalesce, math, safe-divide -----------------------
# Ref: ml.py:146-149 (euclidean distance), :660-661 (np.where safe percent),
# report.py:63 (COALESCE(SUM,0)), acled_checks.py:973 (ROUND(AVG, 2)).
@query(
    "f9_math_suite",
    oracle="""
    SELECT o_orderpriority,
           ROUND(COALESCE(SUM(o_totalprice), 0), 2) AS total,
           ROUND(SQRT(AVG(POW(o_totalprice - 250.0, 2))), 4) AS rms_dev,
           ROUND(AVG(ABS(o_totalprice - 250.0)), 4) AS mean_abs_dev,
           ROUND(AVG(CASE WHEN o_totalprice > 0
                          THEN ABS(o_totalprice - 250.0) / o_totalprice * 100
                          ELSE 0 END), 4) AS mean_pct_err
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("scalar", "math"),
)
def f9_math_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sqrt/pow/abs/safe-percent/coalesce/round suite (ref ml.py:146-149,660-661)."""
    o = load(spark, sf_dir, "orders")
    dev = F.col("o_totalprice") - 250.0
    safe_pct = F.when(
        F.col("o_totalprice") > 0, F.abs(dev) / F.col("o_totalprice") * 100
    ).otherwise(0.0)
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0)), 2).alias("total"),
            F.round(F.sqrt(F.avg(F.pow(dev, 2))), 4).alias("rms_dev"),
            F.round(F.avg(F.abs(dev)), 4).alias("mean_abs_dev"),
            F.round(F.avg(safe_pct), 4).alias("mean_pct_err"),
        )
        .orderBy("o_orderpriority")
    )


# --- F13 (extended): correlation / covariance statistics ---------------------
# Pearson corr and sample covariance are definitionally identical across
# engines (kurtosis/skewness are NOT — population vs sample conventions
# differ, so they stay out of the oracle surface).
@query(
    "f13_correlation",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           ROUND(CORR(l_quantity, l_extendedprice), 4) + 0.0 AS qty_price_corr,
           ROUND(COVAR_SAMP(l_discount, l_tax), 6) + 0.0 AS disc_tax_covar
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("scalar", "stats", "extended"),
)
def f13_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation + sample covariance (extended stats)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            # + 0.0 collapses IEEE negative zero: ROUND can yield -0.0 in
            # one engine and +0.0 in the other, which a byte-level hash
            # gate treats as different values
            (F.round(F.corr("l_quantity", "l_extendedprice"), 4) + 0.0).alias(
                "qty_price_corr"
            ),
            (F.round(F.covar_samp("l_discount", "l_tax"), 6) + 0.0).alias(
                "disc_tax_covar"
            ),
        )
        .orderBy("l_returnflag")
    )


# --- F14 (extended): edit-distance fuzzy matching ----------------------------
@query(
    "f14_levenshtein",
    oracle="""
    SELECT a.c_mktsegment AS seg1, b.c_mktsegment AS seg2,
           CAST(levenshtein(a.c_mktsegment, b.c_mktsegment) AS INTEGER) AS edit_distance
    FROM (SELECT DISTINCT c_mktsegment FROM customer) a
    JOIN (SELECT DISTINCT c_mktsegment FROM customer) b
      ON a.c_mktsegment < b.c_mktsegment
    ORDER BY edit_distance, seg1, seg2
    """,
    tags=("scalar", "string", "extended"),
)
def f14_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise edit distance over a category domain (fuzzy-match primitive).

    The building block for typo-tolerant dimension matching; at scale,
    run it on LSH/prefix-blocked candidate pairs, never the cross
    product.
    """
    c = load(spark, sf_dir, "customer")
    segs = c.select("c_mktsegment").distinct()
    a = segs.alias("a")
    b = segs.alias("b")
    return (
        a.join(b, F.col("a.c_mktsegment") < F.col("b.c_mktsegment"))
        .select(
            F.col("a.c_mktsegment").alias("seg1"),
            F.col("b.c_mktsegment").alias("seg2"),
            F.levenshtein(F.col("a.c_mktsegment"), F.col("b.c_mktsegment"))
            .cast("int")
            .alias("edit_distance"),
        )
        .orderBy("edit_distance", "seg1", "seg2")
    )


# --- F15 (extended): boolean aggregates --------------------------------------
@query(
    "f15_bool_aggs",
    oracle="""
    SELECT event_type,
           bool_or(value > 300)  AS any_extreme,
           bool_and(value >= 0)  AS all_nonnegative,
           COUNT(CASE WHEN value > 300 THEN 1 END) AS n_extreme
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("scalar", "agg", "extended"),
)
def f15_bool_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bool_or / bool_and aggregate predicates per group."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.bool_or(F.col("value") > 300).alias("any_extreme"),
            F.bool_and(F.col("value") >= 0).alias("all_nonnegative"),
            F.count(F.when(F.col("value") > 300, 1)).alias("n_extreme"),
        )
        .orderBy("event_type")
    )


# --- F16 (extended): regex extraction ----------------------------------------
@query(
    "f16_regexp_extract",
    oracle="""
    SELECT TRY_CAST(nullif(regexp_extract(o_orderpriority, '^([0-9]+)-', 1), '') AS INTEGER) AS priority_num,
           COUNT(*) AS cnt,
           ROUND(AVG(o_totalprice), 4) AS avg_price
    FROM orders GROUP BY priority_num ORDER BY priority_num
    """,
    tags=("scalar", "string", "extended"),
)
def f16_regexp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured field extraction via regex capture group."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.expr(
                "try_cast(nullif(regexp_extract(o_orderpriority,"
                " '^([0-9]+)-', 1), '') AS int)"
            ).alias("priority_num")
        )
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
        .orderBy("priority_num")
    )


# --- F9b: vector math on array columns --------------------------------------
# Extended surface: array<float> norm via higher-order functions — the
# JVM-side scale path for embedding math (no Python in the loop).
@query(
    "f9b_vector_norm",
    # the twin keeps the empty array at 0.0 and a NULL embedding NULL, as
    # Spark does (r7 review; pinned by test_vector_edge's edge rows)
    oracle=f"""
    SELECT vec_id, label, ROUND({l2_norm_sql("embedding")}, 4) AS l2_norm
    FROM embeddings ORDER BY vec_id LIMIT 100
    """,
    tags=("scalar", "vector", "extended"),
)
def f9b_vector_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm of embedding vectors via aggregate() HOF (extended surface).

    The norm expression is the shared kernel (acled_spark/vector.py) —
    the same sequential fold every cosine query uses, spelled once.
    """
    e = load(spark, sf_dir, "embeddings")
    return (
        e.select(
            "vec_id", "label", F.round(l2_norm("embedding"), 4).alias("l2_norm")
        )
        .orderBy("vec_id")
        .limit(100)
    )
