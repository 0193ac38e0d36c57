"""Aggregation operators A1-A16 (SURVEY.md §2.4).

Each function re-expresses one aggregation capability of the reference
pipeline over the driver's testdata tables.  Reference citations are to
``/root/reference/dagster_pipeline/dagster_acled/`` file:line.

Scale notes (100 TB): every query here is a single hash-aggregate —
Catalyst plans partial (map-side) + final aggregation, so the shuffle
carries only group keys × partial states, never raw rows.  Group-key
cardinality is low (event types, days, priorities), so AQE coalesces the
post-shuffle partitions to a handful of tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from acled_spark.registry import query
from acled_spark.tables import load


# --- A1: group-count + sort ("value_counts") -------------------------------
# Ref: assets/base_assets.py:76-79 (per-event_type counts, sorted desc).
@query(
    "a1_value_counts",
    oracle="""
    SELECT event_type, COUNT(*) AS cnt
    FROM events GROUP BY event_type
    ORDER BY cnt DESC, event_type
    """,
    tags=("agg",),
)
def a1_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-category counts sorted descending (ref base_assets.py:76-79)."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "event_type")
    )


# --- A2: single-pass multi-conditional count audit --------------------------
# Ref: assets/report.py:50-59 (COUNT(CASE WHEN ...) missing-field census).
@query(
    "a2_conditional_counts",
    oracle="""
    SELECT
      COUNT(*) AS n_rows,
      COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_returned,
      COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_discounted,
      COUNT(CASE WHEN l_tax = 0 THEN 1 END) AS n_taxfree,
      COUNT(CASE WHEN l_quantity >= 30 THEN 1 END) AS n_bulk
    FROM lineitem
    """,
    tags=("agg",),
)
def a2_conditional_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass conditional-count census (ref report.py:50-59)."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_returned"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
        F.count(F.when(F.col("l_tax") == 0, 1)).alias("n_taxfree"),
        F.count(F.when(F.col("l_quantity") >= 30, 1)).alias("n_bulk"),
    )


# --- A3: null/empty per-column audit + completeness % -----------------------
# Ref: assets/base_assets.py:242-263 (missing-data census over key columns).
@query(
    "a3_null_empty_audit",
    oracle="""
    SELECT
      COUNT(*) AS n_rows,
      CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS text_nulls,
      CAST(SUM(CASE WHEN text = '' THEN 1 ELSE 0 END) AS BIGINT) AS text_empty,
      CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS lang_nulls,
      CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS source_nulls,
      ROUND(100.0 * (COUNT(*) - SUM(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END)) / COUNT(*), 2) AS text_completeness_pct
    FROM documents
    """,
    tags=("agg", "quality"),
)
def a3_null_empty_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null+empty census with completeness pct (ref base_assets.py:242-263)."""
    docs = load(spark, sf_dir, "documents")
    c = F.col
    return docs.agg(
        F.count("*").alias("n_rows"),
        F.sum(c("text").isNull().cast("long")).alias("text_nulls"),
        F.sum((c("text") == "").cast("long")).alias("text_empty"),
        F.sum(c("lang").isNull().cast("long")).alias("lang_nulls"),
        F.sum(c("source").isNull().cast("long")).alias("source_nulls"),
        F.round(
            100.0
            * (
                F.count("*")
                - F.sum((c("text").isNull() | (c("text") == "")).cast("long"))
            )
            / F.count("*"),
            2,
        ).alias("text_completeness_pct"),
    )


# --- A4: daily time-grain rollup -------------------------------------------
# Ref: assets/report.py:61-68 (GROUP BY event_date: COUNT, COALESCE(SUM,0)).
@query(
    "a4_daily_rollup",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           COUNT(*) AS event_count,
           ROUND(COALESCE(SUM(value), 0), 2) AS total_value
    FROM events GROUP BY day ORDER BY day
    """,
    tags=("agg", "time"),
)
def a4_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily COUNT + COALESCE(SUM) rollup (ref report.py:61-68)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count("*").alias("event_count"),
            F.round(F.coalesce(F.sum("value"), F.lit(0)), 2).alias("total_value"),
        )
        .orderBy("day")
    )


# --- A5: top-K group-count --------------------------------------------------
# Ref: assets/report.py:70-77 (GROUP BY ... ORDER BY count DESC LIMIT 10).
@query(
    "a5_topk_groups",
    oracle="""
    SELECT user_id, COUNT(*) AS cnt
    FROM events GROUP BY user_id
    ORDER BY cnt DESC, user_id LIMIT 10
    """,
    tags=("agg", "topk"),
)
def a5_topk_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 groups by count, deterministic tiebreak (ref report.py:70-77)."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "user_id")
        .limit(10)
    )


# --- A6: dimension rollup with non-empty filter -----------------------------
# Ref: assets/report.py:79-86 (GROUP BY admin1 ... WHERE admin1 <> '').
@query(
    "a6_dim_rollup",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderpriority IS NOT NULL AND o_orderpriority <> ''
    GROUP BY o_orderpriority
    ORDER BY order_count DESC, o_orderpriority
    """,
    tags=("agg",),
)
def a6_dim_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension rollup, empty-string aware (ref report.py:79-86)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderpriority").isNotNull() & (F.col("o_orderpriority") != ""))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy(F.desc("order_count"), "o_orderpriority")
    )


# --- A7: multi-measure rollup over a dimension join -------------------------
# Ref: assets/report.py:98-111 (per-admin1 COUNT, SUM(fatalities), AVG(lat/lon)).
@query(
    "a7_multi_measure_rollup",
    oracle="""
    SELECT n.n_name AS nation,
           COUNT(*) AS customer_count,
           ROUND(SUM(c.c_acctbal), 2) AS total_balance,
           -- avg via EXACT decimal arithmetic: c_acctbal is 2-decimal,
           -- so SUM(DECIMAL)/COUNT is tie-exact in both engines — a
           -- bare AVG(double) leaves the engines' sum-order ulp
           -- difference to round apart at exact .xxxx5 ties (r8 lens;
           -- a25's documented hazard, closed here with measured
           -- agreement on positive/negative ties)
           ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) / COUNT(*), 4)
               AS avg_balance
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY nation
    ORDER BY customer_count DESC, nation
    """,
    tags=("agg", "join"),
)
def a7_multi_measure_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-measure rollup after a broadcast dim join (ref report.py:98-111).

    nation is a fixed-size dim → broadcast-hash-join, no shuffle on the
    fact side; the aggregate shuffles only 25 group keys.
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("customer_count"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
            # exact decimal avg — see the oracle note (r8 lens)
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")) / F.count("*"), 4
            ).cast("double").alias("avg_balance"),
        )
        .orderBy(F.desc("customer_count"), "nation")
    )


# --- A8: weekly rollup via DATE_TRUNC ---------------------------------------
# Ref: assets/ml.py:861-871 (GROUP BY DATE_TRUNC('week', event_date)).
@query(
    "a8_weekly_rollup",
    oracle="""
    SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
           COUNT(*) AS event_count,
           -- exact-decimal avg (value is 2-decimal): both engines do
           -- tie-exact decimal division, closing the .xxxx5 ulp-tie
           -- hazard a25 documents (r8 lens)
           ROUND(SUM(CAST(value AS DECIMAL(18,2))) / COUNT(*), 4) AS avg_value,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY week ORDER BY week
    """,
    tags=("agg", "time"),
)
def a8_weekly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly (Monday-start) rollup (ref ml.py:861-871)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("week", F.col("ts")).cast("date").alias("week"))
        .agg(
            F.count("*").alias("event_count"),
            # exact decimal avg — see the oracle note (r8 lens)
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")) / F.count("*"), 4
            ).cast("double").alias("avg_value"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("week")
    )


# --- A9: monthly rollup + distinct count ------------------------------------
# Ref: assets/ml.py:239-246 (groupby month: count/sum/mean + nunique).
@query(
    "a9_monthly_rollup",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           COUNT(*) AS order_count,
           ROUND(SUM(o_totalprice), 2) AS total_price,
           -- exact-decimal avg (o_totalprice is 2-decimal; r8 lens)
           ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))) / COUNT(*), 4)
               AS avg_price,
           COUNT(DISTINCT o_orderpriority) AS distinct_priorities
    FROM orders GROUP BY month ORDER BY month
    """,
    tags=("agg", "time"),
)
def a9_monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly rollup with count/sum/mean/nunique (ref ml.py:239-246)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")
        )
        .agg(
            F.count("*").alias("order_count"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            # exact decimal avg — see the oracle note (r8 lens)
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")) / F.count("*"), 4
            ).cast("double").alias("avg_price"),
            F.countDistinct("o_orderpriority").alias("distinct_priorities"),
        )
        .orderBy("month")
    )


# --- A10: whole-table descriptive stats -------------------------------------
# Ref: assets/ml.py:219-225 (min/max/median/mean/std of fatalities).
# pandas std is sample (ddof=1) → stddev_samp; median is exact → percentile.
@query(
    "a10_descriptive_stats",
    oracle="""
    SELECT
      MIN(l_quantity) AS min_qty,
      MAX(l_quantity) AS max_qty,
      ROUND(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE), 4) AS median_qty,
      ROUND(AVG(l_quantity), 4) AS avg_qty,
      ROUND(STDDEV_SAMP(l_quantity), 4) AS std_qty
    FROM lineitem
    """,
    tags=("agg", "stats"),
)
def a10_descriptive_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/exact-median/mean/sample-std (ref ml.py:219-225).

    Exact ``percentile`` (not percentile_approx) for pandas-median parity
    per SURVEY §7.4; at 100 TB swap to percentile_approx and accept the
    documented error bound.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.round(F.percentile("l_quantity", 0.5), 4).alias("median_qty"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("std_qty"),
    )


# --- A11: distinct counts ---------------------------------------------------
# Ref: assets/ml.py:269-271 (nunique of admin1/event_type), base_assets.py:67.
@query(
    "a11_distinct_counts",
    oracle="""
    SELECT COUNT(DISTINCT user_id) AS distinct_users,
           COUNT(DISTINCT event_type) AS distinct_types,
           COUNT(DISTINCT CAST(ts AS DATE)) AS distinct_days
    FROM events
    """,
    tags=("agg",),
)
def a11_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column distinct counts (ref ml.py:269-271).

    Exact countDistinct for oracle parity; the engine exposes
    approx_count_distinct for the 100 TB path (see bench.py).
    """
    ev = load(spark, sf_dir, "events")
    return ev.agg(
        F.countDistinct("user_id").alias("distinct_users"),
        F.countDistinct("event_type").alias("distinct_types"),
        F.countDistinct(F.to_date("ts")).alias("distinct_days"),
    )


# --- A12: duplicate detection on a key --------------------------------------
# Ref: asset_checks/acled_checks.py:488-502 (is_duplicated on PK).
@query(
    "a12_duplicate_keys",
    oracle="""
    SELECT COUNT(*) AS keys_with_multiple_rows,
           CAST(COALESCE(MAX(cnt), 0) AS BIGINT) AS max_rows_per_key,
           CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS rows_in_multi_keys
    FROM (
      SELECT l_orderkey, COUNT(*) AS cnt
      FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) > 1
    )
    """,
    tags=("agg", "quality"),
)
def a12_duplicate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-multiplicity audit (ref acled_checks.py:488-502)."""
    li = load(spark, sf_dir, "lineitem")
    per_key = (
        li.groupBy("l_orderkey").agg(F.count("*").alias("cnt")).filter(F.col("cnt") > 1)
    )
    return per_key.agg(
        F.count("*").alias("keys_with_multiple_rows"),
        F.coalesce(F.max("cnt"), F.lit(0)).alias("max_rows_per_key"),
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("rows_in_multi_keys"),
    )


# --- A13: range-bucket histogram (right-closed bins, pd.cut parity) ---------
# Ref: assets/ml.py:235-237 (pd.cut fatality buckets); acled_checks.py:960-993.
_BUCKETS = [0.0, 50.0, 100.0, 200.0]
_LABELS = ["(-inf,0]", "(0,50]", "(50,100]", "(100,200]", "(200,inf)"]


# The oracle CASE below is deliberately a HAND-WRITTEN literal, NOT
# generated from _BUCKETS/_LABELS (r8 lens review): an oracle derived
# from the builder's own constants moves in lockstep with any mistake
# in them — swap two labels or shift a threshold and both engines
# produce identically wrong histograms that still hash-match.  With
# the literal, editing the Spark-side binning without consciously
# re-deriving the SQL fails the parity gate.
@query(
    "a13_histogram",
    oracle="""
    SELECT CASE WHEN value <= 0.0   THEN '(-inf,0]'
                WHEN value <= 50.0  THEN '(0,50]'
                WHEN value <= 100.0 THEN '(50,100]'
                WHEN value <= 200.0 THEN '(100,200]'
                ELSE '(200,inf)' END AS bucket,
           COUNT(*) AS cnt
    FROM events WHERE value IS NOT NULL GROUP BY bucket ORDER BY bucket
    """,
    tags=("agg", "stats"),
)
def a13_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-closed numeric binning, pd.cut semantics (ref ml.py:235-237).

    NULL values are dropped BEFORE binning on both engines — pd.cut
    excludes NaN from binned counts, and without the filter a NULL
    would fall through every ``value <= x`` WHEN into the top
    ``(200,inf)`` bucket (a null measurement reported as an extreme).
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bucket = F.when(F.col("value") <= _BUCKETS[0], _LABELS[0])
    for hi, lab in zip(_BUCKETS[1:], _LABELS[1:-1]):
        bucket = bucket.when(F.col("value") <= hi, lab)
    bucket = bucket.otherwise(_LABELS[-1])
    return (
        ev.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("cnt"))
        .orderBy("bucket")
    )


# --- A14: grouped error-style multi-agg (deviation from global mean) --------
# Ref: assets/ml.py:673-685 (per-group mean abs error / count / means).
@query(
    "a14_group_deviation",
    oracle="""
    -- rounding note (r8 lens): these AVGs stay bare, unlike the
    -- cent-snapped a7/a8/a9 — the deviation inputs |value - gmean| are
    -- NOT 2-decimal, so an exact .xxxx5 rounding tie requires a
    -- decimal-terminating mean of non-terminating doubles, which only
    -- occurs when both engines already share the identical double
    SELECT event_type,
           COUNT(*) AS cnt,
           ROUND(AVG(value), 4) AS avg_value,
           ROUND(AVG(ABS(value - gmean)), 4) AS mean_abs_dev
    FROM (SELECT event_type, value, AVG(value) OVER () AS gmean FROM events)
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("agg", "window"),
)
def a14_group_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mean/|dev from global mean| (ref ml.py:673-685).

    The global mean is a 1-row aggregate broadcast-crossJoined onto the
    fact scan — NOT an empty-frame window: ``avg().over(Window
    .partitionBy())`` plans WindowExec under a SinglePartition exchange
    (window functions have no partial aggregation), which funnels the
    whole table through one task at scale.  Two narrow scans beat one
    collapsed one.
    """
    ev = load(spark, sf_dir, "events")
    g = ev.agg(F.avg("value").alias("gmean"))
    with_gmean = ev.crossJoin(F.broadcast(g))
    return (
        with_gmean.groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.round(F.avg(F.abs(F.col("value") - F.col("gmean"))), 4).alias(
                "mean_abs_dev"
            ),
        )
        .orderBy("event_type")
    )


# --- A15: threshold risk-bucket counts --------------------------------------
# Ref: assets/ml.py:687-697 (risk levels from fatality thresholds).
@query(
    "a15_risk_buckets",
    oracle="""
    SELECT CASE WHEN value >= 200 THEN 'Critical'
                WHEN value >= 100 THEN 'High'
                WHEN value >= 50  THEN 'Medium'
                WHEN value >= 1   THEN 'Low'
                ELSE 'Minimal' END AS risk_level,
           COUNT(*) AS cnt
    FROM events GROUP BY risk_level ORDER BY cnt DESC, risk_level
    """,
    tags=("agg",),
)
def a15_risk_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained-threshold categorization, no UDF (ref ml.py:687-697)."""
    ev = load(spark, sf_dir, "events")
    risk = (
        F.when(F.col("value") >= 200, "Critical")
        .when(F.col("value") >= 100, "High")
        .when(F.col("value") >= 50, "Medium")
        .when(F.col("value") >= 1, "Low")
        .otherwise("Minimal")
    )
    return (
        ev.groupBy(risk.alias("risk_level"))
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "risk_level")
    )


# --- A16: percent-of-total within aggregation -------------------------------
# Ref: asset_checks/acled_checks.py:849-858 (COUNT * 100.0 / SUM(COUNT) OVER()).
@query(
    "a16_percent_of_total",
    oracle="""
    SELECT event_type, cnt,
           ROUND(cnt * 100.0 / SUM(cnt) OVER (), 2) AS pct
    FROM (SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type)
    ORDER BY cnt DESC, event_type
    """,
    tags=("agg", "window"),
)
def a16_percent_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group share of total via window over aggregate (ref acled_checks.py:849-858)."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy()
    return counts.select(
        "event_type",
        "cnt",
        F.round(F.col("cnt") * 100.0 / F.sum("cnt").over(w), 2).alias("pct"),
    ).orderBy(F.desc("cnt"), "event_type")


# --- A23: trailing-window anomaly detection ----------------------------------
@query(
    "a23_daily_anomaly",
    oracle="""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT day, n,
             AVG(n) OVER w AS mu,
             STDDEV_SAMP(n) OVER w AS sigma,
             COUNT(*) OVER w AS n_obs
      FROM d
      WINDOW w AS (ORDER BY day_num RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT day, CAST(n AS BIGINT) AS n,
           ROUND(mu, 4) AS trailing_mean,
           CASE WHEN sigma > 0 THEN ROUND((n - mu) / sigma, 4) END AS z_score,
           CASE WHEN sigma > 0 THEN abs((n - mu) / sigma) > 2.0
                ELSE n <> mu END AS is_anomaly
    FROM s WHERE n_obs >= 3 ORDER BY day
    """,
    tags=("agg", "anomaly", "extended"),
)
def a23_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-count anomalies vs the trailing 7 CALENDAR days (z > 2).

    The ops-monitoring query every ingest pipeline runs: each day is
    scored against the mean/stddev of the preceding 7 calendar days
    (a RANGE frame over the epoch day number, not 7 preceding observed
    ROWS — a gap in the data must not silently widen the baseline to
    stale weeks), with ≥3 observed baseline days as warm-up.  A flat
    baseline (sigma = 0) flags any deviation from the constant as an
    anomaly instead of emitting NULL — the constant-week-then-spike
    case is exactly what the detector exists for; the explicit
    ``sigma > 0`` guard also keeps parity across DuckDB ≥ 1.1, whose
    IEEE mode turns x/0 into inf rather than NULL.  Known limit,
    shared with the oracle: a ZERO-event day produces no row at all,
    so total-outage days are caught by freshness checks (P7-style),
    not this z-score.  Scale: the heavy part is the per-day count; the
    window runs over |days| rows — nothing.
    """
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(
        F.col("ts").cast("date").alias("day"),
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")).alias(
            "day_num"
        ),
    ).agg(F.count("*").alias("n"))
    w = Window.orderBy("day_num").rangeBetween(-7, -1)
    s = d.select(
        "day",
        "n",
        F.avg("n").over(w).alias("mu"),
        F.stddev_samp("n").over(w).alias("sigma"),
        F.count("*").over(w).alias("n_obs"),
    )
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    sigma_pos = F.col("sigma") > 0
    return (
        s.filter(F.col("n_obs") >= 3)
        .select(
            "day",
            F.col("n").cast("long").alias("n"),
            F.round("mu", 4).alias("trailing_mean"),
            F.when(sigma_pos, F.round(z, 4)).alias("z_score"),
            F.when(sigma_pos, F.abs(z) > 2.0)
            .otherwise(F.col("n") != F.col("mu"))
            .alias("is_anomaly"),
        )
        .orderBy("day")
    )


# --- A24: time-to-convert distribution ---------------------------------------
@query(
    "a24_time_to_convert",
    oracle="""
    WITH su AS (
      SELECT user_id, MIN(ts) AS signup_ts
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    pu AS (
      SELECT e.user_id, MIN(e.ts) AS first_purchase_ts
      FROM events e JOIN su ON e.user_id = su.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= su.signup_ts
      GROUP BY e.user_id
    ),
    lag AS (
      SELECT su.user_id,
             date_diff('day', su.signup_ts, pu.first_purchase_ts) AS days_to_convert
      FROM su LEFT JOIN pu ON su.user_id = pu.user_id
    )
    SELECT COALESCE(CAST(days_to_convert AS BIGINT), -1) AS days_to_convert,
           COUNT(*) AS users
    FROM lag GROUP BY 1 ORDER BY 1
    """,
    tags=("agg", "funnel", "extended"),
)
def a24_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup -> first-purchase lag histogram in whole days (-1 bucket =
    signed up, never purchased).

    Single scan: signup time and first-qualifying-purchase time are two
    conditional MINs in ONE user aggregation (a purchase qualifies only
    at/after the user's signup — enforced with a per-user signup window
    before aggregating), so there is no events-to-events join at all.
    Parity note: the oracle's date_diff('day', ...) runs on RAW
    timestamps and counts midnight crossings (verified: 23:59:59 ->
    00:00:01 next day = 1), which equals Spark's datediff on
    DATE-cast values — the invariant is DuckDB's boundary-crossing
    'day' semantics, NOT a shared cast; an oracle engine with
    elapsed-24h day arithmetic would diverge.
    Scale: one user_id shuffle; the histogram rollup is |days| keys.
    """
    ev = load(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id")
    signup_ts = F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(wu)
    flagged = ev.withColumn("signup_ts", signup_ts).filter(
        F.col("signup_ts").isNotNull()
    )
    per_user = flagged.groupBy("user_id").agg(
        F.min("signup_ts").alias("signup_ts"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") >= F.col("signup_ts")),
                F.col("ts"),
            )
        ).alias("first_purchase_ts"),
    )
    days = F.when(
        F.col("first_purchase_ts").isNotNull(),
        F.datediff(
            F.col("first_purchase_ts").cast("date"), F.col("signup_ts").cast("date")
        ),
    )
    return (
        per_user.select(F.coalesce(days, F.lit(-1)).cast("long").alias("days_to_convert"))
        .groupBy("days_to_convert")
        .agg(F.count("*").alias("users"))
        .orderBy("days_to_convert")
    )


# --- A25: hour-of-day seasonality profile ------------------------------------
@query(
    "a25_hour_profile",
    oracle="""
    WITH h AS (
      SELECT hour(ts) AS hour, event_type, value FROM events
    )
    SELECT hour, event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM h GROUP BY hour, event_type ORDER BY hour, event_type
    """,
    tags=("agg", "extended"),
)
def a25_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day x event-type activity profile (capacity planning /
    anomaly-baseline seasonality).  24 x |types| output; the only
    shuffle is the partial+final rollup on a tiny composite key."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(F.hour("ts").alias("hour"), "event_type", "value")
        .groupBy("hour", "event_type")
        .agg(
            F.count("*").alias("n"),
            # value has 2 decimals, so the rounded SUM is boundary-safe;
            # an AVG is NOT (count=8 puts the exact mean on a .xxxx5
            # boundary and the engines' last-ulp doubles round apart)
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("hour", "event_type")
    )
