"""Filter/projection operators P2-P6 (SURVEY.md §2.2), built on the
predicate DSL in :mod:`acled_spark.filters`.

The oracle WHERE clauses are generated from the very same FilterSpec the
Spark plan uses, so the DSL compilation is the artifact under test.

Scale note: every predicate here lands in the parquet scan as
``PushedFilters`` (verified via .explain in tests) — on 100 TB, row-group
statistics skip non-matching files before a single byte decompresses.
"""

from __future__ import annotations

from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from acled_spark.filters import build_filter
from acled_spark.registry import query
from acled_spark.tables import load

# --- P2: the 31-column filter-predicate DSL ---------------------------------
# Ref: acled_request_config.py:326-417 (fields), :425-454 (build_params).
_P2_SPEC = build_filter(
    {
        "event_type": "purch",          # text default: contains/LIKE
        "value__ge": 50.0,              # operator override
        "user_id__in": [1, 2, 3, 5, 8, 13, 21],
    }
)


@query(
    "p2_filter_dsl",
    oracle=f"""
    SELECT event_id, user_id, event_type, ROUND(value, 2) AS value
    FROM events
    WHERE {_P2_SPEC.to_sql()}
    ORDER BY event_id
    """,
    tags=("filter", "dsl"),
)
def p2_filter_dsl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-DSL filter: LIKE + >= + IN conjunction (ref acled_request_config.py:425-454)."""
    ev = load(spark, sf_dir, "events")
    return (
        _P2_SPEC.apply(ev)
        .select("event_id", "user_id", "event_type", F.round("value", 2).alias("value"))
        .orderBy("event_id")
    )


# --- P3: date-range predicate (partition-pruning shape) ---------------------
# Ref: assets/report.py:55-58 (WHERE event_date >= %s AND event_date <= %s).
_P3_SPEC = build_filter({"ts__between": (date(2024, 1, 10), date(2024, 1, 20))})


@query(
    "p3_date_range",
    oracle=f"""
    SELECT CAST(ts AS DATE) AS day, COUNT(*) AS event_count,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    WHERE {_P3_SPEC.to_sql()}
    GROUP BY day ORDER BY day
    """,
    tags=("filter", "time"),
)
def p3_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Between-dates predicate + rollup (ref report.py:55-58).

    On date-partitioned storage this predicate prunes partitions before
    the scan (SURVEY §4 'partition pruning').
    """
    ev = load(spark, sf_dir, "events")
    return (
        _P3_SPEC.apply(ev)
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count("*").alias("event_count"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("day")
    )


# --- P4: null / non-null predicates -----------------------------------------
# Ref: assets/ml.py:207-210 (training filter: NOT NULL AND > 0).
_P4_SPEC = build_filter(
    {"l_quantity__notnull": None, "l_quantity__gt": 0.0, "l_discount__notnull": None}
)


@query(
    "p4_null_threshold",
    oracle=f"""
    SELECT COUNT(*) AS n_training_rows,
           ROUND(AVG(l_quantity), 4) AS avg_qty
    FROM lineitem WHERE {_P4_SPEC.to_sql()}
    """,
    tags=("filter",),
)
def p4_null_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set filter: non-null + positive (ref ml.py:207-210)."""
    li = load(spark, sf_dir, "lineitem")
    return _P4_SPEC.apply(li).agg(
        F.count("*").alias("n_training_rows"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
    )


# --- P5: equality filter on a dimension -------------------------------------
# Ref: assets/report.py:107 (country = 'Ukraine').
_P5_SPEC = build_filter({"c_mktsegment__eq": "BUILDING"})


@query(
    "p5_eq_filter",
    oracle=f"""
    SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal
    FROM customer WHERE {_P5_SPEC.to_sql()}
    ORDER BY c_custkey
    """,
    tags=("filter",),
)
def p5_eq_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension equality filter (ref report.py:107)."""
    c = load(spark, sf_dir, "customer")
    return (
        _P5_SPEC.apply(c)
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal"))
        .orderBy("c_custkey")
    )


# --- P6: value-threshold filter + deterministic top-K -----------------------
# Ref: assets/ml.py:873-888 (fatalities >= 10 ... LIMIT 20).
@query(
    "p6_threshold_topk",
    oracle="""
    SELECT event_id, user_id, event_type, ROUND(value, 2) AS value
    FROM events WHERE value >= 150
    ORDER BY value DESC, event_id LIMIT 20
    """,
    tags=("filter", "topk"),
)
def p6_threshold_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold + ORDER BY DESC LIMIT k, unique tiebreak (ref ml.py:873-888).

    Spark plans TakeOrderedAndProject — per-partition top-k then a k-row
    merge on the driver, never a full sort of the fact table.
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.filter(F.col("value") >= 150)
        .select("event_id", "user_id", "event_type", F.round("value", 2).alias("value"))
        .orderBy(F.desc("value"), "event_id")
        .limit(20)
    )


# --- P7: deterministic hash split (train/val/test) --------------------------
# Hex thresholds over md5(doc_id): first-2-digit prefixes partition the
# 256 buckets 204/26/26 ~= 80/10/10.  Content-addressed and seedless, so
# the split is reproducible across engines, runs, and cluster sizes —
# unlike sampleBy/TABLESAMPLE, whose RNG streams differ per engine and
# per partitioning.  O(1) per row, no shuffle before the tiny rollup.
SPLIT_TRAIN_MAX = "cc"  # md5-prefix upper bounds, shared by every
SPLIT_VAL_MAX = "e6"    # split-aware operator (p7, prep_corpus_stats)

_SPLIT_CASE_SQL = f"""
    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{SPLIT_TRAIN_MAX}' THEN 'train'
         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{SPLIT_VAL_MAX}' THEN 'val'
         ELSE 'test' END
"""


def split_spark(doc_id_col):
    """The same 80/10/10 assignment as a Column expression."""
    from pyspark.sql import functions as _F

    prefix = _F.substring(_F.md5(doc_id_col.cast("string")), 1, 2)
    return (
        _F.when(prefix < SPLIT_TRAIN_MAX, "train")
        .when(prefix < SPLIT_VAL_MAX, "val")
        .otherwise("test")
    )


@query(
    "p7_hash_split",
    oracle=f"""
    WITH s AS (SELECT lang, {_SPLIT_CASE_SQL} AS split FROM documents)
    SELECT lang, split, COUNT(*) AS docs
    FROM s GROUP BY lang, split ORDER BY lang, split
    """,
    tags=("filter", "sampling", "extended"),
)
def p7_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-addressed train/val/test split census.

    md5 is the only cross-engine hash (see dedup.py); comparing its hex
    prefix against literal thresholds gives an exact, engine-independent
    ~80/10/10 assignment that any worker can recompute locally.
    """
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("lang", split_spark(F.col("doc_id")).alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("docs"))
        .orderBy("lang", "split")
    )


# --- P8: deterministic stratified sample (per-stratum cap) ------------------
SAMPLE_PER_STRATUM = 50


@query(
    "p8_stratified_sample",
    oracle=f"""
    WITH r AS (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_sampled, CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM r WHERE rnk <= {SAMPLE_PER_STRATUM} GROUP BY lang ORDER BY lang
    """,
    tags=("filter", "sampling", "extended"),
)
def p8_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap every stratum at SAMPLE_PER_STRATUM docs, chosen by md5 rank.

    Ordering by md5(doc_id) gives a uniform-but-reproducible pick — the
    per-source/per-language capping step of a mixture pipeline, without
    sampleBy's engine-specific RNG stream (see p7_hash_split).  The
    id_checksum column pins the EXACT sample membership cross-engine,
    not just its size.  Scale: rank <= K compiles to WindowGroupLimit,
    so each map task forwards at most K rows per stratum before the
    shuffle — the exchange carries O(strata x K), not the corpus.
    """
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= SAMPLE_PER_STRATUM)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .orderBy("lang")
    )


# --- weighted sampling without replacement -----------------------------------
# Efraimidis-Spirakis A-Res: each row draws u ~ U(0,1) and gets key
# ln(u)/w; the k LARGEST keys are a weight-proportional sample without
# replacement.  u derives deterministically from md5(o_orderkey) so both
# engines draw identical "randomness" — the distributed analog of a
# seeded sampler, reproducible across cluster sizes and retries.
P9_SAMPLE_K = 50

_HEX = "0123456789abcdef"


def hex_to_int_sql(expr: str, digits: int) -> str:
    """First ``digits`` hex digits of an md5 hex string as an integer
    (DuckDB mirror of Spark's ``conv(expr, 16, 10)``).

    DuckDB has no base-16 string conversion on arbitrary columns, so sum
    digit*16^pos via instr over the hex alphabet (same trick as
    dedup_simhash's bit probes).
    """
    return " + ".join(
        f"(instr('{_HEX}', substr({expr}, {i + 1}, 1)) - 1) * {16 ** (digits - 1 - i)}"
        for i in range(digits)
    )


def _hex8_to_int_sql(expr: str) -> str:
    return hex_to_int_sql(expr, 8)


@query(
    "p9_weighted_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT o_orderkey, o_totalprice,
             ROUND(ln(({_hex8_to_int_sql("md5(CAST(o_orderkey AS VARCHAR))")} + 0.5)
                      / 4294967296.0)
                   / o_totalprice, 6) + 0.0 AS sample_key
      FROM orders WHERE o_totalprice > 0
    )
    SELECT o_orderkey, o_totalprice, sample_key
    FROM keyed
    ORDER BY sample_key DESC, o_orderkey LIMIT {P9_SAMPLE_K}
    """,
    tags=("sampling", "extended"),
)
def p9_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sample of {k} orders (weight = o_totalprice).

    The key is ROUNDED to 6 decimals on both engines before ranking and
    the orderkey breaks residual ties, so last-ulp ln() differences
    can't flip the sample.  Scale: embarrassingly parallel key
    computation + TakeOrderedAndProject top-k — no shuffle of the full
    table, partial top-k per partition then a k-row merge on the driver
    (the same pattern a 1000-executor cluster wants).
    """
    orders = load(spark, sf_dir, "orders")
    v = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("double")
    u = (v + 0.5) / F.lit(4294967296.0)
    # `+ 0.0` collapses IEEE -0.0 (tiny negative keys round to zero;
    # the driver's value hash is byte-level and distinguishes the two).
    key = F.round(F.log(u) / F.col("o_totalprice"), 6) + F.lit(0.0)
    return (
        # Efraimidis-Spirakis requires strictly positive weights; a
        # zero-price row would be ANSI DIVIDE_BY_ZERO in Spark but NULL
        # in DuckDB — excluded identically on both sides instead.
        orders.filter(F.col("o_totalprice") > 0)
        .select("o_orderkey", "o_totalprice", key.alias("sample_key"))
        .orderBy(F.desc("sample_key"), "o_orderkey")
        .limit(P9_SAMPLE_K)
    )
