"""Join operators J1-J6 and set operations (SURVEY.md §2.3, §2.7).

The reference is single-table; its join-*like* computations (dict/map
lookups, target-stat joins, set differences) become real Spark joins
here, plus the inner/semi/anti/multiway surface any engine user needs.

Scale strategy:
- dimension joins (nation, region, per-category stats): ``broadcast()`` —
  no shuffle of the fact table;
- fact-fact joins (orders ⋈ lineitem): shuffle hash / sort-merge on the
  key, AQE handles skew; at 100 TB bucket both tables on the join key to
  make this a zero-shuffle co-located join;
- anti/semi joins never materialize the probe side's payload columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from acled_spark.registry import query
from acled_spark.session import arrow_frame
from acled_spark.tables import load


# --- J1: target-stat lookup (key -> smoothed mean) --------------------------
# Ref: assets/ml.py:63-68,100-107 — map per-category smoothed target mean onto
# rows, missing -> global mean.  Semantically a broadcast left join.
_SMOOTHING = 10


@query(
    "j1_target_stat_lookup",
    oracle=f"""
    WITH joined AS (
      SELECT c.c_mktsegment, o.o_totalprice
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS (SELECT AVG(o_totalprice) AS gmean FROM joined),
    stats AS (
      SELECT c_mktsegment,
             COUNT(*) AS cnt,
             AVG(o_totalprice) AS mean_price
      FROM joined GROUP BY c_mktsegment
    )
    SELECT c.c_custkey, c.c_mktsegment,
           ROUND(COALESCE(
             (s.cnt * s.mean_price + {_SMOOTHING} * g.gmean) / (s.cnt + {_SMOOTHING}),
             g.gmean), 4) AS segment_encoded
    FROM customer c
    LEFT JOIN stats s ON c.c_mktsegment = s.c_mktsegment
    CROSS JOIN g
    ORDER BY c.c_custkey
    """,
    tags=("join", "ml"),
)
def j1_target_stat_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target-stat broadcast join, null -> global mean (ref ml.py:63-68).

    The per-segment stats AND the global mean come out of ONE
    ``rollup`` pass over the fact join (separate ``agg`` + ``groupBy``
    subtrees would execute the orders⋈customer join twice); the
    |segments|+1 rollup frame is LAZILY localCheckpointed so its two
    consumers (stats join, global-mean cross join) share one execution
    — and building the frame stays plan-only (an eager collect here
    made `explain` run the full fact aggregation).  ``grouping()`` —
    not NULL-ness — splits the grand-total row, so a NULL segment
    value could never be mistaken for the total.
    """
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    joined = orders.join(
        cust.select("c_custkey", "c_mktsegment"),
        orders.o_custkey == cust.c_custkey,
    )
    rolled = (
        joined.rollup("c_mktsegment")
        .agg(
            F.count("*").alias("cnt"),
            F.avg("o_totalprice").alias("mean_price"),
            F.grouping("c_mktsegment").alias("_is_total"),
        )
        .localCheckpoint(eager=False)
    )
    g = rolled.filter(F.col("_is_total") == 1).select(
        F.col("mean_price").alias("gmean")
    )
    stats = rolled.filter(F.col("_is_total") == 0).drop("_is_total")
    smoothed = (
        F.col("cnt") * F.col("mean_price") + _SMOOTHING * F.col("gmean")
    ) / (F.col("cnt") + _SMOOTHING)
    return (
        cust.select("c_custkey", "c_mktsegment")
        .join(F.broadcast(stats), "c_mktsegment", "left")
        .crossJoin(F.broadcast(g))
        .select(
            "c_custkey",
            "c_mktsegment",
            F.round(F.coalesce(smoothed, F.col("gmean")), 4).alias(
                "segment_encoded"
            ),
        )
        .orderBy("c_custkey")
    )


# --- J2: static dict lookup -------------------------------------------------
# Ref: assets/report.py:590-622 (admin1 -> pygal region-code literal mapping).
_REGION_CODES = {
    "AFRICA": "AF",
    "AMERICA": "AM",
    "ASIA": "AS",
    "EUROPE": "EU",
    "MIDDLE EAST": "ME",
}


@query(
    "j2_static_map_lookup",
    oracle="""
    SELECT r_regionkey, r_name,
           CASE r_name
             WHEN 'AFRICA' THEN 'AF'
             WHEN 'AMERICA' THEN 'AM'
             WHEN 'ASIA' THEN 'AS'
             WHEN 'EUROPE' THEN 'EU'
             WHEN 'MIDDLE EAST' THEN 'ME'
             ELSE 'XX' END AS region_code
    FROM region ORDER BY r_regionkey
    """,
    tags=("join",),
)
def j2_static_map_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal-map enrichment, unknown -> 'XX' (ref report.py:590-622)."""
    r = load(spark, sf_dir, "region")
    mapping = F.create_map(
        *[F.lit(x) for kv in _REGION_CODES.items() for x in kv]
    )
    return r.select(
        "r_regionkey",
        "r_name",
        F.coalesce(mapping[F.col("r_name")], F.lit("XX")).alias("region_code"),
    ).orderBy("r_regionkey")


# --- J3: anti join (set difference / membership) ----------------------------
# Ref: asset_checks/acled_checks.py:426-431 (actual - valid category sets).
@query(
    "j3_anti_join",
    oracle="""
    SELECT c.c_custkey FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c.c_custkey
    """,
    tags=("join", "setop"),
)
def j3_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti membership: customers with no orders (ref acled_checks.py:426-431)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


# --- J4: semi join ----------------------------------------------------------
@query(
    "j4_semi_join",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400)
    ORDER BY c.c_custkey
    """,
    tags=("join",),
)
def j4_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers holding a high-value order."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


# --- J5: multiway fact join + aggregation (flagship) ------------------------
@query(
    "j5_multiway_revenue",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS line_count
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY segment, month
    ORDER BY segment, month
    """,
    tags=("join", "agg", "flagship"),
)
def j5_multiway_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per segment × month over customer ⋈ orders ⋈ lineitem.

    TPC-H Q3-shaped; the flagship multiway plan.  customer is the small
    side of the first join (broadcast at low SF via AQE); orders ⋈
    lineitem shuffles on the orderkey — at 100 TB, bucket both on
    orderkey for a shuffle-free sort-merge join.
    """
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # spread=True (measured opt-in, r14): the fact sides' single-split
    # scans serialized the scan+project work feeding the join exchanges;
    # spreading them read 1.72s vs 2.23s in the same A/B session at
    # sf0.1/local[32].
    orders = load(spark, sf_dir, "orders", spread=True).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = load(spark, sf_dir, "lineitem", spread=True).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
        )
        .agg(
            # exact decimal aggregation: each product term is a <=5-decimal
            # value, so its double casts to DECIMAL(18,6) identically in
            # both engines, and decimal SUM is associative — no reduction-
            # order boundary flips at ROUND (double sums of products DID
            # flip 3/400 groups at sf0.1)
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("line_count"),
        )
        .orderBy("segment", "month")
    )


# --- J6: snowflake dim chain with broadcasts --------------------------------
@query(
    "j6_snowflake_dims",
    oracle="""
    SELECT r.r_name AS region_name,
           COUNT(*) AS supplier_count,
           ROUND(AVG(s.s_acctbal), 4) AS avg_balance
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY region_name
    ORDER BY region_name
    """,
    tags=("join", "agg"),
)
def j6_snowflake_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop broadcast dim chain: supplier → nation → region."""
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count("*").alias("supplier_count"),
            F.round(F.avg("s_acctbal"), 4).alias("avg_balance"),
        )
        .orderBy("region_name")
    )


# --- J7: as-of join (event-time point lookup) -------------------------------
# Spark has no native ASOF JOIN; the scalable composition is the classic
# union-sort-window: tag both sides, union, and carry the right side
# forward with last_value(ignorenulls) over a per-key event-time window.
# ONE shuffle on the join key, no join operator at all — versus the naive
# range-join (t.ts >= q.ts) which Catalyst executes as a broadcast
# nested-loop or a cartesian-per-key.  DuckDB's native ASOF JOIN is the
# oracle, so the composition is verified against a real implementation.
@query(
    "j7_asof_join",
    oracle="""
    SELECT t.event_id, t.user_id,
           CAST(epoch_us(t.ts) - epoch_us(q.ts) AS BIGINT) AS gap_us,
           ROUND(q.value, 2) AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') t
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') q
      ON t.user_id = q.user_id AND t.ts >= q.ts
    ORDER BY t.event_id
    """,
    tags=("join", "asof", "extended"),
)
def j7_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase, the most recent click by the same user at-or-before it.

    Union-window as-of: clicks sort before purchases at equal ts
    (side 0 < 1), so ``ts >= q.ts`` inclusivity falls out of the sort
    order; ``last(ignorenulls)`` over rows-unbounded-preceding carries the
    latest click forward.  Deterministic because (user_id, ts) is unique
    in events.  Scale: cost is one hash exchange on user_id plus a
    per-user sort — no O(trades x quotes) pair blow-up, and per-key skew
    is bounded by the busiest user's event count.
    """
    ev = load(spark, sf_dir, "events")
    # ONE scan with event_type IN (...) pushed to parquet, then a
    # conditional projection into the tagged union shape — a
    # filter-per-side union would read the fact table twice.
    is_purchase = F.col("event_type") == "purchase"
    tagged = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        is_purchase.cast("int").alias("side"),
        F.when(is_purchase, F.col("event_id")).alias("event_id"),
        F.when(~is_purchase, F.col("ts")).alias("click_ts"),
        F.when(~is_purchase, F.col("value")).alias("click_value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        tagged
        .select(
            "event_id",
            "user_id",
            "side",
            "ts",
            F.last("click_ts", ignorenulls=True).over(w).alias("last_click_ts"),
            F.last("click_value", ignorenulls=True).over(w).alias("last_click_value"),
        )
        .filter(F.col("side") == 1)
        .select(
            "event_id",
            "user_id",
            (
                F.unix_micros(F.col("ts").cast("timestamp_ltz"))
                - F.unix_micros(F.col("last_click_ts").cast("timestamp_ltz"))
            )
            .cast("long")
            .alias("gap_us"),
            F.round("last_click_value", 2).alias("click_value"),
        )
        .orderBy("event_id")
    )


# --- SO1: set operations (union / intersect / except) -----------------------
# Ref: SURVEY §2.7 — category set differences; union of page batches.
@query(
    "so1_set_ops",
    oracle="""
    WITH flags AS (
      SELECT user_id,
             MAX(CASE WHEN CAST(ts AS DATE) <  DATE '2024-01-15' THEN 1 ELSE 0 END) AS in1,
             MAX(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-15' THEN 1 ELSE 0 END) AS in2
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS union_users,
           COUNT(CASE WHEN in1 = 1 AND in2 = 1 THEN 1 END) AS both_halves,
           COUNT(CASE WHEN in1 = 1 AND in2 = 0 THEN 1 END) AS only_first_half
    FROM flags
    """,
    tags=("setop",),
)
def so1_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union/intersect/except cardinalities over two time-windowed key sets.

    Expressed as ONE membership-flag aggregation (single shuffle on
    user_id) rather than three separate union/intersect/except plans —
    identical semantics, one pass over the data (SURVEY §2.7).
    """
    ev = load(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15").cast("date")
    flags = ev.groupBy("user_id").agg(
        F.max((F.to_date("ts") < cutoff).cast("int")).alias("in1"),
        F.max((F.to_date("ts") >= cutoff).cast("int")).alias("in2"),
    )
    return flags.agg(
        F.count("*").alias("union_users"),
        F.count(F.when((F.col("in1") == 1) & (F.col("in2") == 1), 1)).alias(
            "both_halves"
        ),
        F.count(F.when((F.col("in1") == 1) & (F.col("in2") == 0), 1)).alias(
            "only_first_half"
        ),
    )


# --- interval (time-range) join ----------------------------------------------
@query(
    "j8_interval_join",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id AS view_id, ts AS view_ts
      FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id, event_id AS purchase_id, ts AS purchase_ts, value
      FROM events WHERE event_type = 'purchase'
    ),
    pairs AS (
      SELECT v.user_id, v.view_id, p.purchase_id, p.value,
             date_diff('second', v.view_ts, p.purchase_ts) AS lag_sec
      FROM v JOIN p
        ON v.user_id = p.user_id
       AND p.purchase_ts >= v.view_ts
       AND p.purchase_ts <= v.view_ts + INTERVAL 10 MINUTE
    )
    SELECT user_id,
           COUNT(*) AS pairs,
           COUNT(DISTINCT purchase_id) AS attributed_purchases,
           CAST(MIN(lag_sec) AS BIGINT) AS min_lag_sec,
           ROUND(AVG(lag_sec), 4) AS avg_lag_sec,
           ROUND(SUM(value), 2) AS attributed_value
    FROM pairs GROUP BY user_id ORDER BY user_id
    """,
    tags=("join", "interval", "extended"),
)
def j8_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View->purchase attribution within a 10-minute window, per user.

    The batch face of ``streaming.attribution_pairs`` — the SAME
    builder runs as a watermarked stream-stream join (parity-tested in
    tests/test_streaming.py); this query aggregates its pairs, and the
    oracle is DuckDB's native range join.  lag_sec is exact integer
    seconds (both engines difference whole timestamps), so only the
    final avg/sum round.  Scale: both sides shuffle once on user_id;
    the time-range predicate keeps the per-key cross product bounded by
    the attribution window, and in streaming mode the same bound is
    what evicts join state.
    """
    from acled_spark.streaming import attribution_pairs

    ev = load(spark, sf_dir, "events")
    pairs = attribution_pairs(ev).withColumn(
        "lag_sec",
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("view_ts")
        ).cast("long"),
    )
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count("*").alias("pairs"),
            F.count_distinct("purchase_id").alias("attributed_purchases"),
            F.min("lag_sec").cast("long").alias("min_lag_sec"),
            F.round(F.avg("lag_sec"), 4).alias("avg_lag_sec"),
            F.round(F.sum("purchase_value"), 2).alias("attributed_value"),
        )
        .orderBy("user_id")
    )


# --- J9 (extended): interval-dimension band join -----------------------------
# quartile-ish cut points for the generator's o_totalprice range
# (~1k .. ~500k)
_BANDS = [
    ("budget", 0.0, 125000.0),
    ("mid", 125000.0, 250000.0),
    ("premium", 250000.0, 375000.0),
    ("luxury", 375000.0, 1e18),
]
_BANDS_SQL = " UNION ALL ".join(
    f"SELECT '{n}' AS band, {lo} AS lo, {hi} AS hi" for n, lo, hi in _BANDS
)


@query(
    "j9_band_join",
    oracle=f"""
    WITH bands AS ({_BANDS_SQL})
    SELECT b.band,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS total_value,
           ROUND(AVG(o.o_totalprice), 4) AS avg_value
    FROM orders o
    JOIN bands b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band ORDER BY b.band
    """,
    tags=("join", "range", "extended"),
)
def j9_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi join of the fact table to an interval DIMENSION (price
    bands) — the band-join operator class (distinct from J7's as-of and
    J8's fact-fact interval join: here the interval side is a tiny
    static dimension).

    Scale: a non-equi join has no hash key, so the ONLY viable plan is
    broadcast-nested-loop with the intervals side broadcast — which is
    exactly right when that side is |bands| rows: per fact row the
    executor scans 4 intervals, the fact table never shuffles for the
    join, and the census aggregates partial+final on the band key.
    (Half-open [lo, hi) intervals: a boundary value lands in exactly
    one band, so the join is also a partition of the fact table —
    pinned by n_orders summing to the table count in the plan tests.)
    """
    bands = arrow_frame(spark, _BANDS, "band string, lo double, hi double")
    o = load(spark, sf_dir, "orders")
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_value"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_value"),
        )
        .orderBy("band")
    )
