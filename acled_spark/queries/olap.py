"""OLAP coverage beyond the reference's own queries: multi-aggregate
pricing summary (TPC-H Q1 shape), grouping sets (ROLLUP/CUBE), and the
approximate-distinct scale path.  The reference never needs these
(SURVEY §2.4 note: "no grouping sets / cube / rollup"), but an engine
replacing it should expose them — Spark provides all three natively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from acled_spark.registry import query
from acled_spark.tables import load


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,8))), 2) AS DOUBLE) AS sum_charge,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(AVG(l_discount), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("agg", "olap", "flagship"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary: one scan, eight aggregates.

    The canonical whole-stage-codegen showcase: every measure computes
    inside one partial+final hash aggregate over a filtered scan with
    the ship-date predicate pushed to parquet row groups.
    """
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            # product terms aggregate in exact DECIMAL — see j5 note on
            # reduction-order boundary flips
            F.round(F.sum(disc_price.cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_disc_price"),
            F.round(
                F.sum((disc_price * (1 + F.col("l_tax"))).cast("decimal(18,8)")), 2
            )
            .cast("double")
            .alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "a17_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    tags=("agg", "olap"),
)
def a17_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP (status -> priority -> grand total)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@query(
    "a18_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS cnt,
           ROUND(AVG(l_discount), 4) AS avg_disc
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    tags=("agg", "olap"),
)
def a18_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping combinations via CUBE."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@query(
    "a21_unpivot",
    oracle="""
    WITH wide AS (
      SELECT o_orderpriority,
             ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END), 2) AS price_F,
             ROUND(SUM(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END), 2) AS price_O,
             ROUND(SUM(CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0 END), 2) AS price_P
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, status, total
    FROM wide
    UNPIVOT (total FOR status IN (price_F AS 'F', price_O AS 'O', price_P AS 'P'))
    ORDER BY o_orderpriority, status
    """,
    tags=("agg", "olap"),
)
def a21_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long reshaping via unpivot/melt (pivot's inverse; the other
    half of the M2 one-hot story)."""
    o = load(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        *[
            F.round(
                F.sum(
                    F.when(F.col("o_orderstatus") == s, F.col("o_totalprice")).otherwise(
                        0.0
                    )
                ),
                2,
            ).alias(f"price_{s}")
            for s in ("F", "O", "P")
        ]
    )
    return (
        wide.unpivot(
            ids=["o_orderpriority"],
            values=["price_F", "price_O", "price_P"],
            variableColumnName="status",
            valueColumnName="total",
        )
        .withColumn("status", F.expr("substring(status, 7)"))
        .orderBy("o_orderpriority", "status")
    )


@query(
    "a19_approx_distinct",
    oracle=None,  # estimator output is engine-specific by design; the
    # query SELF-CERTIFIES instead: the error vs the exact count travels
    # in the output, so the driver's rows-only check pins the bound
    tags=("agg", "scale"),
)
def a19_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimates — the 100 TB path for A11.

    Exact countDistinct shuffles every distinct value; HLL sketches
    merge in constant space (rsd=0.01 ≈ 1% error).  The output carries
    the realized relative error against the exact count computed in the
    same aggregate plus a ``within_bound`` flag (5% = 5 standard
    errors at rsd=0.01 — generous so the flag never flakes, tight
    enough that a broken sketch trips it).  The exact columns are the
    certification harness; the production path at 100 TB is the sketch
    alone (a11_distinct_counts is the exact face).
    """
    ev = load(spark, sf_dir, "events")

    def rel_err(approx: str, exact: str):
        # exact == 0 only on an empty corpus (both estimators see zero
        # values): vacuously exact, not ANSI DIVIDE_BY_ZERO (round-11
        # degenerate-corpus sweep).  A sketch that invents values on an
        # empty input falls through to NULL, which trips within_bound.
        return F.when(
            F.col(exact) > 0,
            F.round(F.abs(F.col(approx) - F.col(exact)) / F.col(exact), 4),
        ).otherwise(F.when(F.col(approx) == 0, F.lit(0.0)))

    # The sketch and exact aggregates run as SEPARATE passes (r14): in
    # one agg, the multi-distinct Expand rewrite interleaves the
    # rsd=0.01 HLL partials with the per-value distinct groups, which
    # both bloats the partial buffers and serializes the whole plan
    # behind the most expensive aggregate (measured 1.95s fused vs
    # 1.65s split at sf0.1).  Two passes over a 2 MB scan cost less
    # than the rewrite; the sketch result is identical either way
    # (HLL register-max merges are order- and layout-independent).
    approx = ev.agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        F.approx_count_distinct("event_type", 0.01).alias("approx_types"),
    )
    exact = ev.agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.countDistinct("event_type").alias("exact_types"),
        F.count("*").alias("n_rows"),
    )
    return (
        exact.crossJoin(F.broadcast(approx))
        .select(
            "approx_users",
            "exact_users",
            "approx_types",
            "exact_types",
            "n_rows",
        )
        .withColumn("rel_err_users", rel_err("approx_users", "exact_users"))
        .withColumn("rel_err_types", rel_err("approx_types", "exact_types"))
        .withColumn(
            "within_bound",
            # NULL rel_err (sketch invented values on an empty corpus)
            # must read as a certification FAILURE, not three-valued NULL
            F.coalesce(F.col("rel_err_users") <= 0.05, F.lit(False))
            & F.coalesce(F.col("rel_err_types") <= 0.05, F.lit(False)),
        )
    )


# --- A22: time-hierarchy grouping sets (hypertable-style rollup) ------------
@query(
    "a22_time_grouping_sets",
    oracle="""
    WITH e AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(date_trunc('week', ts) AS DATE) AS week,
             CAST(date_trunc('month', ts) AS DATE) AS month,
             value
      FROM events WHERE ts IS NOT NULL
    )
    SELECT CASE WHEN GROUPING(day) = 0 THEN 'day'
                WHEN GROUPING(week) = 0 THEN 'week'
                ELSE 'month' END AS grain,
           COALESCE(day, week, month) AS bucket,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM e
    GROUP BY GROUPING SETS ((day), (week), (month))
    ORDER BY grain, bucket
    """,
    tags=("olap", "grouping-sets", "time", "extended"),
)
def a22_time_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day/week/month continuous aggregates in ONE scan via GROUPING SETS.

    The hypertable-rollup shape: instead of three rollup jobs over the
    same fact data, Catalyst expands the grouping sets and a single
    partial+final aggregation produces every grain — at 100 TB this is
    one fact read instead of three, and the expansion factor (3 rows
    per input) is absorbed by map-side partial aggregation onto
    days/weeks/months-sized keys.
    """
    # NULL ts would yield a NULL bucket per grain, which Spark orders
    # first and DuckDB last — excluded identically (same policy as the
    # sessionization family)
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    e = ev.select(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.date_trunc("week", "ts").cast("date").alias("week"),
        F.date_trunc("month", "ts").cast("date").alias("month"),
        "value",
    )
    grain = (
        F.when(F.grouping("day") == 0, "day")
        .when(F.grouping("week") == 0, "week")
        .otherwise("month")
    )
    return (
        e.groupingSets([["day"], ["week"], ["month"]], "day", "week", "month")
        .agg(
            grain.alias("grain"),
            F.coalesce("day", "week", "month").alias("bucket"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select("grain", "bucket", "n_events", "total_value")
        .orderBy("grain", "bucket")
    )


# --- A26: approximate quantiles (the percentile scale path) -----------------
#: GK sketch accuracy: rank error guarantee is 1/_GK_ACCURACY — the
#: certification bound below MUST use the same constant
_GK_ACCURACY = 10000


def _interval_err(p: str, q: float) -> F.Column:
    """Distance from target rank q to the realized interval
    [lo_<p>, hi_<p>]; 0 when q lies inside."""
    return F.greatest(
        F.lit(0.0), F.col(f"lo_{p}") - F.lit(q), F.lit(q) - F.col(f"hi_{p}")
    )


def max_rank_err_expr() -> F.Column:
    """Worst realized rank error across the three probed quantiles.

    Module-level (not inlined in the builder) so its max-of-three
    semantics are unit-testable on planted literal rows: on every
    corpus small enough to test end-to-end the GK sketch is EXACT and
    all three errors are 0.0, where max and min coincide — the r12
    mutation lens swapped greatest->least inside the builder and no
    value-level gate could tell (tests/test_approx_accuracy.py pins
    this expression on asymmetric planted errors instead)."""
    return F.greatest(
        _interval_err("p50", 0.5),
        _interval_err("p90", 0.9),
        _interval_err("p99", 0.99),
    )


@query(
    "a26_approx_quantiles",
    oracle=None,  # sketch internals are engine-specific (Spark: Greenwald-
    # Khanna; DuckDB: T-Digest) — so the query SELF-CERTIFIES: the
    # realized rank error of each sketch output travels in the result,
    # and the driver's rows-only check pins the bound (also in
    # tests/test_approx_accuracy.py)
    tags=("agg", "scale"),
)
def a26_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``percentile_approx`` p50/p90/p99 of value per event_type — the
    100 TB rung of the percentile ladder (a10 is the exact,
    pandas-parity face).

    Exact percentile materializes every value per group on one task;
    the GK sketch is constant-memory, mergeable, one pass — the only
    shape that survives a 10⁹-row group.  rsd knob = 1/accuracy: 10000
    here keeps worst-case rank error at 0.01%.

    Certification columns: GK guarantees RANK error (not value error),
    so a second conditional-aggregate pass computes the realized rank
    of each returned quantile.  With ties, a value does not have ONE
    rank but an interval [frac(< p), frac(<= p)] — the whole tie run
    shares the value — and the guarantee holds if the target rank
    falls within that interval (± slack); judging only the <=-rank
    would flag a correct sketch on tie-heavy or near-constant data.
    ``max_rank_err`` is therefore the distance from the target rank to
    the realized rank INTERVAL, and ``within_bound`` pins it to the
    sketch guarantee (1/accuracy) + 1/n discretization slack (the
    returned value is a data point, so interval endpoints sit on a 1/n
    grid).  The second scan is the certification harness; the sketch
    pass alone is the scale path.
    """
    # must not spread: GK sketch merge results depend on partition
    # layout, so a scan spread would move the approx quantile values
    # with the session's core count
    ev = load(spark, sf_dir, "events")
    # event_type-sized; consumed exactly once (broadcast onto the rank
    # scan, its columns carried through that aggregation by first()),
    # so the corpus sketch pass runs once with no materialization
    sketch = ev.groupBy("event_type").agg(
        # count of NON-NULL values: the sketch, the realized-rank
        # fractions (avg skips NULL comparisons), and therefore the 1/n
        # discretization slack all live on the non-null row set — a
        # count(*) n would grant a TIGHTER slack than the grid the
        # endpoints actually sit on and false-flag correct sketches on
        # null-heavy groups
        F.count("value").alias("n"),
        F.percentile_approx("value", 0.5, _GK_ACCURACY).alias("p50"),
        F.percentile_approx("value", 0.9, _GK_ACCURACY).alias("p90"),
        F.percentile_approx("value", 0.99, _GK_ACCURACY).alias("p99"),
    )
    # realized rank of each sketch quantile: one more scan of events
    # with the tiny per-group quantile frame broadcast onto it.  The
    # sketch columns ride THROUGH this aggregation via first() (every
    # row in a group carries the same broadcast values), so the sketch
    # subtree has exactly ONE consumer — no second output join and no
    # localCheckpoint (r9: even a LAZY checkpoint pre-runs the corpus
    # aggregate's map stage at DataFrame-BUILD time under AQE, because
    # toRdd materializes the adaptive plan's intermediate stages)
    rank_aggs = []
    for p in ("p50", "p90", "p99"):
        rank_aggs.append(
            F.avg((F.col("value") < F.col(p)).cast("double")).alias(f"lo_{p}")
        )
        rank_aggs.append(
            F.avg((F.col("value") <= F.col(p)).cast("double")).alias(f"hi_{p}")
        )
    ranked = (
        ev.join(F.broadcast(sketch), "event_type")
        .groupBy("event_type")
        .agg(
            *rank_aggs,
            F.first("n").alias("n"),
            F.first("p50").alias("p50"),
            F.first("p90").alias("p90"),
            F.first("p99").alias("p99"),
        )
    )

    return (
        ranked.withColumn("max_rank_err", F.round(max_rank_err_expr(), 6))
        .withColumn(
            # a group whose values are ALL NULL has n=0 (count of
            # non-null): no sketch, no realized ranks — certification
            # is vacuously true, and the 1/n slack must not divide by
            # zero (ANSI would abort the whole query)
            "within_bound",
            F.when(
                F.col("n") > 0,
                F.col("max_rank_err")
                <= (1.0 / _GK_ACCURACY + 1.0 / F.greatest(F.col("n"), F.lit(1))),
            ).otherwise(F.lit(True)),
        )
        .select(
            "event_type", "n", "p50", "p90", "p99", "max_rank_err", "within_bound"
        )
        .orderBy("event_type")
    )
