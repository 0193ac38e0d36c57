"""Pipeline-semantics operators: keyed upsert merge (S8) and tumbling
daily bucketing (T3) — the batch-checkable faces of the silver/streaming
layers (SURVEY §2.1 S8, §2.10 T3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from acled_spark.registry import query
from acled_spark.session import arrow_frame
from acled_spark.silver import merge_updates
from acled_spark.tables import load

# Deterministic simulated update batch over `events`:
#   - every event of a user_id % 7 == 0 gets value + 100 (corrections)
#   - every event_id % 13 == 0 is re-keyed to event_id + 10_000_000 (new rows)
_NEW_KEY_OFFSET = 10_000_000


def _updates(ev: DataFrame) -> DataFrame:
    corrections = ev.filter(F.col("user_id") % 7 == 0).withColumn(
        "value", F.col("value") + 100.0
    )
    inserts = ev.filter(F.col("event_id") % 13 == 0).withColumn(
        "event_id", F.col("event_id") + _NEW_KEY_OFFSET
    )
    return corrections.unionByName(inserts)


@query(
    "s8_upsert_merge",
    oracle=f"""
    -- base is deduped first (r13 adversarial tier): merge_updates
    -- guarantees ONE surviving row per key even when the EXISTING side
    -- carries duplicate keys, an assumption the natural tiers never
    -- tested (zero duplicate event_ids).  DISTINCT reproduces the
    -- collapse exactly for identical-content duplicates; the survivor
    -- pick among DIFFERING-content duplicates rides Spark's xxhash64
    -- tiebreak, which no oracle SQL can express — that shape is pinned
    -- by tests/test_merge_property.py instead and the adversarial tier
    -- deliberately plants it on lineitem (a12's census), not events.
    WITH base AS (SELECT DISTINCT * FROM events),
    updates AS (
      SELECT event_id, ts, user_id, event_type, value + 100.0 AS value, props
      FROM base WHERE user_id % 7 = 0
      UNION ALL
      SELECT event_id + {_NEW_KEY_OFFSET} AS event_id, ts, user_id, event_type, value, props
      FROM base WHERE event_id % 13 = 0
    ),
    merged AS (
      SELECT * FROM updates
      UNION ALL
      SELECT e.* FROM base e
      WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.event_id = e.event_id)
    )
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT event_id) AS n_keys,
           ROUND(SUM(value), 2) AS total_value,
           COUNT(CASE WHEN event_id >= {_NEW_KEY_OFFSET} THEN 1 END) AS n_inserted
    FROM merged
    """,
    tags=("pipeline", "upsert"),
)
def s8_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PK-upsert MERGE semantics audit (ref base_assets.py:197-233).

    Runs the engine's actual merge operator
    (:func:`acled_spark.silver.merge_updates`) against a simulated
    correction+insert batch; the oracle re-derives the same MERGE with
    NOT EXISTS set logic.  n_rows == n_keys proves key uniqueness after
    merge; total_value shifts by exactly 100×|corrections|.
    """
    ev = load(spark, sf_dir, "events")
    merged = merge_updates(ev, _updates(ev), key="event_id")
    return merged.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("event_id").alias("n_keys"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.count(F.when(F.col("event_id") >= _NEW_KEY_OFFSET, 1)).alias("n_inserted"),
    )


@query(
    "t3_tumbling_window",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
           COUNT(*) AS event_count,
           ROUND(SUM(value), 2) AS total_value,
           TRUE AS stream_matches_batch
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 4 ORDER BY window_start
    """,
    tags=("pipeline", "streaming", "time"),
)
def t3_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day window aggregation (ref partitions.py:9-11, T3),
    self-certifying stream-batch parity (VERDICT r4 #6).

    The SAME ``windowed_counts`` expression runs twice: once in batch
    mode, once as a real Structured Streaming query (one-shot
    ``availableNow`` micro-batch over a normalized copy of the events,
    memory sink, watermark attached).  Every output row carries
    ``stream_matches_batch`` — true only when the streaming result set
    equals the batch result set exactly — so the driver's hash gate
    (oracle emits TRUE) pins the parity invariant, like a19/a26's
    self-certification.  Certification cost is one extra bounded pass
    at bench time; the production face (``windowed_counts``) carries
    none of it.
    """
    import shutil
    import tempfile
    import uuid

    from acled_spark.streaming import windowed_counts

    ev = load(spark, sf_dir, "events")
    batch = windowed_counts(ev)
    batch_rows = {
        (str(r["window_start"]), r["event_count"], r["total_value"])
        for r in batch.collect()
    }

    tmp = tempfile.mkdtemp(prefix="t3_cert_")
    sink = f"t3_cert_{uuid.uuid4().hex[:8]}"
    try:
        ev.write.parquet(f"{tmp}/bronze")
        stream = windowed_counts(
            spark.readStream.schema(ev.schema).parquet(f"{tmp}/bronze")
        )
        q = (
            stream.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            # a timeout must read as "certification did not run", never
            # as a parity failure — and the query must be stopped BEFORE
            # the finally block deletes its source directory
            q.stop()
            raise TimeoutError(
                "t3 stream-batch certification micro-batch exceeded 300s"
            )
        stream_rows = {
            (str(r["window_start"]), r["event_count"], r["total_value"])
            for r in spark.table(sink).collect()
        }
    finally:
        spark.catalog.dropTempView(sink)
        shutil.rmtree(tmp, ignore_errors=True)

    return batch.withColumn(
        "stream_matches_batch", F.lit(stream_rows == batch_rows)
    ).orderBy("window_start")


# --- corpus-prep capstone: gates -> dedup -> split -> token budget -----------
from acled_spark.queries.filters_q import (  # shared split bounds
    SPLIT_TRAIN_MAX,
    SPLIT_VAL_MAX,
    split_spark,
)
from acled_spark.queries.text import (  # noqa: E402
    FINGERPRINT_SQL,
    GATE_DR_SQL,
    GATE_NTOK_SQL,
    GATE_TOKS_SQL,
    MIN_DISTINCT_RATIO,
    MIN_TOKENS,
    gate_exprs,
)


@query(
    "prep_corpus_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             {GATE_NTOK_SQL} AS n_tok,
             {GATE_TOKS_SQL} AS toks,
             {FINGERPRINT_SQL} AS fp,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{SPLIT_TRAIN_MAX}' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{SPLIT_VAL_MAX}' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    d AS (
      -- NULL-safe dedup key, mirroring the engine (each NULL-text doc
      -- is its own trivial group; moot after the n_tok gate, but the
      -- two sides must read 1:1).  The oracle may keep the window
      -- spelling — skew is a Spark-executor concern, not DuckDB's.
      SELECT doc_id, lang, split, n_tok,
             {GATE_DR_SQL} AS dr,
             doc_id = MIN(doc_id) OVER (
               PARTITION BY COALESCE(fp, 'null:' || CAST(doc_id AS VARCHAR))
             ) AS canon
      FROM t
    ),
    kept AS (
      SELECT split, lang, n_tok FROM d
      WHERE n_tok >= {MIN_TOKENS} AND dr >= {MIN_DISTINCT_RATIO} AND canon
    )
    SELECT split, lang,
           COUNT(*) AS docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           ROUND(AVG(n_tok), 4) AS avg_tokens
    FROM kept GROUP BY split, lang ORDER BY split, lang
    """,
    tags=("pipeline", "capstone", "extended"),
)
def prep_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-corpus prep in ONE plan: quality gates
    (doc_filter_funnel's thresholds) -> exact-dedup survivorship
    (min-doc_id canonical per fingerprint) -> deterministic md5
    train/val/test split (p7) -> per-(split, lang) token budget.

    This is the query a data team runs before every training round;
    each stage reuses the exact shared constants of its standalone
    operator, so the capstone stays consistent with the parts.  Scale:
    ONE corpus scan; the canonical pick is a digest-keyed partial
    aggregate + join (skew-immune — see the inline note), gates and
    split are narrow maps, and the final rollup is |splits x langs|.
    """
    from acled_spark.queries.text import fingerprint_spark

    docs = load(spark, sf_dir, "documents")
    n_tok, dr = gate_exprs(F.col("text"))
    d = docs.select(
        "doc_id",
        "lang",
        split_spark(F.col("doc_id")).alias("split"),
        n_tok.alias("n_tok"),
        dr.alias("dr"),
        # NULL-safe dedup key: NULL-text fingerprints must not collapse
        # into one group (each NULL doc is its own trivial group)
        F.coalesce(
            fingerprint_spark(F.col("text")),
            F.concat(F.lit("null:"), F.col("doc_id").cast("string")),
        ).alias("fp"),
    )
    # Canonical pick via min_by AGGREGATION, not a window over fp (r8
    # scale lens): a window forces EVERY copy of a hot duplicated text
    # (10^6-doc boilerplate groups on a real pre-dedup crawl) onto one
    # reducer task with no partial aggregation and no AQE skew rescue —
    # AQE splits skewed JOINS, not windows.  min_by combines MAP-SIDE
    # (one struct per fp per task crosses the wire, hot keys included)
    # and needs neither a second corpus scan nor a join back.  Measured
    # same-session warm A/B at sf0.1 (min-of-3): min_by 0.74 s vs
    # window 0.82 s vs groupBy+join 1.47 s (the join re-tokenized the
    # corpus for the key frame) — the skew-immune shape is also the
    # fastest.  Rows sharing fp share text, so the min-doc_id row IS
    # the canonical doc with its own gate columns.
    kept = (
        d.groupBy("fp")
        .agg(
            F.min_by(
                F.struct("doc_id", "lang", "split", "n_tok", "dr"), "doc_id"
            ).alias("r")
        )
        .select("r.*")
        .filter(
            (F.col("n_tok") >= MIN_TOKENS)
            & (F.col("dr") >= MIN_DISTINCT_RATIO)
        )
    )
    return (
        kept.groupBy("split", "lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
        )
        .orderBy("split", "lang")
    )


# --- validation-suite summary (the checks engine, driver-verified) ----------
_EVENT_DOMAIN = ("click", "error", "purchase", "signup", "view")
_CRITICAL_COLS = ("event_id", "ts", "user_id", "event_type", "value")


def _missing_sql(col: str) -> str:
    """Missing-cell predicate mirroring the engine's completeness rule:
    NULL everywhere, plus empty string for string columns."""
    if col == "event_type":  # the only string critical column
        return f"COUNT(CASE WHEN {col} IS NULL OR {col} = '' THEN 1 END)"
    return f"COUNT(CASE WHEN {col} IS NULL THEN 1 END)"


@query(
    "chk_validation_summary",
    oracle=f"""
    SELECT * FROM (
      SELECT 'non_empty' AS check_name,
             CAST(COUNT(*) > 0 AS BIGINT) AS passed,
             CAST(CASE WHEN COUNT(*) > 0 THEN 0 ELSE 1 END AS BIGINT)
               AS violations
      FROM events
      UNION ALL
      SELECT 'value_range[value]',
             CAST(COUNT(CASE WHEN value < 0 OR isnan(value) OR value IS NULL
                        THEN 1 END) = 0 AS BIGINT),
             COUNT(CASE WHEN value < 0 OR isnan(value) OR value IS NULL
                   THEN 1 END)
      FROM events
      UNION ALL
      SELECT 'domain[event_type]',
             CAST((COUNT(DISTINCT CASE WHEN event_type NOT IN
                    {_EVENT_DOMAIN} THEN event_type END)
                   + COUNT(CASE WHEN event_type IS NULL THEN 1 END)) = 0
                  AS BIGINT),
             COUNT(DISTINCT CASE WHEN event_type NOT IN {_EVENT_DOMAIN}
                   THEN event_type END)
             + CASE WHEN COUNT(CASE WHEN event_type IS NULL THEN 1 END) > 0
                    THEN 1 ELSE 0 END
      FROM events
      UNION ALL
      SELECT 'pk_unique[event_id]',
             CAST(COUNT(*) = COUNT(DISTINCT event_id) AS BIGINT),
             COUNT(*) - COUNT(DISTINCT event_id)
      FROM events
      UNION ALL
      SELECT 'completeness[{", ".join(_CRITICAL_COLS)}]',
             CAST(CASE WHEN COUNT(*) = 0 THEN TRUE ELSE
               100.0 * (1 - ({" + ".join(_missing_sql(c) for c in _CRITICAL_COLS)})
                        / ({len(_CRITICAL_COLS)}.0 * COUNT(*))) >= 95.0
             END AS BIGINT),
             {" + ".join(_missing_sql(c) for c in _CRITICAL_COLS)}
      FROM events
    ) ORDER BY check_name
    """,
    tags=("checks", "pipeline"),
)
def chk_validation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The validation ENGINE (checks/engine.py) run as a driver-checkable
    query: a 5-check suite over `events`, one row per check with its
    pass flag and violation count — so the engine's counting logic
    itself sits behind the oracle gate, not just pytest (P7 upgrade).

    Violations per check type: out-of-range/null rows (value_range,
    allow_null=False), unknown categories (domain), duplicate keys
    (pk_unique), missing critical-field cells (completeness).  The
    engine fuses the whole suite into one aggregation job (run_checks).
    """
    from acled_spark.checks.engine import (
        domain_membership,
        non_empty,
        pk_unique,
        run_checks,
        value_range,
    )
    from acled_spark.checks.engine import completeness as completeness_check

    ev = load(spark, sf_dir, "events")
    results = run_checks(
        ev,
        [
            non_empty(blocking=False),
            value_range("value", lo=0.0, allow_null=False),
            domain_membership("event_type", list(_EVENT_DOMAIN)),
            pk_unique(["event_id"]),
            completeness_check(list(_CRITICAL_COLS), min_pct=95.0),
        ],
        raise_on_blocking=False,
    )
    by_name = {r.name: r for r in results}

    def violations(r) -> int:
        m = r.metrics
        if r.name == "non_empty":
            return 0 if r.passed else 1
        if r.name.startswith("value_range"):
            return m["out_of_range"] + m["nulls"]
        if r.name.startswith("domain"):
            # NULL counts as one unknown "category", like the engine
            # (n_unknown = exact distinct unknown values, r8)
            return m["n_unknown"] + (1 if m["nulls"] else 0)
        if r.name.startswith("pk_unique"):
            # dup rows + null-keyed rows == COUNT(*) - COUNT(DISTINCT key)
            return m["duplicates"] + m["null_keys"]
        return sum(m["missing_by_column"].values())  # completeness

    rows = [
        (r.name, int(r.passed), int(violations(r))) for r in by_name.values()
    ]
    return arrow_frame(
        spark, rows, "check_name string, passed long, violations long"
    ).orderBy("check_name")


# --- distribution drift (PSI) ------------------------------------------------
# Population Stability Index between two data periods — the standard
# continuous-training monitor: a retrain/alert fires when the serving
# (new) distribution drifts from the reference (old) one.  Fixed-width
# bins + Laplace smoothing keep both engines on exact integer counts
# until one final ln/sum, so the score is cross-engine stable at 4
# decimals.
_PSI_SPLIT = "2024-01-16"  # old = first half of the event range, new = rest
_PSI_BINS = 10
_PSI_WIDTH = 50.0  # value spans [0, 500)


@query(
    "drift_psi",
    oracle=f"""
    WITH e AS (
      SELECT event_type,
             CAST(LEAST({_PSI_BINS - 1}, GREATEST(0, FLOOR(value / {_PSI_WIDTH}))) AS INT) AS bin,
             CASE WHEN ts >= TIMESTAMP '{_PSI_SPLIT}' THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    counts AS (
      SELECT event_type, bin,
             SUM(is_new) AS n_new_b, SUM(1 - is_new) AS n_old_b
      FROM e GROUP BY event_type, bin
    ),
    grid AS (
      SELECT t.event_type, gs.bin
      FROM (SELECT DISTINCT event_type FROM e) t,
           (SELECT unnest(range(0, {_PSI_BINS})) AS bin) gs
    ),
    filled AS (
      SELECT grid.event_type, grid.bin,
             COALESCE(counts.n_new_b, 0) AS n_new_b,
             COALESCE(counts.n_old_b, 0) AS n_old_b
      FROM grid LEFT JOIN counts
        ON grid.event_type IS NOT DISTINCT FROM counts.event_type
       AND grid.bin = counts.bin
    ),
    probs AS (
      SELECT event_type, n_new_b, n_old_b,
             CAST(SUM(n_old_b) OVER (PARTITION BY event_type) AS BIGINT) AS n_old_t,
             CAST(SUM(n_new_b) OVER (PARTITION BY event_type) AS BIGINT) AS n_new_t
      FROM filled
    ),
    terms AS (
      SELECT event_type, n_old_t, n_new_t,
             ((n_new_b + 0.5) / (n_new_t + {_PSI_BINS / 2.0})
              - (n_old_b + 0.5) / (n_old_t + {_PSI_BINS / 2.0}))
             * ln(((n_new_b + 0.5) / (n_new_t + {_PSI_BINS / 2.0}))
                  / ((n_old_b + 0.5) / (n_old_t + {_PSI_BINS / 2.0}))) AS term
      FROM probs
    )
    SELECT event_type,
           MAX(n_old_t) AS n_old, MAX(n_new_t) AS n_new,
           ROUND(SUM(term), 4) AS psi,
           ROUND(SUM(term), 4) >= 0.1 AS drifted
    FROM terms GROUP BY event_type ORDER BY event_type
    """,
    tags=("quality", "drift", "extended"),
)
def drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type PSI of the value distribution, old period vs new.

    PSI = Σ_bins (p_new - p_old) · ln(p_new / p_old) over fixed-width
    value bins, with Laplace smoothing ((n_b + 0.5)/(n_t + bins/2)) so
    empty bins contribute finite terms.  The conventional reading:
    psi < 0.1 stable, 0.1-0.25 moderate drift, > 0.25 action — the
    ``drifted`` flag pins the 0.1 gate.  On this synthetic corpus both
    halves draw from one distribution, so psi ≈ 0 — the meaningful
    driver-checked content is the exact cross-engine agreement of the
    whole binning/smoothing/ln pipeline.

    Scale: ONE corpus scan to (event_type, bin) partial counts — the
    only exchange carries ≤ |types|·bins rows; the bin grid completion,
    window totals, and the ln arithmetic all happen on that tiny frame.
    Drift monitoring at 100 TB costs exactly one aggregation pass (or
    zero extra, fused into an existing daily rollup).  Production use:
    persist each period's (type, bin) counts — PSI between ANY two
    periods is then arithmetic on two tiny stored frames, no rescan.
    """
    from acled_spark.drift import psi_from_merged

    ev = load(spark, sf_dir, "events")
    e = ev.select(
        F.col("event_type").alias("group"),
        # clamp BEFORE the int cast (mirrored in the oracle): floor()
        # yields a long, and casting first overflowed on values past
        # 2^31·width — ANSI abort or a wrapped-negative bin 0 (r7 review)
        F.least(
            F.lit(_PSI_BINS - 1),
            F.greatest(F.lit(0), F.floor(F.col("value") / _PSI_WIDTH)),
        )
        .cast("int")
        .alias("bin"),
        # when/otherwise (not a bare cast) so a NULL ts lands in the OLD
        # period like the oracle's CASE, instead of vanishing from both
        # counts; timestamp_ntz matches the table's type so the split is
        # session-timezone-independent (the repo literal convention)
        F.when(F.col("ts") >= F.lit(_PSI_SPLIT).cast("timestamp_ntz"), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    # ONE corpus scan to the |types|·bins sketch; materialized so the
    # shared PSI core (grid completion, window totals, ln arithmetic —
    # acled_spark/drift.py, the same code DriftMonitor runs per batch)
    # never re-scans events (plan pin: zero parquet scans).  eager=False
    # (r8 lens): the default EAGER checkpoint ran the full corpus scan
    # at DataFrame-BUILD time, so merely explain()-ing the query (the
    # plan-hygiene gate, a deployment review) executed a cluster job;
    # lazy materializes on the first real action with identical reuse.
    # Residual caveat (r9, pinned in test_plans): under AQE, toRdd
    # inside even a LAZY checkpoint pre-runs the aggregate's MAP stage
    # at build time — accepted here because two downstream consumers
    # (grid domain + fill join) repay the one materialization.
    merged = (
        e.groupBy("group", "bin")
        .agg(
            F.sum("is_new").alias("n_new_b"),
            F.sum(1 - F.col("is_new")).alias("n_old_b"),
        )
        .localCheckpoint(eager=False)
    )
    return psi_from_merged(merged, _PSI_BINS).withColumnRenamed(
        "group", "event_type"
    )
