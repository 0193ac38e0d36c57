"""Incremental / Structured Streaming surface (SURVEY §2.10 T1-T7).

The reference is micro-batch by orchestration: an S3 file sensor
discovers new daily partitions and an idempotent PK upsert lands them
in silver (sensors.py:163-283, base_assets.py:197-233).  Spark-native
re-expression:

- file discovery  -> ``readStream`` file source (exactly-once via
  checkpoint; T2/T5);
- scheduled drain -> ``Trigger.AvailableNow`` (the daily-cron analog,
  T6: process everything new, then stop);
- PK upsert       -> ``foreachBatch`` + :func:`acled_spark.silver.
  upsert_partitioned` (stateless MERGE, unbounded lateness — exactly
  the reference's replay contract, T4);
- every ``foreachBatch`` sink -> an :class:`EpochSink`, which spells
  the idle skip and the replay rule once (*Structured Streaming*'s
  recipe: an at-least-once source plus a sink made idempotent by the
  epoch it commits);
- tumbling daily windows with watermarks for the stateful-agg variant
  the reference approximates with calendar partitions (T3).

Scale notes: the file source lists incrementally (maxFilesPerTrigger
bounds batch size); foreachBatch upsert rewrites only touched
partitions.  State for windowed aggs is bounded by the watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from acled_spark.silver import upsert_partitioned


class EpochSink:
    """Base of every ``foreachBatch`` face.  ``__call__`` is the one
    per-batch order: :meth:`heal`, skip an empty (idle) batch, skip a
    batch whose stamp equals :meth:`last_stamp` (an at-least-once
    replay), :meth:`fold`, count ``batches_applied``.

    The stamp is ``f"{query_id}:{epoch_id}"``; the query id (local
    property ``sql.streaming.queryId``) survives a restart from the same
    checkpoint, so a fresh checkpoint's epoch 0 never matches an old
    one.  Outside a stream it is ``epoch_id`` alone, kept unique by the
    caller.
    """

    batches_applied = 0

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        self.heal(spark)
        if batch_df.isEmpty():
            return
        query_id = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
        stamp = str(epoch_id) if query_id is None else f"{query_id}:{epoch_id}"
        if stamp == self.last_stamp(spark):
            return
        self.fold(batch_df, stamp)
        self.batches_applied += 1

    def heal(self, spark: SparkSession) -> None:
        """Crash repair; runs before the idle skip, so a quiet stream heals."""

    def last_stamp(self, spark: SparkSession) -> str | None:
        """The last committed stamp; None (fold every batch) by default."""
        return None

    def fold(self, batch_df: DataFrame, stamp: str) -> None:
        """Apply the batch, committing ``stamp`` with it if stamps are kept."""
        raise NotImplementedError


class _UpsertSink(EpochSink):
    """:func:`start_upsert_stream`'s face: the keyed MERGE is idempotent."""

    def __init__(self, *args, **kwargs):
        self.args, self.kwargs = args, kwargs

    def fold(self, batch_df: DataFrame, stamp: str) -> None:
        # The batch's own session, not the closed-over driver session:
        # foreachBatch may hand the callback a cloned session whose conf
        # scoping must not leak into (or depend on) the outer one.
        upsert_partitioned(
            batch_df.sparkSession, batch_df, *self.args, **self.kwargs
        )


def read_file_stream(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Incremental file-arrival source over a bronze directory (T2).

    Replaces the reference's polling S3 sensor: discovery, 'already
    processed' bookkeeping, and lookback windows all collapse into the
    source's checkpointed file log.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def start_upsert_stream(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    target_path: str,
    key: str | list[str],
    partition_col: str,
    checkpoint_dir: str,
    order_col: str | None = None,
    max_files_per_trigger: int | None = None,
    table_format: str = "auto",
) -> StreamingQuery:
    """Bronze->silver incremental upsert, ``Trigger.AvailableNow`` (T2+T4+T5).

    Drains everything new since the last checkpoint through the
    idempotent keyed MERGE, then stops — the streaming equivalent of
    the reference's sensor-triggered partition runs.  Crash-safety:
    re-delivered batches hit the same PK merge, so duplicates cannot
    land (exactly-once effect from at-least-once delivery).

    PRECISE crash-window contract (round-7 review): replay idempotency
    covers every crash OUTSIDE the parquet commit, but the dynamic
    partition overwrite itself is delete-then-rename per touched
    directory — a crash BETWEEN those two steps leaves that partition
    empty, and the replayed batch then merges against an empty
    "existing" set, silently dropping the partition's pre-crash rows
    whose keys the batch does not carry.  Plain parquet cannot close
    this window (no atomic directory swap); deployments that need it
    closed should point ``upsert_partitioned`` at a Delta table
    (``table_format='delta'`` — MERGE commits via the transaction log,
    so a torn write is invisible to readers and the replay is fully
    exactly-once).

    ``max_files_per_trigger`` bounds each micro-batch (AvailableNow
    still drains everything, in bounded chunks with checkpoint progress
    between them) — without it, the FIRST drain over a months-deep
    backlog is one giant unresumable merge.
    """
    stream = read_file_stream(
        spark, source_dir, schema, max_files_per_trigger=max_files_per_trigger
    )

    sink = _UpsertSink(
        target_path, key, partition_col, order_col, table_format=table_format
    )
    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stateful_user_totals(events: DataFrame, ttl_ms: int | None = None) -> DataFrame:
    """Custom stateful streaming operator: running per-user totals via
    ``applyInPandasWithState`` (the arbitrary-state path the reference
    never needed but a streaming engine must expose — SURVEY §2.10 note).

    State per user = (event_count, total_value); each micro-batch folds
    its rows in and emits the updated totals.  Pandas/Arrow at the state
    boundary only — upstream filtering/projection stays JVM-side.

    ``ttl_ms`` (r8 lens review): state size here is bounded by USER
    CARDINALITY, not by a watermark — on an unbounded/churning key
    domain the default grows the state store (and every checkpoint
    snapshot) monotonically until executors OOM.  Pass a processing-
    time duration in MILLISECONDS (the pyspark GroupState API's unit;
    SPARK-40437 tracks string durations) to evict users idle that
    long; an evicted user's totals restart from zero on their next event
    (running-totals-since-last-activity semantics — callers needing
    lifetime totals must either keep the default and a bounded key
    domain, or merge emitted rows in the sink).

    Restart constraints (r8 lens): the timeout TYPE is part of the
    checkpointed operator contract — toggling ``ttl_ms`` between None
    and a value on an EXISTING checkpoint changes
    NoTimeout<->ProcessingTimeTimeout, which Spark's stateful-op
    restart rules do not support; adopt a TTL by starting a NEW
    checkpoint.  And timeouts are registered per key on its next
    APPEARANCE: keys already in state that never reappear are not
    evicted by a later-added TTL (their state predates any
    setTimeoutDuration call) — another reason TTL adoption means a
    fresh checkpoint, not a flag flip.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from acled_spark.tables import configure

    configure(events.sparkSession)

    def update(key, pdfs, state):
        import pandas as pd

        if ttl_ms is not None and state.hasTimedOut:
            # idle past the TTL: evict silently (every batch this user
            # appeared in already emitted its running total)
            state.remove()
            return
        count, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            count += len(pdf)
            total += float(pdf["value"].sum())
        state.update((count, total))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "event_count": [count],
                "total_value": [round(total, 2)],
            }
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, event_count long, total_value double",
            stateStructType="event_count long, total_value double",
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if ttl_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def _with_event_time(
    events: DataFrame, ts_col: str, watermark: str | None
) -> DataFrame:
    """Event-time preamble shared by the windowed operators, BOTH faces.

    The cast to TIMESTAMP runs unconditionally (round-7 review): the
    batch face used to skip it, so a string/NTZ ts input behaved
    differently per face — streaming worked while the identical batch
    call could raise, breaking the 'one expression for batch AND
    stream' contract.  Watermarks attach only on the streaming face
    (batch ignores them; and they REQUIRE the tz type — TIMESTAMP_NTZ
    event time raises EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE, measured).
    Under the UTC-pinned session the cast is wall-clock-preserving.

    Two r8 lens fixes:

    - **The UTC pin is applied HERE, not assumed.**  Every batch path
      reaches it through ``tables.load()`` -> ``configure()``, but a
      streaming source is built straight off ``spark.readStream`` — a
      harness/cluster session with another timezone would silently
      shift every NTZ<->LTZ cast, and a checkpointed query RESTARTED
      under a different session timezone would bucket the same
      wall-clock ts into different windows than its own checkpointed
      state.  ``configure()`` is idempotent and cheap.
    - **NULL event times are dropped on BOTH faces.**  The streaming
      face's watermark silently drops them anyway; the batch face used
      to emit a NULL-window row, so the two faces of one expression
      disagreed on totals whenever bronze's null-on-error cast
      produced a NULL ts (the "one expression for batch AND stream"
      contract this helper exists to enforce).
    """
    from acled_spark.tables import configure

    configure(events.sparkSession)
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    events = events.filter(F.col(ts_col).isNotNull())
    if watermark is not None and events.isStreaming:
        events = events.withWatermark(ts_col, watermark)
    return events


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    window_len: str = "1 day",
    watermark: str | None = "1 day",
) -> DataFrame:
    """Tumbling-window count+sum — one expression for batch AND stream (T3).

    In streaming mode the watermark bounds state: windows older than
    the watermark finalize and evict.  Batch mode ignores the watermark,
    so parity tests can compare the streaming result to the identical
    batch plan (see t3_tumbling_window in the query registry).
    """
    events = _with_event_time(events, ts_col, watermark)
    return (
        events.groupBy(F.window(ts_col, window_len).alias("w"))
        .agg(
            F.count("*").alias("event_count"),
            F.round(F.sum(value_col), 2).alias("total_value"),
        )
        # NTZ output on BOTH faces: the input cast above makes the raw
        # window bound tz-typed, and faces diverging on the output type
        # is exactly the parity bug this operator must not have; under
        # the UTC-pinned session the cast is value-preserving and keeps
        # the parquet/oracle NTZ convention
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_count",
            "total_value",
        )
    )


def dedup_stream(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Exactly-once-per-key dedup for replayed/overlapping feeds (T4/T5).

    Streaming mode uses ``dropDuplicatesWithinWatermark``: the dedup
    state store only retains keys younger than the watermark, so state
    is bounded by (keys/interval x watermark) instead of growing with
    the full history — the property that makes streaming ingest dedup
    viable at 100 TB/day.  Batch (replay) mode picks the earliest-
    event-time row per key with a content-hash tiebreak —
    DETERMINISTIC, unlike dropDuplicates' partition-order accident.
    Survivor-content caveat: the stream keeps the first-ARRIVING row,
    so for an out-of-order feed whose duplicates differ in content the
    two faces can keep different rows (arrival order is not
    reconstructible from a batch replay; no batch rule can match it).
    For identical-content duplicates — the replay/overlap case this
    operator exists for — the faces agree exactly, and the batch
    choice is stable across re-runs.
    """
    # event-time preamble on BOTH faces (r7 review): skipping it on the
    # batch face left ts at its raw type, so the two faces returned
    # different ts column types AND a string-ts replay ordered survivors
    # lexicographically — mixed-offset ISO strings then pick a different
    # "earliest" row than the timestamp ordering the contract promises
    events = _with_event_time(events, ts_col, watermark)
    if events.isStreaming:
        return events.dropDuplicatesWithinWatermark(list(key_cols))
    # plain dropDuplicates keeps a partition-order-NONdeterministic
    # survivor; replays must reproduce the stream's first-seen choice,
    # so pick the earliest event time with a content-hash tiebreak
    # (the same determinism discipline as silver.merge_updates)
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols).orderBy(
        F.col(ts_col).asc_nulls_last(), F.xxhash64(*events.columns)
    )
    return (
        events.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def session_counts(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 day",
) -> DataFrame:
    """Gap-merged session aggregation via native ``session_window`` —
    one expression for batch AND stream.

    The streaming twin of the sessionization family: Spark merges
    events whose timestamps fall within ``gap`` of the session's
    current end, exactly the lag-gap semantics of
    ``queries.sessions.sess_user_sessions`` (a test asserts the two
    agree per user).  In streaming mode the watermark finalizes and
    evicts sessions whose end is older than the watermark — state is
    bounded by active sessions only, which is what makes gap
    sessionization viable on an unbounded feed.
    """
    events = _with_event_time(events, ts_col, watermark)
    return (
        events.groupBy(F.col(key_col), F.session_window(ts_col, gap).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(value_col), 2).alias("session_value"),
        )
        # NTZ bounds on BOTH faces — same reasoning as windowed_counts
        .select(
            key_col,
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def attribution_pairs(
    events: DataFrame,
    max_lag: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: each view paired with the same user's
    purchases landing within ``max_lag`` AFTER it (click-through
    attribution) — one expression for batch AND stream.

    In streaming mode both sides carry watermarks and the join condition
    bounds event time in both directions, which is exactly what lets
    Spark evict join state: a buffered view can be dropped once the
    purchase-side watermark passes view_ts + max_lag.  Unbounded
    stream-stream joins (no time bound) never free state — the interval
    condition is the 100 TB/day design, not a restriction.
    """
    # the SHARED event-time preamble (r8 lens): a private inline copy
    # silently missed every fix the helper accumulates (UTC pin,
    # NULL-ts drop, the r7 batch-face cast)
    src = _with_event_time(events, "ts", watermark)
    views = src.filter(F.col("event_type") == "view").select(
        F.col("user_id"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    purchases = src.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {max_lag}")),
        "inner",
    )
    return joined.select(
        "user_id",
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
        "purchase_value",
    )
