"""Silver-layer keyed upsert — the pipeline's idempotency backbone.

The reference maintains its silver store with a primary-key upsert
(``INSERT ... ON CONFLICT (event_id_cnty) DO UPDATE``, row-wise
executemany — ref base_assets.py:197-233).  Re-running a partition is
safe; late/corrected data is handled by replay (ref SURVEY §2.10 T4).

Spark-first re-expression (no transactional table format required):

- :func:`merge_updates` — pure DataFrame MERGE semantics: updates win
  over existing rows on the key; deterministic survivor within each side.
- :func:`upsert_partitioned` — storage path: merge only the partitions
  the update batch touches, rewrite them with **dynamic partition
  overwrite** (untouched partitions are never read or written).

Scale notes (100 TB): the merge shuffles on the key once; with the
target bucketed by key the exchange disappears entirely.  Dynamic
overwrite bounds the rewrite to touched date partitions — the
reference's "replay one day" contract maps to rewriting one partition
directory, not the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from acled_spark.fsutil import (
    commit_dir, fs_delete, fs_exists, fs_list, fs_list_dirs, heal_dir,
    staging_path,
)

_SRC_COL = "__src_priority"
_RN_COL = "__merge_rn"


def dynamic_writer(df: DataFrame):
    """DataFrameWriter carrying dynamic partition-overwrite as a
    PER-WRITE datasource option, not a session conf.

    The ``spark.sql.sources.partitionOverwriteMode`` conf is
    session-GLOBAL and not thread-safe: two concurrent writers on one
    session (the normal foreachBatch shape — streaming upserts, bronze
    writes, compaction can all share a session) toggling it through a
    set/restore context manager can interleave so one write runs in
    STATIC mode — which deletes every untouched partition of the target
    — or so 'dynamic' leaks into the session permanently (r7 review).
    The writer option takes precedence over the conf (Spark ≥ 2.4) and
    is visible only to this write.
    """
    return df.write.option("partitionOverwriteMode", "dynamic")


def partition_membership(partition_col: str, values: list) -> F.Column:
    """NULL-safe partition membership predicate.

    ``isin(values)`` silently drops a NULL in ``values`` (SQL IN is
    three-valued), excluding the ``__HIVE_DEFAULT_PARTITION__`` rows —
    reachable in practice because bronze's ``try_cast(... AS date)``
    turns malformed dates into NULL partition values.
    """
    pred = F.col(partition_col).isin([v for v in values if v is not None])
    if any(v is None for v in values):
        pred = pred | F.col(partition_col).isNull()
    return pred


def merge_updates(
    existing: DataFrame,
    updates: DataFrame,
    key: str | list[str],
    order_col: str | None = None,
) -> DataFrame:
    """MERGE semantics as a DataFrame op: one surviving row per key.

    Updates beat existing rows (``ON CONFLICT DO UPDATE``); within a
    side, the row with the greatest ``order_col`` wins (replay of the
    same batch is a no-op).  Remaining ties (duplicate keys with no/equal
    order_col) break on a full-row content hash, so the survivor is
    deterministic regardless of partitioning.
    """
    keys = [key] if isinstance(key, str) else list(key)
    cols = existing.columns
    if set(cols) != set(updates.columns):
        raise ValueError(
            f"schema mismatch: existing={sorted(cols)} updates={sorted(updates.columns)}"
        )
    unioned = existing.select(*cols).withColumn(_SRC_COL, F.lit(0)).unionByName(
        updates.select(*cols).withColumn(_SRC_COL, F.lit(1))
    )
    order = [F.desc(_SRC_COL)]
    if order_col is not None:
        order.append(F.desc(order_col))
    # final tiebreak: a content hash of the full row — survivor choice is
    # a function of the DATA, never of partition layout (duplicate keys
    # within one side would otherwise resolve nondeterministically)
    order.append(F.desc(F.xxhash64(*cols)))
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        unioned.withColumn(_RN_COL, F.row_number().over(w))
        .filter(F.col(_RN_COL) == 1)
        .drop(_SRC_COL, _RN_COL)
    )


def _delta_table_cls():
    """The DeltaTable class if delta-spark is importable, else None.

    SURVEY §1.5 names Delta ``MERGE INTO`` as the preferred silver
    mapping for S8; the library is optional, so availability gates the
    dispatch (VERDICT r2 #5).
    """
    try:
        from delta.tables import DeltaTable
    except ImportError:
        return None
    return DeltaTable


def _upsert_delta(
    spark: SparkSession,
    updates: DataFrame,
    target_path: str,
    keys: list[str],
    partition_col: str,
    order_col: str | None,
) -> None:
    """Transactional keyed upsert via Delta ``MERGE INTO``.

    Same survivor contract as the parquet path: updates beat existing
    rows on the key (``whenMatchedUpdateAll``); within the batch the
    greatest ``order_col`` / content-hash row wins (pre-deduped through
    :func:`merge_updates`, so MERGE sees one source row per key — a
    requirement: Delta MERGE errors on duplicate source matches).
    The merge condition names the touched partitions explicitly so the
    engine prunes untouched partition files from the scan — the same
    bounded-rewrite contract as the dynamic-overwrite path.

    CONTRACT: keyed-upsert semantics hold WITHIN the batch's
    partitions.  The partition value is treated as part of the
    immutable row identity — a correction that MOVES a key to a new
    partition value must tombstone the old partition first
    (``DeltaTable.delete`` — :func:`delete_keys` is parquet-path-only
    and refuses Delta targets) or the old-partition row survives
    alongside the new one (the bounded-rewrite shape cannot see
    untouched partitions; scanning the full table per batch is exactly
    what this path exists to avoid at 100 TB).
    """
    DeltaTable = _delta_table_cls()
    # materialized ONCE: the touched-partition collect and the MERGE
    # both consume it, and a nondeterministic updates lineage (live
    # re-fetch) recomputed between the two could contain a partition
    # absent from `touched` (same localCheckpoint fix as db_sink)
    latest = merge_updates(updates.limit(0), updates, keys, order_col).localCheckpoint()
    if not DeltaTable.isDeltaTable(spark, target_path):
        if _table_exists(spark, target_path):
            # an existing parquet table must NOT be silently replaced by
            # a Delta bootstrap holding only the current batch — that
            # would drop every previously upserted row from Delta reads
            raise ValueError(
                f"{target_path} exists but is not a Delta table; "
                "convert it explicitly (e.g. DeltaTable.convertToDelta) "
                "or use table_format='parquet'"
            )
        (
            latest.write.format("delta")
            .mode("overwrite")
            .partitionBy(partition_col)
            .save(target_path)
        )
        return
    touched = [r[0] for r in latest.select(partition_col).distinct().collect()]
    target = DeltaTable.forPath(spark, target_path)
    cond = F.lit(True)
    for k in keys:
        cond = cond & F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
    cond = cond & partition_membership(f"t.{partition_col}", touched)
    (
        target.alias("t")
        .merge(latest.alias("s"), cond)
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )


def upsert_partitioned(
    spark: SparkSession,
    updates: DataFrame,
    target_path: str,
    key: str | list[str],
    partition_col: str,
    order_col: str | None = None,
    table_format: str = "auto",
) -> None:
    """Idempotent keyed upsert into a date-partitioned table.

    ``table_format`` selects the storage contract:

    - ``"auto"`` (default): Delta ``MERGE INTO`` only when delta-spark
      is importable AND the target already IS a Delta table.  New
      tables bootstrap as parquet — every reader in this repo (and any
      caller of plain ``spark.read.parquet``) sees exactly the merged
      rows; a Delta table read as parquet would also surface
      not-yet-vacuumed old file versions.  Creating a Delta table is
      an explicit opt-in via ``"delta"``.
    - ``"delta"``: force the Delta path (ImportError if the library is
      absent; ValueError rather than clobbering an existing
      plain-parquet table).
    - ``"parquet"``: force the dynamic-partition-overwrite path.

    Parquet path: only partitions present in ``updates`` are read,
    merged, and rewritten (dynamic partition overwrite) — the Spark
    analog of the reference's per-day replay
    (``base_assets.py:207-233``).

    CONTRACT (both paths): keyed-upsert semantics hold WITHIN the
    batch's partitions — the partition value is part of the immutable
    row identity.  A correction that moves a key to a different
    partition value must tombstone the old partition first
    (:func:`delete_keys` on the parquet path, ``DeltaTable.delete`` on
    Delta), or the old row survives next to the new one (the
    bounded-rewrite shape never reads untouched partitions).

    Crash window, stated honestly (parquet path only): Spark's
    dynamic-partition-overwrite commit deletes each touched partition
    dir and renames the staged one in, driver-side and per-partition —
    a crash between a partition's delete and its rename loses that
    partition's PRE-batch rows, and re-running the upsert then rebuilds
    it from batch rows alone (the merge reads an empty partition), so
    the loss is permanent and silent.  This window is exactly why the
    Delta ``MERGE INTO`` path is preferred when available: its commit
    is a log append, crash = clean retry.  Parquet callers for whom a
    partition's pre-batch rows are irreplaceable should snapshot
    touched partitions first or move the table to a transactional
    format.

    A whole-table :func:`delete_keys` that crashed inside its swap
    leaves the table only in its committed staging dir; the entry heal
    promotes it, where the bootstrap branch below would otherwise
    rebuild the table from this batch alone and drop every other
    partition.
    """
    heal_dir(spark, target_path)
    keys = [key] if isinstance(key, str) else list(key)
    if table_format not in ("auto", "delta", "parquet"):
        raise ValueError(f"unknown table_format: {table_format!r}")
    DeltaTable = _delta_table_cls()
    if table_format == "delta" and DeltaTable is None:
        raise ImportError(
            "delta-spark is not installed; use table_format='parquet' "
            "(the dynamic-partition-overwrite fallback) or install "
            "delta-spark for transactional MERGE INTO"
        )
    use_delta = table_format == "delta" or (
        table_format == "auto"
        and DeltaTable is not None
        and DeltaTable.isDeltaTable(spark, target_path)
    )
    if use_delta:
        _upsert_delta(spark, updates, target_path, keys, partition_col, order_col)
        return
    if _has_delta_log(spark, target_path):
        # a Delta table read as raw parquet resurrects removed file
        # versions AND a parquet rewrite leaves _delta_log pointing at
        # files that no longer exist — corruption, not a fallback
        # (round-7 review).  Reached when table_format='parquet' was
        # forced, 'auto' found delta-spark missing, OR 'auto' found the
        # log present but rejected by isDeltaTable (a half-created
        # bootstrap) — the message must name the RIGHT one or it sends
        # the operator debugging a call site that does not exist (r8
        # lens review).
        if DeltaTable is None:
            reason = "delta-spark is not importable"
        elif table_format == "parquet":
            reason = "table_format='parquet' was forced"
        else:
            reason = (
                "the log exists but DeltaTable.isDeltaTable rejects it — "
                "likely a half-created Delta bootstrap (empty _delta_log)"
            )
        raise ValueError(
            f"{target_path} is a Delta table (_delta_log present) but the "
            f"parquet upsert path was selected ({reason}); "
            "rewriting it as parquet would corrupt the transaction log — "
            "install delta-spark / use table_format='delta', or convert "
            "the table to plain parquet first"
        )
    if _table_exists(spark, target_path):
        # materialized ONCE (round-7 review; the same fix _upsert_delta
        # carries): the touched-partition collect and the merge/write
        # both consume the batch, and a nondeterministic updates lineage
        # (live re-fetch) recomputed between the two could write a
        # partition absent from `touched` — its existing rows never
        # read, the directory replaced with batch rows only
        latest = merge_updates(
            updates.limit(0), updates, key, order_col
        ).localCheckpoint()
        touched = [r[0] for r in latest.select(partition_col).distinct().collect()]
        current = spark.read.parquet(target_path)
        if set(current.columns) != set(latest.columns):
            # check BEFORE the column projection: projecting existing to
            # the batch's columns first would satisfy merge_updates'
            # set-equality guard while silently DROPPING target columns
            # absent from the batch from every rewritten partition
            # (r7 review)
            raise ValueError(
                f"schema mismatch: table={sorted(current.columns)} "
                f"updates={sorted(latest.columns)}"
            )
        existing = current.filter(
            partition_membership(partition_col, touched)
        ).select(*latest.columns)  # column ORDER normalization only
        merged = merge_updates(existing, latest, key, order_col)
    else:
        merged = merge_updates(
            updates.limit(0), updates, key, order_col
        )
    (
        dynamic_writer(merged)
        .mode("overwrite")
        .partitionBy(partition_col)
        .parquet(target_path)
    )


def delete_keys(
    spark: SparkSession,
    target_path: str,
    tombstones: DataFrame,
    key: str | list[str],
    partition_col: str | None = None,
) -> int:
    """Propagate key deletions into a partitioned parquet table (the
    right-to-be-forgotten / retraction half of MERGE; the reference's
    store only upserts, so this extends SURVEY §2.1 S8).

    If ``partition_col`` is given AND present in ``tombstones``, only the
    partitions named by the tombstones are read, anti-joined, and
    rewritten; otherwise the whole table is rewritten (a keyed delete
    with unknown partition bounds must touch every partition — ship the
    partition value with the tombstone to avoid that at scale).

    Dynamic partition overwrite only replaces partitions that appear in
    the OUTPUT, so a partition whose every row is deleted would silently
    survive; those are removed explicitly through the Hadoop FS API
    (works on any FileSystem implementation, not just local disk).
    Returns the number of rows deleted.
    """
    heal_dir(spark, target_path)  # a crashed whole-table swap, if any
    keys = [key] if isinstance(key, str) else list(key)
    if _has_delta_log(spark, target_path):
        # reading a Delta table as raw parquet resurrects removed row
        # versions into `kept`, and the rewrite + FS deletes leave
        # _delta_log referencing vanished files (round-7 review)
        raise ValueError(
            f"{target_path} is a Delta table; delete_keys is the "
            "parquet-path retraction — use DeltaTable.delete (a "
            "transactional keyed delete) on Delta tables instead"
        )
    bounded = partition_col is not None and partition_col in tombstones.columns
    current = spark.read.parquet(target_path)
    if bounded:
        touched = [
            r[0] for r in tombstones.select(partition_col).distinct().collect()
        ]
        scoped = current.filter(partition_membership(partition_col, touched))
    else:
        scoped = current
    victims = F.broadcast(
        tombstones.select(*[F.col(k).alias(f"__del_{k}") for k in keys]).distinct()
    )
    # null-SAFE key match: a tombstone carrying a NULL key value (the
    # same way NULL partitions arise — try_cast nulling a malformed
    # field) must still delete its NULL-keyed target rows; a plain
    # equi-join silently no-ops on them, which on the
    # right-to-be-forgotten path is a compliance bug, not a quirk
    match = F.lit(True)
    for k in keys:
        match = match & F.col(k).eqNullSafe(F.col(f"__del_{k}"))
    # Cheap no-op path first: replayed tombstones whose keys are already
    # gone shouldn't checkpoint/rewrite anything.
    deleted = scoped.join(victims, on=match, how="left_semi").count()
    if deleted == 0:
        return 0
    kept = scoped.join(victims, on=match, how="left_anti")
    kept = kept.localCheckpoint()  # sever lineage: the rewrite reads its input
    if partition_col is not None:
        emptied = [
            r[0]
            for r in (
                scoped.select(partition_col)
                .distinct()
                .join(kept.select(partition_col).distinct(), partition_col, "left_anti")
            ).collect()
        ]
        (
            dynamic_writer(kept)
            .mode("overwrite")
            .partitionBy(partition_col)
            .parquet(target_path)
        )
        if emptied:
            # Spark escapes special chars in partition directory names
            # (e.g. ':' -> '%3A') and maps NULL to the Hive default
            # partition — mirror both or the cleanup silently no-ops.
            esc = (
                spark._jvm.org.apache.spark.sql.catalyst.catalog
                .ExternalCatalogUtils
            )
            from acled_spark.maintenance import HIVE_NULL_PART

            for p in emptied:
                dirname = (
                    HIVE_NULL_PART if p is None else esc.escapePathName(str(p))
                )
                # fs_delete raises on a False (non-raising) delete
                # (r8 lens review): silently ignoring it returned a
                # deleted-count while tombstoned rows stayed readable on
                # disk — on the right-to-be-forgotten path
                fs_delete(spark, f"{target_path}/{partition_col}={dirname}")
    else:
        # whole-table rewrite: stage first, then swap — a direct
        # mode("overwrite") deletes the old table BEFORE the new data
        # exists, so a crash mid-write destroys the table with `kept`
        # living only in localCheckpoint blocks that die with the app
        # (r7 review).  A crash inside the swap is healed by the next
        # upsert_partitioned or delete_keys.  The rewrite keeps the
        # table's partition layout: a flat rewrite of a partitioned
        # table hides it from the reader once the next upsert adds a
        # partition directory beside the flat files.
        staging = staging_path(target_path)
        (
            kept.write.mode("overwrite")
            .partitionBy(*_partition_cols(spark, target_path))
            .parquet(staging)
        )
        commit_dir(spark, staging, target_path)
    return deleted


def _partition_cols(spark: SparkSession, path: str) -> list[str]:
    """Hive partition columns of the table at ``path``, outermost first,
    read off its first chain of ``col=value`` directories."""
    cols = []
    while dirs := [
        d for d in fs_list_dirs(spark, path)
        if "=" in d and not d.startswith(("_", "."))
    ]:
        cols.append(dirs[0].split("=", 1)[0])
        path = f"{path.rstrip('/')}/{dirs[0]}"
    return cols


def _has_delta_log(spark: SparkSession, path: str) -> bool:
    """True when ``path`` carries a Delta transaction log — the guard
    that keeps the parquet-path writers (:func:`upsert_partitioned`'s
    fallback branch, :func:`delete_keys`) from corrupting a Delta table
    by rewriting its data files behind the log's back."""
    return fs_exists(spark, path.rstrip("/") + "/_delta_log")


def _table_exists(spark: SparkSession, path: str) -> bool:
    """True if ``path`` holds at least one data file/partition directory.

    Probes through the Hadoop FileSystem API (like :func:`delete_keys`'s
    partition cleanup) so the upsert bootstrap works on any scheme —
    ``os.path`` would return False for ``s3a://``/``hdfs://`` URIs and
    the bootstrap branch would then overwrite instead of merging.
    """
    # '.'-prefixed entries are crash debris, not data ('.spark-staging-*'
    # from a died dynamic overwrite, '.crc' sidecars): counting them made
    # a retry take the MERGE branch against a dataless directory and
    # fail on schema inference forever instead of re-bootstrapping (r8
    # lens review; same filter fsutil.fs_list_data_files applies).
    return any(not name.startswith(("_", ".")) for name, _ in fs_list(spark, path))
