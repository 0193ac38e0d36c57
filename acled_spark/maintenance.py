"""Table maintenance: small-file compaction for partitioned stores.

The reference writes ≤10k rows per daily partition (one S3 object/day —
fine there, but a Spark table accumulating per-batch appends grows many
small files per partition; at 100 TB the NameNode/listing and task-
scheduling overhead of millions of tiny files dominates (SURVEY §7.4.5
"small-partition overhead").

:func:`compact_partitions` rewrites selected (or all) partitions to a
target file count with dynamic partition overwrite — untouched
partitions are never read or written, so compaction can run rolling
(e.g. yesterday's partitions only) behind the ingest.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


#: Hive's directory name for a NULL partition value.
HIVE_NULL_PART = "__HIVE_DEFAULT_PARTITION__"


def partition_file_counts(
    path: str, partition_col: str, spark: SparkSession
) -> dict[str, int]:
    """Data files per hive partition directory (driver-side listing —
    on object stores swap in the catalog/manifest listing).

    The listing goes through the Hadoop FileSystem API, so
    scheme-qualified paths (``file://``, ``s3a://``, ``hdfs://``) work —
    ``os.listdir`` returns nothing for those, and a compaction given a
    URI target silently no-op'd forever (round-7 review).

    Keys are the partition VALUES: Hive percent-escapes special
    characters (':' '%' '=' ...) in dirnames, so entries are unescaped
    here — otherwise the rewrite filter ``isin(escaped)`` matches zero
    rows and a fragmented partition is "compacted" forever without ever
    being rewritten.  A NULL partition value appears under the
    ``HIVE_NULL_PART`` key.
    """
    from urllib.parse import unquote

    from acled_spark.fsutil import fs_list, fs_list_dirs

    prefix = f"{partition_col}="
    out: dict[str, int] = {}
    for entry in fs_list_dirs(spark, path):
        if not entry.startswith(prefix):
            continue
        raw = entry[len(prefix):]
        key = raw if raw == HIVE_NULL_PART else unquote(raw)
        out[key] = sum(
            1
            for name, is_dir in fs_list(spark, f"{path.rstrip('/')}/{entry}")
            if not is_dir
            and name.endswith(".parquet")
            and not name.startswith(("_", "."))
        )
    return out


def _rewrite_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    partitions: Sequence[str] | None,
    files_per_partition: int,
    shaper,
) -> dict[str, int]:
    """Shared compaction scaffold: select fragmented partitions (unless
    named explicitly), read only them, apply ``shaper(df, partitions)``
    to fix the output file shape, dynamic-overwrite ONLY the touched
    directories, and report their pre-compaction file counts.  Both
    public compactors are this scaffold plus a shaping strategy."""
    counts = partition_file_counts(path, partition_col, spark)
    if partitions is None:
        # only fragmented partitions rewrite — an implicit full-table
        # rewrite is never the default at scale (pass
        # partitions=list(counts) explicitly to re-cluster everything)
        partitions = [p for p, n in counts.items() if n > files_per_partition]
    if not partitions:
        return {}
    # ONE membership convention repo-wide (round-7 review): the
    # directory-name sentinel maps to None and the shared NULL-safe
    # predicate does the rest — a hand-rolled isin|isNull copy here
    # could drift from silver's on the next NULL-partition fix
    from acled_spark.silver import dynamic_writer, partition_membership

    member_vals = [None if p == HIVE_NULL_PART else p for p in partitions]
    df = spark.read.parquet(path).filter(
        partition_membership(partition_col, member_vals)
    )
    shaped = shaper(df, list(partitions))

    (
        dynamic_writer(shaped)
        .mode("overwrite")
        .partitionBy(partition_col)
        .parquet(path)
    )
    return {p: counts.get(p, 0) for p in partitions}


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    partitions: Sequence[str] | None = None,
    files_per_partition: int = 1,
    sort_cols: Sequence[str] | None = None,
) -> dict[str, int]:
    """Rewrite fragmented partitions down to ``files_per_partition`` files.

    Returns the pre-compaction file counts of the partitions rewritten.
    Idempotent; safe to re-run.  Selection defaults to every partition
    with more files than the target.

    ``sort_cols`` clusters rows within each output file (a
    ``sortWithinPartitions`` before the write — no extra shuffle): at
    scale this tightens parquet row-group min/max bounds on those
    columns, so later point/range scans skip row groups (the
    linear-order half of Z-ordering, which is the right trade for
    single-column hot predicates like a key or a timestamp).
    """

    def shaper(df, parts):
        if files_per_partition == 1:
            # hash by the partition column: every partition value lands
            # in exactly one task -> exactly one output file per dir
            shaped = df.repartition(len(parts), partition_col)
        else:
            # salt within partition value to spread across N files —
            # a CONTENT hash, not monotonically_increasing_id: the
            # monotonic id is partition-layout-dependent and changes on
            # task recompute, so a shuffle-fetch retry mid-write could
            # duplicate/lose rows and re-runs weren't reproducible
            # (same determinism class as the zorder __ztie tiebreak)
            shaped = (
                df.withColumn(
                    "__salt",
                    F.pmod(F.xxhash64(*df.columns), files_per_partition),
                )
                .repartition(
                    files_per_partition * len(parts), partition_col, "__salt"
                )
                .drop("__salt")
            )
        if sort_cols:
            # partition_col leads the sort: the partitioned writer
            # requires rows ordered by the partition columns and would
            # otherwise inject its own (unstable) sort, clobbering the
            # clustering
            shaped = shaped.sortWithinPartitions(partition_col, *sort_cols)
        return shaped

    return _rewrite_partitions(
        spark, path, partition_col, partitions, files_per_partition, shaper
    )


def zorder_key(
    df_cols: Sequence[F.Column | str],
    bounds: Sequence[Sequence[float]],
    bits: int = 6,
) -> F.Column:
    """Z-order (Morton) key over 2+ numeric columns, pure Column algebra.

    Each column is quantile-binned into ``2**bits`` buckets against
    precomputed ``bounds`` (ascending cut points from ``approxQuantile``
    — computed once, driver-side, O(cuts) bytes), then the bucket bits
    are interleaved: bit b of column i lands at position
    ``b * n_cols + i``.  Sorting by the interleaved key clusters rows so
    EVERY keyed column's min/max tightens per file — the multi-column
    generalization of linear ``sort_cols`` clustering, for tables with
    two+ hot predicate columns (e.g. key + timestamp).  All JVM-side:
    the quantile bucket is ``size(filter(cuts, c -> c <= value))``
    (Spark's ``width_bucket`` is equi-width only) plus shift/mask
    chains — no UDF.  Default 6 bits/column keeps the per-row cut scan
    at 63 literals; this is a maintenance-pass expression, not a hot
    query path.
    """
    n = len(df_cols)
    if n < 2:
        raise ValueError("zorder needs >= 2 columns; use sort_cols for one")
    if len(bounds) != n:
        raise ValueError("one bounds list per column required")
    n_buckets = 1 << bits
    key = F.lit(0).cast("long")
    for i, (c, cuts) in enumerate(zip(df_cols, bounds)):
        col = F.col(c) if isinstance(c, str) else c
        arr = F.array(*[F.lit(float(x)) for x in cuts])
        # bucket = #cuts <= value, clamped; NULLs sort into bucket 0
        bucket = F.least(
            F.size(F.filter(arr, lambda x: x <= col.cast("double"))),
            F.lit(n_buckets - 1),
        ).cast("long")
        bucket = F.when(col.isNull(), F.lit(0)).otherwise(bucket)
        for b in range(bits):
            bit = F.shiftright(bucket, b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * n + i))
    return key


def zorder_bounds(
    spark_df, cols: Sequence[str], bits: int = 6, rel_err: float = 0.01
) -> list[list[float]]:
    """Per-column quantile cut points for :func:`zorder_key` —
    ``approxQuantile`` (Greenwald-Khanna sketch, one pass, mergeable at
    any scale)."""
    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    # ONE multi-column pass: approxQuantile(list, ...) sketches every
    # column in a single scan (per-column calls re-read the whole
    # compaction input once per z-order column)
    return spark_df.approxQuantile(list(cols), probs, rel_err)


def compact_partitions_zorder(
    spark: SparkSession,
    path: str,
    partition_col: str,
    zorder_cols: Sequence[str],
    partitions: Sequence[str] | None = None,
    files_per_partition: int = 1,
    bits: int = 6,
) -> dict[str, int]:
    """Z-order variant of :func:`compact_partitions`: rows cluster by
    the interleaved key of ``zorder_cols``, so point/range scans on ANY
    of those columns skip row groups.  Same rewrite contract (dynamic
    overwrite, touched partitions only, idempotent).

    File shape: each partition's rows are cut into
    ``files_per_partition`` CONTIGUOUS z-ranges via ``ntile`` over a
    per-partition z-rank window, then hashed on (partition, bucket) so
    every bucket lands in one task/file.  (A ``repartitionByRange`` on
    the key looks simpler but samples global boundaries that split
    partition values unevenly — partitions came out over-target and the
    "idempotent" contract broke: the next default run re-rewrote them.)
    The bucketing window sorts each partition in a single task — same
    per-task volume the one-file-per-partition rewrite already implies.
    """

    def shaper(df, parts):
        bounds = zorder_bounds(df, zorder_cols, bits)
        shaped = df.withColumn(
            "__zkey", zorder_key(zorder_cols, bounds, bits)
        ).withColumn(
            # Deterministic tiebreak (ADVICE r4 #2): equal z-keys would
            # otherwise order nondeterministically, so ntile bucket
            # boundaries — and per-file contents — could differ between
            # re-runs when ties span a bucket edge.  A content hash of
            # every source column makes the order a pure function of row
            # content (remaining ties are fully identical rows, which
            # are interchangeable byte-wise).
            "__ztie", F.xxhash64(*df.columns)
        )
        if files_per_partition == 1:
            shaped = shaped.repartition(len(parts), partition_col)
        else:
            from pyspark.sql.window import Window

            w = Window.partitionBy(partition_col).orderBy("__zkey", "__ztie")
            shaped = shaped.withColumn(
                "__zbucket", F.ntile(files_per_partition).over(w)
            ).repartitionByRange(
                # range (not hash) on the bucket pair: equal pairs always
                # share one task, and a sampling merge can only join
                # ADJACENT buckets of one partition — still a contiguous
                # z-range per file (hash collisions could glue together
                # far-apart z-ranges and undo the clustering)
                files_per_partition * len(parts), partition_col, "__zbucket"
            )
        return (
            shaped.sortWithinPartitions(partition_col, "__zkey", "__ztie")
            .drop("__zkey", "__zbucket", "__ztie")
        )

    return _rewrite_partitions(
        spark, path, partition_col, partitions, files_per_partition, shaper
    )
