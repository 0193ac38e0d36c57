"""Small-file compaction: fragmented partitions rewrite to the target
file count; data and untouched partitions are bit-stable."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from acled_spark.maintenance import (
    compact_partitions,
    compact_partitions_zorder,
    partition_file_counts,
)
from acled_spark.tables import load

SF_DIR = "/root/testdata/sf0.001"


def _fragmented_store(spark, tmp_path) -> str:
    path = os.path.join(str(tmp_path), "events_by_day")
    ev = load(spark, SF_DIR, "events").withColumn(
        "day", F.to_date("ts").cast("string")
    )
    three_days = ev.filter(
        F.col("day").isin("2024-01-05", "2024-01-06", "2024-01-07")
    )
    # simulate many per-batch appends -> many small files per partition
    for _ in range(4):
        three_days.repartition(3).write.mode("append").partitionBy(
            "day"
        ).parquet(path)
    return path


def test_compaction_reduces_files_preserves_data(spark, tmp_path):
    path = _fragmented_store(spark, tmp_path)
    before_counts = partition_file_counts(path, "day", spark)
    assert all(n >= 4 for n in before_counts.values()), before_counts
    before_data = sorted(
        tuple(r) for r in spark.read.parquet(path).collect()
    )

    rewritten = compact_partitions(spark, path, "day")
    assert set(rewritten) == set(before_counts)
    after_counts = partition_file_counts(path, "day", spark)
    assert all(n == 1 for n in after_counts.values()), after_counts
    after_data = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert after_data == before_data

    # idempotent: nothing left to compact
    assert compact_partitions(spark, path, "day") == {}


def test_selective_compaction_leaves_other_partitions(spark, tmp_path):
    path = _fragmented_store(spark, tmp_path)
    before = partition_file_counts(path, "day", spark)
    compact_partitions(spark, path, "day", partitions=["2024-01-05"])
    after = partition_file_counts(path, "day", spark)
    assert after["2024-01-05"] == 1
    assert after["2024-01-06"] == before["2024-01-06"]  # untouched
    assert after["2024-01-07"] == before["2024-01-07"]


def test_compaction_with_sort_cols_clusters_rows(spark, tmp_path):
    """sort_cols compaction: still one file per partition, rows inside
    each file ordered by the cluster column (row-group skipping setup)."""
    import os

    from pyspark.sql import functions as F

    from acled_spark.maintenance import (
    compact_partitions,
    compact_partitions_zorder,
    partition_file_counts,
)
    from acled_spark.tables import load

    path = os.path.join(str(tmp_path), "t")
    ev = load(spark, "/root/testdata/sf0.001", "events").withColumn(
        "day", F.to_date("ts")
    ).filter(F.col("day").isin(["2024-01-05", "2024-01-06"]))
    # fragment: 4 files per partition
    ev.repartition(4).write.partitionBy("day").parquet(path)
    assert all(n > 1 for n in partition_file_counts(path, "day", spark).values())

    compact_partitions(spark, path, "day", sort_cols=["user_id"])
    assert all(n == 1 for n in partition_file_counts(path, "day", spark).values())
    out = spark.read.parquet(path)
    assert out.count() == ev.count()
    # within each file, user_id must be nondecreasing
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(F.input_file_name())
        .orderBy(F.monotonically_increasing_id())
    )
    violations = (
        out.withColumn("prev", F.lag("user_id").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("user_id") < F.col("prev")))
        .count()
    )
    assert violations == 0


def test_zorder_compaction_tightens_both_columns(spark, tmp_path):
    """Z-order clustering: with 4 files/partition, the average per-file
    min/max spread must tighten on BOTH keyed columns vs the global
    spread (the row-group-skipping property), and content must survive
    the rewrite byte-for-byte."""
    import os

    from pyspark.sql import functions as F

    from acled_spark.maintenance import compact_partitions_zorder
    from acled_spark.tables import load

    path = os.path.join(str(tmp_path), "t")
    ev = (
        load(spark, "/root/testdata/sf0.001", "events")
        .withColumn("day", F.to_date("ts"))
        .filter(F.col("day") == "2024-01-05")
        .select("event_id", "user_id", "value", "day")
    )
    ev.repartition(8).write.partitionBy("day").parquet(path)
    before = ev.agg(
        F.sum(F.xxhash64("event_id", "user_id").cast("decimal(38,0)"))
    ).collect()[0][0]

    compact_partitions_zorder(
        spark, path, "day", zorder_cols=["user_id", "value"],
        files_per_partition=4,
    )
    out = spark.read.parquet(path)
    assert out.agg(
        F.sum(F.xxhash64("event_id", "user_id").cast("decimal(38,0)"))
    ).collect()[0][0] == before

    spreads = (
        out.groupBy(F.input_file_name().alias("f"))
        .agg(
            (F.max("user_id") - F.min("user_id")).alias("u_spread"),
            (F.max("value") - F.min("value")).alias("v_spread"),
        )
        .agg(F.avg("u_spread"), F.avg("v_spread"), F.count("*"))
        .collect()[0]
    )
    glob = out.agg(
        (F.max("user_id") - F.min("user_id")).alias("u"),
        (F.max("value") - F.min("value")).alias("v"),
    ).collect()[0]
    n_files = spreads[2]
    assert n_files >= 3  # got multiple files to cluster across
    # both dimensions tighten: z-curve with >=1 bit per dim per 4 files
    assert spreads[0] < 0.8 * glob["u"], (spreads[0], glob["u"])
    assert spreads[1] < 0.8 * glob["v"], (spreads[1], glob["v"])


def test_zorder_default_skips_unfragmented_partitions(spark, tmp_path):
    """partitions=None must match compact_partitions' default — only
    fragmented partitions (files > files_per_partition) rewrite; an
    implicit full-table rewrite is never the default."""
    import os

    from pyspark.sql import functions as F

    from acled_spark.maintenance import compact_partitions_zorder
    from acled_spark.tables import load

    path = os.path.join(str(tmp_path), "t")
    ev = (
        load(spark, "/root/testdata/sf0.001", "events")
        .withColumn("day", F.to_date("ts"))
        .filter(F.col("day").isin("2024-01-05", "2024-01-06"))
        .select("event_id", "user_id", "value", "day")
    )
    # day=05 fragmented (8 files), day=06 already compact (1 file)
    frag = ev.filter(F.col("day") == "2024-01-05").repartition(8)
    frag.write.partitionBy("day").parquet(path)
    compact = ev.filter(F.col("day") == "2024-01-06").coalesce(1)
    compact.write.mode("append").partitionBy("day").parquet(path)

    touched = compact_partitions_zorder(
        spark, path, "day", zorder_cols=["user_id", "value"],
        files_per_partition=2,
    )
    assert set(touched) == {"2024-01-05"}
    # explicit full list still rewrites everything
    touched_all = compact_partitions_zorder(
        spark, path, "day", zorder_cols=["user_id", "value"],
        partitions=["2024-01-05", "2024-01-06"], files_per_partition=2,
    )
    assert set(touched_all) == {"2024-01-05", "2024-01-06"}


def test_zorder_compaction_is_idempotent(spark, tmp_path):
    """After one z-order compaction, no partition may exceed the file
    target — the next default-selection run must be a no-op.  (The old
    repartitionByRange-on-zkey shaping split partition values across
    sampled range boundaries, leaving over-target partitions that every
    subsequent run re-rewrote.)"""
    import os

    from acled_spark.maintenance import partition_file_counts

    path = os.path.join(str(tmp_path), "t")
    ev = (
        load(spark, "/root/testdata/sf0.001", "events")
        .withColumn("day", F.to_date("ts"))
        .filter(F.col("day").isin("2024-01-05", "2024-01-06", "2024-01-07"))
        .select("event_id", "user_id", "value", "day")
        .repartition(6)
    )
    ev.write.partitionBy("day").parquet(path)
    compact_partitions_zorder(
        spark, path, "day", zorder_cols=["user_id", "value"],
        files_per_partition=1,
    )
    counts = partition_file_counts(path, "day", spark)
    assert all(n <= 1 for n in counts.values()), counts
    assert compact_partitions_zorder(
        spark, path, "day", zorder_cols=["user_id", "value"],
        files_per_partition=1,
    ) == {}


def test_zorder_bucket_assignment_reproducible_under_zkey_ties(spark, tmp_path):
    """Re-running the z-order rewrite on identical input must produce
    identical per-file contents even when many rows TIE on the z-key
    and the ties span an ntile bucket edge (ADVICE r4 #2: the bucketing
    window now tiebreaks on a content hash, so bucket assignment is a
    pure function of row content)."""
    import glob

    # 40 rows collapsing onto only 4 distinct (user_id, value) pairs ->
    # each z-key value repeats 10x, guaranteed to straddle the 2-bucket
    # ntile edge; extra 'payload' differs so rows are NOT interchangeable.
    rows = [
        (i, i % 4, float(i % 4), f"payload-{i}", "2024-01-05")
        for i in range(40)
    ]
    schema = "event_id long, user_id long, value double, payload string, day string"

    def rewrite(tag: str) -> dict[str, list]:
        path = os.path.join(str(tmp_path), tag)
        spark.createDataFrame(rows, schema).repartition(5).write.partitionBy(
            "day"
        ).parquet(path)
        compact_partitions_zorder(
            spark, path, "day", zorder_cols=["user_id", "value"],
            files_per_partition=2, partitions=["2024-01-05"],
        )
        out = {}
        for f in sorted(glob.glob(os.path.join(path, "day=*", "*.parquet"))):
            out[os.path.basename(f).split("-")[1]] = sorted(
                tuple(r) for r in spark.read.parquet(f).collect()
            )
        return out

    a, b = rewrite("a"), rewrite("b")
    assert list(a) == list(b)
    # same rows in the same file across independent runs
    assert sorted(map(tuple, a.values())) == sorted(map(tuple, b.values()))
