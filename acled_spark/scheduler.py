"""Ingestion scheduling: availability probing, missing-partition diff,
backfill loop (SURVEY §2.10 T1/T7, §2.1 S11-S13).

The reference's Dagster sensors poll the API (limit-1 probe per candidate
day, 10-day walk-back), diff against materialized partitions, and emit a
run per missing day (``sensors.py:14-159``).  Here that's a plain driver
loop — state lives in the bronze store itself (partition directories are
the materialization record; no sensor cursor to corrupt).
"""

from __future__ import annotations

import re
from collections.abc import Sequence
from datetime import date, timedelta

from pyspark.sql import SparkSession

from acled_spark.bronze import typed_cast, write_bronze
from acled_spark.schema import PARTITION_COL
from acled_spark.source import DEFAULT_PAGE_LIMIT, PageFetcher, ingest_day

# One source of truth with the writer: the partition dir prefix derives
# from PARTITION_COL (write_bronze partitions by it), so the sensor can
# never silently diverge from the layout the writer produces.
_PART_RE = re.compile(rf"^{re.escape(PARTITION_COL)}=(\d{{4}}-\d{{2}}-\d{{2}})$")


def materialized_partitions(bronze_path: str, spark: SparkSession) -> set[date]:
    """Partition discovery from the store layout (ref sensors.py:196-224 —
    the S3 listing parse becomes a partition-dir listing).

    The listing goes through the Hadoop FS API, so remote stores
    (s3a://, hdfs://, abfs://) work — ``os.listdir`` returns nothing for
    those URIs, which would make every candidate look missing and
    re-ingest the full walk-back on every tick.
    """
    from acled_spark.fsutil import fs_list_dirs

    out = set()
    for entry in fs_list_dirs(spark, bronze_path):
        m = _PART_RE.match(entry)
        if m:
            out.add(date.fromisoformat(m.group(1)))
    return out


def probe_available_days(
    fetcher: PageFetcher, end_day: date, days_back: int = 10
) -> list[date]:
    """API availability probe: limit-1 query per candidate day, walking
    back N days (ref sensors.py:26-82)."""
    available = []
    for i in range(days_back):
        day = end_day - timedelta(days=i)
        if fetcher(day, 1, 1, {}):
            available.append(day)
    return sorted(available)


def missing_partitions(
    bronze_path: str, candidates: Sequence[date], spark: SparkSession
) -> list[date]:
    """Diff candidates against materialized partitions (ref sensors.py:85-131)."""
    done = materialized_partitions(bronze_path, spark)
    return sorted(d for d in candidates if d not in done)


def run_backfill(
    spark: SparkSession,
    fetcher: PageFetcher,
    bronze_path: str,
    candidates: Sequence[date],
    limit: int = DEFAULT_PAGE_LIMIT,
    rediff: bool = True,
) -> list[date]:
    """Materialize every missing candidate day (ref jobs.py:8-12 backfill).

    Each day is one ingest->cast->partition-overwrite cycle; re-running
    is safe (dynamic overwrite replaces only that day's directory).
    Returns the days actually materialized.

    ``rediff=False`` skips the missing-partition diff when the caller
    already ran it on these exact candidates (``sensor_tick`` does —
    the re-diff was a second remote store listing per tick whose result
    is identical by construction; round-7 review).  Direct callers with
    raw candidate lists keep the default diff.

    Zero-row days are SKIPPED, not fatal: an empty day can never
    produce a partition directory, so treating it as an error would
    abort the remaining days AND wedge every re-run at the same spot
    (``missing_partitions`` re-selects it forever).  ``ingest_day``'s
    empty→error contract stays for the single-day job, where a day
    expected to carry data deserves a loud failure.
    """
    from acled_spark.checks.engine import partition_date_match, run_checks
    from acled_spark.source import EmptyPartitionError

    todo = (
        missing_partitions(bronze_path, candidates, spark)
        if rediff
        else sorted(candidates)
    )
    done = []
    for day in todo:
        try:
            raw = ingest_day(spark, fetcher, day, limit=limit)
        except EmptyPartitionError:
            continue
        typed = typed_cast(raw)
        # blocking: a stray wrong-day row would ride dynamic overwrite
        # and replace ANOTHER day's directory (ref acled_checks.py:189)
        run_checks(typed, [partition_date_match(PARTITION_COL, day)])
        write_bronze(typed, bronze_path, mode="overwrite")
        done.append(day)
    return done


def sensor_tick(
    spark: SparkSession,
    fetcher: PageFetcher,
    bronze_path: str,
    today: date,
    days_back: int = 10,
    limit: int = DEFAULT_PAGE_LIMIT,
) -> list[date]:
    """One scheduled sensor evaluation: diff -> probe -> ingest missing
    (the 172800s-interval acled_sensor body, ref sensors.py:14-159).

    The partition diff runs FIRST — it needs no API — and only the
    days the store does not already hold get an availability probe
    (round-7 review: probing all ``days_back`` candidates re-issued
    ~10 limit-1 requests per tick in steady state only to have
    ``missing_partitions`` discard the answers)."""
    window = [today - timedelta(days=i) for i in range(days_back)]
    missing = missing_partitions(bronze_path, window, spark)
    available = [d for d in missing if fetcher(d, 1, 1, {})]
    return run_backfill(
        spark, fetcher, bronze_path, available, limit=limit, rediff=False
    )
