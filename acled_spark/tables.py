"""Testdata table loaders with engine-parity normalization.

The driver materializes a deterministic star schema + stream/LLM tables
(``TESTDATA.md``) at ``/root/testdata/sf*/``.  Loading rules:

- ``events.ts`` is parquet TIMESTAMP(NANOS); Spark reads it as a long
  (``spark.sql.legacy.parquet.nanosAsLong``).  We convert with exact
  integer division to micros -> TIMESTAMP_NTZ so values match DuckDB's
  naive timestamps bit-for-bit regardless of session timezone.
- ``orders.o_orderdate`` / ``lineitem.l_shipdate`` already arrive as
  TIMESTAMP_NTZ (micros) — no conversion needed.
- Scan spread (round-robin repartition of a small single-file scan) is
  off by default; a builder opts in with ``spread=True`` only when
  per-row CPU ahead of its first reduction dominates.  A size gate
  makes the spread a no-op on a source that already fills the session,
  so at scale it never fires.

Everything downstream (queries, benchmarks, tests) goes through
``load`` so the normalization lives in exactly one place.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# CLI default data dir; SPARK_GRAFT_SF_DIR overrides (same env knob the
# bench harness honors).  __main__'s argparse defaults read THIS — a
# literal default in the CLI had already drifted from this constant.
DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def configure(spark: SparkSession) -> None:
    """Apply runtime confs parity depends on (idempotent, cheap).

    The correctness harness hands us ITS session; we cannot assume it was
    built by :func:`acled_spark.session.get_spark`.  A set that fails is
    tolerated ONLY if the conf already holds the required value (static
    conf pre-set by the builder) — silently proceeding on a wrong
    timezone would shift every events.ts with no error.
    """
    from acled_spark.session import PARITY_CONF

    for k, v in PARITY_CONF.items():
        if k == "spark.sql.session.timeZone":
            # the UTC pin is load-bearing (events.ts parity, window
            # bucketing) but it is a SESSION-WIDE mutation of a session
            # we may not own — surface it the one time it actually
            # changes something, so a user whose session was
            # deliberately non-UTC learns their other queries' rendering
            # shifted (r11 session-conf-drift review)
            prev = spark.conf.get(k, None)
            if prev is not None and prev.lower() != v.lower():
                import warnings

                warnings.warn(
                    f"acled_spark pinned {k}={v} on this session (was "
                    f"{prev}): engine/oracle timestamp parity requires "
                    "UTC; unrelated queries on this session now render "
                    "timestamps in UTC too",
                    stacklevel=3,
                )
        try:
            spark.conf.set(k, v)
        except Exception:
            if str(spark.conf.get(k, None)).lower() != v.lower():
                raise


#: source-size cache for the spread gate (one os.stat per (dir, table)
#: per process, not per load call)
_scan_bytes: dict[str, int] = {}


def _spread_partitions(spark: SparkSession, path: str) -> int:
    """Partition count a gated spread should produce: the session's
    default parallelism when the file set cannot fill it, else 0 (keep
    the scan's natural splits).  The gate is computed from the source
    SIZE, not a hard-coded core count, so it adapts to the session
    (the driver benches at several core counts) and becomes a no-op on
    a real multi-file corpus whose scan already parallelizes — at the
    100 TB design point this never fires and no payload is shuffled."""
    size = _scan_bytes.get(path)
    if size is None:
        try:
            if os.path.isdir(path):
                size = sum(
                    os.path.getsize(os.path.join(r, f))
                    for r, _, fs in os.walk(path)
                    for f in fs
                )
            else:
                size = os.path.getsize(path)
        except OSError:
            size = 0
        _scan_bytes[path] = size
    cores = spark.sparkContext.defaultParallelism
    max_split = int(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    # natural splits can already fill the session -> leave the scan alone
    if size <= 0 or size >= cores * max_split:
        return 0
    return cores


def load(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Load one testdata table, normalized for engine parity.

    ``spread``: round-robin repartition the scan to the session's core
    count.  Off by default; a builder opts in only when per-row CPU
    ahead of its first reduction (gram explode, md5, HOF math,
    JsonPath) dominates, since a single-row-group parquet file splits
    to ONE scan task and that work would otherwise run single-threaded.
    The size gate (``_spread_partitions``) makes it a no-op on a source
    that already fills the session, so at scale no payload moves.
    Never spread a scan whose result depends on partition layout (a
    GK quantile sketch's merges, KMeans' k-means|| init over
    ``embeddings``).  Round-robin, not keyed: the plan shows it as
    RoundRobinPartitioning, distinguishable from the query's own
    exchanges, and sort-before-repartition (on by default) keeps the
    assignment deterministic across retries.
    """
    configure(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nanos (long) -> micros (exact integral division) -> naive timestamp
        df = df.withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts div 1000) AS timestamp_ntz)")
        )
    if spread:
        n = _spread_partitions(spark, path)
        if n:
            df = df.repartition(n)
    return df


def register_views(spark: SparkSession, sf_dir: str, suffix: str = "") -> None:
    """Register all tables as temp views (for spark.sql entry points)."""
    for name in TABLE_NAMES:
        df = load(spark, sf_dir, name, spread=name == "documents")
        df.createOrReplaceTempView(name + suffix)
