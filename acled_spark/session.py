"""SparkSession factory.

Defaults are chosen for the local test harness (``local[$SPARK_GRAFT_CPUS]``)
but every knob is the one you would set on a real cluster:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic
  broadcast conversion) — at 100 TB the static plan is always wrong
  somewhere, AQE re-plans from real shuffle stats.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster
  this should be ~2-3x total cores (AQE coalesces the excess).
- Arrow enabled for any pandas-UDF path (vectorized transfer), and
  Arrow-built frames kept as RDDs of Arrow batches, never folded into
  driver-side local relations.
- Session timezone pinned to UTC so date/timestamp semantics are
  deterministic and match the naive timestamps in the test parquet.
- ``nanosAsLong`` because the driver-generated parquet stores
  TIMESTAMP(NANOS) which Spark has no native type for.
- A codegen cache large enough for the write path's working set, so
  generated classes stay compiled (and JIT-warm) between operations.
- Delayed C2 in the driver JVM (``DRIVER_JIT_FLAGS``): a session of
  many short jobs over small frames spends more CPU in HotSpot's C2
  compiler than C2 code saves, so only really hot methods reach it.

:func:`arrow_frame` is the one builder of frames from driver-side rows.
"""

from __future__ import annotations

import datetime
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructType,
    TimestampType,
)

# Runtime (non-static) confs that parity-critical code depends on.  These are
# also (re)applied by tables.configure() so queries behave identically when the
# harness hands us a session we didn't build.
#: confs CORRECTNESS depends on (UTC-pinned timestamps, nanos parquet
#: reads) — consumed by both get_spark and tables.configure so a
#: harness-supplied session and our own builder can never drift
PARITY_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

#: HotSpot tiering flags for the driver JVM (in ``local[*]`` also the
#: executor).  The tier-4 (C2) thresholds are 10x, 4x and 10x HotSpot's
#: defaults (5000 invocations, 15000 invocations plus loop back-edges,
#: 40000 back-edges), so C2 compiles only methods that stay hot across
#: many jobs and C1 code runs the rest.  C2 was the largest CPU column of
#: the write path; C1 alone (TieredStopAtLevel=1) made the heavy bench.py
#: queries twice as slow (SCALE.md §jit-budget).  Launch-time only: a
#: session this module did not build runs without them.
DRIVER_JIT_FLAGS = (
    "-XX:Tier4InvocationThreshold=50000"
    " -XX:Tier4CompileThreshold=60000"
    " -XX:Tier4BackEdgeThreshold=400000"
)

RUNTIME_CONF = {
    **PARITY_CONF,
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # an Arrow-built frame (the fetched day) stays an RDD of Arrow
    # batches: as a driver-side LocalRelation, Catalyst would re-run
    # every projection over it (typed_cast) row by row, interpreted, on
    # the driver at each action (SCALE.md §codegen-cache)
    "spark.sql.execution.arrow.localRelationThreshold": "0",
}


def get_spark(
    app_name: str = "acled-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    When a session ALREADY exists in this process, it is returned
    untouched: ``getOrCreate`` would otherwise apply every modifiable
    builder conf to the foreign session — pinning a cluster user's
    ``shuffle.partitions`` to this harness's local sizing and flipping
    their session timezone — which is a local[32]-ism this library
    must never write into a session it didn't build.  The confs
    correctness actually depends on (``PARITY_CONF``) self-heal per
    read via :func:`acled_spark.tables.configure`.
    """
    existing = SparkSession.getActiveSession()
    if existing is not None:
        return existing
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # a static conf (fixed at session start), so not in RUNTIME_CONF.
        # Spark's default of 100 entries thrashes: one CorpusRelease.apply
        # generates ~200 classes and an ingest cycle ~300, so each
        # release would evict its own and run_day's classes, to be
        # recompiled (and re-JITted) at their next use
        # (SCALE.md §codegen-cache).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Spark puts defaultJavaOptions before a caller's
        # extraJavaOptions, so the caller's flags are kept and win on a
        # conflict; set as extraJavaOptions, a caller's would drop these.
        # A spark-defaults.conf defaultJavaOptions is replaced here:
        # site-wide driver JVM flags belong in extraJavaOptions.
        .config("spark.driver.defaultJavaOptions", DRIVER_JIT_FLAGS)
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _has_nested_timestamp(t: DataType) -> bool:
    """True when a ``timestamp`` (session-local) sits inside ``t``."""
    if isinstance(t, TimestampType):
        return True
    if isinstance(t, ArrayType):
        return _has_nested_timestamp(t.elementType)
    if isinstance(t, MapType):
        return _has_nested_timestamp(t.keyType) or _has_nested_timestamp(t.valueType)
    if isinstance(t, StructType):
        return any(_has_nested_timestamp(f.dataType) for f in t.fields)
    return False


def arrow_frame(
    spark: SparkSession, rows: Sequence[tuple], schema: StructType | str
) -> DataFrame:
    """Driver-side rows (tuples in ``schema``'s field order) -> a frame.

    THE one way this library turns Python rows into a DataFrame.  The
    rows travel as one ``pyarrow.Table`` typed by Spark's own
    ``to_arrow_schema``, so the JVM keeps them as an RDD of Arrow
    batches.  ``createDataFrame`` over a list plans a ``PythonRDD``
    instead: every action over such a frame, however small, starts
    ``pyspark.daemon`` workers to re-pickle its rows (SCALE.md
    §arrow-frames).

    A naive ``datetime`` in a top-level ``timestamp`` column is read as
    local time, as ``createDataFrame`` over tuples reads it; a
    ``timestamp`` nested in an array, map or struct is refused, since
    Arrow would read it as UTC.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if any(
        _has_nested_timestamp(f.dataType)
        for f in schema.fields
        if not isinstance(f.dataType, TimestampType)
    ):
        raise ValueError(
            f"arrow_frame: a timestamp nested in {schema.simpleString()} "
            "has no local-time reading; pass it as a top-level column"
        )
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows, strict=True)) or [()] * len(schema.fields)
    arrays = []
    for field, arrow_field, values in zip(
        schema.fields, arrow_schema, columns, strict=True
    ):
        if isinstance(field.dataType, TimestampType):
            # Arrow reads a datetime as UTC wall time, whatever its tzinfo
            values = [
                None if v is None else v.astimezone(datetime.timezone.utc)
                for v in values
            ]
        arrays.append(pa.array(values, arrow_field.type))
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema=schema)
