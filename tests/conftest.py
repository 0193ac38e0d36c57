"""Shared fixtures: one SparkSession, one DuckDB connection, and the
parity checker that mirrors the driver's correctness gate (sorted-column,
order-insensitive value comparison of Spark result vs DuckDB oracle).
"""

from __future__ import annotations

import contextlib
import datetime
import math
import os

import duckdb
import pytest

from acled_spark.session import get_spark
from acled_spark.tables import TABLE_NAMES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="acled-spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = os.path.join(SF_DIR, f"{name}.parquet")
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )
    yield con
    con.close()


def _norm_value(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Keep -0.0 DISTINCT from 0.0 — the driver's value hash is
        # byte-level, so queries must normalize negative zero themselves
        # (`+ 0.0` after ROUND on both sides); the harness must not
        # paper over it.
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "-0.0"
        return v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None)
    return v


def _sort_key(row):
    return tuple((x is None, str(type(x)), str(x)) for x in row)


def normalize(columns: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Sort columns by name, then rows — the driver's order-insensitive view."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    out = [tuple(_norm_value(row[i]) for i in order) for row in rows]
    out.sort(key=_sort_key)
    return cols, out


def assert_parity(spark, duck, spec, sf_dir: str = SF_DIR) -> None:
    """Run Spark builder + DuckDB oracle, compare exactly (hash-gate mirror)."""
    sdf = spec.builder(spark, sf_dir)
    s_cols = list(sdf.columns)
    s_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(spec.oracle)
    d_cols = [d[0] for d in res.description]
    d_rows = [tuple(r) for r in res.fetchall()]

    assert sorted(s_cols) == sorted(d_cols), (
        f"{spec.name}: column mismatch spark={sorted(s_cols)} duck={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"{spec.name}: row count spark={len(s_rows)} duck={len(d_rows)}"
    )
    _, s_norm = normalize(s_cols, s_rows)
    n_cols, d_norm = normalize(d_cols, d_rows)
    for i, (sr, dr) in enumerate(zip(s_norm, d_norm)):
        assert sr == dr, (
            f"{spec.name}: first differing row #{i} (cols {n_cols}):\n"
            f"  spark={sr}\n  duck ={dr}"
        )


def formatted_plan(spark, df, disable_broadcast: bool = False) -> str:
    """Capture df.explain(mode='formatted') as a string; optionally with
    auto-broadcast off so join-strategy assertions see the shuffle shape.
    (Shared by the plan-pinning tests — the idiom was previously copied
    per test file.)"""
    import io
    from contextlib import redirect_stdout

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    if disable_broadcast:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode="formatted")
        return buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def python_leaves(df) -> list[str]:
    """The lineage of each ``LogicalRDD`` leaf of ``df``'s analyzed plan
    (subqueries included) that holds a ``PythonRDD``: a frame built from
    Python rows whose every action starts ``pyspark.daemon`` workers.
    Reads lineage only; ``queryExecution().toRdd()`` would run the
    plan's AQE stages."""
    found = []
    todo = [df._jdf.queryExecution().analyzed()]
    while todo:
        node = todo.pop()
        if node.getClass().getSimpleName() == "LogicalRDD":
            lineage = node.rdd().toDebugString()
            if "PythonRDD" in lineage:
                found.append(lineage)
        for seq in (node.children(), node.subqueries()):
            todo.extend(seq.apply(i) for i in range(seq.size()))
    return found


#: The fsutil function each crash point of ``commit_dir`` dies in.
_COMMIT_STEPS = {
    "marker": "fs_write_text",  # staging written, no commit marker
    "delete": "fs_delete",  # committed, dest intact
    "rename": "fs_try_promote_dir",  # committed, dest deleted
}


@contextlib.contextmanager
def commit_crash(step: str):
    """Kill every ``fsutil.commit_dir`` inside the block at ``step`` (a
    key of ``_COMMIT_STEPS``), leaving on disk exactly the state a
    process crash there leaves.  The block must reach the crash."""
    from acled_spark import fsutil

    def crash(*args, **kwargs):
        raise OSError(f"simulated crash at the {step} step")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(fsutil, _COMMIT_STEPS[step], crash)
        with pytest.raises(OSError, match="simulated crash"):
            yield
