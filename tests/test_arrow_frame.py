"""``session.arrow_frame``: driver-side rows -> a frame of Arrow batches.

Every column type the library builds from Python rows round-trips
exactly, NULL cells and NULL array elements included, with or without
Arrow enabled for pandas conversion, and the frame has no Python worker
under it.
"""

from __future__ import annotations

import datetime
import os
import time

import pytest
from pyspark.sql import functions as F

from acled_spark.session import arrow_frame
from tests.conftest import python_leaves

_DDL = "i int, l long, d double, b boolean, s string, v array<double>"
_ROWS = [
    (1, 2**40, 1.5, True, "x", [1.0, -2.5]),
    (None, None, None, None, None, None),
    (-3, -(2**62), -0.0, False, "", []),
    (0, 0, 1e300, None, "Донецьк", [None, 3.0, None]),
]


@pytest.fixture(params=["get_spark", "arrow_disabled"])
def session(spark, request):
    if request.param == "get_spark":
        return spark
    other = spark.newSession()
    other.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    return other


@pytest.mark.parametrize("rows", [_ROWS, []], ids=["rows", "empty"])
def test_round_trip(session, rows):
    df = arrow_frame(session, rows, _DDL)
    assert df.schema.simpleString() == (
        "struct<i:int,l:bigint,d:double,b:boolean,s:string,v:array<double>>"
    )
    assert [tuple(r) for r in df.collect()] == rows
    assert python_leaves(df) == []


_PLUS_3 = datetime.timezone(datetime.timedelta(hours=3))


def test_timestamps_read_as_local_time_like_tuples(spark):
    """A naive datetime is local time, as ``createDataFrame`` over
    tuples reads it; an aware one keeps its instant."""
    rows = [
        (datetime.datetime(2024, 3, 10, 1, 30),),
        (datetime.datetime(2024, 7, 1, 12, 0, 0, 5),),
        (None,),
        (datetime.datetime(2024, 1, 1, tzinfo=_PLUS_3),),
    ]
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        got, want = (
            [r[0] for r in df.select(F.unix_micros("t")).collect()]
            for df in (
                arrow_frame(spark, rows, "t timestamp"),
                spark.createDataFrame(rows, "t timestamp"),
            )
        )
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()
    assert got == want
    assert got[0] == 1710052200000000  # 01:30 EST is 06:30 UTC


def test_nested_timestamp_is_refused(spark):
    with pytest.raises(ValueError, match="timestamp nested"):
        arrow_frame(
            spark, [([datetime.datetime(2024, 1, 1)],)], "t array<timestamp>"
        )


def test_python_leaves_sees_a_frame_built_from_tuples(spark):
    """The detector the no-Python pins rely on fires on the path
    ``arrow_frame`` replaces."""
    assert python_leaves(spark.createDataFrame(_ROWS, _DDL))
