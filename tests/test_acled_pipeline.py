"""End-to-end ACLED pipeline: fake paginated source -> typed bronze ->
validation -> silver upsert (SURVEY §3.1 lifecycle, on synthetic fixture
rows engineered per FIXTURES.md)."""

from __future__ import annotations

import os
from datetime import date, datetime, timezone

import pytest
from pyspark.sql import functions as F

from acled_spark.bronze import read_bronze, typed_cast, write_bronze
from acled_spark.checks import ValidationError, load_suites, run_checks
from acled_spark.schema import ACLED_RAW_SCHEMA, ACLED_SCHEMA, VALID_EVENT_TYPES
from acled_spark.silver import upsert_partitioned
from acled_spark.source import fetch_day, ingest_day, partition_days

# slow tier (VERDICT r14 #1): the ingest-to-silver pipeline e2e tests
# (~1.5 min) carry `slow`; run them with `-m ""`.  The write-path pins
# at the end of the file run in the default tier.
slow = pytest.mark.slow


EPOCH = 1735603200  # 2024-12-31 00:00:00 UTC


def _raw_row(i: int, day: date, **over) -> dict:
    row = {
        "event_id_cnty": f"UKR{day.strftime('%Y%m%d')}{i:04d}",
        "event_date": day.isoformat(),
        "year": str(day.year),
        "time_precision": str(1 + i % 3),
        "disorder_type": "Political violence",
        "event_type": VALID_EVENT_TYPES[i % len(VALID_EVENT_TYPES)],
        "sub_event_type": "Shelling/artillery/missile attack",
        "actor1": f"Actor {i % 7}",
        "assoc_actor_1": "",
        "inter1": str(i % 8),
        "actor2": f"Actor {(i + 3) % 7}" if i % 2 else "",
        "assoc_actor_2": "",
        "inter2": str((i + 1) % 8),
        "interaction": str(10 + i % 80),
        "civilian_targeting": "Civilian targeting" if i % 5 == 0 else "",
        "iso": "804",
        "region": "Europe",
        "country": "Ukraine",
        "admin1": ["Donetsk", "Kherson", "Kharkiv"][i % 3],
        "admin2": f"Raion {i % 11}",
        "admin3": f"Hromada {i % 23}",
        "location": f"Town {i % 31}",
        "latitude": str(47.0 + (i % 100) / 50.0),
        "longitude": str(35.0 + (i % 100) / 25.0),
        "geo_precision": str(1 + i % 3),
        "source": "Source X",
        "source_scale": "National",
        "notes": f"note {i}" if i % 4 else "",
        "fatalities": str(i % 13),
        "tags": "",
        "timestamp": str(EPOCH + i),
    }
    row.update(over)
    return row


def make_fetcher(rows_per_day: int = 120, page_cap: int = 50):
    """Deterministic fake of the paginated ACLED API (ref utils.py:7-23)."""

    def fetcher(day: date, page: int, limit: int, params: dict) -> list[dict]:
        limit = min(limit, page_cap)
        start = (page - 1) * limit
        stop = min(start + limit, rows_per_day)
        return [_raw_row(i, day) for i in range(start, stop)]

    return fetcher


@slow
def test_page_loop_stops_on_short_page():
    calls = []

    def fetcher(day, page, limit, params):
        calls.append(page)
        n = [50, 50, 20][page - 1] if page <= 3 else 0
        return [_raw_row((page - 1) * 50 + i, day) for i in range(n)]

    rows = fetch_day(fetcher, date(2025, 1, 2), limit=50)
    assert len(rows) == 120
    assert calls == [1, 2, 3]  # stopped at the short page


@slow
def test_page_cap_exhaustion_raises_not_truncates(monkeypatch):
    """Round-7 review: a day whose every page comes back FULL through
    MAX_PAGES has more data than the cap can fetch — returning the
    partial set would persist a silently truncated partition that
    missing_partitions never re-selects.  It must raise instead."""
    import acled_spark.source as source_mod

    monkeypatch.setattr(source_mod, "MAX_PAGES", 3)

    def endless(day, page, limit, params):
        return [_raw_row((page - 1) * limit + i, day) for i in range(limit)]

    with pytest.raises(RuntimeError, match="page cap"):
        fetch_day(endless, date(2025, 1, 2), limit=10)

    # a run that finishes ON the final page with a short page is fine
    def fits(day, page, limit, params):
        n = limit if page < 3 else limit - 1
        return [_raw_row((page - 1) * limit + i, day) for i in range(n)]

    assert len(fetch_day(fits, date(2025, 1, 2), limit=10)) == 29


@slow
def test_page_cap_exact_boundary_probes_not_raises(monkeypatch):
    """ADVICE r7: a day holding EXACTLY MAX_PAGES*limit rows — complete
    data, cap-aligned by coincidence — must not be reported as
    truncated (the old for/else raised whenever every page was full,
    permanently failing the day).  One probe page past the cap settles
    it: empty probe -> complete; short probe -> complete WITH the probe
    rows; full probe -> genuinely truncated, still raises."""
    import acled_spark.source as source_mod

    monkeypatch.setattr(source_mod, "MAX_PAGES", 3)

    def exactly_at_cap(day, page, limit, params):
        # 30 rows total at limit=10: pages 1-3 full, page 4 (probe) empty
        start = (page - 1) * limit
        stop = min(start + limit, 30)
        return [_raw_row(i, day) for i in range(start, stop)]

    assert len(fetch_day(exactly_at_cap, date(2025, 1, 2), limit=10)) == 30

    def short_past_cap(day, page, limit, params):
        # 33 rows total: pages 1-3 full, probe page returns the short
        # tail — the day completes at the probe, all 33 rows kept
        start = (page - 1) * limit
        stop = min(start + limit, 33)
        return [_raw_row(i, day) for i in range(start, stop)]

    assert len(fetch_day(short_past_cap, date(2025, 1, 2), limit=10)) == 33


@slow
def test_empty_partition_raises(spark):
    def fetcher(day, page, limit, params):
        return []

    with pytest.raises(ValueError, match="no data returned"):
        ingest_day(spark, fetcher, date(2025, 1, 2))


@slow
def test_ingest_region_loops_codes_with_pushdown(spark):
    """Region convenience face (ref country_assets.py:35-72): each of
    the region's API codes gets its own page loop with the code pushed
    as a server-side `region` param, and the per-code results land in
    one typed frame."""
    from acled_spark.source import EmptyPartitionError, ingest_region

    seen: list[tuple[str, int]] = []

    def fetcher(day, page, limit, params):
        code = params["region"]
        seen.append((code, page))
        n = {"1": 70, "2": 0}.get(code, 0)  # code 1 pages at limit=50
        start = (page - 1) * 50
        stop = min(start + 50, n)
        return [
            _raw_row(start + i, day, region=f"code-{code}")
            for i in range(max(0, stop - start))
        ]

    day = date(2025, 1, 2)
    df = ingest_region(
        spark, fetcher, day, "TestRegion", limit=50,
        region_map={"TestRegion": ("1", "2")},
    )
    assert df.count() == 70
    # code 1 paged twice (70 rows at limit 50), code 2 once (empty)
    assert seen == [("1", 1), ("1", 2), ("2", 1)]
    assert set(r["region"] for r in df.select("region").distinct().collect()) == {
        "code-1"
    }

    with pytest.raises(ValueError, match="unknown region"):
        ingest_region(spark, fetcher, day, "Atlantis")
    with pytest.raises(EmptyPartitionError):
        ingest_region(
            spark, fetcher, day, "Empty", region_map={"Empty": ("9",)}
        )


@slow
def test_typed_cast_null_on_error(spark):
    day = date(2025, 1, 2)
    rows = [
        _raw_row(0, day),
        _raw_row(1, day, fatalities="not-a-number", latitude="bogus",
                 timestamp=None),
    ]
    raw = spark.createDataFrame(
        [tuple(r[n] for n in ACLED_RAW_SCHEMA.fieldNames()) for r in rows],
        ACLED_RAW_SCHEMA,
    )
    typed = typed_cast(raw)
    assert [f.simpleString() for f in typed.schema.fields] == [
        f.simpleString() for f in ACLED_SCHEMA.fields
    ]
    got = {r["event_id_cnty"]: r for r in typed.collect()}
    ok = got[f"UKR{day.strftime('%Y%m%d')}0000"]
    bad = got[f"UKR{day.strftime('%Y%m%d')}0001"]
    assert ok["fatalities"] == 0 and ok["latitude"] == 47.0
    assert ok["event_timestamp"] == datetime(2024, 12, 31, 0, 0, 0)
    assert bad["fatalities"] is None          # strict=False parity
    assert bad["latitude"] is None
    assert bad["event_timestamp"] is None     # when(ts not null) guard


@slow
def test_full_pipeline_ingest_to_silver(spark, tmp_path):
    bronze_path = os.path.join(str(tmp_path), "bronze")
    silver_path = os.path.join(str(tmp_path), "silver")
    fetcher = make_fetcher(rows_per_day=120)
    suites = load_suites()

    days = partition_days(date(2025, 1, 2), date(2025, 1, 4))
    for day in days:
        raw = ingest_day(spark, fetcher, day, limit=50)
        typed = typed_cast(raw)
        results = run_checks(typed, suites["acled_bronze"])
        assert all(r.passed for r in results), [r for r in results if not r.passed]
        write_bronze(typed, bronze_path, mode="overwrite")
        upsert_partitioned(
            spark, read_bronze(spark, bronze_path), silver_path,
            key="event_id_cnty", partition_col="event_date",
        )

    silver = spark.read.parquet(silver_path)
    assert silver.count() == 120 * len(days)
    run_checks(silver, suites["acled_silver"])  # no blocking failure

    # replay one day end-to-end: idempotent (the ON CONFLICT contract)
    raw = ingest_day(spark, fetcher, days[0], limit=50)
    upsert_partitioned(
        spark, typed_cast(raw), silver_path,
        key="event_id_cnty", partition_col="event_date",
    )
    assert spark.read.parquet(silver_path).count() == 120 * len(days)


@slow
def test_silver_suite_blocks_oversized_partition(spark):
    day = date(2025, 1, 2)
    rows = [_raw_row(i, day) for i in range(120)]
    raw = spark.createDataFrame(
        [tuple(r[n] for n in ACLED_RAW_SCHEMA.fieldNames()) for r in rows],
        ACLED_RAW_SCHEMA,
    )
    typed = typed_cast(raw)
    suites = load_suites()
    with pytest.raises(ValidationError, match="row_count_bounds"):
        run_checks(typed, _tight_bounds_suite())
    # sanity: the real suite passes on this healthy partition
    assert all(r.passed for r in run_checks(typed, suites["acled_silver"]))


def _tight_bounds_suite():
    from acled_spark.checks import row_count_bounds

    return [row_count_bounds(lo=1, hi=10)]


@slow
def test_run_day_blocks_wrong_day_rows(spark, tmp_path):
    """A stray row dated another day must halt run_day BEFORE the
    bronze write — dynamic partition overwrite would otherwise replace
    that other day's entire directory with the stray row."""
    import pytest

    from acled_spark.checks.engine import ValidationError
    from acled_spark.pipeline import run_day

    day, other = date(2025, 1, 6), date(2025, 1, 5)
    base = make_fetcher(rows_per_day=20)

    def poisoned(d, page, limit, params):
        rows = base(d, page, limit, params)
        if rows and d == day:
            rows[0] = dict(rows[0], event_date=other.isoformat())
        return rows

    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    # seed the victim day, then ingest the poisoned day
    run_day(spark, base, other, bronze, silver, page_limit=50)
    victim_rows = spark.read.parquet(bronze).count()
    with pytest.raises(ValidationError, match="partition_date_match"):
        run_day(spark, poisoned, day, bronze, silver, page_limit=50)
    # the victim partition survived untouched
    assert spark.read.parquet(bronze).count() == victim_rows


@slow
def test_get_spark_never_retunes_an_existing_session(spark):
    """r11 session-conf-drift review: getOrCreate applies modifiable
    builder confs to whatever session exists — get_spark must instead
    return a pre-existing (possibly foreign) session untouched rather
    than pin the harness's local shuffle sizing onto it."""
    from acled_spark.session import get_spark

    before = spark.conf.get("spark.sql.shuffle.partitions")
    got = get_spark(app_name="would-retune", shuffle_partitions=3)
    assert got is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


@slow
def test_configure_warns_once_when_flipping_session_timezone(spark):
    """The UTC pin is load-bearing but session-global: when it actually
    CHANGES a session's timezone the user must hear about it."""
    import warnings as _w

    import pytest as _pytest

    from acled_spark.tables import configure

    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with _pytest.warns(UserWarning, match="pinned"):
            configure(spark)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        # already-UTC sessions reconfigure silently
        with _w.catch_warnings():
            _w.simplefilter("error")
            configure(spark)
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


# ---------------------------------------------------------------------------
# write-path pins (default tier)
# ---------------------------------------------------------------------------


def _mixed_row(i: int, day: date) -> dict:
    """A record as a loose JSON API returns it: ints, floats, nulls,
    empty strings and non-ASCII text next to the usual strings."""
    return dict(
        _raw_row(i, day),
        fatalities=i % 13,
        latitude=47.0 + i / 8.0,
        timestamp=EPOCH + i,
        notes=None if i % 3 == 0 else "",
        admin1="Донецька область" if i % 2 else "Kyïv — centre",
        tags=None,
    )


def test_day_frames_carry_no_python_stage(spark):
    """The fetched day lands as Arrow batches in a fixed JVM relation:
    no action over it (checks, bronze write, upsert, count) runs a
    Python worker, and its rows are exactly the normalized records, in
    fetch order, with NULLs and empty strings kept apart."""
    from acled_spark.source import _normalize_value, ingest_region
    from tests.conftest import python_leaves

    day = date(2025, 1, 2)
    rows = [_mixed_row(i, day) for i in range(70)]

    def fetcher(d, page, limit, params):
        return rows[(page - 1) * limit : page * limit]

    names = ACLED_RAW_SCHEMA.fieldNames()
    want = [tuple(_normalize_value(r, n) for n in names) for r in rows]
    frames = {
        "ingest_day": ingest_day(spark, fetcher, day, limit=50),
        "ingest_region": ingest_region(
            spark, fetcher, day, "R", limit=50, region_map={"R": ("1",)}
        ),
    }
    for name, df in frames.items():
        assert python_leaves(df) == [], name
        assert df.schema == ACLED_RAW_SCHEMA, name
        assert [tuple(r) for r in df.collect()] == want, name


def _compiled_classes(spark) -> int:
    """Classes Spark has generated and compiled in this JVM (each
    codegen cache miss is one compile)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_release_leaves_run_day_codegen_compiled(spark, tmp_path):
    """The session's codegen cache holds the write path's working set:
    a CorpusRelease between two run_day calls no longer evicts the
    day's generated classes, so replaying the day compiles (and
    JIT-warms) next to nothing again.  With Spark's default 100-entry
    cache the release's ~200 classes evicted them and the replay
    recompiled ~80."""
    from acled_spark.dedup_store import init_store
    from acled_spark.pipeline import run_day
    from acled_spark.release import CorpusRelease
    from acled_spark.tables import load
    from tests.conftest import SF_DIR

    bronze, silver = str(tmp_path / "bronze"), str(tmp_path / "silver")
    fetcher = make_fetcher(rows_per_day=120)
    day = date(2025, 1, 2)
    run_day(spark, fetcher, day, bronze, silver, page_limit=50)

    docs = load(spark, SF_DIR, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    old = docs.filter(F.col("doc_id") % 11 != 3)
    new = docs.filter(F.col("doc_id") % 13 != 5)
    init_store(old, str(tmp_path / "store"))
    CorpusRelease(str(tmp_path / "store")).apply(
        spark, old, new, export_path=str(tmp_path / "export"), shards=2
    )

    before = _compiled_classes(spark)
    assert run_day(spark, fetcher, day, bronze, silver, page_limit=50).passed
    assert _compiled_classes(spark) - before <= 20
