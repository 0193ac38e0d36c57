"""Each validation check against fixtures engineered to pass and fail —
the failure modes the reference's checks encode (FIXTURES.md §1,
ref acled_checks.py:39-534, 538-1067)."""

from __future__ import annotations

from datetime import date

import pytest

from acled_spark.checks import (
    ValidationError,
    build_suite,
    completeness,
    dominance,
    domain_membership,
    load_suites,
    non_empty,
    partition_date_match,
    pk_unique,
    required_columns,
    row_count_bounds,
    run_checks,
    value_range,
)
from acled_spark.tables import load

SF_DIR = "/root/testdata/sf0.001"
SCHEMA = "id string, d date, lat double, fat int, etype string"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


GOOD = [
    ("a", date(2025, 1, 2), 47.0, 0, "Battles"),
    ("b", date(2025, 1, 2), -12.5, 3, "Protests"),
    ("c", date(2025, 1, 2), 89.9, 1, "Riots"),
]


def test_non_empty_blocks_on_empty(spark):
    ok = run_checks(_df(spark, GOOD), [non_empty()])
    assert ok[0].passed and ok[0].metrics["row_count"] == 3
    with pytest.raises(ValidationError, match="non_empty"):
        run_checks(_df(spark, []).filter("1=0"), [non_empty()])


def test_required_columns(spark):
    df = _df(spark, GOOD)
    assert run_checks(df, [required_columns(["id", "lat"])])[0].passed
    res = run_checks(df, [required_columns(["id", "nope"])])[0]
    assert not res.passed and res.metrics["missing"] == ["nope"]


def test_value_range_coordinates_and_nulls(spark):
    bad = GOOD + [("d", date(2025, 1, 2), 91.0, 2, "Battles"),
                  ("e", date(2025, 1, 2), None, 2, "Battles")]
    df = _df(spark, bad)
    res = run_checks(df, [value_range("lat", -90.0, 90.0)])[0]
    assert not res.passed and res.metrics["out_of_range"] == 1
    # nulls tolerated by default, counted in metrics
    assert res.metrics["nulls"] == 1
    res = run_checks(
        _df(spark, GOOD + [("e", date(2025, 1, 2), 47.0, None, "Battles")]),
        [value_range("fat", lo=0, allow_null=False)],
    )[0]
    assert not res.passed


def test_domain_membership_reports_unknown_and_missing(spark):
    df = _df(spark, GOOD + [("d", date(2025, 1, 2), 1.0, 0, "UFO sighting")])
    res = run_checks(
        df, [domain_membership("etype", ["Battles", "Protests", "Riots", "Strategic developments"])]
    )[0]
    assert not res.passed
    assert res.metrics["n_unknown"] == 1
    assert res.metrics["unknown_examples"] == ["UFO sighting"]
    assert res.metrics["missing"] == ["Strategic developments"]


def test_domain_membership_bounded_under_garbage_flood(spark):
    """r8 scale lens: per-row garbage in a categorical column (the very
    failure the check screens for) must yield an exact distinct count
    and bounded examples — never a row-cardinality set shipped to the
    driver.  1000 distinct UUID-ish values -> n_unknown == 1000,
    exactly 2 example values, missing domain intact."""
    rows = GOOD + [
        (f"g{i}", date(2025, 1, 2), 1.0, 0, f"uuid-{i:04d}")
        for i in range(1000)
    ]
    res = run_checks(
        _df(spark, rows), [domain_membership("etype", ["Battles", "Protests", "Riots"])]
    )[0]
    assert not res.passed
    assert res.metrics["n_unknown"] == 1000
    assert res.metrics["unknown_examples"] == ["uuid-0000", "uuid-0999"]
    assert len(res.metrics["unknown_examples"]) == 2


def test_pk_unique(spark):
    df = _df(spark, GOOD + [("a", date(2025, 1, 2), 1.0, 0, "Battles")])
    res = run_checks(df, [pk_unique(["id"])])[0]
    assert not res.passed and res.metrics["duplicates"] == 1


def test_row_count_bounds_blocking(spark):
    with pytest.raises(ValidationError):
        run_checks(_df(spark, GOOD), [row_count_bounds(lo=10, hi=20)])


def test_completeness_null_and_empty_aware(spark):
    rows = GOOD + [("", date(2025, 1, 2), None, 1, "Battles")] * 2
    res = run_checks(
        _df(spark, rows), [completeness(["id", "lat"], min_pct=95.0)]
    )[0]
    assert not res.passed
    assert res.metrics["missing_by_column"] == {"id": 2, "lat": 2}


def test_dominance(spark):
    rows = [(f"x{i}", date(2025, 1, 2), 1.0, 0, "Battles") for i in range(9)]
    rows.append(("y", date(2025, 1, 2), 1.0, 0, "Riots"))
    res = run_checks(_df(spark, rows), [dominance("etype", 80.0)])[0]
    assert not res.passed and res.metrics["top_value"] == "Battles"
    assert res.metrics["share_pct"] == 90.0


def test_partition_date_match_blocking(spark):
    df = _df(spark, GOOD + [("z", date(2025, 1, 3), 1.0, 0, "Battles")])
    with pytest.raises(ValidationError, match="partition_date"):
        run_checks(df, [partition_date_match("d", date(2025, 1, 2))])


def test_yaml_factory_roundtrip_and_events_suite(spark):
    suites = load_suites()
    assert set(suites) == {"acled_bronze", "acled_silver", "events_quality"}
    # the generic suite runs green against the driver's events table
    ev = load(spark, SF_DIR, "events")
    results = run_checks(ev, suites["events_quality"])
    assert all(r.passed for r in results), [r for r in results if not r.passed]


def test_factory_rejects_unknown_type():
    with pytest.raises(ValueError, match="unknown check type"):
        build_suite([{"type": "teleport"}])


def test_factory_hostile_configs_fail_loudly(tmp_path):
    """r10 hostile-input review: malformed YAML shapes must name the
    file and the defect, not surface as a bare TypeError/KeyError from
    three frames deep."""
    # empty file -> safe_load returns None
    p = tmp_path / "empty.yaml"
    p.write_text("")
    with pytest.raises(ValueError, match="top-level 'suites'"):
        load_suites(str(p))
    # a scalar where the mapping should be
    p2 = tmp_path / "scalar.yaml"
    p2.write_text("just a string")
    with pytest.raises(ValueError, match="top-level 'suites'"):
        load_suites(str(p2))
    # suites holding a list instead of a name->entries map
    p3 = tmp_path / "list.yaml"
    p3.write_text("suites:\n  - type: non_empty\n")
    with pytest.raises(ValueError, match="must map suite names"):
        load_suites(str(p3))
    # a suite entry that is a bare string, not a mapping
    with pytest.raises(ValueError, match="must be a mapping"):
        build_suite(["non_empty"])
    # unknown builder params fail loudly (TypeError from the builder)
    with pytest.raises(TypeError):
        build_suite([{"type": "non_empty", "bogus_param": 1}])


def test_factory_null_and_scalar_suite_entries(tmp_path):
    """ADVICE r10: `suites:\\n  name:\\n` — the natural YAML spelling of
    an empty suite — parses as entries=None and must load as an empty
    suite, not raise a bare TypeError from build_suite's loop; a scalar
    entries value must fail naming the file and suite, not iterate as
    characters into a misleading per-entry error."""
    p = tmp_path / "null_suite.yaml"
    p.write_text("suites:\n  empty_suite:\n")
    suites = load_suites(str(p))
    assert suites == {"empty_suite": []}
    p2 = tmp_path / "scalar_suite.yaml"
    p2.write_text("suites:\n  bad_suite: non_empty\n")
    with pytest.raises(ValueError, match=r"bad_suite.*must be a list"):
        load_suites(str(p2))


def test_chk_validation_summary_counts_planted_defects(spark, tmp_path):
    """The driver-visible suite summary must agree with its DuckDB
    oracle on data that actually VIOLATES every check: planted nulls,
    a negative value, a duplicate key, and an unknown category."""
    import os

    import duckdb

    from acled_spark.registry import all_specs
    from acled_spark.tables import load

    sf_dir = str(tmp_path)
    good = load(spark, "/root/testdata/sf0.001", "events").limit(50)
    from pyspark.sql import functions as F

    defects = spark.createDataFrame(
        [
            # duplicate of an existing key (event_id 0 exists in head rows)
            (0, "2024-01-05 10:00:00", 1, "view", 5.0, "{}"),
            # negative value
            (900001, "2024-01-05 10:00:00", 2, "click", -3.5, "{}"),
            # unknown category
            (900002, "2024-01-05 10:00:00", 3, "teleport", 1.0, "{}"),
            # null value + null user_id (value_range nulls, completeness)
            (900003, "2024-01-05 10:00:00", None, "view", None, "{}"),
            # empty-string category: missing for completeness (string
            # rule) AND unknown for the domain check
            (900004, "2024-01-05 10:00:00", 4, "", 1.0, "{}"),
        ],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    bad = good.unionByName(defects)
    bad.write.parquet(os.path.join(sf_dir, "events.parquet"))

    spec = all_specs()["chk_validation_summary"]
    got = {
        r["check_name"]: (r["passed"], r["violations"])
        for r in spec.builder(spark, sf_dir).collect()
    }
    assert got["pk_unique[event_id]"] == (0, 1)
    assert got["value_range[value]"] == (0, 2)  # negative + null
    assert got["domain[event_type]"] == (0, 2)  # 'teleport' + ''
    assert got["completeness[" + ", ".join(("event_id", "ts", "user_id", "event_type", "value")) + "]"] == (1, 3)  # 3 missing cells, still >= 95%
    assert got["non_empty"] == (1, 0)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{sf_dir}/events.parquet/*.parquet')"
    )
    oracle = {
        name: (int(p), int(v))
        for name, p, v in con.execute(spec.oracle).fetchall()
    }
    assert oracle == got


def test_fusable_suite_runs_one_aggregation(spark, monkeypatch):
    """The engine's scale contract: a fully-fusable suite costs exactly
    ONE df.agg action (and no cache), however many checks it holds."""
    from acled_spark.checks.engine import (
        completeness,
        non_empty,
        pk_unique,
        run_checks,
        value_range,
    )
    from acled_spark.tables import load

    ev = load(spark, "/root/testdata/sf0.001", "events").limit(100)
    cls = type(ev)  # the concrete (classic) DataFrame class, not the ABC
    calls = {"agg": 0, "cache": 0}
    real_agg, real_cache = cls.agg, cls.cache
    monkeypatch.setattr(
        cls, "agg",
        lambda self, *a, **k: (calls.__setitem__("agg", calls["agg"] + 1),
                               real_agg(self, *a, **k))[1],
    )
    monkeypatch.setattr(
        cls, "cache",
        lambda self: (calls.__setitem__("cache", calls["cache"] + 1),
                      real_cache(self))[1],
    )
    results = run_checks(
        ev,
        [
            non_empty(blocking=False),
            value_range("value", lo=0.0),
            pk_unique(["event_id"]),
            completeness(["event_id", "value"]),
        ],
    )
    assert [r.passed for r in results] == [True] * 4
    assert calls["agg"] == 1  # the whole suite fused into one job
    assert calls["cache"] == 0  # single action -> no cache needed


def test_second_distinct_group_splits_into_expand_free_pass(spark, monkeypatch):
    """VERDICT r14 #7: two distinct-bearing checks (domain + pk_unique)
    must run as TWO aggregation passes (each Expand-free) instead of
    one multi-distinct aggregate that Expands every input row — and the
    split must not trip the cache heuristic (pruned re-scans are
    narrower than a full-frame cache write)."""
    from acled_spark.checks.engine import (
        _expand_free_groups,
        completeness,
        domain_membership,
        non_empty,
        pk_unique,
        run_checks,
        value_range,
    )
    from acled_spark.tables import load

    suite = [
        non_empty(blocking=False),
        value_range("value", lo=0.0, allow_null=False),
        domain_membership("event_type", ["view", "click", "purchase"]),
        pk_unique(["event_id"]),
        completeness(["event_id", "value"]),
    ]
    groups = _expand_free_groups(suite)
    assert len(groups) == 2
    assert sum(c.has_distinct for c in groups[0]) == 1  # first distinct fuses
    assert [c.name for c in groups[1]] == ["pk_unique[event_id]"]

    ev = load(spark, "/root/testdata/sf0.001", "events").limit(150)
    cls = type(ev)
    calls = {"agg": 0, "cache": 0}
    real_agg, real_cache = cls.agg, cls.cache
    monkeypatch.setattr(
        cls, "agg",
        lambda self, *a, **k: (calls.__setitem__("agg", calls["agg"] + 1),
                               real_agg(self, *a, **k))[1],
    )
    monkeypatch.setattr(
        cls, "cache",
        lambda self: (calls.__setitem__("cache", calls["cache"] + 1),
                      real_cache(self))[1],
    )
    fused = run_checks(ev, suite, raise_on_blocking=False)
    assert calls["agg"] == 2  # one pass per distinct group, no Expand
    assert calls["cache"] == 0
    alone = [c.run(ev) for c in suite]
    assert [(r.name, r.passed, r.metrics) for r in fused] == [
        (r.name, r.passed, r.metrics) for r in alone
    ]


def test_fused_results_match_standalone_runs(spark):
    """Fused suite results are identical to running each check alone."""
    from acled_spark.checks.engine import (
        domain_membership,
        non_empty,
        pk_unique,
        run_checks,
        value_range,
    )
    from acled_spark.tables import load

    ev = load(spark, "/root/testdata/sf0.001", "events").limit(200)
    suite = [
        non_empty(blocking=False),
        value_range("value", lo=0.0, allow_null=False),
        domain_membership("event_type", ["view", "click"]),  # will fail
        pk_unique(["event_id"]),
    ]
    fused = run_checks(ev, suite, raise_on_blocking=False)
    alone = [c.run(ev) for c in suite]
    assert [(r.name, r.passed, r.metrics) for r in fused] == [
        (r.name, r.passed, r.metrics) for r in alone
    ]


def test_pk_unique_null_keys_fail_explicitly(spark):
    """A NULL primary key fails pk_unique as null_keys, NOT as a
    phantom duplicate."""
    from acled_spark.checks.engine import pk_unique

    df = spark.createDataFrame(
        [(1,), (2,), (None,)], "event_id long"
    )
    r = pk_unique(["event_id"]).run(df)
    assert not r.passed
    assert r.metrics == {
        "rows": 3, "distinct_keys": 2, "duplicates": 0, "null_keys": 1
    }
    # genuinely duplicated non-null keys still count as duplicates
    r2 = pk_unique(["event_id"]).run(
        spark.createDataFrame([(1,), (1,), (None,)], "event_id long")
    )
    assert r2.metrics["duplicates"] == 1 and r2.metrics["null_keys"] == 1


def test_schema_only_check_does_not_trigger_cache(spark, monkeypatch):
    """required_columns runs no job, so fused + required_columns is
    still a single action and must not cache."""
    from acled_spark.checks.engine import non_empty, required_columns, run_checks
    from acled_spark.tables import load

    ev = load(spark, "/root/testdata/sf0.001", "events").limit(10)
    cls = type(ev)
    calls = {"cache": 0}
    real_cache = cls.cache
    monkeypatch.setattr(
        cls, "cache",
        lambda self: (calls.__setitem__("cache", calls["cache"] + 1),
                      real_cache(self))[1],
    )
    results = run_checks(
        ev, [non_empty(blocking=False), required_columns(["event_id", "nope"])]
    )
    assert [r.passed for r in results] == [True, False]
    assert calls["cache"] == 0


def test_run_checks_accepts_a_generator(spark):
    """run_checks must not silently return [] for a generator argument
    (it splits the sequence multiple times internally)."""
    from acled_spark.checks.engine import (
        ValidationError,
        non_empty,
        run_checks,
    )

    empty = spark.createDataFrame([], "event_id long")
    with pytest.raises(ValidationError):
        run_checks(empty, (c for c in [non_empty(blocking=True)]))


def test_value_range_catches_nan(spark):
    """`NaN < lo` is false, so a lower-bound-only range check must
    probe NaN explicitly or 0/0 garbage passes."""
    df = spark.createDataFrame(
        [(1, 0.5), (2, float("nan")), (3, 2.0)], "k long, v double"
    )
    r = run_checks(df, [value_range("v", lo=0.0)], raise_on_blocking=False)[0]
    assert not r.passed
    assert r.metrics["out_of_range"] == 1


def test_domain_membership_counts_nulls(spark):
    """collect_set drops NULLs, so a NULL-flooded categorical column
    must fail via the explicit null counter (allow_null opts out)."""
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "click")], "k long, v string"
    )
    strict = run_checks(
        df, [domain_membership("v", ["click", "view"])], raise_on_blocking=False
    )[0]
    assert not strict.passed and strict.metrics["nulls"] == 2
    lenient = run_checks(
        df,
        [domain_membership("v", ["click", "view"], allow_null=True)],
        raise_on_blocking=False,
    )[0]
    assert lenient.passed


def test_run_checks_preserves_caller_cache(spark):
    """Round-7 review: the engine caches for its own multi-action
    suites, but must never unpersist a cache the CALLER created —
    cache() on an already-cached frame is a no-op, so the old
    finally-block unpersist destroyed the caller's persistence."""
    from acled_spark.checks.engine import dominance, non_empty, run_checks
    from acled_spark.tables import load

    suite = [non_empty(blocking=False), dominance("event_type", 101.0)]

    ev = load(spark, "/root/testdata/sf0.001", "events").limit(50)
    ours = ev.cache()
    try:
        ours.count()
        assert ours.is_cached
        run_checks(ours, suite, raise_on_blocking=False)
        assert ours.is_cached  # the caller's cache survived the suite
    finally:
        ours.unpersist()

    # and when the ENGINE cached (caller did not), it still cleans up
    fresh = load(spark, "/root/testdata/sf0.001", "events").limit(50)
    run_checks(fresh, suite, raise_on_blocking=False)
    assert not fresh.is_cached


def test_value_range_total_over_string_columns_any_ansi_mode(spark):
    """r11 session-conf-drift review: value_range over a STRING column
    (the raw-bronze shape the reference validated) must neither abort
    the fused job under ANSI=true (implicit casts in isnan/bounds) nor
    count un-castable garbage as out-of-range — garbage is a domain
    check's job; numeric strings still range-check."""
    df = spark.createDataFrame(
        [("12.5",), ("999.0",), ("abc",), (None,), ("nan",)],
        "latitude string",
    )
    res = run_checks(df, [value_range("latitude", lo=-90.0, hi=90.0)])[0]
    assert not res.passed
    # 999.0 out of range; 'nan' casts to NaN -> out of range; 'abc'
    # is NULL after try_cast (not counted); the literal NULL counts
    # via the nulls leg
    assert res.metrics["out_of_range"] == 2
    assert res.metrics["nulls"] == 1
