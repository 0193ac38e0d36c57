"""Paginated REST ingestion source (SURVEY §2.1 S1-S3).

The reference fetches day-partitions from the ACLED API with an async
page loop: GET with ``{limit, page, ...filters}``, accumulate rows,
stop when a page comes back shorter than ``limit``
(``utils.py:7-23``, ``base_assets.py:35-57``).

Spark-first shape: the HTTP fetch itself is driver-side I/O (one day is
≤10k rows — ``acled_checks.py:580-581``); the result lands in a
DataFrame immediately.  The page fetcher is injected, so tests run a
deterministic fake and production plugs an OAuth'd HTTP client
(the reference's token flow, ``acled_request_config.py:54-235``, stays
a driver-side helper by design — SURVEY §7.4.6).

For backfills over many days, :func:`fetch_partition_range` fans the
per-day fetches out over executors with ``mapInPandas`` — the Spark-4
Python-data-source pattern without needing a custom source class.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession

from acled_spark.filters import FilterSpec
from acled_spark.schema import ACLED_RAW_SCHEMA
from acled_spark.session import arrow_frame

# A page fetcher: (day, page_number, limit, extra_params) -> list of flat
# string-valued records.  Production: OAuth HTTP GET; tests: synthetic.
PageFetcher = Callable[[date, int, int, dict], list[dict]]


class EmptyPartitionError(ValueError):
    """A day's fetch returned zero rows (ref base_assets.py:61-63).

    Distinct from the plain ``ValueError`` config errors so batch
    drivers (``scheduler.run_backfill``) can skip genuinely-empty days
    without masking misconfiguration."""

DEFAULT_PAGE_LIMIT = 5000  # ref acled_request_config.py:302-305
MAX_PAGES = 5000           # same constant doubles as the page cap (base_assets.py:49-57)


def fetch_day(
    fetcher: PageFetcher,
    day: date,
    limit: int = DEFAULT_PAGE_LIMIT,
    filters: FilterSpec | None = None,
    params: dict | None = None,
    allow_partial_pushdown: bool = False,
) -> list[dict]:
    """Page loop for one day-partition: stop on short page (base_assets.py:35-57).

    ``filters`` serialize into field/field_where request params
    (predicate pushdown to the source, mirroring build_params —
    acled_request_config.py:425-454).  A predicate the param grammar
    cannot express raises by default: silently fetching the unfiltered
    superset would persist rows the caller asked to exclude.  Pass
    ``allow_partial_pushdown=True`` to accept the superset and apply
    ``filters.to_column()`` engine-side after typed casting.
    """
    extra = dict(params or {})
    if filters is not None:
        # event_date predicates can never travel as params: the fetcher
        # OWNS the per-day date equality (it would raise on the
        # collision), so they are engine-side residual by construction
        date_preds = [p for p in filters.predicates if p.column == "event_date"]
        if date_preds:
            filters = FilterSpec(
                tuple(p for p in filters.predicates if p.column != "event_date")
            )
        pushed, residual = filters.to_params()
        residual = list(residual) + date_preds
        if residual and not allow_partial_pushdown:
            ops = ", ".join(f"{p.column}:{p.op}" for p in residual)
            raise ValueError(
                f"filter predicates not expressible as source params: {ops}; "
                "apply them engine-side (FilterSpec.apply after typed_cast) "
                "and pass allow_partial_pushdown=True"
            )
        # A pushed filter param overwriting a caller-supplied param of
        # the same name (or vice versa) would silently change which rows
        # the server returns — and could leave a caller-set base param
        # inconsistent with the pushed `_where` companion.  The clash
        # check compares FIELDS, not raw keys: a caller-set
        # `{col}_where` against a pushed `{col}` (or any other mixed
        # base/companion split of one field) rewrites the operator the
        # filter asked for, so it must be just as explicit.
        def _field(k: str) -> str:
            return k[: -len("_where")] if k.endswith("_where") else k

        clashes = sorted({_field(k) for k in extra} & {_field(k) for k in pushed})
        if clashes:
            raise ValueError(
                f"params and pushed filter params collide on fields "
                f"{clashes}; specify each field via either `params` or "
                "`filters`, not both"
            )
        extra.update(pushed)
    rows: list[dict] = []
    for page in range(1, MAX_PAGES + 1):
        chunk = fetcher(day, page, limit, extra)
        rows.extend(chunk)
        if len(chunk) < limit:
            break
    else:
        # every page came back full — EITHER the day has more data than
        # MAX_PAGES * limit rows, or it holds exactly that many and the
        # cap landed on the boundary by coincidence.  One probe page
        # past the cap tells them apart (ADVICE r7): an empty probe
        # means the day completed exactly at the cap; a short probe
        # means the day completes AT the probe (include it — still
        # bounded at MAX_PAGES + 1 fetches); only a FULL probe proves
        # real truncation.  Returning truncated rows would persist a
        # partition missing_partitions never re-selects (the day
        # "succeeded") — fail loudly so the caller raises `limit` or
        # splits the window (round-7 review).
        probe = fetcher(day, MAX_PAGES + 1, limit, extra)
        rows.extend(probe)
        if len(probe) >= limit:
            raise RuntimeError(
                f"partition {day.isoformat()} exceeded the page cap "
                f"({MAX_PAGES} pages x {limit} rows/page) with no short "
                "page — refusing to persist a truncated day; raise "
                "`limit` or narrow the request (filters/params)"
            )
    return rows


def ingest_day(
    spark: SparkSession,
    fetcher: PageFetcher,
    day: date,
    limit: int = DEFAULT_PAGE_LIMIT,
    filters: FilterSpec | None = None,
    allow_partial_pushdown: bool = False,
) -> DataFrame:
    """One day's raw records as a DataFrame (empty fetch -> error,
    ref base_assets.py:61-63).  ``allow_partial_pushdown`` passes
    through to :func:`fetch_day`; with it set, apply
    ``filters.to_column()`` after :func:`acled_spark.bronze.typed_cast`
    (the raw frame is all-string, so typed predicates belong after the
    cast)."""
    rows = fetch_day(
        fetcher, day, limit, filters,
        allow_partial_pushdown=allow_partial_pushdown,
    )
    if not rows:
        raise EmptyPartitionError(
            f"no data returned for partition {day.isoformat()}"
        )
    return _rows_to_df(spark, rows)


def _normalize_value(record: dict, name: str):
    """The ONE raw-record coercion rule (None-preserving str()), shared
    by the driver-side frame builder and the executor-side backfill so
    the two ingest paths cannot drift (round-7 review)."""
    v = record.get(name)
    return None if v is None else str(v)


def _rows_to_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Fetched records -> all-string raw frame (S3; one day is driver-
    sized by the source's own page cap).

    The day travels as Arrow string columns (:func:`arrow_frame`), so
    no action over the frame (checks, bronze write, upsert, count)
    re-pickles the day through a Python worker."""
    names = ACLED_RAW_SCHEMA.fieldNames()
    return arrow_frame(
        spark,
        [tuple([_normalize_value(r, n) for n in names]) for r in rows],
        ACLED_RAW_SCHEMA,
    )


#: Region name -> ACLED region codes, mirroring the reference's region
#: asset map (ref country_assets.py:11-14): a named region can span
#: several API region codes, each fetched with its own page loop.
REGIONS: dict[str, tuple[str, ...]] = {
    "Africa": ("1", "2", "3", "4", "5"),
    "Middle_East": ("11",),
}


def ingest_region(
    spark: SparkSession,
    fetcher: PageFetcher,
    day: date,
    region: str,
    limit: int = DEFAULT_PAGE_LIMIT,
    region_map: dict[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    """One day's raw records for a NAMED region as a DataFrame.

    The reference materializes per-region day assets by looping the
    region's API codes, setting ``config.region`` per code, and running
    the page loop for each (ref country_assets.py:35-72).  Here each
    code rides the existing param-pushdown path — ``{"region": code}``
    is a server-side filter exactly like a pushed DSL predicate — and
    the per-code row lists concatenate into one typed frame.  An empty
    region-day raises :class:`EmptyPartitionError` like
    :func:`ingest_day` (the reference logs-and-returns-empty; a typed
    error composes with ``run_backfill``'s skip handling).
    """
    codes = (region_map or REGIONS).get(region)
    if not codes:
        known = sorted(region_map or REGIONS)
        raise ValueError(f"unknown region {region!r}; known: {known}")
    rows: list[dict] = []
    for code in codes:
        rows.extend(fetch_day(fetcher, day, limit, params={"region": code}))
    if not rows:
        raise EmptyPartitionError(
            f"no data returned for region {region} on {day.isoformat()}"
        )
    return _rows_to_df(spark, rows)


def partition_days(start: date, end: date) -> list[date]:
    """Daily partition keys start..end inclusive (ref partitions.py:9-11)."""
    return [start + timedelta(days=i) for i in range((end - start).days + 1)]


def fetch_partition_range(
    spark: SparkSession,
    fetcher: PageFetcher,
    days: Sequence[date],
    limit: int = DEFAULT_PAGE_LIMIT,
) -> DataFrame:
    """Distributed backfill: fan per-day fetches out over executors.

    A day-keyed seed DataFrame is repartitioned so each task owns a
    subset of days and runs the page loop there (``mapInPandas`` —
    Arrow-batched).  This is the 1000-executor shape of the
    reference's sequential Dagster backfill (jobs.py:8-12, T7).
    The fetcher must be picklable and connection-safe per task.
    """
    import pandas as pd

    names = ACLED_RAW_SCHEMA.fieldNames()

    def run_days(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for iso_day in pdf["day"]:
                d = date.fromisoformat(iso_day)
                rows = fetch_day(fetcher, d, limit)
                if rows:
                    yield pd.DataFrame(
                        {
                            n: [_normalize_value(r, n) for r in rows]
                            for n in names
                        }
                    )

    schema_ddl = ", ".join(f"{n} string" for n in names)
    if not days:
        # natural no-op (a caller wiring missing_partitions() output in
        # when nothing is missing) — repartition(0) would raise
        return arrow_frame(spark, [], schema_ddl)
    seed = arrow_frame(
        spark, [(d.isoformat(),) for d in days], "day string"
    ).repartition(min(len(days), 64), "day")
    return seed.mapInPandas(run_days, schema=schema_ddl)
