"""Data-quality validation engine (SURVEY §2 asset checks, §5).

Re-expresses the reference's 13 hand-written checks plus the YAML-driven
check factory (``asset_checks/acled_checks.py``, ``base_checks.py:13-248``,
``checks.yaml``) as parameterized DataFrame aggregation checks.

Design: every aggregation-expressible check declares its aggregate
expressions (``Check.aggs``) and a driver-side ``finalize``; the runner
FUSES them into one ``df.agg`` per DISTINCT-aggregate group — a suite
with at most one distinct-bearing check costs a single scan/job no
matter how many checks it contains, and each additional distinct group
costs one more column-pruned pass instead of multiplying every row
through Spark's multi-distinct Expand rewrite (VERDICT r14 #7; see
``_expand_free_groups``).  The reference re-reads the partition per
check (``acled_checks.py:15-36``); at 100 TB the difference between
O(distinct groups) scans and N-checks scans IS the check budget.
Non-fusable checks (schema-only, groupBy-shaped) keep their own
callable; the frame is cached only when more than one action will run.
Blocking semantics = raise :class:`ValidationError` (Dagster's
``blocking=True`` halt, ``acled_checks.py:96,193,542``).
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


@dataclass(frozen=True)
class CheckResult:
    name: str
    passed: bool
    blocking: bool
    metrics: dict = field(default_factory=dict)
    description: str = ""


class ValidationError(RuntimeError):
    """A blocking check failed — downstream materialization must halt."""

    def __init__(self, failures: list[CheckResult]):
        self.failures = failures
        names = ", ".join(f.name for f in failures)
        super().__init__(f"blocking check(s) failed: {names}")


@dataclass(frozen=True)
class Check:
    """One check: either fusable (``aggs`` + ``finalize``) or a
    standalone callable.  Fusable checks still carry a derived ``fn``
    so ``check.run(df)`` works in isolation.

    ``has_distinct`` declares that the check's ``aggs`` carry a
    DISTINCT aggregate group (``count_distinct`` et al.); a fusable
    check carries at most one.  The runner uses it to keep each fused
    aggregation pass Expand-free (see ``_expand_free_groups``)."""

    name: str
    fn: Callable[[DataFrame], CheckResult]
    blocking: bool = False
    aggs: Mapping[str, Column] | None = None
    finalize: Callable[[dict], CheckResult] | None = None
    scan_free: bool = False  # True: touches schema only, runs no job
    has_distinct: bool = False

    def run(self, df: DataFrame) -> CheckResult:
        return self.fn(df)


def _standalone(aggs: Mapping[str, Column], finalize) -> Callable:
    """Derive a run-alone fn from the fused form (single-check path)."""

    def _fn(df: DataFrame) -> CheckResult:
        row = df.agg(*[e.alias(k) for k, e in aggs.items()]).collect()[0]
        return finalize({k: row[k] for k in aggs})

    return _fn


def _fused(
    name: str,
    blocking: bool,
    aggs: Mapping[str, Column],
    finalize,
    has_distinct: bool = False,
) -> Check:
    return Check(
        name, _standalone(aggs, finalize), blocking, aggs, finalize,
        has_distinct=has_distinct,
    )


def _expand_free_groups(fusable: Sequence[Check]) -> list[list[Check]]:
    """Partition fusable checks into aggregation passes that each carry
    at most ONE distinct-aggregate group.

    Spark rewrites an aggregate holding N > 1 DISTINCT groups via the
    Expand operator: every input row is replicated N+1 times through
    the aggregate (VERDICT r14 #7 measured it on the 31-aggregate
    events suite, which carried two distinct groups — pk_unique's key
    and domain's unknown-value set).  A single distinct group plans as
    a regular two-phase aggregate, so the first distinct-bearing check
    stays fused with every distinct-free check; each ADDITIONAL
    distinct-bearing check gets its own pass.  Each extra pass re-scans
    only the columns its own aggregates reference (column pruning
    reaches the scan), which is why the runner deliberately does NOT
    cache the frame for these passes — caching would materialize every
    column of every row to save pruned re-scans that are narrower than
    the cache write itself.
    """
    groups: list[list[Check]] = [[]]
    for c in fusable:
        if c.has_distinct and any(x.has_distinct for x in groups[0]):
            groups.append([c])
        else:
            groups[0].append(c)
    return [g for g in groups if g]


def run_checks(
    df: DataFrame, checks: Sequence[Check], raise_on_blocking: bool = True
) -> list[CheckResult]:
    """Run a check suite: fusable checks share one aggregation job per
    distinct-aggregate group (``_expand_free_groups``) — one job total
    for any suite with at most one distinct-bearing check.

    Results preserve the order of ``checks``.  The frame is cached only
    when more than one Spark action will actually run (fused block +
    each non-fusable check); a fully-fusable suite is one uncached
    pass.

    ASSUMPTION: ``df`` is rooted at a scan or at a fixed in-JVM
    relation (``run_day``'s typed day, built from Arrow batches).  The
    distinct-split passes each re-evaluate ``df``'s lineage; over such
    a root that is cheap and every pass reads the same snapshot.  A
    caller with a derived frame (joins or upserts upstream) or a
    non-deterministic one (an executor-side fetch) should cache or
    checkpoint it first.
    """
    checks = list(checks)  # a generator would be exhausted by the splits
    fusable = [c for c in checks if c.aggs is not None]
    standalone = [c for c in checks if c.aggs is None]
    # schema-only checks run no Spark job, so they must not tip the
    # suite into caching the frame.  The fused block counts as ONE
    # action even when the distinct split runs extra passes: those
    # passes read only their own (pruned) columns, so caching the full
    # frame to serve them costs more than the re-scans it saves.
    n_actions = (1 if fusable else 0) + sum(
        1 for c in standalone if not c.scan_free
    )
    # never unpersist a cache the CALLER created: cache() on an
    # already-cached frame is a no-op, so the finally-block unpersist
    # would silently destroy the caller's persistence for every action
    # AFTER this suite (round-7 review)
    cached = n_actions > 1 and not df.is_cached
    if cached:
        df = df.cache()
    try:
        results: dict[int, CheckResult] = {}
        if fusable:
            idx = {id(c): ci for ci, c in enumerate(fusable)}
            for grp in _expand_free_groups(fusable):
                exprs = [
                    expr.alias(f"c{idx[id(c)]}__{key}")
                    for c in grp
                    for key, expr in c.aggs.items()
                ]
                row = df.agg(*exprs).collect()[0]
                for c in grp:
                    sub = {key: row[f"c{idx[id(c)]}__{key}"] for key in c.aggs}
                    results[id(c)] = c.finalize(sub)
        for c in standalone:
            results[id(c)] = c.run(df)
    finally:
        if cached:
            df.unpersist()
    ordered = [results[id(c)] for c in checks]
    blocking_failures = [r for r in ordered if not r.passed and r.blocking]
    if blocking_failures and raise_on_blocking:
        raise ValidationError(blocking_failures)
    return ordered


# ---------------------------------------------------------------------------
# Parameterized check builders (the YAML factory's vocabulary,
# ref base_checks.py + checks.yaml)
# ---------------------------------------------------------------------------

def non_empty(blocking: bool = True) -> Check:
    """Partition must contain rows (ref acled_checks.py:92-135, blocking)."""
    aggs = {"row_count": F.count(F.lit(1))}

    def finalize(m: dict) -> CheckResult:
        return CheckResult(
            "non_empty", m["row_count"] > 0, blocking,
            {"row_count": m["row_count"]},
            "partition contains at least one row",
        )

    return _fused("non_empty", blocking, aggs, finalize)


def required_columns(columns: Sequence[str], blocking: bool = False) -> Check:
    """All required columns present (ref acled_checks.py:138-186,
    checks.yaml:19-27).  Schema-only: costs no scan, stays unfused."""

    def _fn(df: DataFrame) -> CheckResult:
        missing = [c for c in columns if c not in df.columns]
        return CheckResult(
            "required_columns", not missing, blocking,
            {"missing": missing}, "schema contains all required columns",
        )

    return Check("required_columns", _fn, blocking, scan_free=True)


def value_range(
    column: str,
    lo: float | None = None,
    hi: float | None = None,
    allow_null: bool = True,
    blocking: bool = False,
) -> Check:
    """Column values within [lo, hi] (ref acled_checks.py:249-331 coords,
    :334-399 fatalities; checks.yaml:40-41)."""
    if lo is None and hi is None:
        raise ValueError(
            f"value_range[{column}]: at least one of lo/hi is required — "
            "a boundless range check would pass vacuously"
        )
    c = F.col(column)
    # NaN is out-of-range for ANY bounds: `NaN < lo` is false, so a
    # lower-bound-only check would otherwise pass a column of 0/0
    # garbage (NaN > hi happens to be true, masking the gap when an
    # upper bound is set).  try_cast makes the probe AND the bound
    # comparisons total under BOTH ANSI modes: over a string column
    # (the raw-bronze shape) a plain cast — or the implicit one inside
    # `c < lo` — aborts the whole fused check job under ANSI=true with
    # CAST_INVALID_INPUT, while try_cast yields NULL there exactly as
    # the non-ANSI cast always did; un-castable values are therefore
    # not range-violations (pair with a domain/regex check for those).
    # Caveat of comparing through double: integral values beyond 2^53
    # compare with double precision (r11 session-conf-drift review).
    cd = c.try_cast("double")
    bad = F.isnan(cd)
    if lo is not None:
        bad = bad | (cd < lo)
    if hi is not None:
        bad = bad | (cd > hi)
    aggs = {
        "out_of_range": F.count(F.when(bad, 1)),
        "nulls": F.count(F.when(c.isNull(), 1)),
    }

    def finalize(m: dict) -> CheckResult:
        bad_n = m["out_of_range"] + (0 if allow_null else m["nulls"])
        return CheckResult(
            f"value_range[{column}]", bad_n == 0, blocking,
            {"out_of_range": m["out_of_range"], "nulls": m["nulls"]},
            f"{column} within [{lo}, {hi}]",
        )

    return _fused(f"value_range[{column}]", blocking, aggs, finalize)


def domain_membership(
    column: str,
    valid: Sequence[str],
    blocking: bool = False,
    allow_null: bool = False,
) -> Check:
    """All values in a fixed domain; reports unknown + missing categories
    via anti-membership set logic (ref acled_checks.py:402-472, J3).

    Aggregation-state discipline (r8 scale lens): the adversarial case
    this check SCREENS FOR — per-row garbage (UUIDs, payloads) written
    into a categorical column — is exactly where a naive
    ``collect_set`` of the raw values grows to row cardinality in one
    unspillable in-memory buffer and ships the whole set to the driver,
    OOMing the validation job instead of reporting the failure.  So:
    the KNOWN-value set is collected only over values inside the
    declared domain (bounded by |domain| by construction — it feeds the
    ``missing`` report), the unknown side is an EXACT
    ``count_distinct`` (the spillable hash-aggregate path; one long
    crosses to the driver), and the report carries bounded min/max
    example values instead of the full set.

    NULL is not in any declared domain and every set/count expression
    here silently drops it — counted separately so a NULL-flooded
    column can't sail through as "all values valid" (``allow_null=True``
    restores the lenient reading for optional columns)."""
    vals = list(valid)
    col = F.col(column)
    unknown_val = F.when(~col.isin(vals) & col.isNotNull(), col)
    aggs = {
        "known": F.collect_set(F.when(col.isin(vals), col)),
        "n_unknown": F.count_distinct(unknown_val),
        "unknown_lo": F.min(unknown_val),
        "unknown_hi": F.max(unknown_val),
        "nulls": F.count(F.when(col.isNull(), 1)),
    }

    def finalize(m: dict) -> CheckResult:
        known = set(m["known"] or [])
        missing = sorted(set(valid) - known)
        examples = sorted(
            {v for v in (m["unknown_lo"], m["unknown_hi"]) if v is not None}
        )
        null_ok = allow_null or m["nulls"] == 0
        return CheckResult(
            f"domain[{column}]", m["n_unknown"] == 0 and null_ok, blocking,
            {
                "n_unknown": m["n_unknown"],
                "unknown_examples": examples,
                "missing": missing,
                "nulls": m["nulls"],
            },
            f"{column} values within the declared domain",
        )

    # the exact unknown-value count is a DISTINCT aggregate — declared
    # so the runner keeps fused passes Expand-free
    return _fused(f"domain[{column}]", blocking, aggs, finalize, has_distinct=True)


def pk_unique(columns: Sequence[str], blocking: bool = False) -> Check:
    """Primary key uniqueness (ref acled_checks.py:475-534, checks.yaml:68-69).

    NULL-bearing keys fail the check explicitly (a primary key is
    NOT NULL by definition — Postgres, the reference's store, enforces
    exactly this) and are reported separately from duplicates so the
    two defects aren't conflated.  ``count_distinct`` skips NULL-keyed
    rows, so duplicates are computed among the non-null keys only.
    """
    key_is_null = F.lit(False)
    for c in columns:
        key_is_null = key_is_null | F.col(c).isNull()
    aggs = {
        "rows": F.count(F.lit(1)),
        "distinct_keys": F.count_distinct(*[F.col(c) for c in columns]),
        "null_keys": F.count(F.when(key_is_null, 1)),
    }

    def finalize(m: dict) -> CheckResult:
        total, distinct, nulls = m["rows"], m["distinct_keys"], m["null_keys"]
        duplicates = total - distinct - nulls
        return CheckResult(
            # key embedded in the name, like value_range[...]/domain[...]:
            # two pk_unique checks in one suite must stay distinguishable
            # in results and failure reports
            f"pk_unique[{', '.join(columns)}]",
            duplicates == 0 and nulls == 0, blocking,
            {"rows": total, "distinct_keys": distinct,
             "duplicates": duplicates, "null_keys": nulls},
            f"({', '.join(columns)}) unique and non-null",
        )

    # distinct_keys is a DISTINCT aggregate (Expand-free pass
    # partitioning in the runner)
    return _fused(
        f"pk_unique[{', '.join(columns)}]", blocking, aggs, finalize,
        has_distinct=True,
    )


def row_count_bounds(
    lo: int = 1, hi: int = 10_000, blocking: bool = True
) -> Check:
    """Row count within expected bounds (ref acled_checks.py:538-620,
    1..10000/day, blocking)."""
    aggs = {"row_count": F.count(F.lit(1))}

    def finalize(m: dict) -> CheckResult:
        n = m["row_count"]
        return CheckResult(
            "row_count_bounds", lo <= n <= hi, blocking,
            {"row_count": n, "lo": lo, "hi": hi},
            f"row count within [{lo}, {hi}]",
        )

    return _fused("row_count_bounds", blocking, aggs, finalize)


def completeness(
    columns: Sequence[str], min_pct: float = 95.0, blocking: bool = False
) -> Check:
    """Critical-field completeness >= min_pct, null+empty aware in one pass
    (ref acled_checks.py:623-722).

    The miss predicate is ``NULL OR cast(col AS STRING) = ''`` — the
    column dtype isn't known until the frame arrives, so the empty
    rule is expressed through the cast: numeric/date/timestamp values
    never stringify to ``''`` (the OR is inert for them), strings get
    the reference's null+empty semantics, and an empty BINARY value
    also stringifies to ``''`` and counts as missing (deliberate: an
    empty payload is as absent as an empty string).
    """
    if not columns:
        # fail the CONFIG at build time: an empty list would divide by
        # zero in finalize only after the Spark job already ran
        raise ValueError("completeness() requires at least one column")
    aggs: dict[str, Column] = {}
    for c in columns:
        col = F.col(c)
        missing = col.isNull() | (col.cast("string") == "")
        aggs[f"miss__{c}"] = F.count(F.when(missing, 1))
    aggs["total"] = F.count(F.lit(1))

    def finalize(m: dict) -> CheckResult:
        total = m["total"]
        per_col = {c: m[f"miss__{c}"] for c in columns}
        missing_total = sum(per_col.values())
        pct = (
            100.0
            if total == 0
            else 100.0 * (1 - missing_total / (total * len(columns)))
        )
        # columns embedded in the name, like pk_unique[...]: two
        # completeness checks in one suite (critical vs optional column
        # sets) must stay distinguishable in results and failure reports
        return CheckResult(
            f"completeness[{', '.join(columns)}]", pct >= min_pct, blocking,
            {"completeness_pct": round(pct, 2), "missing_by_column": per_col},
            f"critical fields >= {min_pct}% complete",
        )

    return _fused(f"completeness[{', '.join(columns)}]", blocking, aggs, finalize)


def dominance(
    column: str, max_share_pct: float = 80.0, blocking: bool = False
) -> Check:
    """No single category may dominate (ref acled_checks.py:818-936:
    >80% single event_type is an alarm).  Needs a groupBy — not fusable
    into the scalar-aggregate pass."""

    def _fn(df: DataFrame) -> CheckResult:
        top = (
            df.groupBy(column)
            .count()
            .withColumn(
                "share",
                100.0 * F.col("count") / F.sum("count").over(Window.partitionBy()),
            )
            .orderBy(F.desc("count"))
            .limit(1)
            .collect()
        )
        if not top:
            return CheckResult(
                f"dominance[{column}]", True, blocking, {}, "empty frame"
            )
        share = top[0]["share"]
        return CheckResult(
            f"dominance[{column}]", share <= max_share_pct, blocking,
            {"top_value": top[0][column], "share_pct": round(share, 2)},
            f"no {column} above {max_share_pct}% share",
        )

    return Check(f"dominance[{column}]", _fn, blocking)


def partition_date_match(
    column: str, expected_date, blocking: bool = True
) -> Check:
    """Every row's date equals the partition day (ref acled_checks.py:189-246,
    blocking)."""
    c = F.col(column)
    aggs = {
        "mismatched_rows": F.count(
            F.when(c.isNull() | (c != F.lit(expected_date)), 1)
        )
    }

    def finalize(m: dict) -> CheckResult:
        bad = m["mismatched_rows"]
        # column embedded in the name (round-7 review): two date-match
        # checks on different columns must stay distinguishable
        return CheckResult(
            f"partition_date_match[{column}]", bad == 0, blocking,
            {"mismatched_rows": bad, "expected": str(expected_date)},
            f"{column} == partition day {expected_date}",
        )

    return _fused(f"partition_date_match[{column}]", blocking, aggs, finalize)
