"""The benchmark workloads: the daily ELT flow, the corpus release flow,
both together as the write side, and the analytics read mix.

Each workload is a closed loop with one caller: :meth:`op` runs one
user-visible operation and returns only when it has finished, and the
runner starts the next one after that.  A workload prepares its inputs
and bootstraps its state in :meth:`prepare`, checks each operation's
result outside the timed region, and checks the final state in
:meth:`verify`.

``cycle`` is the number of operations in one full turn of the
workload's operation mix; the runner always stops on a cycle boundary,
so every run measures the same mix.
"""

from __future__ import annotations

import datetime
import math
import os
import time
from dataclasses import dataclass

import gen
from procs import tree_cpu_s
from spans import median, self_time


@dataclass
class OpRecord:
    kind: str
    wall_s: float
    items: int
    ok: bool
    traced: bool = False
    problem: str = ""
    span: object = None
    pages: int = 0  # pages fetched, for run_day operations
    cpu_s: float = 0.0  # CPU time of the process tree during the call


class Workload:
    name = ""
    cycle = 1
    #: whole cycles an untraced run measures at least
    min_cycles = 1
    #: untimed operations at the end of set-up
    warmup_ops = 1

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.n_ops = 0

    def prepare(self) -> None:
        """Generate inputs and bootstrap state (part of set-up)."""

    def op(self, tracer=None) -> OpRecord:
        raise NotImplementedError

    def verify(self, records: list[OpRecord]) -> list[str]:
        """Final-state check; marks failed records and returns problems."""
        return []

    def layers(self, tracer) -> None:
        """Wrap this workload's layer entry points on ``tracer``."""

    def layer_metrics(self, tracer, records: list[OpRecord]) -> dict[str, float]:
        return {}

    def rates(self, records: list[OpRecord]) -> list[tuple[str, float, str]]:
        """Throughputs for the report: (name, value, unit)."""
        return []

    def warm_up(self) -> list[OpRecord]:
        """The untimed operations that end set-up."""
        return [self.op() for _ in range(self.warmup_ops)]

    def _timed(self, kind: str, tracer, fn):
        """Run ``fn`` as one operation; returns (wall seconds, CPU seconds,
        result, span).  The CPU time is the whole process tree's (see
        :func:`procs.tree_cpu_s`), read just outside the wall clock."""
        self.n_ops += 1
        c0 = tree_cpu_s()
        if tracer is None:
            t0 = time.perf_counter()
            out = fn()
            wall, s = time.perf_counter() - t0, None
        else:
            with tracer.span("op", kind=kind) as s:
                out = fn()
            wall = s.wall_s
        return wall, tree_cpu_s() - c0, out, s


def _rate(records, kinds) -> float:
    """Items per second of operation wall time over ``kinds``."""
    ops = [r for r in records if r.kind in kinds]
    wall = sum(r.wall_s for r in ops)
    return sum(r.items for r in ops) / wall if wall else 0.0


def _per_call(tracer, records, name, attr, kinds=None):
    """Median over the traced operations' ``name`` spans of ``attr``."""
    return median([
        getattr(s, attr)
        for r in records
        if r.traced and (kinds is None or r.kind in kinds)
        for s in tracer.subtree(r.span)
        if s.name == name
    ])


def _per_op(tracer, records, name, kinds):
    """Median over traced operations of the summed wall time of their
    direct ``name`` child spans (0 for an op that made no such call)."""
    return median([
        sum(s.wall_s for s in tracer.children(r.span) if s.name == name)
        for r in records if r.traced and r.kind in kinds
    ])


def _op_self(tracer, records, kinds):
    """Median self time of the traced operations' own spans."""
    return median([
        self_time(r.span, tracer.children(r.span))
        for r in records if r.traced and r.kind in kinds
    ])


# ---------------------------------------------------------------------------
# daily_elt
# ---------------------------------------------------------------------------


class DailyElt(Workload):
    """``pipeline.run_day`` over consecutive days; every
    ``gen.REPLAY_EVERY``-th call replays an earlier day with corrected
    rows (the upsert's merge-with-existing branch)."""

    name = "daily_elt"
    cycle = gen.REPLAY_EVERY

    def prepare(self) -> None:
        self.feed = gen.AcledFeed(self.seed)
        self.bronze = os.path.join(self.work_dir, "bronze")
        self.silver = os.path.join(self.work_dir, "silver")
        self.day_ops: dict[datetime.date, list[OpRecord]] = {}

    def op(self, tracer=None) -> OpRecord:
        from acled_spark.pipeline import run_day

        batch = self.feed.next_batch()  # generated outside the timed call
        pages: list[int] = []
        fetch = self.feed.fetcher(batch, pages)
        kind = "replay" if batch.version else "fresh"
        wall, cpu, res, span = self._timed(
            kind, tracer,
            lambda: run_day(self.spark, fetch, batch.day, self.bronze, self.silver, page_limit=1000),
        )
        problem = ""
        if not res.passed:
            problem = f"{batch.day}: a check suite failed"
        elif res.rows != len(batch.rows):
            problem = f"{batch.day}: run_day reported {res.rows} rows, fetched {len(batch.rows)}"
        rec = OpRecord(kind, wall, res.rows, not problem, span is not None, problem, span, len(pages), cpu_s=cpu)
        self.day_ops.setdefault(batch.day, []).append(rec)
        return rec

    def verify(self, records):
        rows = (
            self.spark.read.parquet(self.silver)
            .select("event_id_cnty", "event_date", "fatalities", "notes")
            .collect()
        )
        got: dict[datetime.date, dict[str, tuple]] = {}
        for r in rows:
            got.setdefault(r["event_date"], {})[r["event_id_cnty"]] = (r["fatalities"], r["notes"])
        problems = []
        for day, expected in self.feed.expected.items():
            want = {k: (int(v["fatalities"]), v["notes"]) for k, v in expected.items()}
            have = got.pop(day, {})
            if have != want:
                missing = len(want.keys() - have.keys())
                extra = len(have.keys() - want.keys())
                wrong = sum(1 for k in want.keys() & have.keys() if want[k] != have[k])
                problems.append(f"silver {day}: {missing} missing, {extra} extra, {wrong} wrong values")
                for rec in self.day_ops.get(day, []):
                    rec.ok = False
        if got:
            problems.append(f"silver holds unexpected days {sorted(got)}")
        return problems

    def rates(self, records):
        return [("rows_per_s", _rate(records, {"fresh", "replay"}), "rows/s")]

    def layers(self, tracer):
        tracer.wrap("acled_spark.pipeline", "ingest_day", "source.ingest")
        tracer.wrap("acled_spark.pipeline", "run_checks", "checks.run")
        tracer.wrap("acled_spark.pipeline", "write_bronze", "bronze.write")
        tracer.wrap("acled_spark.pipeline", "upsert_partitioned", "silver.upsert")

    def layer_metrics(self, tracer, records):
        days = {"fresh", "replay"}
        return {
            "source.ingest_s": _per_call(tracer, records, "source.ingest", "wall_s", days),
            "source.pages": median([r.pages for r in records if r.traced and r.kind in days]),
            "bronze.write_s": _per_call(tracer, records, "bronze.write", "wall_s", days),
            "checks.run_s": _per_call(tracer, records, "checks.run", "wall_s", days),
            "checks.jobs": _per_call(tracer, records, "checks.run", "jobs", days),
            "silver.upsert_fresh_s": _per_call(tracer, records, "silver.upsert", "wall_s", {"fresh"}),
            "silver.upsert_replay_s": _per_call(tracer, records, "silver.upsert", "wall_s", {"replay"}),
            "silver.jobs_fresh": _per_call(tracer, records, "silver.upsert", "jobs", {"fresh"}),
            "silver.jobs_replay": _per_call(tracer, records, "silver.upsert", "jobs", {"replay"}),
            "pipeline.self_s": _op_self(tracer, records, days),
        }


# ---------------------------------------------------------------------------
# corpus_release
# ---------------------------------------------------------------------------


class CorpusReleaseFlow(Workload):
    """Successive ``CorpusRelease.apply`` calls over a growing
    ``documents`` corpus, with the drift gate and a 4-shard export."""

    name = "corpus_release"
    shards = 4
    #: documents in the bootstrap corpus (the sf0.1 documents table's size)
    n_docs = 5000

    def prepare(self) -> None:
        from acled_spark.dedup_store import init_store
        from acled_spark.drift import init_reference
        from acled_spark.release import CorpusRelease

        self.releases = gen.DocumentReleases(self.seed, n_docs=self.n_docs)
        self.snapshot = gen.write_documents(self.releases.base, self._path("snapshot-0.parquet"))
        base = self.spark.read.parquet(self.snapshot)
        store, ref = self._path("store"), self._path("drift_ref")
        init_store(base, store)
        init_reference(base, ref, value_col="n_chars", group_col="source", width=200.0)
        self.runner = CorpusRelease(store, drift_root=ref)

    def _path(self, name: str) -> str:
        return os.path.join(self.work_dir, name)

    def op(self, tracer=None) -> OpRecord:
        rel = self.releases.next_release()
        new_path = gen.write_documents(rel.docs, self._path(f"snapshot-{rel.number}.parquet"))
        old = self.spark.read.parquet(self.snapshot)
        new = self.spark.read.parquet(new_path)
        export = self._path(f"export-{rel.number}")
        wall, cpu, res, span = self._timed(
            "release", tracer,
            lambda: self.runner.apply(
                self.spark, old, new, export_path=export,
                shuffle_seed=f"release-{rel.number}", shards=self.shards,
            ),
        )
        self.snapshot = new_path
        problem = ""
        if res.status_counts != rel.status_counts:
            problem = f"release {rel.number}: status_counts {res.status_counts} != {rel.status_counts}"
        elif res.appended != rel.expected_appended:
            problem = f"release {rel.number}: appended {res.appended} != {rel.expected_appended}"
        elif res.exported != res.appended:
            problem = f"release {rel.number}: exported {res.exported} != appended {res.appended}"
        elif res.manifest_problems:
            problem = f"release {rel.number}: manifest problems {res.manifest_problems[:2]}"
        elif not res.drift_scores or not all(math.isfinite(r["psi"]) for r in res.drift_scores):
            problem = f"release {rel.number}: drift gate produced no finite scores"
        return OpRecord("release", wall, rel.delta_docs, not problem,
                        span is not None, problem, span, cpu_s=cpu)

    def rates(self, records):
        return [("delta_docs_per_s", _rate(records, {"release"}), "docs/s")]

    def layers(self, tracer):
        tracer.wrap("acled_spark.queries.cdc", "snapshot_diff", "cdc.diff")
        tracer.wrap("acled_spark.dedup_store", "retire_ids", "dedup_store.retire")
        tracer.wrap("acled_spark.dedup_store", "process_batch", "dedup_store.process")
        from acled_spark.drift import DriftMonitor

        tracer.wrap(DriftMonitor, "__call__", "drift.score")
        tracer.wrap("acled_spark.export", "write_jsonl", "export.write")
        for fn in ("read_jsonl", "write_manifest", "verify_manifest", "corrupt_line_audit"):
            tracer.wrap("acled_spark.export", fn, "export.verify")

    def layer_metrics(self, tracer, records):
        rel = {"release"}
        out = {
            f"{span}_s": _per_op(tracer, records, span, rel)
            for span in ("cdc.diff", "dedup_store.retire", "dedup_store.process",
                         "drift.score", "export.write", "export.verify")
        }
        out["release.self_s"] = _op_self(tracer, records, rel)
        return out


# ---------------------------------------------------------------------------
# analytics_read
# ---------------------------------------------------------------------------

#: The query mix of one dashboard refresh.  The rule is one query per tag
#: family plus the ROADMAP targets (t3_tumbling_window, sim_ann_ivf,
#: dedup_semantic, a19_approx_distinct) and the two queries that read the
#: write path's layers (chk_validation_summary -> the checks engine,
#: s8_upsert_merge -> silver.merge_updates).  That full mix (23 operations
#: with report.compute_kpis) takes about 33 s per warm pass on 4 cores, and
#: a run can hold about 5 s, so it is trimmed to the two write-path readers
#: and the first target, t3_tumbling_window (8 jobs, ~2.3 s).
#: a19_approx_distinct (6 jobs, ~3.2 s), sim_ann_ivf (36 jobs, ~5.3 s),
#: dedup_semantic (30 jobs, ~4.4 s), report.compute_kpis (24 jobs, ~2.5 s)
#: and the per-family breadth are left out for time.
MIX = (
    "t3_tumbling_window",
    "chk_validation_summary",
    "s8_upsert_merge",
)
#: Scale factor of the generated registry tables.  ROADMAP's bench runs
#: at sf0.1; measured on 4 cores, warm per-query times at sf0.1 are
#: 0.8-1.3x those at sf0.01 with the same job counts, but sf0.1 needs a
#: second warm-up pass (its second pass ran 1.8x slower than its third,
#: sf0.01's ran as fast), which the run cannot hold.
ANALYTICS_SF = 0.01


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, dict):
        return tuple(_norm(x) for x in v.values())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def canonical(columns: list[str], rows: list) -> tuple:
    """Order-insensitive form of a result: columns sorted by name, then rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(row[i]) for i in order) for row in rows]
    out.sort(key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))
    return tuple(columns[i] for i in order), tuple(out)


class AnalyticsRead(Workload):
    """Repeated passes over :data:`MIX` on generated registry tables."""

    name = "analytics_read"
    cycle = len(MIX)
    # one warm-up pass: every query compiles its own plans
    warmup_ops = len(MIX)
    # the pass after it still runs 10-50% slower than the next, so every
    # run measures the same two passes and op_p50_s takes each query's
    # median over them first
    min_cycles = 2

    def prepare(self) -> None:
        import duckdb

        from acled_spark.registry import all_specs

        self.data_dir = os.path.join(self.work_dir, "tables")
        gen.write_analytics_tables(self.seed, self.data_dir, ANALYTICS_SF)
        self.specs = all_specs()
        self.expected: dict[str, tuple] = {}
        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(self.data_dir)):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(self.data_dir, f)}')"
                )
            for name in MIX:
                oracle = self.specs[name].oracle
                if oracle is not None:
                    res = con.execute(oracle)
                    self.expected[name] = canonical([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        self.seen: dict[str, int] = {}

    def op(self, tracer=None) -> OpRecord:
        name = MIX[self.n_ops % len(MIX)]
        builder = self.specs[name].builder
        wall, cpu, (cols, rows), span = self._timed(name, tracer, lambda: self._collect(builder))
        problem = ""
        if name in self.expected:
            if canonical(cols, rows) != self.expected[name]:
                problem = f"{name}: result differs from the DuckDB oracle"
        elif not rows:
            problem = f"{name}: no rows"
        elif self.seen.setdefault(name, len(rows)) != len(rows):
            problem = f"{name}: row count changed between passes"
        return OpRecord(name, wall, 1, not problem, span is not None, problem, span, cpu_s=cpu)

    def _collect(self, builder):
        df = builder(self.spark, self.data_dir)
        return list(df.columns), [tuple(r) for r in df.collect()]

    def layers(self, tracer):
        tracer.wrap("acled_spark.checks.engine", "run_checks", "checks.run")
        tracer.wrap("acled_spark.queries.pipeline", "merge_updates", "silver.merge")

    def layer_metrics(self, tracer, records):
        out = {
            "checks.run_s": _per_call(tracer, records, "checks.run", "wall_s"),
            "checks.jobs": _per_call(tracer, records, "checks.run", "jobs"),
            "silver.merge_s": _per_call(tracer, records, "silver.merge", "wall_s"),
        }
        for name in MIX:
            ops = [r for r in records if r.traced and r.kind == name]
            out[f"query.{name}.wall_s"] = median([r.wall_s for r in ops])
            out[f"query.{name}.jobs"] = median([
                sum(s.jobs for s in tracer.subtree(r.span)) for r in ops
            ])
        return out


# ---------------------------------------------------------------------------
# ingest_release: the write side in one loop
# ---------------------------------------------------------------------------


class IngestRelease(Workload):
    """The write side of the system as one closed loop: each cycle cuts
    one corpus release and runs the daily ELT for one corrected replay and
    one fresh day.  Both flows share one session, as they would in a
    nightly job."""

    name = "ingest_release"
    cycle = gen.REPLAY_EVERY + 1

    def __init__(self, spark, work_dir, seed):
        super().__init__(spark, work_dir, seed)
        self.daily = DailyElt(spark, os.path.join(work_dir, "daily"), seed)
        self.release = CorpusReleaseFlow(spark, os.path.join(work_dir, "release"), seed)

    def prepare(self) -> None:
        for w in (self.daily, self.release):
            os.makedirs(w.work_dir)
            w.prepare()

    def warm_up(self) -> list[OpRecord]:
        # one day only: a warm-up release as well does not fit the run
        # budget, so the first measured release is the session's first
        return [self.daily.op()]

    def op(self, tracer=None) -> OpRecord:
        # the release leads each cycle, so the days measured after the
        # warm-up have the longest run-in
        flow = self.release if self.n_ops % self.cycle == 0 else self.daily
        self.n_ops += 1
        return flow.op(tracer)

    def verify(self, records):
        return self.daily.verify(records)

    def rates(self, records):
        return self.daily.rates(records) + self.release.rates(records)

    def layers(self, tracer):
        self.daily.layers(tracer)
        self.release.layers(tracer)

    def layer_metrics(self, tracer, records):
        return {
            **self.daily.layer_metrics(tracer, records),
            **self.release.layer_metrics(tracer, records),
        }


WORKLOADS = {w.name: w for w in (IngestRelease, AnalyticsRead, DailyElt, CorpusReleaseFlow)}
