#!/usr/bin/env python
"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line:  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total across ALL registered queries.  The printed
``queries`` map is the headline subset — slowest-first, plus every
failure — trimmed so the whole line stays under the driver's 2000-char
stdout-tail capture (round 1's full 100-query line was ~3.3 KB and the
driver recorded ``parsed: null``).  Full per-query timings always land
in BENCH_FULL.json next to this script.

Timing protocol: each query runs once untimed, then TWICE timed
back-to-back, and the min is reported (stdout line and
BENCH_FULL.json) — single timings fold in one-off JIT/codegen/
page-cache costs that dominated round-over-round comparisons (SCALE.md
methodology has the measured spread).  Each pass also reads the CPU
seconds of the process tree (this process, the Spark JVM and its
Python workers; ``perfbench.procs``, the instrument BENCHMARK.json
gates on).  When the two passes disagree by >1.5x in
wall or CPU time, or one has no CPU reading, an ADAPTIVE THIRD pass
runs (VERDICT r7 #6: min-of-2 still lets one bad pass pair inflate a
hot query).  BENCH_FULL.json records the min wall time as
``queries``, the min CPU reading as ``cpu``, per-query ``spread``
(second-best/best wall — the residual uncertainty OF the reported
min) and ``passes``, beside the run's ``sf`` and ``cores``.  A pass
during which a process of the tree ended has no CPU reading: the tree
sum loses the whole CPU time of a process nobody reaps, which is what
pyspark's worker daemon does with the Python workers the JVM retires.

Regression guard (VERDICT r1 #9):

    python bench.py --check [baseline.json]

re-runs the bench and exits 1 if any query's CPU seconds are BOTH
>1.5x the baseline's (default: the committed BENCH_FULL.json) AND
>0.5s over it.  CPU time, not wall time: a vCPU the host steals adds
wall time to every query but no CPU time to the run, so a wall gate
on a shared host flags the box, not the plan (SCALE.md
§bench-methodology has the measured comparison).  Load elsewhere on
the host still slows the vCPUs (shared caches, memory) and so adds
CPU time in bursts: a query past the gate is timed once more after
the suite, and that second timing is the one judged and recorded.
A baseline without a ``cpu`` map, or recorded at another sf or core
count, cannot be judged against: ``--check`` exits 2 before any Spark
work.  A full run that passes, or runs without ``--check``, rewrites
BENCH_FULL.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

from acled_spark.registry import all_specs
from acled_spark.session import get_spark
from perfbench.procs import descendants, tree_cpu_s

_REPO = os.path.dirname(os.path.abspath(__file__))
FULL_PATH = os.path.join(_REPO, "BENCH_FULL.json")
# Driver captures the last 2000 chars of stdout; leave headroom.
_LINE_BUDGET = 1900


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _disagree(values: list[float]) -> bool:
    return max(values) > 1.5 * min(values)


def adaptive_passes(run_once) -> list[tuple[float, float | None]]:
    """Two timed passes, plus a THIRD when they disagree by >1.5x in
    wall or CPU time (VERDICT r7 #6), or when one has no CPU reading:
    that much disagreement means one pass drew a one-off cost (GC
    pause, JIT backlog, page-cache miss), and min-of-2 would let a
    single bad pair inflate a hot query round-over-round.
    ``run_once`` returns ``(wall_s, cpu_s or None)``; the caller
    reports the min of each."""
    passes = [run_once(), run_once()]
    cpus = [c for _, c in passes if c is not None]
    if _disagree([w for w, _ in passes]) or len(cpus) < 2 or _disagree(cpus):
        passes.append(run_once())
    return passes


def bench_shape() -> tuple[str, float | str, int]:
    """``(sf_dir, sf, cores)`` of this run, read from the environment
    before any Spark work: ``--check`` refuses a baseline recorded at
    another sf or core count, and the run records both beside it.
    The session runs on exactly ``local[cores]``, so the recorded count
    is the parallelism Spark ran with (``local[*]`` would follow the
    JVM's own processor count instead)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    cores = int(cpus) if cpus.isdigit() else len(os.sched_getaffinity(0))
    return sf_dir, sf_val, cores


def run_bench(only: set[str] | None = None, retime=None) -> dict:
    """Returns ``{"timings", "cpu", "spread", "passes"}`` — four maps
    over the SAME key set (failures carry timings -1.0 / cpu -1.0 /
    spread -1.0 / passes 0, so consumers can zip them without key
    checks; cpu is also -1.0 when no pass has a CPU reading).
    ``only``: the query subset to time, validated by main().
    ``retime``: given the ``cpu`` map after the suite, the queries to
    time again (``--check`` passes the ones past its gate)."""
    sf_dir, _sf, cores = bench_shape()
    spark = get_spark(app_name="acled-spark-bench", master=f"local[{cores}]")

    all_ = all_specs()
    specs = {k: v for k, v in all_.items() if only is None or k in only}
    # Warm the JVM + parquet footers once so per-query numbers measure the
    # query, not session startup.
    from acled_spark.tables import TABLE_NAMES, load

    for t in TABLE_NAMES:
        load(spark, sf_dir, t).count()
    # Untimed warmup across the execution machinery (codegen for
    # aggregate/window/broadcast-join paths): without it, whichever
    # queries happen to run first pay one-off JIT/codegen cost and
    # bench --check flags ordering noise as a regression (the f16 case,
    # VERDICT r2 #7).  Fixed set + sorted(specs) => like-for-like runs.
    # Drawn from the UNFILTERED registry (r14 adjudication fix): an
    # --only probe that omits the warmup trio otherwise pays the
    # one-off codegen/JIT bring-up inside its first timed queries —
    # measured 2-3x inflation on sub-second entries (a26 2.26s vs
    # 1.13s warmed, a3 1.55s vs 0.43s, same calm box) — which
    # made isolated re-probes of --check flags read as regressions
    # that the full bench (warmup always present) refutes.
    for warm in ("q1_pricing_summary", "w3_rank_rows", "j2_static_map_lookup"):
        if warm in all_:
            _force(all_[warm].builder(spark, sf_dir))

    # Min-of-2 protocol (VERDICT r6 #1): each query is timed twice
    # back-to-back and the MIN is reported.  Round-over-round driver
    # comparisons had become dominated by session noise — r6's driver
    # run measured 1.24x the committed baseline on identical code —
    # because a single timing folds in whichever one-off JIT/codegen/
    # page-cache cost that query happened to draw.  The min of two
    # consecutive runs measures the plan, not the session (documented
    # with measured spread in SCALE.md's methodology section).  All
    # registered queries are read-only or replay-idempotent, so the
    # second execution is side-effect-safe.
    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    n_passes: dict[str, int] = {}
    cpu: dict[str, float] = {}
    me = os.getpid()

    def time_query(name: str) -> None:
        spec = specs[name]

        def run_once() -> tuple[float, float | None]:
            # the /proc walks stay outside the wall timing; no CPU
            # reading when a process of the tree ended meanwhile
            tree = set(descendants(me))
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            _force(spec.builder(spark, sf_dir))
            wall = time.perf_counter() - t0
            cpu_s = tree_cpu_s() - c0
            return wall, None if tree - set(descendants(me)) else cpu_s

        try:
            # one untimed pass first: the query's own codegen and most of
            # the JIT compilation it sets off land outside the timed
            # passes (SCALE.md §bench-methodology has the measurement)
            _force(spec.builder(spark, sf_dir))
            passes = adaptive_passes(run_once)
            best = sorted(w for w, _ in passes)
            timings[name] = round(best[0], 3)
            read = [c for _, c in passes if c is not None]
            cpu[name] = round(min(read), 3) if read else -1.0
            # spread = second-best / best: the residual uncertainty OF
            # the reported min (max/min would re-include the outlier
            # the third pass just adjudicated)
            spread[name] = round(best[1] / best[0], 3)
            n_passes[name] = len(passes)
        except Exception as exc:  # keep the bench line parseable on failure
            print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
            # keep the four maps key-aligned (r8 review): a consumer
            # iterating `queries` and indexing `spread[name]` must not
            # KeyError on the failed entry
            timings[name] = -1.0
            cpu[name] = -1.0
            spread[name] = -1.0
            n_passes[name] = 0

    for name in sorted(specs):
        time_query(name)
    # A query past the gate is timed once more after the suite, and the
    # second timing is the one judged and recorded: a regression in the
    # plan repeats, a burst of load on the host seldom lasts that long.
    for name in retime(cpu) if retime else ():
        time_query(name)
    ok_spreads = [v for v in spread.values() if v >= 0]
    if ok_spreads:
        s = sorted(ok_spreads)
        print(
            "bench: residual spread (second-best/best per query): "
            f"median {s[len(s) // 2]:.2f}x, "
            f"p90 {s[int(len(s) * 0.9)]:.2f}x, "
            f"worst {s[-1]:.2f}x; "
            f"third-pass queries: {sum(1 for n in n_passes.values() if n == 3)}",
            file=sys.stderr,
        )
    spark.stop()
    return {"timings": timings, "cpu": cpu, "spread": spread, "passes": n_passes}


def summary_line(timings: dict[str, float], sf: float | str) -> str:
    """One JSON line that fits the driver's stdout-tail capture."""
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    failed = sorted(k for k, v in timings.items() if v < 0)
    ok_slowest = sorted(
        (k for k, v in timings.items() if v >= 0), key=lambda k: -timings[k]
    )
    keep = failed + ok_slowest

    def render(n: int) -> str:
        # 2-decimal per-query times on the LINE only (VERDICT r14 #9:
        # fit more entries past the driver's tail capture) — the
        # 3-decimal protocol numbers stay in BENCH_FULL.json.  The
        # former "full" pointer key is dropped for the same reason.
        # Arithmetic note: 130 full-length names need ~3.2 KB, so the
        # line can never carry the whole registry; this buys ~3 more
        # entries at the current name lengths.
        qsub = {k: round(timings[k], 2) for k in keep[:n]}
        return json.dumps(
            {
                "metric": "total_query_runtime",
                "value": total,
                "unit": "sec",
                "queries": qsub,
                "n_queries": len(timings),
                "n_failed": len(failed),
                "sf": sf,
            },
            separators=(",", ":"),
        )

    # Trim to the budget even INTO the failure list: a mostly-failing
    # run (broken session) must still emit a parseable line — n_failed
    # carries the count when names fall off (round-7 review; the full
    # failure set is on stderr and in BENCH_FULL.json as -1 entries).
    n = len(keep)
    line = render(n)
    while len(line) > _LINE_BUDGET and n > 1:
        n -= 1
        line = render(n)
    return line


def past_gate(cpu: dict[str, float], base: dict) -> list[tuple[str, float, float]]:
    """``(name, was, now)`` for each query whose CPU seconds are >1.5x
    AND >0.5s over the baseline's ``cpu`` entry.  Queries the baseline
    lacks, or without a CPU reading on either side (failed: -1.0), are
    not judged."""
    out = []
    for name, now in cpu.items():
        was = base["cpu"].get(name)
        if was is None or was <= 0 or now < 0:
            continue
        if now > 1.5 * was and now - was > 0.5:
            out.append((name, was, now))
    return out


def check(cpu: dict[str, float], base: dict) -> int:
    """Exit status 1 if any query is past the gate (:func:`past_gate`)."""
    regressions = past_gate(cpu, base)
    for name, was, now in sorted(regressions, key=lambda r: r[1] - r[2]):
        print(f"bench_check: REGRESSION {name}: {was:.3f} -> {now:.3f} CPU-s",
              file=sys.stderr)
    if not regressions:
        print(f"bench_check: OK ({len(cpu)} queries)", file=sys.stderr)
    return 1 if regressions else 0


def baseline_refusal(base: dict, sf: float | str, cores: int) -> str | None:
    """Why ``--check`` cannot judge against ``base``, or None.  Without
    this a wall-only baseline (no ``cpu`` map) would skip every query
    and pass, and one from another sf or core count would compare
    unlike runs."""
    if not base.get("cpu"):
        return "baseline has no cpu map (wall-only; re-record it with bench.py)"
    if base.get("sf") != sf:
        return f"baseline is sf {base.get('sf')}, this run is sf {sf}"
    if base.get("cores") != cores:
        return f"baseline ran on {base.get('cores')} cores, this run on {cores}"
    return None


def main() -> None:
    # Real argument parser (VERDICT r4 #5): unknown args exit non-zero
    # BEFORE any Spark work, so a typo can't silently run the full bench
    # and rewrite BENCH_FULL.json.
    import argparse

    parser = argparse.ArgumentParser(
        prog="bench.py",
        description=(
            "Run every registered query at $SPARK_GRAFT_SF_DIR "
            "(default /root/testdata/sf0.1) and print one JSON summary "
            "line; full per-query timings go to BENCH_FULL.json."
        ),
    )
    parser.add_argument(
        "baseline", nargs="?", default=FULL_PATH,
        help="baseline JSON for --check (default: committed BENCH_FULL.json)",
    )
    parser.add_argument(
        "--check", action="store_true",
        help="exit 1 if any query uses >1.5x AND >0.5s more CPU than baseline",
    )
    parser.add_argument(
        "--only", metavar="Q1,Q2,...", default=None,
        help=(
            "comma-separated query subset (e.g. the heavy tier at a custom "
            "SPARK_GRAFT_SF_DIR); BENCH_FULL.json is NOT rewritten"
        ),
    )
    args = parser.parse_args()
    check_mode = args.check
    only = set(args.only.split(",")) if args.only else None
    if only is not None:
        unknown = only - set(all_specs())
        if unknown:
            raise SystemExit(f"bench: unknown queries in --only: {sorted(unknown)}")
    _sf_dir, sf, cores = bench_shape()
    base = None
    if check_mode:
        # Read the baseline up front: the run below rewrites FULL_PATH.
        with open(args.baseline) as fh:
            base = json.load(fh)
        refusal = baseline_refusal(base, sf, cores)
        if refusal:
            print(f"bench_check: cannot judge against {args.baseline}: "
                  f"{refusal}", file=sys.stderr)
            sys.exit(2)

    def retime(cpu: dict[str, float]) -> list[str]:
        flagged = past_gate(cpu, base)
        for name, was, now in flagged:
            print(f"bench_check: re-timing {name}: {was:.3f} -> {now:.3f} "
                  "CPU-s", file=sys.stderr)
        return [name for name, _, _ in flagged]

    result = run_bench(only, retime if check_mode else None)
    timings = result["timings"]
    status = check(result["cpu"], base) if check_mode else 0
    # A FAILED --check must NOT rewrite its own default baseline with
    # the regressed numbers — a naive re-run would then compare against
    # the regression and print OK, defeating the gate (round-7 review).
    if only is None and status == 0:
        with open(FULL_PATH, "w") as fh:
            json.dump(
                {
                    "sf": sf,
                    "cores": cores,
                    "protocol": "min-of-2-adaptive-3",
                    "queries": timings,
                    "cpu": result["cpu"],
                    "spread": result["spread"],
                    "passes": result["passes"],
                },
                fh, indent=1, sort_keys=True,
            )
    elif status != 0:
        print(
            "bench_check: FAILED — BENCH_FULL.json left at the baseline "
            "(regressed timings not recorded)",
            file=sys.stderr,
        )
    print(summary_line(timings, sf))
    if check_mode:
        sys.exit(status)


if __name__ == "__main__":
    main()
