"""Flow benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload ingest_release --seed 1 --seconds 5 --trace 0

Runs from the repository root on ``local[<cores>]`` in one process.
Set-up (session start, input generation, state bootstrap, untimed
warm-up operations) is timed as ``setup_s``; then the workload's operations
run back to back, one caller, for ``--seconds`` seconds, rounded up to
a whole cycle of the workload's operation mix.  Every result is checked
outside the timed region.

Output: a human-readable report, then as the LAST stdout line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones in BENCHMARK.json;
with ``--trace 1`` the metrics are the per-layer ones, plus the traced
vs untraced operation medians and their drift-cancelled ratio (tracing
overhead); operations are traced in blocks ordered untraced, traced,
traced, untraced (see :func:`is_traced`).  The exit code is 1 when any
check failed, 2 when the program under test cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import time

from procs import become_subreaper, reap_all
from spans import Tracer, median, percentile_with_tail
from workloads import WORKLOADS, OpRecord

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: no run keeps measuring longer than this past --seconds
OVERRUN_CAP_S = 90.0


def _load_benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of the session's JVM, in MB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _live_heap_mb(spark) -> float:
    """JVM heap still in use after a full collection, in MB: what
    the session retains between operations (caches, broadcasts, state)."""
    import gc

    jvm = spark.sparkContext._jvm
    gc.collect()  # drop Python handles, so their JVM objects become garbage
    for _ in range(2):
        # the second pass collects what Spark's cleaner released after the
        # first (blocks of frames whose handles died)
        jvm.java.lang.System.gc()
        time.sleep(0.5)
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20


def _start_spark(work_dir: str, cores: int):
    from acled_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # py4j/pyspark temp files stay in the checkout
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.local.dir": tmp,
            # no hsperfdata file under /tmp: the run writes only in its work dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session, then end its JVM and wait until it and every
    process it started (Python workers) have ended.

    ``spark.stop()`` alone leaves the JVM running until it sees its stdin
    close when this process exits, so it would outlive the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            jvm.stdin.close()  # the JVM exits when its stdin closes
        reap_all(timeout=30)


def trace_block(cycle: int) -> int:
    """Operations in one untraced-traced-traced-untraced block: two cycles,
    or four when a cycle is a single operation."""
    return 2 * cycle if cycle > 1 else 4


def is_traced(j: int, cycle: int) -> bool:
    """Whether the ``j``-th measured operation of a traced run is traced:
    the middle half of each block.  Every position of the cycle is then
    traced once and untraced once per block (for a single-operation cycle,
    twice each), half of them traced first and half untraced first."""
    block = trace_block(cycle)
    return block / 4 <= j % block < 3 * block / 4


def position_p50(records: list[OpRecord], cycle: int, traced: bool, field: str = "wall_s") -> float:
    """Median wall (or, with ``field="cpu_s"``, CPU) time of one
    operation: each cycle position (one query, or one step of the write
    loop) first takes its median over the cycles, then the median is
    taken over the positions."""
    by_pos: dict[int, list[float]] = {}
    for j, r in enumerate(records):
        if r.ok and r.traced == traced:
            by_pos.setdefault(j % cycle, []).append(getattr(r, field))
    return median([median(v) for v in by_pos.values()])


def cycle_p50(records: list[OpRecord], cycle: int, field: str = "wall_s") -> float:
    """Median over the untraced, fully successful cycles of their summed
    wall (or CPU) time."""
    return median([
        sum(getattr(r, field) for r in records[i:i + cycle])
        for i in range(0, len(records), cycle)
        if not any(r.traced or not r.ok for r in records[i:i + cycle])
    ])


def tracing_overhead(records: list[OpRecord], cycle: int) -> float:
    """Traced over untraced wall time of the same operation, with warm-up
    drift cancelled.

    In each block a position runs untraced and traced in consecutive
    pairs of its occurrences.  A pair traced second reads the overhead
    times the drift between its two runs; a pair traced first, the
    overhead over that drift.  The mean log-ratio of each group, averaged
    over the two groups, cancels the drift even when the groups differ in
    size (a cycle of three operations has two positions in one group and
    one in the other)."""
    block = trace_block(cycle)
    groups: tuple[list[float], list[float]] = ([], [])  # traced second, traced first
    for b0 in range(0, len(records) - block + 1, block):
        for p in range(min(cycle, block)):
            seen = records[b0 + p:b0 + block:cycle]
            for first, second in zip(seen[::2], seen[1::2]):
                if not (first.ok and second.ok):
                    continue
                traced, untraced = (second, first) if second.traced else (first, second)
                groups[0 if second.traced else 1].append(math.log(traced.wall_s / untraced.wall_s))
    means = [sum(g) / len(g) for g in groups if g]
    return math.exp(sum(means) / len(means)) if means else 0.0


def _tail_line(walls: list[float]) -> str:
    """The highest percentile above the median with >= 10 samples beyond it."""
    best = percentile_with_tail(walls)
    if best is None or best[0] == 50:
        return f"op_p90_s     n/a         {len(walls)} operations; a p90 needs at least 100"
    return f"op_p{best[0]:g}_s     {best[1]:.4f} s    {len(walls)} operations"


def _layer_values(tracer, wl, records, untraced_p50: float, wall_offset: float) -> dict:
    """Per-layer metrics of a traced run: Spark work per operation, the
    tracing overhead, and the workload's own layer spans."""
    ops = [r for r in records if r.traced and r.ok]
    trees = [tracer.subtree(r.span) for r in ops]
    values = {
        "spark.jobs_per_op": median([sum(s.jobs for s in t) for t in trees]),
        "spark.tasks_per_op": median([sum(s.tasks for s in t) for t in trees]),
        "spark.executor_cpu_s_per_op": median([sum(s.cpu_s for s in t) for t in trees]),
        "spark.shuffle_write_bytes_per_op": median([sum(s.shuffle_write_bytes for s in t) for t in trees]),
        "spark.driver_gap_s": median([tracer.driver_gap_s(r.span, wall_offset) for r in ops]),
        "trace.traced_op_p50_s": position_p50(records, wl.cycle, traced=True),
        "trace.untraced_op_p50_s": untraced_p50,
        "trace.overhead_ratio": tracing_overhead(records, wl.cycle),
    }
    values.update(wl.layer_metrics(tracer, records))
    return values


def run(args) -> int:
    try:
        import pyspark  # noqa: F401

        sys.path.insert(0, ROOT)
        import acled_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    spec = _load_benchmark_spec()
    cls = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    work_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir)
    spark = None
    become_subreaper()
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work_dir, cores)
        session_s = time.perf_counter() - t0
        wl = cls(spark, os.path.join(work_dir, "state"), args.seed)
        os.makedirs(wl.work_dir)
        wl.prepare()
        prepare_s = time.perf_counter() - t0 - session_s
        warm = wl.warm_up()
        setup_s = time.perf_counter() - t0

        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            wl.layers(tracer)
        wall_offset = time.time() - time.perf_counter()
        records = []
        start = time.perf_counter()
        cycle_no = 0
        # a traced run stops on a block boundary
        step = trace_block(wl.cycle) // wl.cycle if tracer else 1
        min_cycles = max(step, wl.min_cycles)
        while True:
            for _ in range(wl.cycle):
                traced = tracer is not None and is_traced(len(records), wl.cycle)
                try:
                    rec = wl.op(tracer if traced else None)
                except Exception as exc:  # an operation that raised counts as failed
                    rec = OpRecord("error", 0.0, 0, False, problem=f"{type(exc).__name__}: {exc}"[:300])
                records.append(rec)
                if rec.span is not None:
                    tracer.collect_jobs(tracer.subtree(rec.span))
            cycle_no += 1
            elapsed = time.perf_counter() - start
            enough = elapsed >= args.seconds and cycle_no >= min_cycles and cycle_no % step == 0
            if enough or elapsed >= args.seconds + OVERRUN_CAP_S:
                break
        measured_s = time.perf_counter() - start
        if tracer is not None:
            tracer.unwrap()

        problems = [r.problem for r in warm + records if r.problem]
        problems += wl.verify(warm + records)
        failed = sum(1 for r in records if not r.ok)
        correct = not problems and failed == 0 and all(r.ok for r in warm)
        timed = [r for r in records if r.ok and not r.traced]
        walls = [r.wall_s for r in timed]
        op_p50 = position_p50(records, wl.cycle, traced=False)
        op_cpu = position_p50(records, wl.cycle, traced=False, field="cpu_s")
        mix = cycle_p50(records, wl.cycle)
        mix_cpu = cycle_p50(records, wl.cycle, field="cpu_s")
        peak = _peak_rss_mb(spark)
        live = _live_heap_mb(spark)

        print(f"perfbench workload={args.workload} seed={args.seed} cores={cores} "
              f"ops={len(records)} cycles={cycle_no} measured_s={measured_s:.2f}")
        for p in problems[:20]:
            print(f"  CHECK FAILED: {p}")
        print(f"  setup_s      {setup_s:.4f} s    session {session_s:.2f} + prepare {prepare_s:.2f}"
              f" + warm-up {[(r.kind, round(r.wall_s, 2)) for r in warm]}")
        print(f"  op_p50_s     {op_p50:.4f} s    {len(walls)} operations: "
              f"{[(r.kind, round(r.wall_s, 2)) for r in timed]}")
        print(f"  {_tail_line(walls)}")
        print(f"  mix_s        {mix:.4f} s    one cycle of {wl.cycle} operations")
        print(f"  op_cpu_s     {op_cpu:.4f} s    CPU time of the process tree: "
              f"{[(r.kind, round(r.cpu_s, 2)) for r in timed]}")
        print(f"  mix_cpu_s    {mix_cpu:.4f} s    one cycle")
        for name, value, unit in wl.rates(timed):
            print(f"  {name:12s} {value:.4f} {unit}")
        print(f"  error_rate   {failed / max(len(records), 1):.4f} ratio  {failed} of {len(records)} failed")
        print(f"  heap_live_mb {live:.1f} MB   peak_rss_mb {peak:.1f} MB")

        if tracer is None:
            values = {"setup_s": setup_s, "op_cpu_s": op_cpu, "mix_cpu_s": mix_cpu, "heap_live_mb": live}
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        else:
            values = _layer_values(tracer, wl, records, op_p50, wall_offset)
            trace_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl")
            tracer.dump(trace_path)
            print(f"  tracing overhead: traced op_p50 {values['trace.traced_op_p50_s']:.4f} s vs "
                  f"untraced {op_p50:.4f} s; per operation, with warm-up drift cancelled, traced "
                  f"runs {values['trace.overhead_ratio']:.3f}x untraced; "
                  f"spans in {os.path.relpath(trace_path, ROOT)}")
            print("  note: Spark plans are lazy, so a layer that only builds a plan shows little time;"
                  " its execution lands in the span of whichever caller first runs an action on it")
            for k in sorted(values):
                print(f"  {k:40s} {values[k]:.4f}")
            metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                       for m in spec["per_layer"]}
        print(json.dumps({
            "correct": correct,
            "attempted": len(records),
            "failed": failed,
            "metrics": metrics,
        }))
        sys.stdout.flush()
        return 0 if correct else 1
    finally:
        try:
            _stop_spark(spark)  # also when the session failed to start
        finally:
            shutil.rmtree(work_dir, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
