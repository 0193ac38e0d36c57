"""bench.py harness contracts (round-7 review): the summary line stays
parseable under mass failure, --check judges CPU seconds and never
rewrites its own baseline on failure, and a baseline it cannot judge
against is refused.  Pure-Python — no SparkSession."""

from __future__ import annotations

import json
from types import SimpleNamespace

import pytest

import bench


def test_summary_line_fits_budget_even_when_most_queries_fail():
    """A broken session fails ~all queries; the line must still fit the
    driver's 2000-char stdout-tail capture and stay parseable, with
    n_failed carrying the count once names fall off."""
    timings = {f"query_with_a_rather_long_name_{i:03d}": -1.0 for i in range(100)}
    timings.update({f"ok_query_{i:03d}": 0.5 + i / 100 for i in range(16)})
    line = bench.summary_line(timings, 0.1)
    assert len(line) <= bench._LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["n_queries"] == 116
    assert parsed["n_failed"] == 100
    assert parsed["value"] > 0  # failures excluded from the total


def test_summary_line_keeps_all_queries_when_they_fit():
    timings = {"q1": 1.0, "q2": -1.0, "q3": 0.25}
    parsed = json.loads(bench.summary_line(timings, 0.01))
    assert set(parsed["queries"]) == {"q1", "q2", "q3"}
    assert parsed["n_failed"] == 1
    assert parsed["value"] == 1.25


def test_adaptive_third_pass_fires_only_on_disagreement():
    """Two agreeing passes stay at 2; a >1.5x disagreement in wall or
    CPU time, or a pass without a CPU reading, draws a third (VERDICT
    r7 #6), so one fluke pass can't own the min."""
    def passes_for(readings):
        it = iter(readings)
        calls = []

        def run_once():
            calls.append(1)
            return next(it)

        return bench.adaptive_passes(run_once), calls

    passes, calls = passes_for([(1.0, 2.0), (1.1, 2.5)])
    assert len(passes) == 2 and len(calls) == 2

    passes, calls = passes_for([(4.8, 9.0), (1.0, 2.0), (1.05, 2.1)])
    assert len(passes) == 3 and len(calls) == 3
    best = sorted(w for w, _ in passes)
    assert best[0] == 1.0
    assert round(best[1] / best[0], 3) == 1.05  # residual spread,
    # not the 4.8x the adjudicated outlier would re-introduce

    # wall agrees, CPU does not: a JIT backlog drained into one pass
    passes, calls = passes_for([(1.0, 3.5), (1.1, 2.0), (1.0, 2.1)])
    assert len(calls) == 3
    # one pass lost its CPU reading (a process of the tree ended)
    passes, calls = passes_for([(1.0, None), (1.1, 2.0), (1.0, 2.1)])
    assert len(calls) == 3


def _fake_run(t, cpu=None):
    """run_bench stand-in: wall timings t, CPU seconds cpu (default: t)."""
    result = {
        "timings": t,
        "cpu": dict(t) if cpu is None else cpu,
        "spread": {k: 1.0 for k in t},
        "passes": {k: 2 for k in t},
    }
    return lambda only, retime=None: result


def _baseline(cpu):
    """A baseline --check can judge against at this test's shape."""
    return {"sf": 0.1, "cores": 4, "queries": dict(cpu), "cpu": cpu}


@pytest.fixture
def bench_env(tmp_path, monkeypatch):
    """BENCH_FULL.json in tmp_path, an sf0.1 / 4-core shape, and a
    helper running main() that returns its exit code."""
    full = tmp_path / "BENCH_FULL.json"
    monkeypatch.setattr(bench, "FULL_PATH", str(full))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path / "sf0.1"))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")

    def run_main(*argv):
        monkeypatch.setattr("sys.argv", ["bench.py", *argv])
        try:
            bench.main()
        except SystemExit as e:
            return e.code
        return 0

    return full, run_main


def test_failed_check_does_not_rewrite_baseline(bench_env, monkeypatch):
    """--check exiting 1 must leave BENCH_FULL.json at the baseline:
    rewriting it with the regressed numbers would make a naive re-run
    compare against the regression and print OK."""
    full, run_main = bench_env
    baseline = _baseline({"q1": 1.0, "q2": 1.0})
    full.write_text(json.dumps(baseline))
    # q1 regresses past the double gate (>1.5x AND >0.5s)
    monkeypatch.setattr(bench, "run_bench", _fake_run({"q1": 3.0, "q2": 1.0}))
    assert run_main("--check") == 1
    assert json.loads(full.read_text()) == baseline  # untouched

    # and a PASSING run does refresh the baseline — now with the
    # round-8 spread/passes fields for mechanical noise discounting
    monkeypatch.setattr(bench, "run_bench", _fake_run({"q1": 1.1, "q2": 0.9}))
    assert run_main("--check") == 0
    refreshed = json.loads(full.read_text())
    assert refreshed["queries"] == {"q1": 1.1, "q2": 0.9}
    assert refreshed["spread"] == {"q1": 1.0, "q2": 1.0}
    assert refreshed["passes"] == {"q1": 2, "q2": 2}
    assert refreshed["protocol"] == "min-of-2-adaptive-3"


def test_check_passes_wall_doubling_with_flat_cpu(bench_env, monkeypatch):
    """A host that steals vCPUs doubles every wall time but adds no CPU
    time to the run: --check passes and refreshes the baseline, which
    records the run's cpu map, sf and cores."""
    full, run_main = bench_env
    full.write_text(json.dumps(_baseline({"q1": 2.0, "q2": 0.4})))
    monkeypatch.setattr(bench, "run_bench", _fake_run(
        {"q1": 4.0, "q2": 0.8}, cpu={"q1": 2.1, "q2": 0.4}))
    assert run_main("--check") == 0
    refreshed = json.loads(full.read_text())
    assert refreshed["queries"] == {"q1": 4.0, "q2": 0.8}
    assert refreshed["cpu"] == {"q1": 2.1, "q2": 0.4}
    assert (refreshed["sf"], refreshed["cores"]) == (0.1, 4)


def test_check_fails_cpu_past_the_double_gate(bench_env, monkeypatch, capsys):
    """CPU seconds >1.5x AND >0.5 s over the baseline exit 1 and leave
    the file untouched, even with flat wall time; a rise past only one
    half of the gate passes."""
    full, run_main = bench_env
    baseline = _baseline({"big": 2.0, "small": 0.4})
    full.write_text(json.dumps(baseline))
    walls = {"big": 2.0, "small": 0.4}
    monkeypatch.setattr(bench, "run_bench", _fake_run(
        walls, cpu={"big": 3.2, "small": 0.4}))
    assert run_main("--check") == 1
    assert json.loads(full.read_text()) == baseline
    assert "REGRESSION big: 2.000 -> 3.200 CPU-s" in capsys.readouterr().err
    # +0.9 s but only 1.45x, and 2.1x but only +0.45 s: both pass
    monkeypatch.setattr(bench, "run_bench", _fake_run(
        walls, cpu={"big": 2.9, "small": 0.85}))
    assert run_main("--check") == 0


@pytest.mark.parametrize("flaw, reason", [
    ({"cpu": None}, "no cpu map"),
    ({"sf": 0.01}, "sf 0.01"),
    ({"cores": 32}, "32 cores"),
], ids=["no_cpu_map", "other_sf", "other_cores"])
def test_check_refuses_a_baseline_it_cannot_judge(
    bench_env, monkeypatch, capsys, flaw, reason
):
    """A wall-only baseline (the committed r15 file) would skip every
    query and pass; one from another sf or core count compares unlike
    runs.  --check exits 2 before any Spark work and leaves the file."""
    full, run_main = bench_env
    baseline = {**_baseline({"q1": 1.0}), **flaw}
    full.write_text(json.dumps(baseline))

    def must_not_run(only, retime=None):
        raise AssertionError("bench ran against a refused baseline")

    monkeypatch.setattr(bench, "run_bench", must_not_run)
    assert run_main("--check") == 2
    assert json.loads(full.read_text()) == baseline
    err = capsys.readouterr().err.strip().splitlines()
    assert len(err) == 1 and reason in err[0]


def test_unknown_only_name_exits_before_spark(bench_env, monkeypatch):
    def no_spark(**kw):
        raise AssertionError("Spark started before --only was validated")

    monkeypatch.setattr(bench, "get_spark", no_spark)
    _full, run_main = bench_env
    code = run_main("--only", "q1_pricing_summary,no_such_query")
    assert "no_such_query" in str(code)
    assert "q1_pricing_summary" not in str(code)


def test_cpu_map_stays_key_aligned_with_queries(monkeypatch):
    """A failed query carries -1.0 in cpu as in timings and spread, so
    consumers can zip the maps; a passing one records its min CPU over
    the passes that have a reading.  A pass during which a process of
    the tree ended (a retired Python worker, whose CPU the tree sum
    loses) has none; a query with no reading at all records -1.0."""
    tree = {"pids": [10, 11], "cpu": 0.0}

    def builder(cost, end_process):
        def build(spark, sf_dir):
            tree["cpu"] += cost
            if end_process():
                # the ended worker takes its 0.3 CPU-s out of the sum
                tree["cpu"] -= 0.3
                tree["pids"] = tree["pids"][1:] + [tree["pids"][-1] + 1]
            return None
        return build

    def broken(spark, sf_dir):
        raise RuntimeError("planted failure")

    # builder calls: the untimed pass, then the timed ones
    first_timed = iter([False, True])
    registry = {
        "q_bad": SimpleNamespace(builder=broken),
        # loses a worker in its first timed pass only
        "q_exit": SimpleNamespace(
            builder=builder(0.5, lambda: next(first_timed, False))),
        "q_gone": SimpleNamespace(builder=builder(1.0, lambda: True)),
        "q_ok": SimpleNamespace(builder=builder(0.25, lambda: False)),
    }
    monkeypatch.setattr(bench, "all_specs", lambda: registry)
    monkeypatch.setattr(bench, "_force", lambda df: None)
    monkeypatch.setattr(
        bench, "adaptive_passes", lambda run_once: [run_once(), run_once()])
    monkeypatch.setattr(bench, "tree_cpu_s", lambda: tree["cpu"])
    monkeypatch.setattr(bench, "descendants", lambda pid: list(tree["pids"]))
    monkeypatch.setattr("acled_spark.tables.TABLE_NAMES", (), raising=True)
    monkeypatch.setattr(
        bench, "get_spark",
        lambda **kw: SimpleNamespace(stop=lambda: None),
    )
    result = bench.run_bench()
    assert set(result["cpu"]) == set(result["timings"]) == set(registry)
    assert set(result["spread"]) == set(result["passes"]) == set(registry)
    assert result["cpu"] == {
        "q_bad": -1.0, "q_exit": 0.5, "q_gone": -1.0, "q_ok": 0.25}
    assert result["timings"]["q_bad"] == -1.0
    assert result["timings"]["q_gone"] >= 0


def test_check_retimes_a_query_past_the_gate(bench_env, monkeypatch):
    """--check times a query past the gate once more after the suite and
    judges the second timing: a burst of host load in the first passes
    passes and is recorded at its second reading, while a regression
    that repeats exits 1 and leaves the baseline as it was."""
    full, run_main = bench_env
    baseline = _baseline({"q_burst": 1.0, "q_reg": 1.0, "q_ok": 1.0})
    full.write_text(json.dumps(baseline))
    tree = {"cpu": 0.0}
    forced = []
    timed = {}

    def builder(name):
        def build(spark, sf_dir):
            # each timing is an untimed pass and two timed ones
            if forced.count(name) % 3:
                tree["cpu"] += next(timed[name])
            return name
        return build

    registry = {n: SimpleNamespace(builder=builder(n))
                for n in ("q_burst", "q_reg", "q_ok")}
    monkeypatch.setattr(bench, "all_specs", lambda: registry)
    monkeypatch.setattr(bench, "_force", forced.append)
    monkeypatch.setattr(
        bench, "adaptive_passes", lambda run_once: [run_once(), run_once()])
    monkeypatch.setattr(bench, "tree_cpu_s", lambda: tree["cpu"])
    monkeypatch.setattr(bench, "descendants", lambda pid: [])
    monkeypatch.setattr("acled_spark.tables.TABLE_NAMES", (), raising=True)
    monkeypatch.setattr(
        bench, "get_spark", lambda **kw: SimpleNamespace(stop=lambda: None))

    timed.update(q_burst=iter([3.0, 3.0, 1.1, 1.1]),
                 q_reg=iter([3.0, 3.0, 3.0, 3.0]), q_ok=iter([1.0, 1.0]))
    assert run_main("--check") == 1
    assert json.loads(full.read_text()) == baseline
    # each flagged query ran again after the suite; q_ok did not
    assert forced[-6:] == ["q_burst"] * 3 + ["q_reg"] * 3
    assert forced.count("q_ok") == 3

    forced.clear()
    timed.update(q_burst=iter([3.0, 3.0, 1.1, 1.1]),
                 q_reg=iter([1.0, 1.0]), q_ok=iter([1.0, 1.0]))
    assert run_main("--check") == 0
    assert json.loads(full.read_text())["cpu"] == {
        "q_burst": 1.1, "q_reg": 1.0, "q_ok": 1.0}


def test_summary_line_rounds_to_two_decimals():
    timings = {"q1": 1.2345, "q2": 0.456}
    parsed = json.loads(bench.summary_line(timings, 0.1))
    assert parsed["queries"] == {"q1": 1.23, "q2": 0.46}
    assert parsed["value"] == round(1.2345 + 0.456, 3)  # TOTAL keeps 3 decimals
    assert "full" not in parsed


def test_only_runs_still_execute_the_warmup_trio(monkeypatch):
    """--only probes must warm the same codegen paths as a full run
    (r14 adjudication fix): a subset that omits the warmup trio
    otherwise pays JIT/codegen bring-up inside its first TIMED query,
    inflating sub-second entries 2-3x and making isolated re-probes of
    --check flags read as regressions the full bench refutes."""
    forced = []

    def fake_builder(name):
        return lambda spark, sf_dir: name

    registry = {
        n: SimpleNamespace(builder=fake_builder(n))
        for n in ("q1_pricing_summary", "w3_rank_rows",
                  "j2_static_map_lookup", "zz_probe_target")
    }
    monkeypatch.setattr(bench, "all_specs", lambda: registry)
    monkeypatch.setattr(bench, "_force", lambda df: forced.append(df))

    monkeypatch.setattr(
        bench, "adaptive_passes", lambda run_once: [run_once(), run_once()])
    monkeypatch.setattr(
        "acled_spark.tables.TABLE_NAMES", (), raising=True
    )
    monkeypatch.setattr(
        bench, "get_spark",
        lambda **kw: SimpleNamespace(stop=lambda: None),
    )

    result = bench.run_bench(only={"zz_probe_target"})
    # the trio warms first, untimed; then the probe's untimed pass and
    # its two timed passes
    assert forced == [
        "q1_pricing_summary", "w3_rank_rows", "j2_static_map_lookup",
        "zz_probe_target", "zz_probe_target", "zz_probe_target",
    ]
    assert set(result["timings"]) == {"zz_probe_target"}
    assert result["cpu"]["zz_probe_target"] >= 0
