"""bench.py harness contracts (round-7 review): the summary line stays
parseable under mass failure, and a failed --check never rewrites its
own baseline.  Pure-Python — no SparkSession."""

from __future__ import annotations

import json
import os

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
    """Two agreeing passes stay at 2; a >1.5x disagreement draws a
    third (VERDICT r7 #6), so one fluke pass can't own the min."""
    def clock_seq(durations):
        # perf_counter values: t0, t1 per pass
        ticks, t = [], 0.0
        for d in durations:
            ticks += [t, t + d]
            t += d
        it = iter(ticks)
        return lambda: next(it)

    calls = []
    passes = bench.adaptive_passes(
        lambda: calls.append(1), clock=clock_seq([1.0, 1.1])
    )
    assert len(passes) == 2 and len(calls) == 2

    calls = []
    passes = bench.adaptive_passes(
        lambda: calls.append(1), clock=clock_seq([4.8, 1.0, 1.05])
    )
    assert len(passes) == 3 and len(calls) == 3
    best = sorted(passes)
    assert best[0] == 1.0
    assert round(best[1] / best[0], 3) == 1.05  # residual spread,
    # not the 4.8x the adjudicated outlier would re-introduce


def _fake_run(t, canary=None, timeline=None):
    """run_bench stand-in: timings t, optional canary walls, optional
    extra mid-session timeline probes merged over start/end."""
    result = {
        "timings": t,
        "spread": {k: 1.0 for k in t},
        "passes": {k: 2 for k in t},
    }
    if canary is not None:
        result["canary_wall"] = canary
        result["canary_runs"] = {"start": canary, "end": canary}
        if timeline:
            result["canary_runs"].update(timeline)
    return lambda only, committed=None: (result, 0.1)


def test_failed_check_does_not_rewrite_baseline(tmp_path, monkeypatch, capsys):
    """--check exiting 1 must leave BENCH_FULL.json at the baseline:
    rewriting it with the regressed numbers would make a naive re-run
    compare against the regression and print OK."""
    baseline = {"sf": 0.1, "queries": {"q1": 1.0, "q2": 1.0}}
    full = tmp_path / "BENCH_FULL.json"
    full.write_text(json.dumps(baseline))
    monkeypatch.setattr(bench, "FULL_PATH", str(full))
    # q1 regresses past the double gate (>1.5x AND >0.5s)
    monkeypatch.setattr(bench, "run_bench", _fake_run({"q1": 3.0, "q2": 1.0}))
    monkeypatch.setattr("sys.argv", ["bench.py", "--check"])
    try:
        bench.main()
        raised = 0
    except SystemExit as e:
        raised = e.code
    assert raised == 1
    assert json.loads(full.read_text()) == baseline  # untouched

    # and a PASSING run does refresh the baseline — now with the
    # round-8 spread/passes fields for mechanical noise discounting
    monkeypatch.setattr(bench, "run_bench", _fake_run({"q1": 1.1, "q2": 0.9}))
    try:
        bench.main()
        raised = 0
    except SystemExit as e:
        raised = e.code
    assert raised == 0
    refreshed = json.loads(full.read_text())
    assert refreshed["queries"] == {"q1": 1.1, "q2": 0.9}
    assert refreshed["spread"] == {"q1": 1.0, "q2": 1.0}
    assert refreshed["passes"] == {"q1": 2, "q2": 2}
    assert refreshed["protocol"] == "min-of-2-adaptive-3"


# --- drift canary (VERDICT r13 #1) -----------------------------------


def test_session_speed_math():
    """session_speed = sum(wall)/sum(floor) over the common probes;
    None at every bootstrap edge (missing side, disjoint keys, zero
    floor)."""
    assert bench.session_speed({"cpu": 1.0, "shuffle": 1.0},
                               {"cpu": 0.5, "shuffle": 0.5}) == 2.0
    assert bench.session_speed({"cpu": 0.9, "shuffle": 1.8},
                               {"cpu": 1.0, "shuffle": 2.0}) == 0.9
    assert bench.session_speed(None, {"cpu": 1.0}) is None
    assert bench.session_speed({"cpu": 1.0}, None) is None
    assert bench.session_speed({"cpu": 1.0}, {"shuffle": 1.0}) is None
    assert bench.session_speed({"cpu": 1.0}, {"cpu": 0.0}) is None


def test_baseline_canary_floor_requires_matching_version():
    """Floors recorded under a different CANARY_VERSION (or absent)
    are not comparable and must be ignored, not misapplied."""
    floor = {"cpu": 0.8, "shuffle": 0.6}
    good = {"canary_version": bench.CANARY_VERSION, "canary_floor": floor}
    assert bench.baseline_canary_floor(good) == floor
    assert bench.baseline_canary_floor({"canary_floor": floor}) is None
    assert bench.baseline_canary_floor(
        {"canary_version": bench.CANARY_VERSION + 1, "canary_floor": floor}
    ) is None
    assert bench.baseline_canary_floor(None) is None
    assert bench.baseline_canary_floor(
        {"canary_version": bench.CANARY_VERSION}
    ) is None


def test_check_normalizes_by_session_speed(capsys):
    """The exact r13 failure mode: a 1.7x-drifted session raw-flags an
    untouched query; the normalized gate absorbs it as DRIFT-SUSPECT.
    A query slow even AFTER normalization still fails."""
    base = {"queries": {"ok_drifted": 2.0, "real_regression": 2.0}}
    timings = {"ok_drifted": 3.4,          # 1.7x raw — pure drift
               "real_regression": 8.0}     # 4x raw, 2.35x normalized
    # raw gate (speed None): both flag
    assert bench.check(dict(timings), base, None) == 1
    # normalized at session_speed 1.7: drift absorbed, real one kept
    assert bench.check(dict(timings), base, 1.7) == 1
    err = capsys.readouterr().err
    assert "DRIFT-SUSPECT ok_drifted" in err
    assert "REGRESSION real_regression" in err
    # remove the real regression: normalized check passes outright
    assert bench.check({"ok_drifted": 3.4}, base, 1.7) == 0
    err = capsys.readouterr().err
    assert "OK" in err and "drift-suspect" in err


def test_check_fast_session_tightens_gate(capsys):
    """The r12 failure mode inverted: on a 0.8x FAST box, a query that
    merely matches the committed baseline has actually regressed 25% —
    the normalized gate (adj = was * speed) must catch what the raw
    threshold hides."""
    base = {"queries": {"hidden": 2.0}}
    # 2.9s on a 0.8x box = 1.81x the 1.6s normalized floor, +1.3s abs
    assert bench.check({"hidden": 2.9}, base, 0.8) == 1
    assert "REGRESSION hidden" in capsys.readouterr().err
    # raw gate alone would NOT have flagged it (2.9 < 1.5*2.0 + ...)
    assert bench.check({"hidden": 2.9}, base, None) == 0


def test_drifted_session_refuses_baseline_refresh(tmp_path, monkeypatch, capsys):
    """A session whose canary reads outside +-10% of the committed
    floor must NOT rewrite BENCH_FULL.json (in either direction); a
    within-band session refreshes and records its canary as the new
    floor; a bootstrap (no committed floor) always refreshes."""
    floor = {"cpu": 1.0, "shuffle": 1.0}
    baseline = {
        "sf": 0.1,
        "queries": {"q1": 1.0},
        "canary_version": bench.CANARY_VERSION,
        "canary_floor": floor,
    }
    full = tmp_path / "BENCH_FULL.json"
    full.write_text(json.dumps(baseline))
    monkeypatch.setattr(bench, "FULL_PATH", str(full))
    monkeypatch.setattr("sys.argv", ["bench.py"])

    def run_main():
        try:
            bench.main()
        except SystemExit:
            pass

    # drifted slow (1.5x): refused
    monkeypatch.setattr(
        bench, "run_bench",
        _fake_run({"q1": 1.5}, {"cpu": 1.5, "shuffle": 1.5}))
    run_main()
    assert json.loads(full.read_text()) == baseline
    assert "refresh REFUSED" in capsys.readouterr().err
    # drifted fast (0.85x): refused too — the r12 silent-tightening
    monkeypatch.setattr(
        bench, "run_bench",
        _fake_run({"q1": 0.85}, {"cpu": 0.85, "shuffle": 0.85}))
    run_main()
    assert json.loads(full.read_text()) == baseline
    assert "refresh REFUSED" in capsys.readouterr().err
    # within band (1.05x): refreshes, new floor recorded
    monkeypatch.setattr(
        bench, "run_bench",
        _fake_run({"q1": 1.05}, {"cpu": 1.05, "shuffle": 1.05}))
    run_main()
    refreshed = json.loads(full.read_text())
    assert refreshed["queries"] == {"q1": 1.05}
    assert refreshed["canary_floor"] == {"cpu": 1.05, "shuffle": 1.05}
    assert refreshed["session_speed"] == 1.05
    out = capsys.readouterr().out
    parsed = json.loads(out.strip().splitlines()[-1])
    assert parsed["session_speed"] == 1.05
    # bootstrap: no floor in the committed file -> refresh allowed,
    # canary recorded for the first time
    full.write_text(json.dumps({"sf": 0.1, "queries": {"q1": 1.0}}))
    monkeypatch.setattr(
        bench, "run_bench",
        _fake_run({"q1": 2.0}, {"cpu": 2.0, "shuffle": 2.0}))
    run_main()
    refreshed = json.loads(full.read_text())
    assert refreshed["canary_floor"] == {"cpu": 2.0, "shuffle": 2.0}
    assert refreshed["canary_version"] == bench.CANARY_VERSION
    assert refreshed["session_speed"] is None


def test_burst_probes_envelope_math():
    """Mid-timeline probes are judged per-probe against
    CANARY_BURST_FACTOR x floor; start/end are exempt (they already
    govern session_speed via the full protocol); missing maps -> []."""
    floor = {"cpu": 1.0, "shuffle": 1.0}
    # healthy single-pass noise (up to ~1.6x cpu / ~3.0x shuffle
    # observed on blessed sessions) stays inside the envelope
    healthy = {
        "start": {"cpu": 1.0, "shuffle": 1.0},
        "after_32_q": {"cpu": 1.6, "shuffle": 3.0},
        "end": {"cpu": 0.9, "shuffle": 1.1},
    }
    assert bench.burst_probes(healthy, floor) == []
    # the r14 poisoned-session shape: burst at one mid probe while
    # start/end both sit in-band
    burst = {
        "start": {"cpu": 1.0, "shuffle": 1.0},
        "after_32_q": {"cpu": 4.2, "shuffle": 13.1},
        "after_64_q": {"cpu": 1.2, "shuffle": 1.1},
        "end": {"cpu": 0.95, "shuffle": 1.0},
    }
    hits = bench.burst_probes(burst, floor)
    assert ("after_32_q", "cpu", 4.2) in hits
    assert ("after_32_q", "shuffle", 13.1) in hits
    assert not any(label == "after_64_q" for label, _, _ in hits)
    # a huge START is NOT a burst hit (full-protocol placement; the
    # session_speed band owns it)
    assert bench.burst_probes(
        {"start": {"cpu": 9.0, "shuffle": 9.0}}, floor) == []
    assert bench.burst_probes(None, floor) == []
    assert bench.burst_probes(burst, None) == []
    assert bench.burst_probes(burst, {"cpu": 0.0}) == []


def test_mid_session_burst_refuses_refresh(tmp_path, monkeypatch, capsys):
    """A contention burst BETWEEN the start/end canaries must refuse
    the baseline refresh even when min(start, end) sits inside the
    +-10% band — the r14 verification session hit exactly this shape
    and rewrote the baseline with readings inflated 2-23x before the
    guard existed."""
    floor = {"cpu": 1.0, "shuffle": 1.0}
    baseline = {
        "sf": 0.1,
        "queries": {"q1": 1.0},
        "canary_version": bench.CANARY_VERSION,
        "canary_floor": floor,
    }
    full = tmp_path / "BENCH_FULL.json"
    full.write_text(json.dumps(baseline))
    monkeypatch.setattr(bench, "FULL_PATH", str(full))
    monkeypatch.setattr("sys.argv", ["bench.py"])

    def run_main():
        try:
            bench.main()
        except SystemExit:
            pass

    # in-band start/end, mid-session burst: refused
    monkeypatch.setattr(
        bench, "run_bench",
        _fake_run({"q1": 4.0}, {"cpu": 1.0, "shuffle": 1.0},
                  timeline={"after_32_q": {"cpu": 4.2, "shuffle": 13.1}}))
    run_main()
    assert json.loads(full.read_text()) == baseline
    err = capsys.readouterr().err
    assert "refresh REFUSED" in err
    assert "burst" in err
    # same in-band walls with a noisy-but-healthy mid probe: refreshes
    monkeypatch.setattr(
        bench, "run_bench",
        _fake_run({"q1": 1.02}, {"cpu": 1.0, "shuffle": 1.0},
                  timeline={"after_32_q": {"cpu": 1.6, "shuffle": 3.0}}))
    run_main()
    assert json.loads(full.read_text())["queries"] == {"q1": 1.02}


# --- fast-tail pass skipping (VERDICT r14 #6) -------------------------


def test_fast_tail_set_admission_rules():
    """Only committed-fast, clean (2 agreeing passes), same-sf entries
    qualify for the single-pass protocol."""
    committed = {
        "sf": 0.1,
        "queries": {"fast_clean": 0.3, "fast_noisy": 0.3,
                    "fast_3pass": 0.3, "heavy": 2.0, "failed": -1.0},
        "spread": {"fast_clean": 1.03, "fast_noisy": 1.4,
                   "fast_3pass": 1.02, "heavy": 1.01, "failed": -1.0},
        "passes": {"fast_clean": 2, "fast_noisy": 2,
                   "fast_3pass": 3, "heavy": 2, "failed": 0},
    }
    assert bench.fast_tail_set(committed, 0.1) == {"fast_clean": 0.3}
    # other sf, missing baseline, or no baseline at all: empty
    assert bench.fast_tail_set(committed, 0.01) == {}
    assert bench.fast_tail_set(None, 0.1) == {}
    assert bench.fast_tail_set({}, 0.1) == {}


def test_fast_tail_single_pass_and_escalation(monkeypatch):
    """A qualifying query runs ONCE while in line with its baseline
    (passes=1, spread=1.0 recorded honestly); a reading past the
    escalation envelope re-runs the full protocol and the first
    reading still joins the min."""
    from types import SimpleNamespace

    committed = {
        "sf": 0.1,
        "queries": {"a_inline": 0.3, "b_moved": 0.3, "c_heavy": 2.0},
        "spread": {"a_inline": 1.01, "b_moved": 1.01, "c_heavy": 1.0},
        "passes": {"a_inline": 2, "b_moved": 2, "c_heavy": 2},
    }
    registry = {
        n: SimpleNamespace(builder=lambda spark, sf_dir, n=n: n)
        for n in ("a_inline", "b_moved", "c_heavy")
    }
    monkeypatch.setattr(bench, "all_specs", lambda: registry)
    runs: list[str] = []
    # single-pass wall readings come from the fake clock below:
    # a_inline reads 0.305 (inside 1.08x of 0.3), b_moved 0.9 (escalates)
    walls = {"a_inline": 0.305, "b_moved": 0.9, "c_heavy": 2.0}
    clock_t = [0.0]

    def fake_force(df):
        runs.append(df)
        clock_t[0] += walls[df]

    def fake_adaptive(run_once, clock=None):
        run_once()
        run_once()
        return [0.5, 0.5]

    monkeypatch.setattr(bench, "_force", fake_force)
    monkeypatch.setattr(bench.time, "perf_counter", lambda: clock_t[0])
    monkeypatch.setattr(bench, "adaptive_passes", fake_adaptive)
    monkeypatch.setattr(
        bench, "run_canary",
        lambda spark, single_pass=False: {"cpu": 0.1, "shuffle": 0.1})
    monkeypatch.setattr(
        "acled_spark.tables.TABLE_NAMES", (), raising=True)
    monkeypatch.setattr(
        bench, "get_spark",
        lambda app_name=None: SimpleNamespace(stop=lambda: None))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    result, sf = bench.run_bench(committed=committed)
    assert result["passes"]["a_inline"] == 1
    assert result["spread"]["a_inline"] == 1.0
    assert result["timings"]["a_inline"] == 0.305
    # b_moved escalated: first reading + the full protocol's passes,
    # all joining the min
    assert result["passes"]["b_moved"] == 3
    assert result["timings"]["b_moved"] == 0.5
    # heavy stays on the full protocol
    assert result["passes"]["c_heavy"] == 2
    assert runs.count("a_inline") == 1
    assert runs.count("b_moved") == 3
    assert runs.count("c_heavy") == 2


# --- blessed baselines (VERDICT r14 #2) --------------------------------


def test_blessed_baseline_refuses_auto_refresh(tmp_path, monkeypatch, capsys):
    """A median-of-N blessed baseline is never overwritten by a single
    session's refresh — only tools/bless_baseline.py may move it."""
    floor = {"cpu": 1.0, "shuffle": 1.0}
    baseline = {
        "sf": 0.1,
        "queries": {"q1": 1.0},
        "canary_version": bench.CANARY_VERSION,
        "canary_floor": floor,
        "blessed_provenance": {"policy": "median", "sessions": []},
    }
    full = tmp_path / "BENCH_FULL.json"
    full.write_text(json.dumps(baseline))
    monkeypatch.setattr(bench, "FULL_PATH", str(full))
    monkeypatch.setattr("sys.argv", ["bench.py"])
    # perfectly in-band session: still refused
    monkeypatch.setattr(
        bench, "run_bench",
        lambda only=None, committed=None: (
            _fake_run({"q1": 1.0}, {"cpu": 1.0, "shuffle": 1.0})(only)
        ),
    )
    try:
        bench.main()
    except SystemExit:
        pass
    assert json.loads(full.read_text()) == baseline
    err = capsys.readouterr().err
    assert "refresh REFUSED" in err and "blessed" in err


def test_bless_baseline_median_math(tmp_path):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bless_baseline",
        os.path.join(os.path.dirname(__file__), "..", "tools",
                     "bless_baseline.py"),
    )
    bb = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bb)

    def sess(q, cpu, shuffle, spread=None, passes=None):
        return {
            "sf": 0.1,
            "queries": q,
            "spread": spread or {k: 1.0 for k in q},
            "passes": passes or {k: 2 for k in q},
            "canary_version": bench.CANARY_VERSION,
            "canary_floor": {"cpu": cpu, "shuffle": shuffle},
        }

    s1 = sess({"q1": 1.0, "q2": 0.5}, 1.0, 1.0, spread={"q1": 1.2, "q2": 1.0})
    s2 = sess({"q1": 1.2, "q2": 0.4}, 1.05, 0.95)
    s3 = sess({"q1": 0.9, "q2": -1.0}, 0.95, 1.05)
    blessed = bb.bless([("s1", s1), ("s2", s2), ("s3", s3)])
    # q1 median of (0.9, 1.0, 1.2) = 1.0, carrying s1's spread
    assert blessed["queries"]["q1"] == 1.0
    assert blessed["spread"]["q1"] == 1.2
    # q2: failure in s3 excluded -> lower median of (0.4, 0.5) = 0.4
    assert blessed["queries"]["q2"] == 0.4
    # floor = per-probe median
    assert blessed["canary_floor"] == {"cpu": 1.0, "shuffle": 1.0}
    assert blessed["blessed_provenance"]["sessions"][0]["file"] == "s1"
    # an out-of-band session is rejected by name
    s4 = sess({"q1": 5.0}, 3.0, 3.0)
    try:
        bb.bless([("s1", s1), ("s2", s2), ("s4", s4)])
        raised = False
    except ValueError as e:
        raised = "s4" in str(e)
    assert raised

    # the CLI writes where --out points, also as the last argument
    paths = []
    for name, s in (("s1", s1), ("s2", s2), ("s3", s3)):
        paths.append(str(tmp_path / f"{name}.json"))
        with open(paths[-1], "w") as fh:
            json.dump(s, fh)
    out = tmp_path / "blessed.json"
    assert bb.main([*paths, "--out", str(out)]) == 0
    with open(out) as fh:
        assert json.load(fh)["queries"] == blessed["queries"]


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
    from types import SimpleNamespace

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
    monkeypatch.setattr(bench, "run_canary",
                        lambda spark, single_pass=False: {"cpu": 0.1,
                                                          "shuffle": 0.1})
    # adaptive_passes never invokes the thunk, so timed queries leave
    # no trace in `forced` — anything recorded there is warmup.
    monkeypatch.setattr(bench, "adaptive_passes", lambda fn: [0.01, 0.01])
    monkeypatch.setattr(
        "acled_spark.tables.TABLE_NAMES", (), raising=True
    )
    monkeypatch.setattr(
        bench, "get_spark",
        lambda app_name=None: SimpleNamespace(stop=lambda: None),
    )

    result, _sf = bench.run_bench(only={"zz_probe_target"})
    assert forced == [
        "q1_pricing_summary", "w3_rank_rows", "j2_static_map_lookup"
    ]
    assert set(result["timings"]) == {"zz_probe_target"}
