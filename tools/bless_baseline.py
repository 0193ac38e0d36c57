"""Bless BENCH_FULL.json as the per-query MEDIAN of N full sessions.

VERDICT r14 #2: a baseline refreshed from one session inherits that
session's luck — the committed 102.0s floor was the fastest of ~8
observed sessions, so every honest later session read "slow" and spent
the round in steal adjudication.  The fix is mechanical: collect N >= 3
full session dumps (``SPARK_GRAFT_SESSION_OUT=<file> python bench.py``),
hand them to this tool, and the committed baseline becomes the
per-query median across them, with the per-probe median canary floor
and a ``blessed_provenance`` block naming every input session and its
canary.  ``bench.py`` refuses to auto-refresh a blessed baseline — a
single lucky (or unlucky) session can no longer move the floor.

Session admission: every session must carry this CANARY_VERSION and the
same sf, and its canary wall must sit within BLESS_BAND of the
cross-session median canary — a burst-struck or drifted session is
rejected by name instead of polluting the median.

Usage: python tools/bless_baseline.py session1.json session2.json ...
       [--out /path/BENCH_FULL.json]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BLESS_BAND = 0.15  # each session's canary vs the median-of-sessions canary


def bless(sessions: list[tuple[str, dict]]) -> dict:
    """Median-of-N baseline from (name, session_payload) pairs.
    Raises ValueError naming any inadmissible session."""
    import bench

    if len(sessions) < 2:
        raise ValueError("need at least 2 sessions to take a median")
    sfs = {s.get("sf") for _, s in sessions}
    if len(sfs) != 1:
        raise ValueError(f"sessions disagree on sf: {sorted(map(str, sfs))}")
    for name, s in sessions:
        if s.get("canary_version") != bench.CANARY_VERSION:
            raise ValueError(f"{name}: canary_version != {bench.CANARY_VERSION}")
        if not s.get("canary_floor"):
            raise ValueError(f"{name}: no canary_floor recorded")
    probes = sorted(sessions[0][1]["canary_floor"])
    floor = {
        p: round(statistics.median(s["canary_floor"][p] for _, s in sessions), 3)
        for p in probes
    }
    rejected = []
    for name, s in sessions:
        speed = bench.session_speed(s["canary_floor"], floor)
        if speed is None or abs(speed - 1.0) > BLESS_BAND:
            rejected.append((name, speed))
    if rejected:
        raise ValueError(
            f"session canary outside +-{BLESS_BAND:.0%} of the "
            f"median-of-sessions canary: {rejected} — drop it or add "
            "calmer sessions"
        )
    all_queries = sorted(
        {q for _, s in sessions for q in (s.get("queries") or {})}
    )
    queries, spread, passes, disagree = {}, {}, {}, []
    for q in all_queries:
        obs = [
            (s["queries"][q], s.get("spread", {}).get(q, -1.0),
             s.get("passes", {}).get(q, 0))
            for _, s in sessions
            if (s.get("queries") or {}).get(q, -1.0) >= 0
        ]
        if not obs:
            continue  # failed everywhere — not a baseline entry
        obs.sort()
        med = obs[(len(obs) - 1) // 2]  # lower median: a real timing,
        # with its own spread/passes, not an interpolated value
        queries[q], spread[q], passes[q] = med
        if obs[-1][0] > 1.5 * obs[0][0] and obs[-1][0] - obs[0][0] > 0.5:
            disagree.append((q, obs[0][0], obs[-1][0]))
    if disagree:
        print(
            f"bless: note — {len(disagree)} queries disagree >1.5x+0.5s "
            f"across sessions (median used): {disagree[:10]}",
            file=sys.stderr,
        )
    return {
        "sf": sessions[0][1]["sf"],
        "protocol": "min-of-2-adaptive-3",
        "queries": queries,
        "spread": spread,
        "passes": passes,
        "canary_version": bench.CANARY_VERSION,
        "canary_floor": floor,
        "session_speed": None,
        "blessed_provenance": {
            "policy": f"per-query lower median of {len(sessions)} full "
                      f"sessions; canary floor = per-probe median; each "
                      f"session's canary within +-{BLESS_BAND:.0%} of the "
                      "median-of-sessions canary",
            "sessions": [
                {
                    "file": os.path.basename(name),
                    "canary_floor": s["canary_floor"],
                    "total": round(
                        sum(v for v in s["queries"].values() if v >= 0), 3
                    ),
                }
                for name, s in sessions
            ],
        },
    }


def main(argv: list[str] | None = None) -> int:
    import bench

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sessions", nargs="+", help="session dump JSON files")
    ap.add_argument("--out", default=bench.FULL_PATH, help="baseline path to write")
    args = ap.parse_args(argv)
    sessions = []
    for path in args.sessions:
        with open(path) as fh:
            sessions.append((path, json.load(fh)))
    blessed = bless(sessions)
    with open(args.out, "w") as fh:
        json.dump(blessed, fh, indent=1, sort_keys=True)
    total = round(sum(blessed["queries"].values()), 3)
    print(
        f"blessed {args.out}: {len(blessed['queries'])} queries, total {total}s, "
        f"canary_floor {blessed['canary_floor']}, "
        f"{len(sessions)} sessions"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
