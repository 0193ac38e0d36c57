"""Full-suite witness: run every test tier and commit what happened.

    python tools/full_suite.py

Runs ``python -m pytest tests/ -q -m "" -p no:cacheprovider`` from the
repo root (``-m ""`` lifts pytest.ini's default ``not slow`` filter, so
the slow tier runs too), streams pytest's output, and writes
FULL_SUITE.json: passed/failed/skipped/error counts, the failing test
ids, the wall duration, the HEAD commit and ``tree``, the git tree hash
of the code the run used (CODE_PATHS as they were in the working tree,
committed or not).  Check a record against a checkout by recomputing
``code_tree()`` there.  Exits with pytest's status; the record is
written either way.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time
import xml.etree.ElementTree as ET

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RECORD = os.path.join(ROOT, "FULL_SUITE.json")
CODE_PATHS = (
    "__spark_entry__.py", "acled_spark", "bench.py", "perfbench",
    "pytest.ini", "tests", "tools",
)
PYTEST = [sys.executable, "-m", "pytest", "tests/", "-q", "-m", "",
          "-p", "no:cacheprovider"]


def _git(*args: str, env: dict | None = None) -> str:
    return subprocess.run(
        ["git", *args], cwd=ROOT, env=env, check=True,
        capture_output=True, text=True,
    ).stdout.strip()


def code_tree() -> str:
    """Tree hash of CODE_PATHS in the working tree (a scratch index, so
    the real index is untouched)."""
    with tempfile.TemporaryDirectory() as tmp:
        env = {**os.environ, "GIT_INDEX_FILE": os.path.join(tmp, "index")}
        _git("add", "-A", "--", *CODE_PATHS, env=env)
        return _git("write-tree", env=env)


def counts(junit_xml: str) -> dict:
    suites = ET.parse(junit_xml).getroot()
    out = {"passed": 0, "failed": 0, "skipped": 0, "error": 0}
    failing = []
    for case in suites.iter("testcase"):
        kinds = {child.tag for child in case}
        kind = next(
            (k for k, tag in (("failed", "failure"), ("error", "error"),
                              ("skipped", "skipped")) if tag in kinds),
            "passed",
        )
        out[kind] += 1
        if kind in ("failed", "error"):
            failing.append(f"{case.get('classname')}::{case.get('name')}")
    return {**out, "failing": failing}


def main() -> int:
    tree, head = code_tree(), _git("rev-parse", "HEAD")
    with tempfile.TemporaryDirectory() as tmp:
        junit = os.path.join(tmp, "junit.xml")
        t0 = time.time()
        status = subprocess.run(PYTEST + [f"--junitxml={junit}"], cwd=ROOT).returncode
        duration = round(time.time() - t0, 1)
        result = counts(junit) if os.path.exists(junit) else {}
    record = {
        "command": "python -m pytest tests/ -q -m \"\" -p no:cacheprovider",
        **result,
        "exit_status": status,
        "duration_s": duration,
        "head": head,
        "tree": tree,
        "code_paths": list(CODE_PATHS),
        "cores": len(os.sched_getaffinity(0)),
    }
    with open(RECORD, "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")
    print(json.dumps({k: v for k, v in record.items() if k != "failing"}))
    return status


if __name__ == "__main__":
    raise SystemExit(main())
