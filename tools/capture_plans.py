"""Capture .explain('formatted') for registered queries into plans/r15/.

Usage: python tools/capture_plans.py <outdir-suffix: before|after> [q1 q2 ...]
Writes plans/r15/<query>_<suffix>.txt; with no query names, every
registered query.  Explain only — no execution — except that some
builders run bounded driver-side jobs while building (eager
checkpoints); that is inherent to their shape.

Session counters are normalised out of the written plans so captures
from two checkouts diff cleanly: expression ids (``#123`` -> ``#``),
exchange plan ids (``plan_id=12108`` -> ``plan_id=``), RDD ids
(``MapPartitionsRDD[403]`` -> ``MapPartitionsRDD[]``, under a checkpointed
or Arrow-built relation) with the source location of the call that made
the RDD (``at NativeMethodAccessorImpl.java:0`` turns into ``at
<unknown>:0`` once the JVM swaps its reflective accessor for a generated
one), and the fresh-name suffix of lambda variables
(``lambda x_12`` -> ``lambda x_``), which depends on how many lambdas
earlier builders made.  The distinct groups of an ``Expand`` (Spark's
rewrite of several DISTINCT aggregates) come out in an order that
follows expression ids, so :func:`canonical_expand` puts them, their
columns and their ``gid`` numbers in one order first.
A before/after comparison of the whole registry is then this command,
run with the same suffix in each checkout, plus ``diff -r`` of the two
``plans/r15`` directories.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, ".")


def _split_top(text: str) -> list[str]:
    """``text`` split at the commas outside any brackets."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(text):
        depth += (ch in "([") - (ch in ")]")
        if ch == "," and depth == 0:
            parts.append(text[start:i].strip())
            start = i + 1
    return parts + [text[start:].strip()]


def canonical_expand(plan: str) -> str:
    """Reorder each ``Expand``'s distinct groups by their columns' text.

    An Expand row carries the group-by columns (non-null in every row),
    the columns its group owns, and its ``gid`` literal.  Rows are
    sorted by their owned columns with expression ids ignored; the owned
    columns before ``gid`` move to the sorted rows' order, and the
    ``gid`` numbers are handed out again in that order.  The output
    column list (whole, and up to ``gid`` as the aggregates' keys) and
    the ``gid = n`` filters downstream are rewritten to match.  Run it
    before the ids are normalised: ``gid#17`` names one Expand's column.
    """
    for args in re.findall(
        r"^\(\d+\) Expand\n(?:(?!Arguments: ).*\n)*Arguments: (.*)$", plan, re.M
    ):
        rows_blob, out_blob = _split_top(args)
        rows = [_split_top(r[1:-1]) for r in _split_top(rows_blob[1:-1])]
        out = _split_top(out_blob[1:-1])
        g = next((i for i, c in enumerate(out) if c.startswith("gid#")), None)
        if g is None or any(len(r) != len(out) for r in rows):
            continue
        slots = [i for i in range(g) if any(r[i] == "null" for r in rows)]
        order = sorted(
            range(len(rows)),
            key=lambda k: [re.sub(r"#\d+", "#", rows[k][i]) for i in slots
                           if rows[k][i] != "null"],
        )
        rank = {k: n for n, k in enumerate(order)}
        owner = {i: min(k for k, r in enumerate(rows) if r[i] != "null") for i in slots}
        moved = sorted(slots, key=lambda i: (rank[owner[i]], i))

        def permute(xs: list[str]) -> list[str]:
            ys = list(xs)
            for slot, i in zip(slots, moved):
                ys[slot] = xs[i]
            return ys

        gids = sorted(rows, key=lambda r: int(r[g]))
        new_gid = {rows[k][g]: gids[n][g] for n, k in enumerate(order)}
        new_rows = [permute(rows[k]) for k in order]
        for r in new_rows:
            r[g] = new_gid[r[g]]
        new_out = permute(out)
        new_args = "[{}], [{}]".format(
            ", ".join("[" + ", ".join(r) + "]" for r in new_rows), ", ".join(new_out)
        )
        plan = plan.replace("Arguments: " + args, "Arguments: " + new_args)
        for n in (len(out), g + 1):
            plan = plan.replace(", ".join(out[:n]), ", ".join(new_out[:n]))
        plan = re.sub(
            rf"({re.escape(out[g])} = )(\d+)\b",
            lambda m: m.group(1) + new_gid.get(m.group(2), m.group(2)),
            plan,
        )
    return plan


def normalise(plan: str) -> str:
    plan = re.sub(r"#\d+", "#", canonical_expand(plan))
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    plan = re.sub(r"RDD\[\d*\]( at \w+)(?: at \S+:\d+)?", r"RDD[]\1", plan)
    return re.sub(r"lambda (\w+?)_\d+", r"lambda \1_", plan)


def main() -> int:
    suffix = sys.argv[1]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from acled_spark.registry import all_specs
    from acled_spark.session import get_spark

    spark = get_spark(app_name="capture-plans")
    specs = all_specs()
    names = sys.argv[2:] or sorted(specs)
    os.makedirs("plans/r15", exist_ok=True)
    for name in names:
        df = specs[name].builder(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out = f"plans/r15/{name}_{suffix}.txt"
        with open(out, "w") as fh:
            fh.write(normalise(plan))
        print(f"wrote {out} ({len(plan)} chars)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
