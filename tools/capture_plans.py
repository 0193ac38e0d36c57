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
or Arrow-built relation) and the fresh-name suffix of lambda variables
(``lambda x_12`` -> ``lambda x_``), which depends on how many lambdas
earlier builders made.
A before/after comparison of the whole registry is then this command,
run with the same suffix in each checkout, plus ``diff -r`` of the two
``plans/r15`` directories.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, ".")


def normalise(plan: str) -> str:
    plan = re.sub(r"#\d+", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[]", plan)
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
