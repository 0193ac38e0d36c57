"""Launch-time confs of a session ``get_spark`` builds.

A PySpark process holds one JVM, started with the first session, so the
suite's shared session (conftest) cannot show what a fresh launch gets.
The test builds one session in a subprocess and reports what its JVM
and its static confs hold.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = textwrap.dedent("""
    import json
    from acled_spark.session import get_spark

    spark = get_spark(
        app_name="session-probe", master="local[1]", shuffle_partitions=1,
        extra_conf={"spark.driver.extraJavaOptions": "-XX:-UsePerfData"},
    )
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    hotspot = mf.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    print(json.dumps({
        "args": list(mf.getRuntimeMXBean().getInputArguments()),
        "tier4_invocation": hotspot.getVMOption("Tier4InvocationThreshold").getValue(),
        "codegen_cache": spark.conf.get("spark.sql.codegen.cache.maxEntries"),
    }))
    spark.stop()
""")


def test_launch_confs_survive_a_callers_java_options():
    """The JIT flags reach the driver JVM alongside a caller's own
    ``extraJavaOptions`` (which would replace them, were they set
    there), and the codegen cache keeps its working-set size."""
    env = {**os.environ, "PYTHONPATH": ROOT}
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    proc = subprocess.run(
        [sys.executable, "-c", PROBE], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])

    for flag in ("-XX:Tier4InvocationThreshold=50000",
                 "-XX:Tier4CompileThreshold=60000",
                 "-XX:Tier4BackEdgeThreshold=400000",
                 "-XX:-UsePerfData"):
        assert flag in got["args"], (flag, got["args"])
    assert got["tier4_invocation"] == "50000"
    assert got["codegen_cache"] == "1000"
