"""The driver JVM that ``session.get_spark`` starts carries the package's
JVM flags, with a caller's ``spark.driver.extraJavaOptions`` added after
them. Each check runs in a subprocess, so a fresh JVM starts with the
options under test instead of reusing the test session's."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import json
from blazingsql_spark.session import get_spark

spark = get_spark(master="local[1]", extra_conf={"spark.driver.extraJavaOptions": %r})
jvm = spark._jvm
bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
)
names = ["Tier4InvocationThreshold", "Tier4MinInvocationThreshold",
         "Tier4CompileThreshold", "Tier4BackEdgeThreshold", "ReservedCodeCacheSize"]
print(json.dumps({
    **{n: bean.getVMOption(n).getValue() for n in names},
    "probe": jvm.java.lang.System.getProperty("bsql.probe"),
}))
spark.stop()
"""


def test_driver_jvm_carries_jit_policy_and_caller_options():
    """The four C2 thresholds are 10x the JDK defaults, the code cache
    is 512 MB, and a caller's extraJavaOptions reach the same JVM
    instead of replacing the package's flags."""
    out = subprocess.run(
        [sys.executable, "-c", _PROBE % "-Dbsql.probe=1"],
        cwd=REPO, capture_output=True, text=True, timeout=300,
        env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "512m"},
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert json.loads(out.stdout.strip().splitlines()[-1]) == {
        "Tier4InvocationThreshold": "50000",
        "Tier4MinInvocationThreshold": "6000",
        "Tier4CompileThreshold": "150000",
        "Tier4BackEdgeThreshold": "400000",
        "ReservedCodeCacheSize": str(512 * 2**20),
        "probe": "1",
    }
