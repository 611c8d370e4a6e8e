"""The driver JIT policy reaches a freshly launched driver JVM.

``get_spark`` passes ``session.JIT_POLICY`` as
``spark.driver.defaultJavaOptions``. The test session's JVM is already
running, so the check launches its own driver in a subprocess and reads
the JVM's input arguments and code-cache size back through py4j.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

from gmall_flink_230422_spark.session import JIT_POLICY

ROOT = Path(__file__).resolve().parent.parent

PROBE = """
import json, sys
sys.path.insert(0, sys.argv[1])
from gmall_flink_230422_spark.session import get_spark

spark = get_spark("jit-policy-probe", master="local[1]",
                  extra_conf={"spark.driver.extraJavaOptions": "-Dgraft.probe=1"})
jvm = spark._jvm
mf = jvm.java.lang.management.ManagementFactory
hotspot = mf.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
print(json.dumps({
    "args": list(mf.getRuntimeMXBean().getInputArguments()),
    "code_cache": int(hotspot.getVMOption("ReservedCodeCacheSize").getValue()),
}))
spark.stop()
"""


def test_driver_jvm_gets_jit_policy_and_caller_options(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", PROBE, str(ROOT)],
        capture_output=True, text=True, timeout=180, cwd=tmp_path,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    args = rec["args"]
    for flag in JIT_POLICY.split():
        assert flag in args
    # the caller's extraJavaOptions still apply, after the policy
    assert "-Dgraft.probe=1" in args
    assert args.index(JIT_POLICY.split()[-1]) < args.index("-Dgraft.probe=1")
    # C2 stays on: C1-only (TieredStopAtLevel=1) would shrink this to 48 MB
    assert rec["code_cache"] >= 240 * 2**20
