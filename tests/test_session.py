"""The driver JVM runs the engine's JIT policy, and callers' JVM flags add to it.

Spark launches the driver with ``-XX:+IgnoreUnrecognizedVMOptions``, so a
mistyped flag in the policy would be dropped without an error; these
tests read each flag back from the running JVM instead of trusting the
command line.
"""

import json
import os
import subprocess
import sys

from debezium_server_batch_spark.session import DRIVER_JIT_OPTIONS

TESTS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TESTS)


def _vm_option(spark, name: str) -> tuple[str, str]:
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    opt = bean.getVMOption(name)
    return opt.getValue(), opt.getOrigin().toString()


def test_driver_jvm_runs_bounded_jit_policy(spark):
    # C2 stays on: C1 only runs hot codegen loops about twice as slow
    assert _vm_option(spark, "TieredStopAtLevel")[0] == "4"
    assert _vm_option(spark, "TieredCompilation")[0] == "true"
    assert _vm_option(spark, "CICompilerCount") == ("2", "VM_CREATION")
    # raised tier-4 thresholds slowed hot queries; they keep the defaults
    assert _vm_option(spark, "Tier4InvocationThreshold") == ("5000", "DEFAULT")
    # every flag of the policy is one the test reads back
    assert DRIVER_JIT_OPTIONS.split() == ["-XX:CICompilerCount=2"]


SCRIPT = r"""
import json, sys

repo, tmp = sys.argv[1:3]
sys.path.insert(0, repo)
from debezium_server_batch_spark.session import build_session

spark = build_session(
    master="local[1]", shuffle_partitions=1,
    extra_conf={"spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + tmp},
)
jvm = spark.sparkContext._jvm
args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
spark.stop()
print("RESULT " + json.dumps(args))
"""


def test_caller_extra_java_options_add_to_jit_policy(tmp_path):
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "512m"}
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, REPO, str(tmp_path)],
        capture_output=True, text=True, env=env, timeout=300,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    args = json.loads(lines[-1][len("RESULT "):])
    assert f"-Djava.io.tmpdir={tmp_path}" in args
    for flag in DRIVER_JIT_OPTIONS.split():
        assert flag in args, (flag, args)
