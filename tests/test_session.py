"""The driver JVM runs the engine's JIT policy, and callers' JVM flags add to it.

Spark launches the driver with ``-XX:+IgnoreUnrecognizedVMOptions``, so a
mistyped flag in the policy would be dropped without an error; these
tests read each flag back from the running JVM instead of trusting the
command line. The class-data-sharing tests likewise count the classes a
JVM mapped from the archive, not the flag that names it.
"""

import json
import os
import subprocess
import sys

from debezium_server_batch_spark import session
from debezium_server_batch_spark.session import DRIVER_JIT_OPTIONS, build_session

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


# One session with one job that reports its JVM's input arguments.
MAP_SCRIPT = r"""
import json, os, sys

repo, log = sys.argv[1:3]
sys.path.insert(0, repo)
from debezium_server_batch_spark.session import build_session

conf_dir = os.environ.get("SPARK_CONF_DIR")
spark = build_session(
    master="local[1]", shuffle_partitions=1,
    extra_conf={"spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={log}"},
)
# the launch alone sees the engine's empty conf dir
conf_dir_kept = os.environ.get("SPARK_CONF_DIR") == conf_dir
spark.range(1000).selectExpr("sum(id)").collect()
jvm = spark.sparkContext._jvm
args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
print("RESULT " + json.dumps({"args": args, "conf_dir_kept": conf_dir_kept}))
"""


def _map_session(tmp_path, name: str, **env) -> tuple[dict, str]:
    log = tmp_path / f"{name}.log"
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "512m", "XDG_CACHE_HOME": str(tmp_path / "cache"), **env}
    proc = subprocess.run(
        [sys.executable, "-c", MAP_SCRIPT, REPO, str(log)],
        capture_output=True, text=True, env=env, timeout=300,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    return json.loads(lines[-1][len("RESULT "):]), log.read_text()


def _top_archive_classes(log: str) -> int:
    return sum(1 for ln in log.splitlines() if ln.endswith("source: shared objects file (top)"))


def test_class_archive_is_built_once_then_mapped(tmp_path):
    cds_dir = tmp_path / "cache" / "spark_graft" / "cds"
    # a cold cache: a session adds no sharing flag and writes nothing
    cold, classes = _map_session(tmp_path, "cold")
    assert cold["conf_dir_kept"]
    assert not any("SharedArchiveFile" in a or "ArchiveClassesAtExit" in a for a in cold["args"])
    assert _top_archive_classes(classes) == 0
    assert not (tmp_path / "cache").exists()

    env = {**os.environ, "SPARK_DRIVER_MEMORY": "512m", "XDG_CACHE_HOME": str(tmp_path / "cache")}
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "run_pipeline.py"), "--master", "local[1]", "class-archive"],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    # the dump's warnings would bury the CLI's JSON line
    assert "[cds" not in proc.stdout, proc.stdout[-4000:]
    built = json.loads(proc.stdout.splitlines()[-1])
    [archive] = cds_dir.iterdir()
    assert built["archive"] == str(archive) and archive.suffix == ".jsa"
    with archive.open("rb") as fh:
        assert fh.read(4) == session.CDS_MAGIC

    # a conf dir of templates only configures Spark as the empty one does
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("spark.ui.enabled true\n")
    warm, classes = _map_session(tmp_path, "map", SPARK_CONF_DIR=str(conf))
    assert warm["conf_dir_kept"]
    assert not any("ArchiveClassesAtExit" in a for a in warm["args"]), warm["args"]
    assert f"-XX:SharedArchiveFile={archive}" in warm["args"], warm["args"]
    assert _top_archive_classes(classes) >= 5000
    assert [p.name for p in cds_dir.iterdir()] == [archive.name]


def _no_gateway(monkeypatch, tmp_path):
    monkeypatch.setattr(session.SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))


def _fake_archive(tmp_path) -> str:
    """A built cache whose archive no JVM ever sees: a fake one SIGBUSes it."""
    root = tmp_path / "cache" / "spark_graft"
    (root / "cds").mkdir(parents=True)
    (root / "empty-conf").mkdir()
    archive = root / "cds" / (session.archive_key(session._find_spark_home()) + ".jsa")
    archive.write_bytes(session.CDS_MAGIC + bytes(100))
    return str(archive)


def test_header_less_dump_is_never_promoted(tmp_path, monkeypatch):
    _no_gateway(monkeypatch, tmp_path)
    archive = _fake_archive(tmp_path)
    os.unlink(archive)
    # what a dump killed before its header leaves: a zeroed header
    dead = archive[:-len(".jsa")] + ".1-dead.part"
    with open(dead, "wb") as fh:
        fh.write(bytes(4096) + b"\1" * 4096)
    assert not session._promote(dead, archive)
    assert not os.path.exists(archive) and os.path.exists(dead)
    assert session.class_data_sharing({}) is None
    with open(dead, "r+b") as fh:
        fh.write(session.CDS_MAGIC)
    assert session._promote(dead, archive) and not os.path.exists(dead)
    flag, conf_dir = session.class_data_sharing({})
    assert flag == f"-XX:SharedArchiveFile={archive}"
    assert conf_dir == str(tmp_path / "cache" / "spark_graft" / "empty-conf")


def test_conf_dir_or_caller_sharing_options_disable_archive(tmp_path, monkeypatch):
    _no_gateway(monkeypatch, tmp_path)
    _fake_archive(tmp_path)
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert session.class_data_sharing({}) is not None
    (conf / "log4j2.properties").write_text("")
    env = dict(os.environ)
    assert session.class_data_sharing({}) is None
    assert dict(os.environ) == env
    monkeypatch.delenv("SPARK_CONF_DIR")
    assert session.class_data_sharing({"spark.driver.extraClassPath": str(tmp_path)}) is None
    for submit in (f"--driver-class-path {tmp_path} pyspark-shell",
                   f"--conf spark.driver.extraClassPath={tmp_path} pyspark-shell"):
        monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", submit)
        assert session.class_data_sharing({}) is None, submit
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS")
    # JDK 17 will not start a dump without its base archive
    assert session.class_data_sharing({"spark.driver.extraJavaOptions": "-Xshare:off"}) is None
    monkeypatch.setenv("JAVA_TOOL_OPTIONS", "-XX:-UseCompressedClassPointers")
    assert session.class_data_sharing({}) is None


def test_live_gateway_gets_no_flag_and_no_file_io(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    env = dict(os.environ)
    assert session.class_data_sharing({}) is None
    assert build_session(master="local[4]", shuffle_partitions=4, app_name="dsbs-tests") is spark
    assert dict(os.environ) == env
    assert list(tmp_path.iterdir()) == []
