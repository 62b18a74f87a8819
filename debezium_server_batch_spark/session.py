"""SparkSession construction (reference parity: R1/R2, F7 in SURVEY.md §2.6).

The reference builds a local SparkSession with pass-through config
(`AbstractSparkChangeConsumer.java:30-32,55-72`; config subset extraction
`BatchUtil.java:30-41`). We do the same, with scale-oriented defaults:
AQE on, shuffle partitions sized to cores, Arrow enabled for pandas UDFs,
UTC session timezone (oracle comparability).

The driver JVM also gets a bounded JIT policy (``DRIVER_JIT_OPTIONS``):
two compiler threads, one C1 and one C2 (``CICompilerCount=2``), instead
of the three (one C1, two C2) the JVM picks on a 4-core host. A short
ingest run spends more CPU in C2 compiling Spark's start-up code than in
its tasks; one C2 thread cuts that by about 40% and leaves the cores to
the tasks. Hot code still reaches C2, only later, so task CPU rises by
less than compile CPU falls. The count is fixed and was measured on 4
cores; a much wider host gets far more compiler threads by default.

C2 itself stays on: C1 only (``TieredStopAtLevel=1``) ran a 10^9-row
whole-stage-codegen loop about 2x slower. Raising the tier-4 thresholds
as well, so that only hotter code reaches C2, cut compile CPU further
but slowed the 44-query benchmark's wall time by about 10%, so they
keep their defaults.

The policy is driver-only. In cluster mode the driver only plans, which
is short-lived cold code; executors run long tasks and keep the JVM's
defaults. It goes in ``spark.driver.defaultJavaOptions``, which Spark
puts before ``spark.driver.extraJavaOptions``, so a caller's extra JVM
flags add to it; a caller that sets ``defaultJavaOptions`` replaces it.

The driver JVM also starts from a dynamic AppCDS archive (class data
sharing) of the classes a session loads, once one has been built: a
replay of ~9,000 events then maps some 15,000 classes from it that every
start would otherwise load, parse and verify again. Sessions never write
the archive. ``python run_pipeline.py class-archive`` builds it
(``dump_class_archive``): one session, launched with
``-XX:ArchiveClassesAtExit=<key>.<pid>-<token>.part -Xlog:cds=off``, runs
a small replay, scan, lookup and compaction, and its JVM writes the
classes it loaded when it exits. That JVM peaks at about 40% more RSS
and writes 140-200 MB, which is why no ordinary session pays it: a cold
cache (CI, a fresh container, a new JDK) runs exactly as with no archive.
``cds=off`` keeps the dump's ~500 warnings (signed jars, old reflection
accessors) off stdout. Build the archive where it will persist, e.g. in
an image build.

When the archive exists, ``build_session`` appends
``-XX:SharedArchiveFile=<key>.jsa`` after the JIT policy; the mapping
launch keeps the JVM's default logging, so a rejected archive still
warns. The archive lives in ``${XDG_CACHE_HOME:-~/.cache}/spark_graft/cds/``.
The key hashes the ``java`` the launcher runs (``$JAVA_HOME/bin/java``,
else ``java`` on ``PATH``: its real path and the size and mtime of its
``lib/modules``) and the listing of ``$SPARK_HOME/jars`` (name, size,
mtime), so after a JDK or Spark upgrade sessions run without an archive
until it is built again; archives of other keys are left alone.

JDK 17 shapes the rest:

- A non-empty directory on the classpath before the jars breaks both the
  dump and the mapping, and Spark puts its conf dir first. The archive is
  used only when the conf dir (``SPARK_CONF_DIR``, else
  ``$SPARK_HOME/conf``) holds nothing but ``*.template`` files and no
  ``spark.driver.extraClassPath`` (in the conf or in
  ``PYSPARK_SUBMIT_ARGS``), ``--driver-class-path`` or ``SPARK_CLASSPATH``
  adds to the classpath. The gateway then starts with ``SPARK_CONF_DIR``
  set to an empty directory the build made, which configures Spark
  exactly as the templates do; ``os.environ`` is restored after the
  launch. Otherwise no flag is added.
- The JVM dies with SIGBUS when it maps a truncated archive, but rejects
  one whose header is zero, and a dump writes its header last. So the
  build promotes its ``.part`` to ``<key>.jsa`` (one ``os.replace``, so a
  concurrent session sees the old archive or the new one) only after the
  JVM has exited and only when the file starts with the dynamic-archive
  magic; otherwise it deletes it. A build killed mid-dump leaves a
  ``.part`` that no session reads.
- A dump needs the JDK's base archive (``lib/server/classes.jsa``) and
  the JVM refuses to start without it, so ``-Xshare:off``,
  ``-XX:-UseCompressedClassPointers`` or a caller's own archive option in
  ``spark.driver.extraJavaOptions``, ``JAVA_TOOL_OPTIONS`` and the like
  mean no flag.
- Driver options cannot reach a JVM that is already running, so with a
  live gateway (``SparkContext._gateway`` or ``PYSPARK_GATEWAY_PORT``)
  the engine adds no flag and touches no file.

``rm -rf ~/.cache/spark_graft`` clears the archive; ``-Xshare:off`` in
``spark.driver.extraJavaOptions`` turns sharing off. ``tools/hardware_probe.py``
builds its own session without the archive, so it stays a control.
"""

from __future__ import annotations

import hashlib
import os
import re
import secrets
import shutil
from collections.abc import Callable
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

APP_NAME = "CDC-Batch-Spark-Sink"  # reference: AbstractSparkChangeConsumer.java:31

DRIVER_JIT_OPTIONS = "-XX:CICompilerCount=2"

# first bytes of a complete JDK 17 dynamic archive: its magic 0xf00baba8,
# little-endian, in the header the dump writes last
CDS_MAGIC = bytes.fromhex("a8ab0bf0")
# caller JVM options that decide sharing themselves or keep the JDK's base
# archive from loading; JDK 17 refuses to start a dump without that base
CALLER_CDS_OPTIONS = re.compile(r"-Xshare|SharedArchiveFile|ArchiveClassesAtExit|UseCompressedClassPointers")
# where a caller's options reach the driver JVM besides extraJavaOptions
CALLER_JVM_ENV = ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS",
                  "SPARK_SUBMIT_OPTS", "PYSPARK_SUBMIT_ARGS")


def spark_config_subset(config: dict, prefix: str = "spark.") -> dict:
    """Extract the pass-through Spark tuning subset of a config dict.

    Reference parity: everything under ``debezium.sink.sparkbatch.`` is
    forwarded into SparkConf (`BatchUtil.java:30-41`). Ours: every key
    that starts with ``prefix`` is forwarded verbatim.
    """
    return {k: v for k, v in config.items() if k.startswith(prefix)}


def archive_key(spark_home: str) -> str | None:
    """Hash of the driver's JDK and Spark jars.

    None without a ``java`` or without the JDK's base archive, which a
    dynamic archive extends.
    """
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java or not os.path.isfile(java):
        return None
    java = os.path.realpath(java)
    jdk = os.path.dirname(os.path.dirname(java))
    if not os.path.isfile(os.path.join(jdk, "lib", "server", "classes.jsa")):
        return None
    modules = os.stat(os.path.join(jdk, "lib", "modules"))
    h = hashlib.sha256(f"{java}\0{modules.st_size}\0{modules.st_mtime_ns}".encode())
    for e in sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name):
        st = e.stat()
        h.update(f"\0{e.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _archive_paths(conf: dict) -> tuple[str, str] | None:
    """This install's archive path and the empty conf dir to launch with.

    None when the archive cannot apply (see the module docstring): a live
    gateway, a caller's own sharing options, a classpath or conf dir that
    JDK 17's archives reject, or an unreadable install. Reads only.
    """
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    caller = " ".join([conf.get("spark.driver.extraJavaOptions", "")]
                      + [os.environ.get(v, "") for v in CALLER_JVM_ENV])
    if CALLER_CDS_OPTIONS.search(caller):
        return None
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if (conf.get("spark.driver.extraClassPath") or os.environ.get("SPARK_CLASSPATH")
            or "--driver-class-path" in submit_args or "spark.driver.extraClassPath" in submit_args):
        return None
    root = os.path.join(os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
                        "spark_graft")
    if any(c.isspace() for c in root):  # the flag goes through a space-split option string
        return None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        if os.path.isdir(conf_dir) and any(not n.endswith(".template") for n in os.listdir(conf_dir)):
            return None
        key = archive_key(spark_home)
    except OSError:
        return None
    if key is None:
        return None
    return os.path.join(root, "cds", key + ".jsa"), os.path.join(root, "empty-conf")


def class_data_sharing(conf: dict) -> tuple[str, str] | None:
    """The flag that maps this install's class archive, and the conf dir
    to launch with.

    None when the archive cannot apply or has not been built
    (``dump_class_archive``). Reads only: a session never writes the cache.
    """
    paths = _archive_paths(conf)
    if paths is None:
        return None
    archive, empty_conf = paths
    try:
        if not os.path.isfile(archive) or os.listdir(empty_conf):
            return None
    except OSError:  # no empty conf dir: the build did not finish
        return None
    return f"-XX:SharedArchiveFile={archive}", empty_conf


def _promote(part: str, archive: str) -> bool:
    """Move a finished dump into place if its header is complete."""
    with open(part, "rb") as fh:
        if fh.read(len(CDS_MAGIC)) != CDS_MAGIC:
            return False
    os.replace(part, archive)
    return True


def dump_class_archive(workload: Callable[[SparkSession], object], master: str | None = None) -> str:
    """Build this install's class archive from a session that runs ``workload``.

    Launches a driver JVM that writes the classes it loaded when it exits,
    runs ``workload(spark)``, stops the session, waits for the JVM and
    promotes its dump to the archive ``build_session`` maps. Returns the
    archive's path. The gateway is gone afterwards, so call it in a
    process that has started no session and will start no other.
    """
    paths = _archive_paths({})
    if paths is None:
        raise RuntimeError("no class archive applies here: a live gateway, caller sharing or "
                           "classpath options, a non-template conf file or no JDK base archive")
    archive, empty_conf = paths
    os.makedirs(os.path.dirname(archive), exist_ok=True)
    os.makedirs(empty_conf, exist_ok=True)
    if os.listdir(empty_conf):
        raise RuntimeError(f"{empty_conf} must stay empty")
    part = f"{archive[:-len('.jsa')]}.{os.getpid()}-{secrets.token_hex(4)}.part"
    try:
        spark = _launch(master, APP_NAME, None, None,
                        (f"-XX:ArchiveClassesAtExit={part} -Xlog:cds=off", empty_conf))
        gateway = SparkContext._gateway
        try:
            workload(spark)
        finally:
            spark.stop()
            gateway.proc.stdin.close()  # the JVM exits on stdin EOF and dumps as it exits
            gateway.proc.wait()
        if not (os.path.exists(part) and _promote(part, archive)):
            raise RuntimeError("the driver JVM left no complete class archive")
    finally:
        if os.path.exists(part):
            os.unlink(part)
    return archive


@contextmanager
def _spark_conf_dir(path: str | None):
    """Set ``SPARK_CONF_DIR`` for the gateway launch, then restore it."""
    old = os.environ.get("SPARK_CONF_DIR")
    if path is not None:
        os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        if old is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = old


def build_session(
    master: str | None = None,
    app_name: str = APP_NAME,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a SparkSession with CDC-ingest defaults.

    ``master=None`` defers to spark-submit (multi-executor clusters);
    tests pass ``local[N]`` explicitly.
    """
    return _launch(master, app_name, shuffle_partitions, extra_conf,
                   class_data_sharing(extra_conf or {}))


def _launch(
    master: str | None,
    app_name: str,
    shuffle_partitions: int | None,
    extra_conf: dict | None,
    cds: tuple[str, str] | None,
) -> SparkSession:
    """``build_session`` with a given sharing flag and launch conf dir."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # zstd over snappy: web text compresses ~2× smaller, trading idle
        # CPU for scarce disk/network bytes — the right side of the trade
        # for an ingest pipeline that is storage-bandwidth-bound
        .config("spark.sql.parquet.compression.codec", "zstd")
        # finer input splits: an offset-windowed replay touches only the
        # few files covering the window (range-partitioned log), and the
        # 128 MB default then yields ~1 task per file — too coarse to
        # balance across executors (stragglers at 1.x task waves). 16 MB
        # splits keep every window's scan ≥ 4 tasks/file so parse+write
        # saturates the cluster regardless of window placement.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    b = b.config("spark.driver.defaultJavaOptions",
                 f"{DRIVER_JIT_OPTIONS} {cds[0]}" if cds else DRIVER_JIT_OPTIONS)
    if master:
        b = b.master(master)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, str(v))
    with _spark_conf_dir(cds[1] if cds else None):
        spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def session_scope(**kwargs):
    """Context-managed session (reference parity: stop on shutdown, R2)."""
    spark = build_session(**kwargs)
    try:
        yield spark
    finally:
        spark.stop()
