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
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

APP_NAME = "CDC-Batch-Spark-Sink"  # reference: AbstractSparkChangeConsumer.java:31

DRIVER_JIT_OPTIONS = "-XX:CICompilerCount=2"


def spark_config_subset(config: dict, prefix: str = "spark.") -> dict:
    """Extract the pass-through Spark tuning subset of a config dict.

    Reference parity: everything under ``debezium.sink.sparkbatch.`` is
    forwarded into SparkConf (`BatchUtil.java:30-41`). Ours: every key
    that starts with ``prefix`` is forwarded verbatim.
    """
    return {k: v for k, v in config.items() if k.startswith(prefix)}


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
        .config("spark.driver.defaultJavaOptions", DRIVER_JIT_OPTIONS)
    )
    if master:
        b = b.master(master)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, str(v))
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
