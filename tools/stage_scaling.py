"""Stage-by-stage 2-vs-8-core scaling of the replay hot path, on the
same log scaling.py uses. Isolates which stage eats the efficiency:

  scan       parquet scan of the window (memory-bandwidth bound)
  group      envelope split + schema-group aggregate (grouping step)
  parse      scan + from_json typed parse → tiny agg (Jackson stage)
  write      parse → unbucketed parquet write (the map-only delta path)

Usage: python tools/stage_scaling.py <log_path> <cores> [out_json]
Run once per core count, alone on the box (scaling.py-style).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

log_path, cores = sys.argv[1], int(sys.argv[2])

from debezium_server_batch_spark.session import build_session  # noqa: E402

spark = build_session(master=f"local[{cores}]", shuffle_partitions=cores)
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from debezium_server_batch_spark.functions.connect_schema import compile_connect_schema  # noqa: E402
from debezium_server_batch_spark.operators.envelope import split_envelope  # noqa: E402
from debezium_server_batch_spark.sources.synth import SCHEMA_V2_JSON  # noqa: E402

df = spark.read.parquet(log_path)
n = df.count()  # warm the scan + JVM

struct = compile_connect_schema(SCHEMA_V2_JSON)
wrapper = T.StructType([T.StructField("payload", struct, True)])
parsed = df.select("offset", F.from_json("value", wrapper).alias("e")).select("offset", "e.payload.*")

results = {"cores": cores, "events": n}


def timed(label, fn):
    t0 = time.monotonic()
    fn()
    dt = time.monotonic() - t0
    results[label] = {"sec": round(dt, 2), "events_per_sec": round(n / dt, 1)}
    print(label, results[label], flush=True)


timed("scan", lambda: df.agg(F.sum(F.length("value"))).collect())
timed(
    "group",
    lambda: split_envelope(df)
    .groupBy("destination", "schema_hash")
    .agg(F.first("schema_str", True), F.min("offset"), F.count(F.lit(1)))
    .collect(),
)
timed("parse", lambda: parsed.agg(F.count("*"), F.sum(F.length("text"))).collect())

out_dir = tempfile.mkdtemp(prefix="stage-scaling-", dir="/dev/shm")
timed(
    "write",
    lambda: parsed.write.mode("overwrite").option("compression", "snappy").parquet(
        os.path.join(out_dir, "w")
    ),
)
import shutil

shutil.rmtree(out_dir, ignore_errors=True)
print(json.dumps(results))
if len(sys.argv) > 3:
    with open(sys.argv[3], "w") as fh:
        json.dump(results, fh)
spark.stop()
