"""from_json isolation probe: scan + typed envelope parse + count(*),
no shuffle, no writes. Separates the Jackson-parse stage's scaling from
the scan (membw_probe) and raw compute (hardware_probe).

Usage: python tools/parse_probe.py <log_path> <cores>
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

log_path, cores = sys.argv[1], int(sys.argv[2])

from debezium_server_batch_spark.session import build_session  # noqa: E402
from debezium_server_batch_spark.sources.synth import SCHEMA_V2  # noqa: E402

spark = build_session(master=f"local[{cores}]", shuffle_partitions=cores)
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402
from debezium_server_batch_spark.functions.connect_schema import compile_connect_schema  # noqa: E402
from debezium_server_batch_spark.sources.synth import SCHEMA_V2_JSON  # noqa: E402

struct = compile_connect_schema(json.loads(SCHEMA_V2_JSON) and SCHEMA_V2_JSON)
wrapper = T.StructType([T.StructField("payload", struct, True)])
df = spark.read.parquet(log_path)
df.limit(100).select(F.from_json("value", wrapper)).collect()  # warm
t0 = time.monotonic()
n = (
    df.select(F.from_json("value", wrapper).alias("e"))
    .select(F.length("e.payload.text").alias("l"))
    .agg(F.count("*"), F.sum("l"))
    .collect()[0][0]
)
dt = time.monotonic() - t0
print(json.dumps({"cores": cores, "rows": n, "sec": round(dt, 2), "rows_per_sec": round(n / dt, 1)}))
spark.stop()
