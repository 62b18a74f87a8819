"""Replay, lookups and empty-table reads run entirely in the JVM.

A fresh session in a subprocess replays a log that mixes envelopes that
carry a schema, schema-less envelopes (JVM-side inference) and truncated
ones (quarantined into the dead-letter spool), runs point lookups, and
reads an empty table. Afterwards no ``pyspark.daemon``/``pyspark.worker``
process may exist under the driver, the tables must equal a
last-writer-wins oracle over the raw log, and the spool must hold
exactly the truncated offsets.
"""

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq

TESTS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TESTS)
COLS = ("url", "__lsn", "text", "lang")
TRUNCATE_EVERY = 37  # offsets o with o % 37 == 5 lose their tail

SCRIPT = r"""
import json, os, sys

repo, tests, work = sys.argv[1:4]
sys.path[:0] = [repo, tests]
from conftest import python_worker_processes
from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_server_batch_spark.plans.laketable import LakeTable
from debezium_server_batch_spark.session import build_session
from debezium_server_batch_spark.sources.synth import generate_event_log, write_event_log
from debezium_server_batch_spark.streaming.runner import CdcPipeline, PipelineConfig

spark = build_session(master="local[2]", shuffle_partitions=2)
log, tables = os.path.join(work, "log"), os.path.join(work, "tables")
ev = generate_event_log(spark, n_pages=60, seed=3)
odd = F.pmod(F.col("offset"), F.lit(2)) == 1
schemaless = F.concat(
    F.lit('{"schema":null,"payload":'), F.get_json_object("value", "$.payload"), F.lit("}")
)
truncate = F.pmod(F.col("offset"), F.lit(%(every)d)) == 5
ev = ev.withColumns({
    "destination": F.when(odd, F.lit("t.schemaless")).otherwise(F.lit("t.schemaful")),
    "value": F.when(odd, schemaless).otherwise(F.col("value")),
})
ev = ev.withColumn(
    "value",
    F.when(truncate, F.expr("substring(value, 1, length(value) - 24)")).otherwise(F.col("value")),
)
write_event_log(ev, log, n_files=2)

cfg = PipelineConfig(
    log_path=log, table_root=tables, batch_events=80, num_buckets=2,
    table_per_destination=True, dead_letter=os.path.join(work, "dlq"),
)
CdcPipeline(spark, cfg).run()
out = {"tables": {}, "lookups": {}}
for d in sorted(os.listdir(tables)):
    t = LakeTable.load(spark, os.path.join(tables, d))
    out["tables"][d] = [list(r) for r in t.read().select(*%(cols)r).collect()]
    urls = sorted(r[0] for r in out["tables"][d])[:3] + ["https://absent.example.com/"]
    out["lookups"][d] = [list(r) for r in t.read_keys(urls).select(*%(cols)r).collect()]
out["dlq_offsets"] = sorted(
    r[0] for r in spark.read.parquet(cfg.dead_letter).select("offset").collect()
)

empty = LakeTable.create(
    spark, os.path.join(work, "empty"),
    schema=T.StructType([T.StructField("url", T.StringType(), False),
                         T.StructField("__lsn", T.LongType())]),
    key_col="url", num_buckets=2, order_by=("__lsn",),
)
out["empty_counts"] = [
    empty.read().count(), empty.changes(0).count(),
    empty.read_keys(["k"]).count(), empty.read_keys([]).count(),
]
out["workers"] = python_worker_processes(os.getpid())
spark.stop()
print("RESULT " + json.dumps(out))
""" % {"every": TRUNCATE_EVERY, "cols": COLS}


def _lww_oracle(log_path: str) -> tuple[dict, list[int]]:
    """Live rows per destination (last __lsn per url wins, deletes drop
    the key) and the offsets whose value does not parse."""
    tbl = pq.read_table(log_path, columns=["offset", "destination", "value"]).to_pylist()
    last: dict = {}
    bad = []
    for r in tbl:
        if r["value"] is None:
            continue
        try:
            p = json.loads(r["value"])["payload"]
        except ValueError:
            bad.append(r["offset"])
            continue
        k = (r["destination"], p["url"])
        if k not in last or p["__lsn"] > last[k]["__lsn"]:
            last[k] = p
    live: dict = {}
    for (dest, _), p in last.items():
        if p["__deleted"] == "false":
            live.setdefault(dest, set()).add(tuple(p[c] for c in COLS))
    return live, sorted(bad)


def test_replay_and_lookups_start_no_python_worker(tmp_path):
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "1g"}
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, REPO, TESTS, str(tmp_path)],
        capture_output=True, text=True, env=env, timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    out = json.loads(lines[-1][len("RESULT "):])

    assert out["workers"] == []
    live, bad = _lww_oracle(str(tmp_path / "log"))
    assert sorted(live) == sorted(out["tables"]) == ["t.schemaful", "t.schemaless"]
    for dest, rows in out["tables"].items():
        got = {tuple(r) for r in rows}
        assert len(got) == len(rows) and got == live[dest], dest
        probed = sorted(r[0] for r in rows)[:3]
        assert {tuple(r) for r in out["lookups"][dest]} == {
            r for r in live[dest] if r[0] in probed
        }
    # truncated envelopes of both destinations, and nothing else
    assert bad and any(o % 2 for o in bad) and any(o % 2 == 0 for o in bad)
    assert sorted(set(out["dlq_offsets"])) == bad
    assert out["empty_counts"] == [0, 0, 0, 0]
