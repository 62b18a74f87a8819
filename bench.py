"""Benchmark harness — prints ONE JSON line, also written to bench_result.json.

Headline metric: end-to-end CDC replay throughput (synthetic Debezium
event log → envelope parse → LWW dedup → LakeTable MERGE upsert),
sized from the sf directory's lineitem row count so sf0.01/sf0.1 scale
the event volume 10×. Also times each `__spark_entry__.queries()` entry
at the same sf.

Noise normalization (r4 verdict next-round #7): this sandbox is a
time-shared VM with ±40% session-to-session throughput swings, so raw
seconds are not comparable across rounds. Each bench run therefore
first executes tools/hardware_probe.py (a pure whole-stage-codegen
loop — zero I/O, zero shuffle, zero Python) in its own JVM and reports:
  probe_rows_per_sec          what the host delivered THIS run
  queries_normalized          t_raw * probe_now / PROBE_REF — the time
                              this run WOULD have taken at the
                              reference epoch's host speed
Regression comparisons across rounds should use the normalized
columns; raw stays authoritative for absolute throughput claims.

Env:
  SPARK_GRAFT_SF_DIR  input dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[N] parallelism (default 32)
  BENCH_QUERIES       comma list to restrict query timing (optional)
  BENCH_SKIP_REPLAY   set to skip the CDC replay (debug)
  BENCH_SKIP_PROBE    set to skip the hardware probe (debug)
  BENCH_PROBE_REF     override the reference probe M rows/s anchor
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from debezium_server_batch_spark.session import build_session  # noqa: E402


def force_evaluate(df) -> int:
    """Full-evaluation sink: xxhash64 every column of every row, fold to
    one long. Timing with df.count() lets Catalyst prune all unreferenced
    projections, so map-only queries (token_stats, lang_id, ...) would be
    under-measured; hashing every output column defeats the pruning while
    collecting only 8 bytes."""
    row = (
        df.select(F.xxhash64(*df.columns).cast("decimal(38,0)").alias("h"))
        .agg(F.sum("h").alias("s"))
        .first()
    )
    return int(row["s"] or 0)


def run_replay(spark, sf_dir: str, workdir: str) -> dict:
    from debezium_server_batch_spark.sources.synth import generate_event_log, write_event_log
    from debezium_server_batch_spark.streaming.runner import CdcPipeline, PipelineConfig

    li_rows = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    n_pages = max(li_rows // 4, 1000)  # sf0.1 → ~150k pages, ~600k events

    log_path = os.path.join(workdir, "log")
    t0 = time.monotonic()
    write_event_log(
        generate_event_log(spark, n_pages=n_pages, n_hot=max(n_pages // 1000, 2), hot_k=64),
        log_path,
        n_files=32,
    )
    gen_s = time.monotonic() - t0

    cfg = PipelineConfig(
        log_path=log_path,
        table_root=os.path.join(workdir, "pages"),
        batch_events=300_000,  # event-count-balanced micro-batches
        num_buckets=32,
        merge_mode="mor",
    )
    t0 = time.monotonic()
    stats = CdcPipeline(spark, cfg).run()
    replay_s = time.monotonic() - t0
    # fold MoR deltas so the table is scan-ready; reported separately
    from debezium_server_batch_spark.plans.laketable import LakeTable

    t0 = time.monotonic()
    table = LakeTable.load(spark, cfg.table_root)
    table.compact()
    compact_s = time.monotonic() - t0
    final_rows = table.read().count()
    return {
        "n_pages": n_pages,
        "n_events": stats.events,
        "n_batches": stats.batches,
        "final_rows": final_rows,
        "generate_sec": round(gen_s, 3),
        "replay_sec": round(replay_s, 3),
        "compact_sec": round(compact_s, 3),
        "events_per_sec": round(stats.events / max(replay_s, 1e-9), 1),
        "events_per_sec_incl_compact": round(stats.events / max(replay_s + compact_s, 1e-9), 1),
    }


# Hardware-probe anchor: tools/hardware_probe.py at 32 threads on this
# host during the round-5 session (quiet box). Rounds normalize their
# raw times to this epoch; the anchor itself never changes once set.
PROBE_REF_ROWS_PER_SEC = 1546.6

# the result line is also written here (progress output can bury stdout)
RESULT_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_result.json")


def run_probe(cpus: int) -> float | None:
    """Host-delivery probe in its own JVM (before the bench session so
    the measurement is clean). Returns M rows/s or None on failure."""
    import subprocess

    try:
        r = subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                          "tools", "hardware_probe.py"), str(cpus)],
            capture_output=True, timeout=300,
        )
        lines = [ln for ln in r.stdout.decode().splitlines() if ln.startswith("{")]
        return float(json.loads(lines[-1])["rows_per_sec"]) if lines else None
    except Exception:
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    probe_now = None
    if not os.environ.get("BENCH_SKIP_PROBE"):
        probe_now = run_probe(cpus)
    probe_ref = float(os.environ.get("BENCH_PROBE_REF", PROBE_REF_ROWS_PER_SEC))

    spark = build_session(master=f"local[{cpus}]", shuffle_partitions=cpus, app_name="dsbs-bench")

    # the entry import runs the engine's warm-up, which is JIT-heavy
    # start-up work a user pays for, so the total counts it
    t_total = time.monotonic()
    import __spark_entry__ as entrymod

    import_s = round(time.monotonic() - t_total, 3)
    query_times: dict[str, float] = {}
    only = os.environ.get("BENCH_QUERIES")
    only_set = set(only.split(",")) if only else None
    for name, fn in entrymod.queries().items():
        if only_set and name not in only_set:
            continue
        t0 = time.monotonic()
        df = fn(spark, sf_dir)
        force_evaluate(df)
        query_times[name] = round(time.monotonic() - t0, 3)

    replay = {}
    if not os.environ.get("BENCH_SKIP_REPLAY"):
        workdir = tempfile.mkdtemp(prefix="dsbs-bench-")
        try:
            replay = run_replay(spark, sf_dir, workdir)
            query_times["cdc_replay"] = replay["replay_sec"]
        finally:
            shutil.rmtree(workdir, ignore_errors=True)

    total = round(time.monotonic() - t_total, 3)
    out = {
        "metric": "total_bench_seconds",
        "value": total,
        "unit": "sec",
        "import_sec": import_s,
        "queries": query_times,
        "sf": sf,
        "cpus": cpus,
        "replay": replay,
    }
    if probe_now:
        # t_norm = t_raw * speed_now / speed_ref: the time this run
        # WOULD have taken at the reference epoch's host speed (slow
        # host → raw inflated → normalized corrects DOWN)
        k = probe_now / probe_ref
        out["probe_rows_per_sec"] = probe_now
        out["probe_ref_rows_per_sec"] = probe_ref
        out["host_speed_vs_ref"] = round(k, 3)
        out["queries_normalized"] = {q: round(t * k, 3) for q, t in query_times.items()}
        out["value_normalized"] = round(total * k, 3)
        if replay:
            out["replay_events_per_sec_normalized"] = round(
                replay["events_per_sec"] / k, 1
            )
    spark.stop()
    with open(RESULT_PATH, "w") as fh:
        json.dump(out, fh)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
