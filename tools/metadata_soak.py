"""Metadata-layer soak: 1000 micro-batch commits on one LakeTable with
the steady-state maintenance cadence (inline minor compaction every 50
commits, a CONCURRENT vacuum thread under the live writer) — the
credibility test for the segmented-manifest commit path at 10^10-row
commit counts (r3 verdict next-round #7).

What it proves, with numbers:
  * per-commit metadata stays O(touched): the snapshot header and the
    new-manifest bytes written by commit #950 are no larger than by
    commit #50 (no linear creep as table history grows);
  * manifest folds amortize: the live manifest count at the end is
    bounded by the compaction interval, not the commit count;
  * vacuum under a live writer honors the orphan grace window: the
    concurrent vacuum loop never deletes a file any committed snapshot
    references (the appender never observes a broken read, and the
    final LWW state is exactly the expected per-key last write);
  * the meta dir doesn't accumulate: expired headers + dead manifests
    are reclaimed while the writer runs.

Usage: python tools/metadata_soak.py [n_commits=1000] [cores=8] [storage=posix|condput|flaky]
(condput runs the whole soak through the object-store semantics double;
flaky = condput + injected transient faults / stale listings at 5%
per op under the SDK-style retry layer — the degraded-store soak, with
retry-amplification counters in the report)
Prints one JSON line with the soak metrics.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_KEYS = 257  # keyspace wraps → every key is rewritten many times
ROWS_PER_COMMIT = 20
COMPACT_EVERY = 50
VACUUM_KEEP = 2


def main() -> None:
    n_commits = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    storage_name = sys.argv[3] if len(sys.argv) > 3 else "posix"

    from pyspark.sql import types as T

    from debezium_server_batch_spark.plans.laketable import LakeTable
    from debezium_server_batch_spark.plans.storage import (
        ConditionalPutStorage,
        PosixStorage,
        make_flaky_stack,
    )
    from debezium_server_batch_spark.session import build_session

    fault_rate = float(os.environ.get("SOAK_FAULT_RATE", "0.05"))
    if storage_name == "flaky":
        # the SAME stack the CLI ships (--storage flaky), via the shared
        # factory — seeded for reproducibility, tight backoff for soak speed
        storage = make_flaky_stack(fault_rate=fault_rate, seed=7, base_backoff_s=0.01)
    elif storage_name == "condput":
        storage = ConditionalPutStorage()
    else:
        storage = PosixStorage()

    spark = build_session(master=f"local[{cores}]", shuffle_partitions=cores)
    root = "/dev/shm/metadata-soak"
    shutil.rmtree(root, ignore_errors=True)

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("text", T.StringType(), True),
            T.StructField("__lsn", T.LongType(), True),
            T.StructField("__deleted", T.BooleanType(), True),
        ]
    )
    t = LakeTable.create(
        spark, root, schema, key_col="url", num_buckets=8,
        order_by=("__lsn",), merge_mode="mor",
        storage=storage,
    )
    meta_dir = os.path.join(root, "_meta")

    stop = threading.Event()
    vacuum_errors: list[str] = []
    vacuum_runs = {"n": 0}

    def vacuum_loop():
        # a live maintenance daemon racing the appender: default grace
        # window (600 s) must keep every young in-flight/committed file
        h = LakeTable.load(spark, root, storage=storage)
        while not stop.is_set():
            try:
                h.vacuum(keep_last=VACUUM_KEEP)
                vacuum_runs["n"] += 1
            except Exception as e:  # noqa: BLE001 — surfaced in the report
                vacuum_errors.append(repr(e))
            stop.wait(0.5)

    vt = threading.Thread(target=vacuum_loop, daemon=True)
    vt.start()

    header_bytes: list[int] = []
    new_manifest_bytes: list[int] = []
    expected: dict[str, int] = {}
    seen_manifests: set[str] = set()
    t0 = time.monotonic()
    for i in range(n_commits):
        rows = []
        for j in range(ROWS_PER_COMMIT):
            k = (i * ROWS_PER_COMMIT + j) % N_KEYS
            lsn = i * ROWS_PER_COMMIT + j
            rows.append((f"k{k}", f"v{lsn}", lsn, False))
            expected[f"k{k}"] = lsn
        t.merge(spark.createDataFrame(rows, schema))
        v = t.current_version()
        header_bytes.append(os.path.getsize(os.path.join(meta_dir, f"v{v:08d}.json")))
        fresh = 0
        for fn in os.listdir(meta_dir):
            if fn.startswith("m-") and fn not in seen_manifests:
                seen_manifests.add(fn)
                try:
                    fresh += os.path.getsize(os.path.join(meta_dir, fn))
                except OSError:
                    pass  # vacuumed between listdir and stat
        new_manifest_bytes.append(fresh)
        if (i + 1) % COMPACT_EVERY == 0:
            t.compact_deltas()
    elapsed = time.monotonic() - t0
    t.compact_deltas()
    stop.set()
    vt.join(timeout=10)

    # correctness: final LWW state == expected per-key last write
    got = {r["url"]: r["__lsn"] for r in t.read().collect()}
    state_ok = got == expected

    def decile(xs, lo_frac, hi_frac):
        n = len(xs)
        return xs[int(n * lo_frac) : max(int(n * hi_frac), int(n * lo_frac) + 1)]

    first_hdr = statistics.median(decile(header_bytes, 0.02, 0.12))
    last_hdr = statistics.median(decile(header_bytes, 0.88, 0.98))
    first_man = statistics.median(decile(new_manifest_bytes, 0.02, 0.12))
    last_man = statistics.median(decile(new_manifest_bytes, 0.88, 0.98))
    live_meta_files = len(os.listdir(meta_dir))

    out = {
        "storage": storage_name,
        "commits": n_commits,
        "compactions": n_commits // COMPACT_EVERY + 1,
        "vacuum_runs_concurrent": vacuum_runs["n"],
        "vacuum_errors": vacuum_errors,
        "elapsed_s": round(elapsed, 1),
        "commits_per_s": round(n_commits / elapsed, 2),
        "header_bytes_median_first_decile": int(first_hdr),
        "header_bytes_median_last_decile": int(last_hdr),
        "header_growth_ratio": round(last_hdr / max(first_hdr, 1), 3),
        "new_manifest_bytes_median_first_decile": int(first_man),
        "new_manifest_bytes_median_last_decile": int(last_man),
        "manifest_growth_ratio": round(last_man / max(first_man, 1), 3),
        "header_bytes_max": max(header_bytes),
        "meta_files_at_end": live_meta_files,
        "final_state_exact": state_ok,
        "final_rows": len(got),
    }
    if hasattr(storage, "stats"):  # flaky stack: fault + retry counters
        out["storage_retries"] = storage.stats.get("retries", 0)
        inner = getattr(storage, "inner", None)
        if inner is not None and hasattr(inner, "stats"):
            out["storage_faults"] = inner.stats
            out["retry_amplification"] = round(
                1 + storage.stats.get("retries", 0) / max(inner.stats.get("ops", 1), 1), 4
            )
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))
    if not state_ok or vacuum_errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
