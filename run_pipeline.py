"""CLI entry point — run the CDC replay pipeline via spark-submit.

Cluster use (north_rule: multi-executor, two cluster sizes):

    zip -r engine.zip debezium_server_batch_spark
    spark-submit --py-files engine.zip run_pipeline.py replay \
        --log /lake/cdc_log --table /lake/pages --batch-window 5000000

Local evidence runs (sandbox): --master local[8] / local[32].

Subcommands:
  generate   synthesize a deterministic Debezium-shaped event log
  replay     replay the log into a LakeTable (resumes from checkpoint)
  compact    run table maintenance (compaction + tombstone purge + vacuum)
  publish    write-audit-publish gate (make staged commits visible / --discard)
  rescale    bucket-count evolution (rewrite under bucket(N', key))
  rollback   roll a table back to an earlier snapshot (bad-batch recovery)
  describe   print table state (version, rows, files, deltas, checkpoints)
  fsck       consistency check: metadata graph vs data files (exit 1 on findings)
  class-archive  build the driver JVM's class-data-sharing archive for this
             JDK and Spark install; later sessions start from it
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _make_storage(name: str, fault_rate: float = 0.05, fault_seed: int = 0):
    if name == "condput":
        from debezium_server_batch_spark.plans.storage import ConditionalPutStorage

        return ConditionalPutStorage()
    if name == "flaky":
        # degraded object store: condput semantics + injected transient
        # faults/stale listings under the SDK-style retry layer — the
        # fault-injection soak configuration
        from debezium_server_batch_spark.plans.storage import make_flaky_stack

        return make_flaky_stack(fault_rate=fault_rate, seed=fault_seed)
    return None  # PosixStorage default


def _class_archive(master: str | None) -> None:
    """Dump the classes a small replay, scan, lookup and compaction load,
    so that later sessions map them instead of loading them again."""
    import os
    import tempfile

    from debezium_server_batch_spark.session import dump_class_archive

    def workload(spark) -> None:
        from debezium_server_batch_spark.plans.laketable import LakeTable
        from debezium_server_batch_spark.sources.synth import generate_event_log, write_event_log
        from debezium_server_batch_spark.streaming.runner import CdcPipeline, PipelineConfig

        with tempfile.TemporaryDirectory() as d:
            log, table = os.path.join(d, "log"), os.path.join(d, "table")
            write_event_log(generate_event_log(spark, n_pages=400, n_hot=2, hot_k=16), log, n_files=4)
            # small windows: the first takes the grouped path, later ones the fast path
            cfg = PipelineConfig(log_path=log, table_root=table, batch_events=400, num_buckets=4)
            CdcPipeline(spark, cfg).run()
            t = LakeTable.load(spark, table)
            keys = [r[0] for r in t.read().select("url").limit(4).collect()]
            t.read_keys(keys).collect()
            t.compact()
            LakeTable.load(spark, table).read().count()

    t0 = time.monotonic()
    archive = dump_class_archive(workload, master=master)
    print(json.dumps({"archive": archive, "bytes": os.path.getsize(archive),
                      "sec": round(time.monotonic() - t0, 2)}))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="PySpark-native CDC ingest engine")
    p.add_argument("--master", default=None, help="override Spark master (else spark-submit's)")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate")
    g.add_argument("--out", required=True)
    g.add_argument("--pages", type=int, default=100_000)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--hot-pages", type=int, default=100)
    g.add_argument("--hot-k", type=int, default=64)
    g.add_argument("--files", type=int, default=32)

    r = sub.add_parser("replay")
    r.add_argument("--log", required=True)
    r.add_argument("--table", required=True)
    r.add_argument("--batch-window", type=int, default=1_000_000)
    r.add_argument("--batch-events", type=int, default=None, help="event-count-balanced windows")
    r.add_argument("--merge-mode", default="mor", choices=["mor", "cow"])
    r.add_argument(
        "--key",
        default="url",
        help="merge key: column, comma-separated composite, or 'auto' to derive "
        "per destination from the Debezium key envelope",
    )
    r.add_argument(
        "--partition-ts",
        default="warc_ts",
        help="event-time day-partition column for the target table ('' disables)",
    )
    r.add_argument("--compact-every", type=int, default=None)
    r.add_argument("--auto-compact", action="store_true",
                   help="trigger minor compaction from observed state (outstanding "
                   "delta files >= --auto-compact-min-deltas) instead of a cadence")
    r.add_argument("--auto-compact-min-deltas", type=int, default=48)
    r.add_argument("--auto-compact-rows-factor", type=float, default=3.0,
                   help="also fold when outstanding delta rows reach this fraction "
                   "of the collapsed table (catches few-huge-deltas at big batches)")
    r.add_argument("--buckets", type=int, default=64)
    r.add_argument("--max-batches", type=int, default=None)
    r.add_argument("--metrics", default=None, help="JSONL lineage side-log path")
    r.add_argument("--dead-letter", default=None,
                   help="DLQ spool path: raw rows of events whose merge key parses "
                   "to null (malformed envelopes) are appended here as parquet; "
                   "they are excluded from merges either way")
    r.add_argument("--wap", action="store_true",
                   help="write-audit-publish: stage every commit (merges, checkpoints, "
                   "auto-compaction) invisibly; run audits, then `publish` to flip "
                   "visible, or `publish --discard` to drop the staged chain")
    r.add_argument("--log-format", default="parquet", choices=["parquet", "json"],
                   help="event-log source format (json = jsonlines spool, S6)")
    r.add_argument("--sink", default="laketable", choices=["laketable", "files"],
                   help="files = reference W1 parity: append-only save per destination")
    r.add_argument("--save-format", default="parquet", help="files sink: any Spark format")
    r.add_argument("--save-mode", default="append", help="files sink: save mode")
    r.add_argument("--objectkey-partition", action="store_true",
                   help="files sink: wall-clock dt= path partition (reference P6)")
    r.add_argument("--partition-tz", default="UTC")
    r.add_argument("--track-lag", action="store_true", help="emit ms-behind-source per batch")
    r.add_argument("--storage", default="posix", choices=["posix", "condput", "flaky"],
                   help="metadata/commit storage backend: posix hard-link claims, "
                   "object-store conditional-PUT semantics (condput), or condput "
                   "under injected transient faults + SDK-style retries (flaky)")
    r.add_argument("--fault-rate", type=float, default=0.05,
                   help="flaky storage: per-op transient-fault probability (and "
                   "stale-list probability)")
    r.add_argument("--fault-seed", type=int, default=0,
                   help="flaky storage: RNG seed (0 = derive from pid)")
    r.add_argument("--writer-id", default=None,
                   help="named checkpoint slot: N processes replay disjoint offset "
                   "ranges of one log into ONE table, each resuming independently")
    r.add_argument("--replay-from", type=int, default=None,
                   help="first offset (inclusive) of this writer's slice")
    r.add_argument("--replay-until", type=int, default=None,
                   help="last offset (inclusive) of this writer's slice")
    r.add_argument("--wait-strategy", default="NoBatchSizeWait")
    r.add_argument("--max-batch-size", type=int, default=2048)
    r.add_argument("--max-wait-ms", type=int, default=300_000)

    m = sub.add_parser("compact")
    m.add_argument("--table", required=True)
    m.add_argument("--storage", default="posix", choices=["posix", "condput", "flaky"])
    m.add_argument("--fault-rate", type=float, default=0.05)
    m.add_argument("--fault-seed", type=int, default=0)
    m.add_argument("--incremental", action="store_true",
                   help="minor compaction: fold outstanding deltas only (O(deltas), not O(table))")
    m.add_argument("--sort", action="store_true",
                   help="incremental mode: range-cluster + sort folded buckets on the key "
                   "(disjoint zone maps; ~3x fold cost — the read-optimize pass)")
    m.add_argument("--purge-tombstones", action="store_true")
    m.add_argument("--vacuum-keep", type=int, default=2)

    d = sub.add_parser("describe", help="print table state as JSON: version, rows, "
                       "files, outstanding deltas, schema, checkpoint slots, retained versions")
    d.add_argument("--table", required=True)
    d.add_argument("--storage", default="posix", choices=["posix", "condput", "flaky"])
    d.add_argument("--fault-rate", type=float, default=0.05)
    d.add_argument("--fault-seed", type=int, default=0)

    fk = sub.add_parser("fsck", help="consistency check: metadata graph vs data files "
                        "(parent chain, manifests, file existence, duplicate claims, "
                        "checkpoint monotonicity; --deep verifies parquet footers)")
    fk.add_argument("--table", required=True)
    fk.add_argument("--deep", action="store_true")
    fk.add_argument("--storage", default="posix", choices=["posix", "condput", "flaky"])
    fk.add_argument("--fault-rate", type=float, default=0.05)
    fk.add_argument("--fault-seed", type=int, default=0)

    pub = sub.add_parser("publish", help="write-audit-publish gate: make the staged "
                         "chain visible to default readers (one metadata-only commit), "
                         "or --discard it (rollback to the published floor, checkpoints "
                         "co-roll so re-ingest re-replays the discarded windows)")
    pub.add_argument("--table", required=True)
    pub.add_argument("--discard", action="store_true")
    pub.add_argument("--storage", default="posix", choices=["posix", "condput", "flaky"])
    pub.add_argument("--fault-rate", type=float, default=0.05)
    pub.add_argument("--fault-seed", type=int, default=0)

    rs = sub.add_parser("rescale", help="bucket-count evolution: rewrite the table "
                        "under bucket(N', key) — Iceberg partition-spec evolution for "
                        "tables whose key-space outgrew the creation-time bucket count")
    rs.add_argument("--table", required=True)
    rs.add_argument("--buckets", type=int, required=True)
    rs.add_argument("--storage", default="posix", choices=["posix", "condput", "flaky"])
    rs.add_argument("--fault-rate", type=float, default=0.05)
    rs.add_argument("--fault-seed", type=int, default=0)

    ex = sub.add_parser("export", help="sync the table into a token-budget shard "
                        "tree (data/shard_id=N parquet + _manifest + _export_state.json): "
                        "first run = full export, later runs rewrite ONLY shards whose "
                        "documents changed since the consumed table version")
    ex.add_argument("--table", required=True)
    ex.add_argument("--out", required=True)
    ex.add_argument("--shard-tokens", type=int, default=100_000)
    ex.add_argument("--id-col", default="url")
    ex.add_argument("--text-col", default="text")
    ex.add_argument("--token-col", default="n_tokens",
                    help="token-count column; derived with token_count(text) when absent")
    ex.add_argument("--full", action="store_true",
                    help="force a full re-export (re-balances frozen shard boundaries)")
    ex.add_argument("--to-version", type=int, default=None,
                    help="pin the sync to a table snapshot (reproducible dataset builds)")
    ex.add_argument("--verify", action="store_true",
                    help="run the loader-side integrity diff after the sync")
    ex.add_argument("--storage", default="posix", choices=["posix", "condput", "flaky"])
    ex.add_argument("--fault-rate", type=float, default=0.05)
    ex.add_argument("--fault-seed", type=int, default=0)

    rb = sub.add_parser("rollback", help="roll the table back to an earlier snapshot "
                        "(bad-batch recovery; metadata-only, checkpoints roll back with the data)")
    rb.add_argument("--table", required=True)
    rb.add_argument("--to-version", type=int, required=True)
    rb.add_argument("--storage", default="posix", choices=["posix", "condput", "flaky"])
    rb.add_argument("--fault-rate", type=float, default=0.05)
    rb.add_argument("--fault-seed", type=int, default=0)

    sub.add_parser("class-archive", help="build the driver JVM's class-data-sharing "
                   "archive for this JDK and Spark install; run it where the cache "
                   "persists, once per install")

    args = p.parse_args(argv)
    if args.cmd == "class-archive":
        _class_archive(args.master)
        return 0

    from pyspark.sql import SparkSession

    from debezium_server_batch_spark.session import build_session

    # stop only sessions this CLI created: when main() is embedded (tests,
    # notebooks) it must not tear down the caller's session
    owns_session = SparkSession.getActiveSession() is None
    spark = build_session(master=args.master, shuffle_partitions=args.shuffle_partitions)
    try:
        if args.cmd == "generate":
            from debezium_server_batch_spark.sources.synth import generate_event_log, write_event_log

            t0 = time.monotonic()
            df = generate_event_log(
                spark, n_pages=args.pages, seed=args.seed, n_hot=args.hot_pages, hot_k=args.hot_k
            )
            write_event_log(df, args.out, n_files=args.files)
            n = spark.read.parquet(args.out).count()
            print(json.dumps({"events": n, "sec": round(time.monotonic() - t0, 2)}))

        elif args.cmd == "replay":
            from debezium_server_batch_spark.streaming.pacing import select_batch_size_wait
            from debezium_server_batch_spark.streaming.runner import CdcPipeline, PipelineConfig

            wait_cls = select_batch_size_wait(args.wait_strategy)
            if args.wait_strategy == "DynamicBatchSizeWait":
                wait = wait_cls(max_batch_size=args.max_batch_size, max_wait_ms=args.max_wait_ms)
            elif args.wait_strategy == "MaxBatchSizeWait":
                from debezium_server_batch_spark.sources.event_log import EventLogSource

                src = EventLogSource(spark, args.log)
                # both probes track the consumed position (the runner
                # updates wait.consumed_offset after every window) —
                # probing from offset 0 would freeze them at the log
                # head's state for the whole replay
                wait = wait_cls(
                    pending_fn=lambda: src.pending_count(
                        getattr(wait, "consumed_offset", 0)
                    ),
                    max_batch_size=args.max_batch_size,
                    max_wait_ms=args.max_wait_ms,
                    # skip waits while the upcoming tail is snapshot-phase
                    # load (__op='r'), like the reference's JMX-driven gate
                    snapshot_running_fn=lambda: src.snapshot_running(
                        getattr(wait, "consumed_offset", 0)
                    ),
                )
            else:
                wait = wait_cls()
            if args.key == "auto":
                key = None  # derive per destination from the key envelope
            elif "," in args.key:
                key = [k.strip() for k in args.key.split(",")]
            else:
                key = args.key
            cfg = PipelineConfig(
                log_path=args.log,
                table_root=args.table,
                key_col=key,
                batch_window=args.batch_window,
                batch_events=args.batch_events,
                num_buckets=args.buckets,
                metrics_path=args.metrics,
                dead_letter=args.dead_letter,
                wap=args.wap,
                merge_mode=args.merge_mode,
                compact_every=args.compact_every,
                auto_compact=args.auto_compact,
                auto_compact_min_deltas=args.auto_compact_min_deltas,
                auto_compact_rows_factor=args.auto_compact_rows_factor,
                partition_ts_col=args.partition_ts or None,
                log_format=args.log_format,
                sink=args.sink,
                save_format=args.save_format,
                save_mode=args.save_mode,
                objectkey_partition=args.objectkey_partition,
                partition_tz=args.partition_tz,
                track_lag=args.track_lag,
                writer_id=args.writer_id,
                replay_from=args.replay_from,
                replay_until=args.replay_until,
                storage=_make_storage(
                    getattr(args, "storage", "posix"),
                    fault_rate=getattr(args, "fault_rate", 0.05),
                    fault_seed=getattr(args, "fault_seed", 0),
                ),
            )
            stats = CdcPipeline(spark, cfg, batch_size_wait=wait).run(max_batches=args.max_batches)
            line = {
                "batches": stats.batches,
                "events": stats.events,
                "elapsed_sec": round(stats.elapsed_s, 2),
                "events_per_sec": round(stats.events_per_sec, 1),
            }
            # fault-injection observability: injected-fault + retry
            # amplification counters from the flaky/retrying stack
            st = cfg.storage
            if st is not None and hasattr(st, "stats"):
                line["storage_retries"] = st.stats.get("retries", 0)
                inner = getattr(st, "inner", None)
                if inner is not None and hasattr(inner, "stats"):
                    line["storage_faults"] = inner.stats
            print(json.dumps(line))

        elif args.cmd == "describe":
            from debezium_server_batch_spark.plans.laketable import LakeTable

            t = LakeTable.load(
                spark,
                args.table,
                storage=_make_storage(args.storage, args.fault_rate, args.fault_seed),
            )
            snap = t.snapshot()
            delta_files, delta_rows, collapsed_rows = t.outstanding_delta_stats(snap)
            files = sum(len(fs) for fs in snap["buckets"].values())
            print(json.dumps({
                "version": snap["version"],
                "format_version": snap.get("format_version", 1),
                "operation": (snap.get("summary") or {}).get("operation"),
                # pre-collapse file rows (MoR deltas count every version of
                # a key until compaction; read() LWW-collapses)
                "file_rows": sum(f["rows"] for fs in snap["buckets"].values() for f in fs),
                "collapsed_rows": collapsed_rows,
                "files": files,
                "buckets": len(snap["buckets"]),
                "outstanding_delta_files": delta_files,
                "outstanding_delta_rows": delta_rows,
                "needs_collapse": bool(snap.get("needs_collapse")),
                "merge_mode": snap.get("merge_mode"),
                "key_col": snap.get("key_col"),
                "schema_fields": [f.name for f in t.schema(snap).fields],
                "checkpoint": snap.get("checkpoint"),
                "checkpoint_writers": sorted((snap.get("checkpoints") or {}).keys()),
                "retained_versions": t.versions(),
                "staged_head": bool(snap.get("staged")),
                "published_version": t.published_version(),
            }))

        elif args.cmd == "fsck":
            from debezium_server_batch_spark.plans.laketable import LakeTable

            t = LakeTable.load(
                spark,
                args.table,
                storage=_make_storage(args.storage, args.fault_rate, args.fault_seed),
            )
            report = t.fsck(deep=args.deep)
            print(json.dumps(report))
            return 0 if report["ok"] else 1

        elif args.cmd == "rollback":
            from debezium_server_batch_spark.plans.laketable import LakeTable

            t = LakeTable.load(
                spark,
                args.table,
                storage=_make_storage(args.storage, args.fault_rate, args.fault_seed),
            )
            new_v = t.rollback(args.to_version)
            print(json.dumps({
                "version": new_v,
                "rolled_back_to": args.to_version,
                "rows": t.total_rows(),
            }))

        elif args.cmd == "publish":
            from debezium_server_batch_spark.plans.laketable import LakeTable

            t = LakeTable.load(
                spark,
                args.table,
                storage=_make_storage(args.storage, args.fault_rate, args.fault_seed),
            )
            staged_from = t.published_version()
            v = t.discard_staged() if args.discard else t.publish()
            print(json.dumps({
                "version": v,
                "published_floor_before": staged_from,
                "discarded": bool(args.discard),
                "rows": t.total_rows(),
            }))

        elif args.cmd == "rescale":
            from debezium_server_batch_spark.plans.laketable import LakeTable

            t = LakeTable.load(
                spark,
                args.table,
                storage=_make_storage(args.storage, args.fault_rate, args.fault_seed),
            )
            old = t.snapshot()["num_buckets"]
            new_v = t.rescale(args.buckets)
            print(json.dumps({
                "version": new_v,
                "from_buckets": old,
                "to_buckets": args.buckets,
                "rows": t.total_rows(),
            }))

        elif args.cmd == "export":
            from pyspark.sql import functions as F

            from debezium_server_batch_spark.functions.text import token_count
            from debezium_server_batch_spark.operators.export import (
                export_incremental,
                verify_shards,
            )
            from debezium_server_batch_spark.plans.laketable import LakeTable

            t = LakeTable.load(
                spark,
                args.table,
                storage=_make_storage(args.storage, args.fault_rate, args.fault_seed),
            )
            prepare = None
            if args.token_col not in t.schema().fieldNames():
                def prepare(df, _tc=args.token_col, _xc=args.text_col):
                    return df.withColumn(_tc, token_count(F.col(_xc)).cast("long"))
            stats = export_incremental(
                t,
                args.out,
                id_col=args.id_col,
                text_col=args.text_col,
                token_col=args.token_col,
                shard_tokens=args.shard_tokens,
                prepare=prepare,
                force_full=args.full,
                to_version=args.to_version,
            )
            if args.verify:
                stats["verify_failed_shards"] = (
                    verify_shards(
                        spark, args.out, id_col=args.id_col,
                        text_col=args.text_col, token_col=args.token_col,
                    )
                    .filter(~F.col("ok"))
                    .count()
                )
            print(json.dumps(stats))

        elif args.cmd == "compact":
            from debezium_server_batch_spark.plans.laketable import LakeTable

            t = LakeTable.load(
                spark,
                args.table,
                storage=_make_storage(args.storage, args.fault_rate, args.fault_seed),
            )
            if args.purge_tombstones:
                t.purge_tombstones()
            if args.incremental:
                t.compact_deltas(sort=args.sort)
            else:
                t.compact()
            removed = t.vacuum(keep_last=args.vacuum_keep)
            print(json.dumps({"version": t.current_version(), "files_removed": len(removed)}))
    finally:
        if owns_session:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
