"""The micro-batch replay loop (SURVEY.md §3.4) — the engine's main line.

Re-expression of the reference's consumer lifecycle
(AbstractChangeConsumer.handleBatch → uploadDestination → markProcessed,
§3.1) as a deterministic driver loop over offset windows of a durable
event log:

    while log has offsets past checkpoint:
        slice   = log[(lo, hi]]                       (S1, pruned scan)
        groups  = parse_envelope_batch(slice)         (S2-S5, G1-G2)
        for each (destination, schema) group in offset order:
            df = normalize(group)                     (P1-P3)
            df = to_page_row(df)                      (warc_ts_ms → ts)
            df = lww_agg(df, key)                     (dedup §2.7)
            table.merge(df, checkpoint on last group) (W1/W5-W9 → MERGE)
        pace(batch_size_wait)                         (F1-F3)

Exactly-once: the offset checkpoint commits atomically inside the same
LakeTable snapshot as the data of the *last* group of the window; a crash
anywhere re-runs the whole window, and the MERGE order-guard makes the
replay a no-op. The reference is at-least-once here (SURVEY.md W9) — this
loop is the designed upgrade.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import lww_agg
from ..operators.envelope import parse_envelope_batch, unpersist_batch
from ..operators.normalize import normalize_batch, to_page_row
from ..plans.laketable import LakeTable
from ..sources.event_log import EventLogSource
from .metrics import MetricsLog, ProgressLogger
from .pacing import NoBatchSizeWait


class SchemaDrift(Exception):
    """Raised pre-commit when the optimistic single-pass parse met a
    schema it didn't know. With ``retryable=True`` the unknown schemas
    were captured from the window's observation and registered — the
    window is redone as a SECOND one-pass fast window under the
    refreshed union; otherwise (schema-less events) it is redone on the
    grouped path, which owns inference."""

    def __init__(self, message: str, retryable: bool = False):
        super().__init__(message)
        self.retryable = retryable


def _failpoint(name: str, batch_id: int) -> None:
    """Deterministic crash injection for the soak tools: when env
    SPARK_GRAFT_FAILPOINT equals ``<name>:<batch_id>`` or ``<name>:*``,
    hard-exit the process right here (os._exit — no cleanup, no finally
    blocks, same observable effect as SIGKILL). Inert unless the env var
    is set; used by tools/crash_soak.py to land kills exactly inside the
    merge→spool→checkpoint two-phase window instead of hoping a timed
    kill hits it."""
    fp = os.environ.get("SPARK_GRAFT_FAILPOINT")
    if fp and fp in (f"{name}:{batch_id}", f"{name}:*"):
        os._exit(137)


@dataclass
class PipelineConfig:
    log_path: str
    table_root: str
    # merge key: a column name, a composite-key list, or None to derive
    # the key per destination from the Debezium KEY envelope's schema
    # (reference DebeziumBigqueryEvent.java:61-70 — a multi-table log
    # with different PKs per destination needs this)
    key_col: str | list | None = "url"
    num_buckets: int = 16
    batch_window: int = 10_000  # offsets per micro-batch window
    batch_events: int | None = None  # if set, event-count-balanced windows
    order_by: tuple[str, ...] = ("__lsn", "__source_ts_ms", "offset")
    cast_deleted_field: bool = True
    default_ts_ms: int | None = None  # None → wall clock (reference parity)
    metrics_path: str | None = None
    # opt-in diagnostic: per-bucket row counts cost a groupBy+collect per
    # schema group per micro-batch — keep OFF on the hot path
    lineage_per_bucket: bool = False
    # opt-in: ms-behind-source per batch (reference DebeziumMetrics.java:
    # 60-109 lag gauge) — wall clock minus the window's max
    # __source_ts_ms; costs one extra aggregate scan per window
    track_lag: bool = False
    # optimistic single-pass windows (skip the schema-group aggregate,
    # parse with the cached union schema, verify via observe(), redo on
    # schema drift) — see CdcPipeline._process_fast
    fast_path: bool = True
    merge_mode: str = "mor"  # mor: O(batch) ingest; cow: rewrite-on-merge (create-time only)
    compact_every: int | None = None  # fold MoR deltas every N batches
    # auto-compaction: trigger the minor fold from OBSERVED table state
    # (outstanding delta files >= threshold) instead of the static
    # compact_every cadence — self-tuning across batch sizes and
    # per-destination rates (a hot destination folds often, an idle one
    # never). The check costs one snapshot-header read per table per
    # window (two small metadata ops) — negligible against the window's
    # Spark job, but not free on high-latency stores with many
    # destinations; raise the thresholds there if it shows.
    auto_compact: bool = False
    auto_compact_min_deltas: int = 48
    # second trigger: fold when outstanding delta ROWS reach this
    # fraction of the collapsed table — catches the few-huge-deltas
    # regime (big batch sizes) the file count is blind to. 3.0 is the
    # LSM-style amortized point: folding work stays O(n log n) total
    # while folds get geometrically rarer as the table outgrows a
    # batch. When the log drains, run() folds any remainder (the
    # maintenance a daemon would do in the idle window), so the table
    # ends read-optimized without a trailing-deltas cliff.
    auto_compact_rows_factor: float = 3.0
    prededup: bool = False  # force per-batch LWW before a MoR merge (CoW always dedups)
    # event-time day partitioning of the target table (days(warc_ts)
    # alongside bucket(url)); None disables
    partition_ts_col: str | None = "warc_ts"
    # multi-destination routing (reference G1/P5: one target table per
    # topic, name rewritten by regexp). False → single table at
    # table_root; True → table_root/<rewritten destination>.
    table_per_destination: bool = False
    # concurrent per-table merges within a window: destinations map to
    # independent table roots, so their merges are independent Spark
    # jobs — submitting them from worker threads lets the scheduler
    # overlap them and removes the per-window serial driver loop (the
    # residual scaling gap in BASELINE.md). Groups sharing a root stay
    # ordered within one worker. 1 = serial (single-table mode's shape).
    merge_parallelism: int = 4
    destination_regexp: str | None = None
    destination_replacement: str = ""
    destination_prefix: str = ""
    # event-log source format: 'parquet' or 'json' (jsonlines, the
    # reference's spooled-batch shape — SURVEY.md S6)
    log_format: str = "parquet"
    # sink selection: 'laketable' (MERGE upsert, exactly-once — the
    # north-rule engine) or 'files' (reference W1 parity: append-only
    # df.write.mode(save_mode).format(save_format).save(path) per
    # destination, at-least-once)
    sink: str = "laketable"
    save_format: str = "parquet"
    save_mode: str = "append"
    objectkey_partition: bool = False  # wall-clock dt= path partition (P6 parity)
    partition_tz: str = "UTC"
    # storage backend for ALL table metadata/commit I/O and destination
    # discovery (plans/storage.py): None → PosixStorage. Pass a
    # ConditionalPutStorage (or a real object-store impl with the same
    # primitives) to run the whole pipeline under object-store
    # semantics — the reference's primary deployment is S3
    # (BatchSparkChangeConsumer.java:104-110, shared/S3Minio.java:36-39)
    storage: object | None = None
    # multi-writer replay: a non-None writer_id gives this pipeline its
    # own named checkpoint slot in the table snapshot, so N processes can
    # replay DISJOINT offset ranges of one log into ONE table, each
    # resuming independently (the order-guarded merge makes cross-writer
    # commit interleavings irrelevant to the final LWW state).
    # replay_from / replay_until bound this writer's slice: offsets
    # o with replay_from <= o <= replay_until (both inclusive, None =
    # unbounded). LakeTable sink only.
    writer_id: str | None = None
    replay_from: int | None = None
    replay_until: int | None = None
    # dead-letter spool (Debezium/Connect DLQ semantics): events whose
    # MERGE KEY parses to null — truncated JSON, missing payload, an
    # envelope without its PK — are EXCLUDED from the merge (they would
    # otherwise pool into one null-key LWW row polluting the table) and,
    # when this path is set, their RAW (offset, key, value, destination)
    # rows are appended here as parquet with batch_id + reason for
    # replay-after-fix. At-least-once: the capture lands BEFORE the
    # window's checkpoint commit (two-phase; one extra metadata-only
    # commit per window when enabled), so a crash in between re-runs
    # the window and re-appends — dedupe DLQ rows by offset downstream.
    # Known corner: a destination whose EVERY event is malformed has no
    # table to checkpoint into, so each process RESTART re-captures its
    # rows until one valid event creates the table (offset-dedupe makes
    # this harmless). Multi-process writers should use per-writer DLQ
    # paths (appends to one path are serialized only within a process).
    # None still excludes null-key rows from merges; it just doesn't
    # capture them.
    dead_letter: str | None = None
    # write-audit-publish: every commit this pipeline makes (merges,
    # checkpoints, auto-compaction) is STAGED — invisible to default
    # readers and chained followers until LakeTable.publish() (CLI
    # `publish`) flips the chain visible atomically. Audit the staged
    # state via read(version=current_version()); discard_staged()
    # drops it with checkpoint co-rollback. LakeTable sink only.
    wap: bool = False


@dataclass
class RunStats:
    batches: int = 0
    events: int = 0
    merged_rows: int = 0
    elapsed_s: float = 0.0
    lineage: list[dict] = field(default_factory=list)

    @property
    def events_per_sec(self) -> float:
        return self.events / max(self.elapsed_s, 1e-9)


class CdcPipeline:
    def __init__(self, spark: SparkSession, config: PipelineConfig, batch_size_wait=None):
        self.spark = spark
        self.cfg = config
        if config.storage is None:
            from ..plans.storage import PosixStorage

            self.storage = PosixStorage()
        else:
            self.storage = config.storage
        self.source = EventLogSource(spark, config.log_path, format=config.log_format)
        self.wait = batch_size_wait or NoBatchSizeWait()
        self.metrics = MetricsLog(config.metrics_path)
        self.progress = ProgressLogger()
        # known-schema cache for the optimistic single-pass fast path
        # (single-table mode): schema_hash → connect-schema JSON
        self._known_schemas: dict[int, str] = {}
        import threading as _threading

        self._dlq_lock = _threading.Lock()
        # multi-PROCESS writers sharing one --dead-letter root would race
        # on the parquet writer's shared _temporary staging dir — derive
        # a per-writer partition dir automatically (hive-style, so a read
        # of the ROOT unions every writer's spool with a `writer` column;
        # see read_dead_letters)
        self.dlq_path = (
            os.path.join(config.dead_letter, f"writer={config.writer_id}")
            if config.dead_letter and config.writer_id
            else config.dead_letter
        )
        # roots confirmed to carry a checkpoint slot for this writer: a
        # slot, once committed, carries forward through every later
        # snapshot (_ckpt_fields), so membership never invalidates —
        # steady-state windows skip the barrier check's header read
        self._slotted_roots: set[str] = set()
        self._union_struct = None
        self.file_sink = None
        if config.sink == "files":
            from ..plans.file_sink import FileSink

            self.file_sink = FileSink(
                spark,
                config.table_root,
                save_format=config.save_format,
                save_mode=config.save_mode,
                objectkey_partition=config.objectkey_partition,
                partition_tz=config.partition_tz,
                storage=self.storage,
            )
        elif config.sink != "laketable":
            raise ValueError(f"sink must be laketable|files, got {config.sink!r}")

    # ------------------------------------------------------------------

    def _root_for(self, destination: str | None = None) -> str:
        if not self.cfg.table_per_destination or destination is None:
            return self.cfg.table_root
        from ..operators.envelope import rewrite_destination

        name = rewrite_destination(
            destination,
            self.cfg.destination_regexp,
            self.cfg.destination_replacement,
            self.cfg.destination_prefix,
        )
        import re as _re

        return os.path.join(self.cfg.table_root, _re.sub(r"[^A-Za-z0-9_.\-]", "_", name))

    def _staged(self, t: LakeTable | None) -> LakeTable | None:
        """WAP mode: every handle the pipeline commits through is a
        staging() handle — merges, checkpoint-only commits, and
        auto-compaction all stay invisible until publish(). An unstaged
        checkpoint-only commit would be a silent publish (its snapshot
        carries the staged head's buckets), hence the blanket wrap."""
        return t.staging() if (t is not None and self.cfg.wap) else t

    def _table(self, schema=None, destination: str | None = None, key=None) -> LakeTable | None:
        root = self._root_for(destination)
        if LakeTable.exists(root, storage=self.storage):
            return self._staged(LakeTable.load(self.spark, root, storage=self.storage))
        if schema is None:
            return None
        if key is None:
            raise ValueError(
                f"cannot create table for {destination!r}: key_col unset and the "
                "events carry no key-envelope schema to derive a primary key from"
            )
        from ..plans.laketable import ConcurrentCommitError

        try:
            # the CREATE commit itself stays unstaged even in WAP mode —
            # the empty table is the published floor audits diff against
            return self._staged(LakeTable.create(
                self.spark,
                root,
                schema=schema,
                key_col=key,
                num_buckets=self.cfg.num_buckets,
                order_by=self.cfg.order_by,
                merge_mode=self.cfg.merge_mode,
                partition_ts_col=self.cfg.partition_ts_col,
                storage=self.storage,
            ))
        except ConcurrentCommitError:
            # two writers raced on CREATE TABLE; the claim serialized
            # them — adopt the winner's table
            return self._staged(LakeTable.load(self.spark, root, storage=self.storage))

    def _all_tables(self) -> list[LakeTable]:
        # destination discovery through the storage layer (NOT raw
        # os.listdir): on an object store "directories" are key prefixes
        # the backend lists — the raw-FS shortcut silently found nothing
        # there (r3 verdict wrong #3)
        if not self.cfg.table_per_destination:
            t = self._table()
            return [t] if t is not None else []
        root = self.cfg.table_root
        if not self.storage.isdir(root):
            return []
        return [
            self._staged(LakeTable.load(self.spark, os.path.join(root, d), storage=self.storage))
            for d in sorted(self.storage.listdir(root))
            if LakeTable.exists(os.path.join(root, d), storage=self.storage)
        ]

    def checkpointed_offset(self) -> int:
        """Resume point. With per-destination tables, the MIN over all
        tables' checkpoints: a crash between per-table commits leaves
        laggards, and replaying from the minimum is safe because every
        merge is idempotent.

        Tables carrying NO slot for this writer are skipped, not floored
        to -1: a destination another writer created (its events fall
        outside this writer's slice) would otherwise pin the floor at
        replay_from-1 forever, re-replaying the whole slice on every
        restart. Skipping is safe because any window that first contacts
        a slotless table runs in checkpoint-barrier mode (process_batch):
        no window-N checkpoint commits anywhere until every root's merge
        for window N has committed, so a committed slot at offset H
        proves all tables — slotless ones included — hold their data
        through H."""
        if self.file_sink is not None:
            c = self.file_sink.checkpoint()
            return c["offset_hi"] if c else -1
        ckpts = [
            c
            for c in (t.checkpoint(self.cfg.writer_id) for t in self._all_tables())
            if c is not None
        ]
        if not ckpts:
            return -1
        return min(c["offset_hi"] for c in ckpts)

    # ------------------------------------------------------------------

    def run(self, max_batches: int | None = None) -> RunStats:
        """Replay the log from the checkpoint to its current end."""
        stats = RunStats()
        t_run = time.monotonic()
        last = self.checkpointed_offset()
        if self.cfg.replay_from is not None:
            # this writer's slice starts here; a checkpoint past it wins
            last = max(last, self.cfg.replay_from - 1)
        # event-balanced mode derives the log head from the same
        # count+max aggregate window_bounds runs anyway — one log scan
        # per run instead of two (r7); fixed-width mode keeps the plain
        # max probe
        bounds: list[int] | None = None
        if self.cfg.batch_events is not None:
            bounds = self.source.window_bounds(last, self.cfg.batch_events)
            max_offset = bounds[-1] if bounds else None
        else:
            max_offset = self.source.max_offset()
        if self.cfg.replay_until is not None and max_offset is not None:
            max_offset = min(max_offset, self.cfg.replay_until)
        batch_id = 0
        if self.file_sink is not None:
            c = self.file_sink.checkpoint()
            ckpts = [c] if c else []
        else:
            w = self.cfg.writer_id
            # read each table's snapshot metadata once, not twice
            ckpts = [c for c in (t.checkpoint(w) for t in self._all_tables()) if c]
        if ckpts:
            batch_id = min(c["batch_id"] for c in ckpts) + 1

        while max_offset is not None and last < max_offset:
            if max_batches is not None and stats.batches >= max_batches:
                break
            t0 = time.monotonic()
            if bounds is not None:
                # clamp to max_offset: with replay_until set, the last
                # event-balanced bound can overshoot this writer's slice
                hi = min(next((b for b in bounds if b > last), max_offset), max_offset)
            else:
                hi = min(last + self.cfg.batch_window, max_offset)
            lo = last
            batch_stats = self._process_window(batch_id, lo, hi)
            elapsed_ms = int((time.monotonic() - t0) * 1000)

            stats.batches += 1
            stats.events += batch_stats["n_events"]
            stats.merged_rows += batch_stats["merged_rows"]
            stats.lineage.append(batch_stats)
            self.metrics.emit(batch_stats)
            self.progress.record(batch_stats["n_events"])

            last = hi
            batch_id += 1
            if self.cfg.compact_every and batch_id % self.cfg.compact_every == 0:
                for t in self._all_tables():
                    # minor compaction: fold outstanding deltas into the
                    # bucket layout without rewriting untouched buckets
                    t.compact_deltas()
            elif self.cfg.auto_compact:
                for t in self._all_tables():
                    # observed-state trigger: fold only when this table
                    # has accumulated enough deltas to be worth a pass —
                    # by file count OR by delta-rows-vs-table ratio
                    d_files, d_rows, c_rows = t.outstanding_delta_stats()
                    if d_files >= self.cfg.auto_compact_min_deltas or (
                        d_rows and d_rows >= self.cfg.auto_compact_rows_factor * max(c_rows, 1)
                    ):
                        t.compact_deltas()
            # let offset-aware wait strategies (pending_fn /
            # snapshot_running_fn closures) probe from the consumed
            # position instead of the log head. Skip the wait entirely
            # once the bounded log is drained — MaxBatchSizeWait would
            # otherwise poll an empty tail for its full max_wait before
            # the loop exits (its purpose is waiting for MORE data,
            # which a drained replay will never get).
            self.wait.consumed_offset = hi
            if last < max_offset:
                self.wait.wait_ms(batch_stats["n_events"], elapsed_ms)

        if self.cfg.auto_compact:
            # log drained → idle window: fold the remainder so reads
            # don't pay the LWW collapse for the tail batches' deltas
            for t in self._all_tables():
                if t.outstanding_delta_files():
                    t.compact_deltas()
        stats.elapsed_s = time.monotonic() - t_run
        return stats

    # ------------------------------------------------------------------

    def _process_window(self, batch_id: int, lo: int, hi: int) -> dict:
        raw = self.source.read_slice(lo, hi)
        return self.process_batch(raw, batch_id, lo, hi)

    def _process_file_sink(self, groups, checkpoint: dict, t0: float) -> dict:
        """Reference W1 upload loop: per (destination, schema) group in
        offset order, append to the destination path under save_format/
        save_mode. At-least-once: the offset checkpoint lands AFTER the
        window's writes (reference markBatchFinished, W9) — crash in
        between re-delivers the window as duplicate ledger rows."""
        from ..operators.envelope import rewrite_destination

        n_events = 0
        group_records = []
        for g in groups:
            df = normalize_batch(
                g.df,
                default_ts_ms=self.cfg.default_ts_ms,
                cast_deleted_field=self.cfg.cast_deleted_field,
            )
            df = to_page_row(df)
            name = rewrite_destination(
                g.destination,
                self.cfg.destination_regexp,
                self.cfg.destination_replacement,
                self.cfg.destination_prefix,
            )
            path = self.file_sink.write(df, name)
            n_events += g.row_count_hint
            group_records.append(
                {
                    "destination": g.destination,
                    "schema_hash": g.schema_hash,
                    "group_events": g.row_count_hint,
                    "path": path,
                }
            )
        self.file_sink.commit_checkpoint(checkpoint)
        unpersist_batch(groups)
        return {
            **checkpoint,
            "n_events": n_events,
            "n_schema_groups": len(groups),
            "groups": group_records,
            "merged_rows": n_events,
            "duration_s": round(time.monotonic() - t0, 3),
        }

    # ------------------------------------------------------------------
    # optimistic single-pass fast path

    def _fast_path_eligible(self) -> bool:
        return (
            self.cfg.fast_path
            and not self.cfg.table_per_destination
            and self.file_sink is None
            and self.cfg.key_col is not None
            and not self.cfg.prededup
            and not self.cfg.lineage_per_bucket
            and not self.cfg.track_lag
            and self._union_struct is not None
            and LakeTable.exists(self.cfg.table_root, storage=self.storage)
        )

    def _refresh_schema_cache(self, groups) -> None:
        self._register_schema_pairs(
            (h, sjson) for g in groups for h, sjson in g.member_schemas or []
        )

    def _register_schema_pairs(self, pairs) -> None:
        """Add (schema_hash, connect-schema-json) pairs to the known-
        schema cache and rebuild the union parse struct when anything new
        arrived — shared by the grouped path (schemas learned from the
        grouping aggregate) and the fast path's drift capture (schemas
        learned from the observation)."""
        from ..functions.connect_schema import compile_connect_schema
        from ..plans.laketable import evolve_schema

        changed = False
        for h, sjson in pairs:
            if sjson is not None and h not in self._known_schemas:
                self._known_schemas[h] = sjson
                changed = True
        if changed and self._known_schemas:
            structs = [compile_connect_schema(s) for s in self._known_schemas.values()]
            union = structs[0]
            for st in structs[1:]:
                union, _ = evolve_schema(union, st)
            self._union_struct = union

    @staticmethod
    def _null_key_cond(key):
        keys = [key] if isinstance(key, str) else list(key)
        cond = None
        for k in keys:
            c = F.col(k).isNull()
            cond = c if cond is None else (cond | c)
        return cond

    def _guard_merge_keys(self, df, key):
        """Dead-letter guard: split rows whose merge key is null out of
        a parsed group. Returns (valid_df, observation) — the
        observation's n_dead is read AFTER the merge's own action has
        consumed the plan, so the zero-malformed common case costs no
        extra scan (the filter is codegen)."""
        from pyspark.sql import Observation

        cond = self._null_key_cond(key)
        obs = Observation()
        df = df.observe(obs, F.sum(cond.cast("long")).alias("n_dead"))
        return df.filter(~cond), obs

    def _capture_dead_letter(self, raw, parsed_df, key, batch_id: int) -> None:
        """Append the RAW rows of this group's null-key events to the
        DLQ spool. Runs only when the observation reported dead rows —
        one extra scan of the window, paid exclusively by bad batches."""
        dead_off = parsed_df.filter(self._null_key_cond(key)).select("offset")
        self._spool_dead_letters(raw.join(dead_off, "offset", "left_semi"), batch_id)

    def _spool_dead_letters(self, rows, batch_id: int) -> None:
        # serialized: concurrent parquet appends to ONE path from the
        # parallel per-root merge workers would race on the writer's
        # shared _temporary staging dir (the first job's commit cleans
        # it up under the second job's tasks). Multi-PROCESS writers
        # (writer_id) land in per-writer writer=<id>/ subdirs (dlq_path)
        # so their appends never share a staging dir either.
        with self._dlq_lock:
            (
                rows.withColumn("batch_id", F.lit(batch_id))
                .withColumn("reason", F.lit("null-merge-key"))
                .write.mode("append")
                .parquet(self.dlq_path)
            )

    def _process_fast(self, raw, checkpoint: dict, t0: float) -> dict | None:
        """ONE full pass per window instead of two: skip the schema-
        grouping aggregate, parse every row with the cached union schema
        (from_json matches by name, so any known schema version parses
        correctly), and verify the optimism INSIDE the same write job via
        observe(collect_set(schema_hash)). An unseen schema hash raises
        SchemaDrift before the snapshot commit — the written files stay
        orphans and the window is redone on the grouped path (only DDL
        windows pay this). Exactly-once is untouched: validation happens
        pre-commit, under the same atomic snapshot protocol."""
        from pyspark.sql import Observation

        from ..operators.envelope import OFFSET, VALUE, filter_tombstones

        table = self._table()
        if table is None:
            return None
        snap = table.snapshot()
        if snap.get("merge_mode") != "mor":
            return None
        import pyspark.sql.types as T

        ev = filter_tombstones(raw).withColumn(
            "schema_str", F.get_json_object(F.col(VALUE), "$.schema")
        ).withColumn(
            "schema_hash",
            F.coalesce(F.xxhash64(F.col("schema_str")), F.lit(0)),
        )
        # unknown-schema capture (r7): the same observation that detects
        # drift also collects the UNKNOWN schema documents (hash, json) —
        # empty in the steady no-drift case — so a DDL window can
        # register the new schemas and redo as a second ONE-PASS fast
        # window instead of falling back to the two-pass grouped path
        known = sorted(self._known_schemas)
        unknown_doc = F.when(
            ~F.col("schema_hash").isin(known),
            F.struct(F.col("schema_hash").alias("h"), F.col("schema_str").alias("s")),
        )
        obs = Observation()
        ev = ev.observe(
            obs,
            F.collect_set("schema_hash").alias("hashes"),
            F.count(F.lit(1)).alias("n"),
            F.collect_set(unknown_doc).alias("unknown_docs"),
        )
        wrapper = T.StructType([T.StructField("payload", self._union_struct, True)])
        typed = ev.select(
            F.col(OFFSET), F.from_json(F.col(VALUE), wrapper).alias("_env")
        ).select(OFFSET, "_env.payload.*")
        df = to_page_row(
            normalize_batch(
                typed,
                default_ts_ms=self.cfg.default_ts_ms,
                cast_deleted_field=self.cfg.cast_deleted_field,
            )
        )
        table_key = snap["key_col"]
        valid, dead_obs = self._guard_merge_keys(df, table_key)

        stats: dict = {}

        def check_drift():
            got = obs.get
            stats["n_events"] = got["n"]
            stats["hashes"] = got["hashes"]
            unknown = set(got["hashes"] or []) - set(self._known_schemas)
            if unknown:
                # register the captured schema docs BEFORE raising: when
                # every unknown hash carried a schema document the caller
                # retries this one-pass fast path under the refreshed
                # union instead of redoing the window on the two-pass
                # grouped path (schema-less/inference groups still fall
                # back — the grouped path owns inference)
                self._register_schema_pairs(
                    (r["h"], r["s"]) for r in (got["unknown_docs"] or []) if r is not None
                )
                still_unknown = unknown - set(self._known_schemas)
                if still_unknown:
                    raise SchemaDrift(
                        f"unknown schema hashes in window: {sorted(still_unknown)}"
                    )
                raise SchemaDrift(
                    f"schemas registered from window capture: {sorted(unknown)}",
                    retryable=True,
                )

        # two-phase when the DLQ is on: the checkpoint must commit AFTER
        # the capture, or a crash between a checkpointed merge and the
        # spool append would lose the malformed rows forever (they are
        # excluded from the table AND never spooled — the window would
        # never be redone). Cost: one metadata-only commit per window,
        # only with dead_letter set.
        dlq = self.cfg.dead_letter
        table.merge(
            valid,
            checkpoint=None if dlq else checkpoint,
            lineage=[{**checkpoint, "fast_path": True}],
            validate=check_drift,
        )
        n_dead = int(dead_obs.get["n_dead"] or 0)
        if dlq:
            _failpoint("dlq_pre_spool", checkpoint["batch_id"])
            if n_dead:
                self._capture_dead_letter(raw, df, table_key, checkpoint["batch_id"])
            _failpoint("dlq_pre_checkpoint", checkpoint["batch_id"])
            table.commit_checkpoint(
                checkpoint,
                lineage=[{**checkpoint, "fast_path": True, "dead_letter_rows": n_dead}],
            )
        return {
            **checkpoint,
            "n_events": stats.get("n_events", 0),
            "n_schema_groups": len(stats.get("hashes") or []),
            "groups": [
                {
                    "destination": None,
                    "schema_hash": sorted(stats.get("hashes") or []),
                    "group_events": stats.get("n_events", 0),
                    "bucket_rows": None,
                }
            ],
            "merged_rows": table.total_rows(),
            "dead_letter_rows": n_dead,
            "duration_s": round(time.monotonic() - t0, 3),
        }

    def process_batch(self, raw, batch_id: int, lo: int = -1, hi: int = -1) -> dict:
        """Apply one raw micro-batch DataFrame (offset, destination, key,
        value) end-to-end. Shared by the offset-window replay loop and
        the Structured Streaming foreachBatch sink."""
        t0 = time.monotonic()
        checkpoint0 = {"batch_id": batch_id, "offset_lo": lo, "offset_hi": hi, **({"writer": self.cfg.writer_id} if self.cfg.writer_id else {})}
        if self._fast_path_eligible():
            may_retry = True
            while True:
                try:
                    out = self._process_fast(raw, checkpoint0, t0)
                    if out is not None:
                        return out
                    break
                except SchemaDrift as drift:
                    # retryable: the DDL window's new schemas were
                    # captured+registered by the observation — one more
                    # single-pass attempt under the refreshed union
                    # (bounded to one retry; anything else falls through
                    # to the grouped path below)
                    if may_retry and drift.retryable:
                        may_retry = False
                        continue
                    break  # redo the window on the grouped path below
        # persist=False deliberately: caching the split envelope costs
        # ~20s/batch in columnar cache compression of the raw JSON
        # strings to save a ~1s re-scan (profiled in
        # tools/profile_replay.py) — Parquet re-scan + pushdown wins.
        lag_ms = None
        if self.cfg.track_lag:
            row = raw.agg(
                F.max(F.get_json_object(F.col("value"), "$.payload.__source_ts_ms").cast("long"))
            ).first()
            if row[0] is not None:
                lag_ms = max(int(time.time() * 1000) - row[0], 0)

        groups = parse_envelope_batch(
            raw,
            persist=False,
            extract_key_schema=self.cfg.key_col is None,
            # one union-schema parse+write per destination instead of one
            # full-window pass per schema epoch (same final state: the
            # sink's union-by-name evolution is commutative)
            coalesce_schemas=True,
        )
        self._refresh_schema_cache(groups)
        checkpoint = {"batch_id": batch_id, "offset_lo": lo, "offset_hi": hi, **({"writer": self.cfg.writer_id} if self.cfg.writer_id else {})}
        if lag_ms is not None:
            checkpoint_rec_extra = {"ms_behind_source": lag_ms}
        else:
            checkpoint_rec_extra = {}
        n_events = 0
        group_records = []

        if self.file_sink is not None:
            return {**self._process_file_sink(groups, checkpoint, t0), **checkpoint_rec_extra}

        # the LAST group per resolved TABLE ROOT carries the window
        # checkpoint — keying by destination breaks single-table mode
        # (multiple destinations share one root; an early destination's
        # checkpointed merge + a crash before the later ones would skip
        # their events forever on resume). Per-table commits are
        # independent; resume uses the min across tables.
        roots = [self._root_for(g.destination) for g in groups]
        last_group_idx = {root: i for i, root in enumerate(roots)}

        # checkpoint-BARRIER mode: if any touched root's table is missing
        # or carries no slot for this writer yet (first contact), no
        # window-N checkpoint may commit until EVERY root's merge for
        # window N has committed. Otherwise a crash after root A embedded
        # checkpoint N but before first-contact root B merged would leave
        # B slotless; the skip-slotless resume floor (checkpointed_offset)
        # would then read A's N and skip B's window-N events forever.
        # Steady state (every touched table slotted) keeps the zero-extra-
        # commit embedded checkpoint; barrier windows pay one metadata-
        # only commit per touched root.
        ckpt_barrier = False
        for root in set(roots):
            if root in self._slotted_roots:
                continue
            if LakeTable.exists(root, storage=self.storage) and (
                LakeTable.load(self.spark, root, storage=self.storage).checkpoint(
                    self.cfg.writer_id
                )
                is not None
            ):
                self._slotted_roots.add(root)
            else:
                ckpt_barrier = True

        def merge_group(gi: int, g) -> dict:
            df = normalize_batch(
                g.df,
                default_ts_ms=self.cfg.default_ts_ms,
                cast_deleted_field=self.cfg.cast_deleted_field,
            )
            df = to_page_row(df)
            # merge key: explicit config, else derived per destination
            # from the Debezium key envelope (composite PKs supported)
            key = self.cfg.key_col if self.cfg.key_col is not None else g.key_fields
            key_cols = [key] if isinstance(key, str) else list(key or [])
            if not key_cols or any(k not in df.columns for k in key_cols):
                # the group's schema doesn't even CARRY the merge key —
                # corrupt envelopes (truncated JSON, missing payload)
                # land in their own schema/inference group with no key
                # column. Quarantine the WHOLE group: creating a table
                # from this schema would be garbage, and merging is
                # meaningless. If this group was its root's checkpoint
                # carrier, advance the checkpoint metadata-only on the
                # existing table so the window isn't replayed forever
                # (no table yet → the redo after a restart re-captures,
                # at-least-once DLQ semantics).
                n_dead = g.row_count_hint or df.count()
                if self.cfg.dead_letter:
                    _failpoint("dlq_pre_spool", checkpoint["batch_id"])
                    # the group's own raw rows, one map-only write
                    self._spool_dead_letters(g.raw, checkpoint["batch_id"])
                if gi == last_group_idx[roots[gi]] and not ckpt_barrier:
                    t = self._table(destination=g.destination)
                    if t is not None:
                        if self.cfg.dead_letter:
                            _failpoint("dlq_pre_checkpoint", checkpoint["batch_id"])
                        t.commit_checkpoint(checkpoint)
                return {
                    "destination": g.destination,
                    "schema_hash": g.schema_hash,
                    "group_events": g.row_count_hint,
                    "bucket_rows": None,
                    "dead_letter_rows": n_dead,
                    "quarantined_group": True,
                }
            table = self._table(schema=df.schema, destination=g.destination, key=key)
            table_snap = table.snapshot()
            # dispatch on the TABLE's persisted merge_mode and key, not
            # the config: resuming a cow table with a mor config would
            # skip the pre-merge LWW the CoW full-outer merge relies on
            # (duplicate key rows would land); cfg.merge_mode/key_col
            # only matter at table creation
            table_key = table_snap["key_col"]
            table_mode = table_snap.get("merge_mode")
            valid, dead_obs = self._guard_merge_keys(df, table_key)
            if table_mode == "mor" and not self.cfg.prededup:
                # MoR read-collapse already implements LWW per key over
                # base+delta; a pre-merge dedup shuffle would be pure
                # overhead (it only shrinks the delta a hot batch writes)
                deduped = valid
            else:
                deduped = lww_agg(valid, key=table_key, order_by=self.cfg.order_by)

            is_last = gi == last_group_idx[roots[gi]] and not ckpt_barrier

            bucket_counts = None
            if self.cfg.lineage_per_bucket:
                key_cols = [table_key] if isinstance(table_key, str) else list(table_key)
                bucket_counts = {
                    str(r[0]): r[1]
                    for r in deduped.groupBy(
                        F.pmod(
                            F.xxhash64(*[F.col(k) for k in key_cols]),
                            F.lit(table_snap["num_buckets"]),
                        ).alias("b")
                    )
                    .count()
                    .collect()
                }
            group_record = {
                "destination": g.destination,
                "schema_hash": g.schema_hash,
                "group_events": g.row_count_hint,
                "bucket_rows": bucket_counts,
            }
            # two-phase when the DLQ is on and this group carries the
            # window checkpoint: capture must land BEFORE the
            # checkpoint commit (see _process_fast) — otherwise a crash
            # in between loses the malformed rows forever
            dlq = self.cfg.dead_letter
            table.merge(
                deduped,
                checkpoint=checkpoint if (is_last and not dlq) else None,
                lineage=[{**checkpoint, **group_record}],
            )
            n_dead = int(dead_obs.get["n_dead"] or 0)
            if dlq:
                _failpoint("dlq_pre_spool", checkpoint["batch_id"])
            if n_dead:
                group_record["dead_letter_rows"] = n_dead
                if dlq:
                    self._capture_dead_letter(raw, df, table_key, checkpoint["batch_id"])
            if is_last and dlq:
                _failpoint("dlq_pre_checkpoint", checkpoint["batch_id"])
                table.commit_checkpoint(
                    checkpoint, lineage=[{**checkpoint, **group_record}]
                )
            return group_record

        # per-table merges are independent Spark jobs — run one worker
        # thread per table root (groups sharing a root stay in offset
        # order inside their worker; per-root commit/checkpoint ordering
        # is preserved). Spark's scheduler interleaves the jobs' stages,
        # collapsing the serial per-window driver loop.
        by_root: dict[str, list[int]] = {}
        for gi, root in enumerate(roots):
            by_root.setdefault(root, []).append(gi)
        workers = min(self.cfg.merge_parallelism, len(by_root))
        results: dict[int, dict] = {}
        if workers > 1:
            from concurrent.futures import ThreadPoolExecutor

            def run_root(indices: list[int]) -> list[tuple[int, dict]]:
                return [(gi, merge_group(gi, groups[gi])) for gi in indices]

            with ThreadPoolExecutor(max_workers=workers) as pool:
                for chunk in pool.map(run_root, by_root.values()):
                    results.update(dict(chunk))
        else:
            for gi, g in enumerate(groups):
                results[gi] = merge_group(gi, g)
        for gi in sorted(results):
            group_records.append(results[gi])
            n_events += groups[gi].row_count_hint

        # barrier windows: every root's merge has now committed — land
        # the window checkpoint on each touched table (after any DLQ
        # captures, which ran inside the workers, preserving the
        # two-phase capture-before-checkpoint ordering)
        if ckpt_barrier:
            for root in sorted(set(roots)):
                if LakeTable.exists(root, storage=self.storage):
                    self._staged(
                        LakeTable.load(self.spark, root, storage=self.storage)
                    ).commit_checkpoint(checkpoint)
                    self._slotted_roots.add(root)

        # destinations with no events this window (or empty window):
        # advance their checkpoint with a metadata-only commit so the
        # min-resume rule doesn't stall on them
        touched = set(roots)
        for table in self._all_tables():
            if table.root in touched:
                continue
            table.commit_checkpoint(checkpoint)

        unpersist_batch(groups)
        return {
            **checkpoint,
            **checkpoint_rec_extra,
            "n_events": n_events,
            "n_schema_groups": len(groups),
            "groups": group_records,
            "merged_rows": sum(t.total_rows() for t in self._all_tables()),
            "duration_s": round(time.monotonic() - t0, 3),
        }


def read_dead_letters(spark: SparkSession, path: str):
    """Union every writer's DLQ spool under `path` into one DataFrame.

    Single-writer runs spool flat parquet files at `path`; writer_id
    runs spool under hive-style ``writer=<id>/`` subdirs (see
    CdcPipeline.dlq_path), which Spark's partition discovery surfaces as
    a ``writer`` column — either layout reads with this one call. DLQ
    capture is at-least-once across crash/redo windows: a given offset's
    raw row is immutable, so ``dropDuplicates(["offset"])`` yields the
    exactly-once view."""
    return spark.read.parquet(path)
