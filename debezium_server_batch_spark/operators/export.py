"""Dataset export — the LAST hop of the training-data pipeline: after
filtering/dedup/sampling/packing, assign every document to a
fixed-token-budget SHARD, emit a loader manifest (per-shard doc/token
counts, id range, order-independent content checksum), and physically
write one parquet directory per shard.

Reference parity: the reference stops at "rows landed in a table"
(`BatchSparkChangeConsumer.java:98-110` — save-format/save-mode and
nothing else); shard layout, manifests, and integrity checksums are
what a pretraining loader actually consumes and are first-class here.

Everything is engine-portable and deterministic: shard assignment is
the same contiguous token-cumsum as `operators/sampling.pack_documents`
(unstratified: the range-partitioned two-level distributed cumsum — no
RNG, no partition-layout dependence, no single-task window), and the
checksum is a DECIMAL(38,0) sum of 60-bit md5 prefixes — decimal
addition is associative, md5 is standardized, so a DuckDB/Trino
manifest recomputation matches bit-for-bit (same two tricks the rest
of the driver oracle suite rides on).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_server_batch_spark.frames import local_frame
from debezium_server_batch_spark.operators.sampling import global_running_total


def _content_ck(id_col: str, text_col: str):
    """Per-document checksum term: first 15 hex chars of
    md5(id || ':' || text) as a 60-bit integer, widened to
    DECIMAL(38,0) so shard sums never overflow. Strict concat (not
    concat_ws): NULL text -> NULL term, skipped by SUM — identical to
    SQL `||`, so oracles agree on corpora with NULL rows."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":"), F.col(text_col))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .cast("decimal(38,0)")
    )


def with_shard_id(
    df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    shard_tokens: int = 1_000_000,
    stratum_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """df + a `shard_id` column, ALL other columns preserved — the
    zero-join way to shard a corpus: the running total is computed in
    place by `global_running_total`'s range-partitioned two-level
    cumsum (per-stratum when `stratum_col` is given — a dominant
    stratum spans many partitions instead of serializing one task), so
    text/metadata never have to be joined back on id afterwards. At
    corpus scale that join is a corpus×corpus shuffle; this is one
    scan."""
    base = global_running_total(df, id_col, token_col, num_partitions, stratum_col)
    start = (F.col("_cum") - F.col(token_col)).cast("long")
    return base.withColumn(
        "shard_id", F.floor(start / F.lit(shard_tokens)).cast("long")
    ).drop("_cum")


def assign_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    shard_tokens: int = 1_000_000,
    stratum_col: str | None = None,
) -> DataFrame:
    """(id[, stratum], n_tokens, shard_id): contiguous greedy sharding —
    order by id (within stratum), cumulative token count, shard =
    start-offset // budget. A document straddling a boundary stays in
    its start shard, so shards overflow by at most one document —
    `pack_documents` semantics at shard granularity (same cumsum plan;
    see `with_shard_id` for the all-columns variant)."""
    cols = [F.col(id_col)] + ([F.col(stratum_col)] if stratum_col else [])
    return with_shard_id(
        df, id_col=id_col, token_col=token_col, shard_tokens=shard_tokens,
        stratum_col=stratum_col,
    ).select(*cols, F.col(token_col).cast("long").alias("n_tokens"), "shard_id")


def shard_manifest(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_col: str = "n_tokens",
    shard_tokens: int = 1_000_000,
    stratum_col: str | None = None,
) -> DataFrame:
    """Loader manifest: one row per shard with `n_docs`, `n_tokens`,
    `first_id`/`last_id` (the contiguity contract a resumable loader
    seeks by), and `content_checksum` — the DECIMAL(38,0) sum over the
    shard's documents of the first-15-hex-chars-of-md5(id || ':' ||
    text) as a 60-bit integer. Order-independent (decimal addition is
    associative), engine-portable (DuckDB:
    `sum(('0x' || substr(md5(...),1,15))::BIGINT)::DECIMAL(38,0)`),
    and any dropped/duplicated/bit-flipped document changes it.

    One cumsum scan + one hash aggregate; the checksum needs no sort,
    no collect, and — because `with_shard_id` keeps every column — no
    join back to the corpus. O(docs) work however many shards."""
    ck = _content_ck(id_col, text_col)
    assigned = with_shard_id(
        df.withColumn("_ck", ck), id_col=id_col, token_col=token_col,
        shard_tokens=shard_tokens, stratum_col=stratum_col,
    )
    group = ([stratum_col] if stratum_col else []) + ["shard_id"]
    return assigned.groupBy(*group).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(token_col).cast("long")).alias("n_tokens"),
        F.min(id_col).alias("first_id"),
        F.max(id_col).alias("last_id"),
        F.sum("_ck").alias("content_checksum"),
    )


def export_shards(
    df: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_col: str = "n_tokens",
    shard_tokens: int = 1_000_000,
) -> DataFrame:
    """Physically write the sharded dataset: parquet partitioned by
    `shard_id` (one directory per shard — the unit a loader maps to a
    worker), documents ordered by id within each shard file, plus the
    manifest at `<out_dir>/_manifest` (parquet) for integrity checks
    and length-aware scheduling. Returns the manifest DataFrame.

    Scale shape: `with_shard_id` keeps every column, so there is NO
    join anywhere — one cumsum scan assigns shards in place, then
    `repartition(shard_id)` co-locates each shard in one task before
    `partitionBy` so a shard is one file, not
    one-file-per-input-partition (the small-files failure mode of a
    naive partitioned write at 10^5 shards); `sortWithinPartitions`
    keeps ids monotonic inside the file, which the manifest's
    first/last-id contract documents. At a fixed token budget, task
    memory is bounded by shard_tokens regardless of corpus size. The
    manifest aggregate reuses the same assigned frame (same persisted
    range scan), not a second assignment pass."""
    ck = _content_ck(id_col, text_col)
    assigned = with_shard_id(
        df.withColumn("_ck", ck), id_col=id_col, token_col=token_col,
        shard_tokens=shard_tokens,
    )
    (
        assigned.drop("_ck")
        .repartition(F.col("shard_id"))
        .sortWithinPartitions(id_col)
        .write.partitionBy("shard_id")
        .mode("overwrite")
        .parquet(os.path.join(out_dir, "data"))
    )
    manifest = assigned.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(token_col).cast("long")).alias("n_tokens"),
        F.min(id_col).alias("first_id"),
        F.max(id_col).alias("last_id"),
        F.sum("_ck").alias("content_checksum"),
    )
    manifest.coalesce(1).write.mode("overwrite").parquet(os.path.join(out_dir, "_manifest"))
    return manifest


def verify_shards(spark, out_dir: str, id_col: str = "doc_id",
                  text_col: str = "text", token_col: str = "n_tokens") -> DataFrame:
    """Loader-side integrity check: re-read `<out_dir>/data`, recompute
    every manifest column per shard, and FULL-OUTER diff against the
    stored `_manifest`. Returns one row per shard with an `ok` flag and
    both sides of every field — `ok` is false for any dropped,
    duplicated, truncated, or bit-flipped document, a missing shard, or
    a shard on disk that the manifest never promised.

    Scale shape: one scan of the dataset + a hash aggregate keyed on
    shard_id (map-side combined), full-outer joined to the manifest —
    both join sides are O(shards) rows, never O(docs). No sort, no
    collect."""
    data = spark.read.parquet(os.path.join(out_dir, "data"))
    got = (
        data.withColumn("_ck", _content_ck(id_col, text_col))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("got_docs"),
            F.sum(F.col(token_col).cast("long")).alias("got_tokens"),
            F.min(id_col).alias("got_first_id"),
            F.max(id_col).alias("got_last_id"),
            F.sum("_ck").alias("got_checksum"),
        )
    )
    manifest = spark.read.parquet(os.path.join(out_dir, "_manifest"))
    joined = manifest.join(got, "shard_id", "full_outer")
    ok = (
        (F.col("n_docs") == F.col("got_docs"))
        & (F.col("n_tokens") == F.col("got_tokens"))
        & (F.col("first_id") == F.col("got_first_id"))
        & (F.col("last_id") == F.col("got_last_id"))
        & (F.col("content_checksum") == F.col("got_checksum"))
    )
    return joined.withColumn("ok", F.coalesce(ok, F.lit(False)))


# ---------------------------------------------------------------------------
# Incremental export: CDC LakeTable -> shard tree, rewriting only what changed


def _read_export_state(out_dir: str) -> dict | None:
    import json

    p = os.path.join(out_dir, "_export_state.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _write_export_state(out_dir: str, state: dict) -> None:
    """Atomic tmp+fsync+replace — same discipline as the table format's
    posix storage layer; the state only advances after the data and
    manifest it describes are durable."""
    import json

    p = os.path.join(out_dir, "_export_state.json")
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, p)


def export_incremental(
    src,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_col: str = "n_tokens",
    shard_tokens: int = 1_000_000,
    prepare=None,
    force_full: bool = False,
    to_version: int | None = None,
) -> dict:
    """Incrementally sync a CDC-maintained LakeTable into an exported
    shard tree — the last mile of the pipeline: events land in the
    table (upserts + deletes), and each tick rewrites ONLY the shard
    files whose documents changed, instead of re-sharding the corpus.

    Contiguous token-budget boundaries cannot stay globally exact under
    updates (any token-count change would shift every downstream
    boundary — a full rewrite by construction). So after the first full
    export, boundaries are FROZEN from the manifest: a changed document
    goes to the shard whose `first_id` range covers its id (the
    resumable-loader seek rule), documents with ids beyond the exported
    range pack into NEW shards continuing the id order, and shard token
    counts drift from the budget over time. `force_full=True` re-shards
    from scratch to re-balance (run it on a maintenance cadence, like
    compaction).

    Exactly-once: the consumed `src_version` is written to
    `_export_state.json` (atomic replace) only AFTER the data and
    manifest writes; a crash anywhere redoes the tick, and the redo is
    byte-identical because every rewrite is a deterministic function of
    the table state at (since, cur]. Upstream vacuum-horizon loss or a
    rollback below the consumed version falls back to a full re-export
    (the shard tree has no history to roll back; a full export is
    always correct). In-range rollbacks net out inside `changes()`.

    `prepare(df) -> df`: optional map from live table rows to export
    rows (must keep `id_col` and produce `text_col`/`token_col`);
    deletes are keyed by id and never pass through it. The table's key
    column must be `id_col`.

    Scale shape: one changes() scan (O(new files)), an LWW collapse, a
    broadcast range-join against the O(shards) boundary list, a scan of
    ONLY the touched shards' files (partition-pruned), and a dynamic
    partition overwrite of only those directories. Driver-side state is
    O(shards touched + manifest rows), never O(docs).

    `to_version` pins the sync target to a specific table snapshot —
    the reproducible-dataset-build contract ("dataset-v1 = table@v42"):
    the tree lands exactly at that version's state, the recorded
    src_version is the pin, and a later call without the pin advances
    incrementally from v42 to the head. Syncing BACKWARD (to_version
    below the already-consumed version) is refused — re-run with
    `force_full=True` to rebuild the tree at the older snapshot.

    Single-writer contract: one exporter per out_dir at a time (run it
    from the table's maintenance tick, like compaction). The shard tree
    has no claim protocol of its own — two concurrent exporters would
    race the dynamic overwrite; crash-redo safety (proven by
    tools/export_sync_soak.py) covers sequential kills, not parallel
    writers.

    Returns {"src_version", "noop", "bootstrap", "docs_upserted",
    "docs_deleted", "shards_rewritten", "shards_new",
    "shards_emptied"}."""
    import shutil

    from debezium_server_batch_spark.operators.dedup import lww_agg
    from debezium_server_batch_spark.plans.laketable import (
        RollbackBeyondCheckpointError,
    )

    spark = src.spark
    if to_version is not None:
        head = src.current_version()
        if to_version > head:
            raise ValueError(f"to_version {to_version} is beyond the table head v{head}")
        cur = to_version
    else:
        cur = src.published_version()
        if cur is None:
            cur = src.current_version()
    state = _read_export_state(out_dir)
    since = state["src_version"] if state else -1
    if cur < since and not force_full:
        raise ValueError(
            f"shard tree already consumed v{since}; cannot sync backward to "
            f"v{cur} incrementally — pass force_full=True to rebuild at that snapshot"
        )
    stats = {"src_version": cur, "noop": False, "bootstrap": False,
             "docs_upserted": 0, "docs_deleted": 0, "shards_rewritten": 0,
             "shards_new": 0, "shards_emptied": 0}
    if not force_full and since == cur:
        return {**stats, "noop": True}

    snap = src.snapshot()
    key = snap["key_col"]
    if not isinstance(key, str) or key != id_col:
        raise ValueError(
            f"export_incremental requires the table key ({key!r}) to be id_col ({id_col!r})"
        )

    ch = None
    bootstrap = force_full or since < 0
    if not bootstrap:
        try:
            ch = src.changes(since, cur).drop("_commit_version")
        except (FileNotFoundError, RollbackBeyondCheckpointError):
            bootstrap = True  # horizon lost or history undone: full re-export

    def _export_cols(df):
        """The exported width: the prepared frame minus CDC bookkeeping
        (`__*` columns) — an exported training corpus carries payload,
        not replication metadata, and BOTH the bootstrap and the
        incremental rewrite must emit the same schema (a narrower
        rewrite would silently fork touched shards' parquet schema
        from untouched ones)."""
        cols = [c for c in df.columns if not c.startswith("__")]
        for required in (id_col, text_col, token_col):
            if required not in cols:
                raise ValueError(
                    f"prepared frame is missing required column {required!r} "
                    f"(have {cols})"
                )
        return cols

    if bootstrap:
        live = src.read(version=cur)
        if prepare is not None:
            live = prepare(live)
        live = live.select(*_export_cols(live))
        m = export_shards(
            live, out_dir, id_col=id_col, text_col=text_col,
            token_col=token_col, shard_tokens=shard_tokens,
        )
        n_shards = m.count()
        live_n = spark.read.parquet(os.path.join(out_dir, "data")).count()
        _write_export_state(out_dir, {"src_version": cur, "shard_tokens": shard_tokens})
        return {**stats, "bootstrap": True, "docs_upserted": live_n,
                "shards_new": n_shards}

    # schema-evolution gate: the shard tree must stay ONE schema — a
    # partial rewrite after an upstream column add/drop would fork
    # touched shards' parquet schema from untouched ones (readers
    # without mergeSchema see an arbitrary subset). A changed export
    # width forces a full re-export for this tick, like a re-balance.
    probe = ch.limit(0)
    if prepare is not None:
        probe = prepare(probe)
    disk_cols = [
        c for c in spark.read.parquet(os.path.join(out_dir, "data")).columns
        if c != "shard_id"
    ]
    if set(_export_cols(probe)) != set(disk_cols):
        return {
            **export_incremental(
                src, out_dir, id_col=id_col, text_col=text_col,
                token_col=token_col, shard_tokens=shard_tokens,
                prepare=prepare, force_full=True,
            ),
            "schema_changed": True,
        }

    collapsed = lww_agg(ch, key=key, order_by=tuple(snap["order_by"]))
    is_del = F.coalesce(F.col("__deleted").cast("boolean"), F.lit(False))
    collapsed = collapsed.persist()
    try:
        dead_ids = collapsed.filter(is_del).select(F.col(id_col))
        live = collapsed.filter(~is_del)
        if prepare is not None:
            live = prepare(live)

        # frozen boundaries from the manifest — kept IN SPARK: the only
        # driver-side values are three scalars and the touched-shard
        # list (O(touched)); the manifest itself (O(shards) — 10^6 rows
        # at web scale) is never collected. localCheckpoint breaks the
        # read-path lineage so the patched manifest can overwrite the
        # same files it was derived from.
        man_path = os.path.join(out_dir, "_manifest")
        man = spark.read.parquet(man_path).localCheckpoint()
        scal = man.agg(
            F.max("last_id").alias("max_last"),
            F.max("shard_id").alias("max_shard"),
            F.min("shard_id").alias("min_shard"),
        ).collect()[0]
        max_last = scal["max_last"]
        max_shard = scal["max_shard"] if scal["max_shard"] is not None else -1
        # [lo, hi) per shard from first_id and the next shard's first_id;
        # the minimum shard's lo is open (ids below the exported minimum
        # still land somewhere). Single-partition window over the
        # manifest only — metadata scale, and lo/hi inherit the real id
        # type (string or numeric keys both work).
        w_next = Window.orderBy("shard_id")
        bdf = man.select(
            "shard_id",
            F.when(
                F.col("shard_id") == F.lit(scal["min_shard"]), F.lit(None)
            ).otherwise(F.col("first_id")).alias("lo"),
            F.lead("first_id").over(w_next).alias("hi"),
        )

        def to_shard(df):
            cond = (
                (F.col("lo").isNull() | (F.col(id_col) >= F.col("lo")))
                & (F.col("hi").isNull() | (F.col(id_col) < F.col("hi")))
            )
            return df.join(F.broadcast(bdf), cond).drop("lo", "hi")

        in_range = F.lit(max_last is not None) & (F.col(id_col) <= F.lit(max_last))
        upd = to_shard(live.filter(in_range))
        dels = to_shard(dead_ids.filter(in_range))  # unknown/out-of-range ids: no-op
        new_docs = live.filter(~in_range)

        # new documents pack into NEW shards continuing the id order
        new_assigned = global_running_total(new_docs, id_col, token_col).withColumn(
            "shard_id",
            (F.lit(max_shard + 1)
             + F.floor(((F.col("_cum") - F.col(token_col)).cast("long"))
                       / F.lit(shard_tokens))).cast("long"),
        ).drop("_cum")

        changed_ids = (
            upd.select(id_col).union(dels.select(id_col)).distinct()
        )
        touched = sorted(
            r["shard_id"]
            for r in upd.select("shard_id").union(dels.select("shard_id"))
            .distinct().collect()
        )

        data_path = os.path.join(out_dir, "data")
        out_cols = _export_cols(live) + ["shard_id"]
        parts = []
        if touched:
            survivors = (
                spark.read.parquet(data_path)
                .filter(F.col("shard_id").isin(touched))
                .join(changed_ids, id_col, "left_anti")
            )
            parts.append(survivors)
            parts.append(upd.select(*out_cols))
        parts.append(new_assigned.select(*out_cols))
        rewritten = parts[0]
        for p in parts[1:]:
            # allowMissingColumns: a column added upstream between ticks
            # is absent in old shard files — survivors fill it with NULL
            # instead of failing the tick
            rewritten = rewritten.unionByName(p, allowMissingColumns=True)
        rewritten = rewritten.select(*out_cols)
        # localCheckpoint: the plan reads the same partitions the write
        # below overwrites; truncating lineage materializes the rows
        # first (O(touched shards), the write's own input) and satisfies
        # Spark's read-path/write-path conflict check
        rewritten = rewritten.localCheckpoint()

        present = {r["shard_id"] for r in rewritten.select("shard_id").distinct().collect()}
        (
            rewritten.repartition(F.col("shard_id"))
            .sortWithinPartitions(id_col)
            .write.partitionBy("shard_id")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(data_path)
        )
        emptied = [s for s in touched if s not in present]
        for s in emptied:
            shutil.rmtree(os.path.join(data_path, f"shard_id={s}"), ignore_errors=True)

        recomputed = (
            rewritten.withColumn("_ck", _content_ck(id_col, text_col))
            .groupBy("shard_id")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col(token_col).cast("long")).alias("n_tokens"),
                F.min(id_col).alias("first_id"),
                F.max(id_col).alias("last_id"),
                F.sum("_ck").alias("content_checksum"),
            )
        )
        # patch the manifest in Spark: untouched rows survive via an
        # anti-join against the O(touched) id list, recomputed rows
        # replace the touched ones (man is checkpointed, so the
        # overwrite of its own source files is safe)
        touched_df = local_frame(
            spark,
            [(int(s),) for s in touched],
            T.StructType([T.StructField("shard_id", T.LongType())]),
        )
        man_new = man.join(
            F.broadcast(touched_df), "shard_id", "left_anti"
        ).unionByName(recomputed)
        man_new.coalesce(1).write.mode("overwrite").parquet(man_path)
        _write_export_state(out_dir, {"src_version": cur, "shard_tokens": shard_tokens})

        # counts come from the persisted collapse, not the shard joins:
        # upserts = every live collapsed row (in-range + new), deletes =
        # in-range dead keys — no plan re-execution
        return {
            **stats,
            "docs_upserted": live.count(),
            "docs_deleted": dead_ids.filter(in_range).count(),
            "shards_rewritten": len(touched),
            "shards_new": len({s for s in present if s > max_shard}),
            "shards_emptied": len(emptied),
        }
    finally:
        collapsed.unpersist()


def read_id_range(spark, out_dir: str, lo=None, hi=None,
                  id_col: str = "doc_id") -> DataFrame:
    """Manifest-driven range read — the resumable-loader access path:
    map an id-range predicate to the shard ids that can contain it
    (O(shards) manifest scan, driver-side) and read ONLY those shard
    directories, then apply the exact predicate. A loader resuming from
    checkpoint id X touches ceil(remaining/shard_size) directories, not
    the corpus.

    `lo`/`hi` are inclusive bounds on `id_col`; either may be None.
    Works because the manifest's first_id/last_id are a contiguity
    contract over id-sorted shards (boundary drift from incremental
    ticks is reflected in the patched manifest rows)."""
    man = spark.read.parquet(os.path.join(out_dir, "_manifest")).collect()
    keep = [
        int(r["shard_id"])
        for r in man
        if (hi is None or r["first_id"] <= hi) and (lo is None or r["last_id"] >= lo)
    ]
    df = (
        spark.read.parquet(os.path.join(out_dir, "data"))
        .filter(F.col("shard_id").isin(keep) if keep else F.lit(False))
    )
    if lo is not None:
        df = df.filter(F.col(id_col) >= lo)
    if hi is not None:
        df = df.filter(F.col(id_col) <= hi)
    return df
