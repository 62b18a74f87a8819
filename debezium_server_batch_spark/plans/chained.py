"""Chained CDC pipelines (medallion bronze→silver): incrementally sync
a downstream LakeTable from an upstream one via `changes()`, exactly
once.

The reference stops at one hop (source → sink table). At 10^10 rows the
thing a user builds NEXT is a derived table (cleaned/filtered/conformed)
that must follow the upstream WITHOUT re-scanning it — Iceberg's
incremental-scan consumption pattern. This module is that hop:

    sync_incremental(bronze, silver)        # once per maintenance tick

Exactly-once comes from the same trick as the ingest runner (SURVEY.md
W9): the consumed upstream version rides in the SAME atomic snapshot
commit as the data it produced (`checkpoint={"src_version": v}`), so a
crash between reading changes and committing re-runs the whole step,
and the destination's order-guarded LWW merge makes the redo a no-op.

Scale shape: the step reads ONLY the files upstream commits added in
(since, cur] — O(new data) planning and scan (laketable.changes);
tombstones flow through (they ARE delete events), so downstream deletes
track upstream deletes; the merge is the destination's normal
bucket-pruned MoR/CoW path.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame

from ..operators.dedup import lww_agg
from .laketable import LakeTable, RollbackBeyondCheckpointError


def sync_incremental(
    src: LakeTable, dst: LakeTable, transform=None, dead_letter: str | None = None
) -> dict:
    """One incremental sync step from `src` into `dst`.

    * First call (no `src_version` in dst's checkpoint): bootstrap — a
      full read of src at its current version, tombstones included.
    * Later calls: `src.changes(last_synced, cur)` — only the rows new
      commits added, per-key LWW-collapsed (a key updated twice since
      the last sync merges once, with its newest version).
    * `transform(df) -> df`: optional row-level cleanup applied before
      the merge (filters/projections; must keep dst's key and order_by
      columns). Rows whose merge key comes out NULL (a transform
      failure: broken parse, unextractable key) are ALWAYS excluded
      from the merge — a null-key row in the destination would be
      garbage — and, with `dead_letter` set, their post-transform rows
      are spooled there (parquet append, + src_version/reason columns)
      BEFORE the checkpoint commits, so a crash cannot lose them: the
      redo re-captures, at-least-once. NOTE: quarantine-by-key must be
      driven by IMMUTABLE row attributes for incremental consumption to
      stay equivalent to a from-scratch transform (same rule as
      filters — a key whose newer version fails keeps its older synced
      row downstream, where a from-scratch run would drop the key).

    Returns {"src_version", "rows_synced", "noop", "bootstrap",
    "dead_letter_rows"} — `bootstrap` is True for the first full read
    AND for a vacuum-horizon re-bootstrap. Calling again with no new
    upstream commits is a no-op (and a crashed step re-runs
    idempotently — the checkpoint only advances with its data)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    # sync to the PUBLISHED head: a staged (write-audit-publish) chain
    # upstream must not propagate downstream before its publish
    cur = src.published_version()
    if cur is None:
        cur = src.current_version()
    ck = dst.checkpoint() or {}
    since = ck.get("src_version", -1)
    if since == cur:
        return {"src_version": cur, "rows_synced": 0, "noop": True,
                "bootstrap": False, "dead_letter_rows": 0}

    bootstrap = since < 0
    if bootstrap:
        df: DataFrame = src.read(version=cur, include_deleted=True)
    else:
        try:
            df = src.changes(since, cur).drop("_commit_version")
        except FileNotFoundError:
            # upstream vacuum expired `since` while this follower was
            # down (the wall every Iceberg incremental consumer hits):
            # RE-BOOTSTRAP from the full current snapshot, tombstones
            # included. The destination's order-guarded LWW merge makes
            # the re-read idempotent — correct, just O(table) for this
            # one tick. Caveat: if upstream ALSO purged tombstones in
            # the gap, deletes that happened entirely inside the gap are
            # unrecoverable from the snapshot (purge only runs once
            # replay/beyond-checkpoint redelivery is impossible, so
            # coordinate purge with follower lag).
            df = src.read(version=cur, include_deleted=True)
            bootstrap = True
        except RollbackBeyondCheckpointError as e:
            # upstream rolled back BELOW our consumed floor (bad-batch
            # recovery, or a WAP discard deeper than the last publish we
            # synced): rows this follower already merged were undone, and
            # a re-read can't tombstone them (rollback undoes INSERTS —
            # there are no delete events to replay). The destination's
            # own history carries the fix: every sync tick committed its
            # consumed src_version atomically with its data, so roll dst
            # back to the newest snapshot consumed at-or-below the
            # rollback target (checkpoints co-roll by the rollback
            # contract) and re-sync from there — by induction the retry
            # either succeeds or hits a strictly older rollback and
            # recurses deeper. O(dst metadata) + the replayed window.
            floor = None
            for v in sorted(dst.versions(), reverse=True):
                c = dst._header(v).get("checkpoint") or {}
                if c.get("src_version", -1) <= e.target:
                    floor = v
                    break
            if floor is None:
                raise RollbackBeyondCheckpointError(
                    f"upstream rolled back to v{e.target} but every retained "
                    f"downstream snapshot consumed a newer upstream version — "
                    "downstream must be rebuilt from scratch (vacuum expired "
                    "the recovery point)",
                    target=e.target,
                ) from e
            dst.rollback(floor)
            out = sync_incremental(src, dst, transform, dead_letter)
            out["rolled_back_to"] = floor
            return out
    if transform is not None:
        df = transform(df)

    snap = dst.snapshot()
    key = snap["key_col"]
    keys = [key] if isinstance(key, str) else list(key)
    # null-key guard (runner parity): observe() makes the common
    # zero-failure case cost nothing extra — the count below consumes
    # the same plan; only ticks that actually saw failures pay the
    # re-scan for the spool append
    null_cond = None
    for k in keys:
        c = F.col(k).isNull()
        null_cond = c if null_cond is None else (null_cond | c)
    obs = Observation()
    valid = df.observe(obs, F.sum(null_cond.cast("long")).alias("n_dead")).filter(~null_cond)

    deduped = lww_agg(valid, key=key, order_by=tuple(snap["order_by"]))
    # persist: the plan (changes file-diff scan + CoW anti-joins +
    # LWW shuffle) feeds BOTH the row count and the merge — without it
    # the whole incremental read would execute twice per tick
    deduped = deduped.persist()
    try:
        n = deduped.count()
        n_dead = int(obs.get["n_dead"] or 0)
        if n_dead and dead_letter is not None:
            # spool BEFORE any checkpoint commit (two-phase ordering):
            # a crash after the spool redoes the tick and re-captures
            # (at-least-once); a crash before it never advanced the
            # checkpoint, so nothing is lost either way
            (
                df.filter(null_cond)
                .withColumn("src_version", F.lit(cur))
                .withColumn("reason", F.lit("null-merge-key-after-transform"))
                .write.mode("append")
                .parquet(dead_letter)
            )
        stats = {"src_version": cur, "rows_synced": n, "noop": False,
                 "bootstrap": bootstrap, "dead_letter_rows": n_dead}
        if n == 0:
            dst.commit_checkpoint({**ck, "src_version": cur})
            return stats
        dst.merge(deduped, checkpoint={**ck, "src_version": cur})
        return stats
    finally:
        deduped.unpersist()


def follow(
    src: LakeTable,
    dst: LakeTable,
    wait=None,
    max_ticks: int | None = None,
    transform=None,
    idle_sleep_s: float = 5.0,
    dead_letter: str | None = None,
) -> list[dict]:
    """Continuous tail-follow of `src` into `dst`: one sync_incremental
    per tick, paced between ticks by a BatchSizeWait strategy — the
    SAME pacing family the ingest runner uses (reference F1–F3:
    No/Dynamic/MaxBatchSizeWait), so a derived-table daemon throttles
    exactly like the primary consumer (small upstream deltas → back
    off; full batches → run hot). `max_ticks` bounds the loop for
    batch/maintenance use; None = run until externally stopped (the
    daemon shape). A no-op tick additionally sleeps `idle_sleep_s`
    before the wait strategy runs, so an idle upstream with the default
    NoBatchSizeWait doesn't busy-spin metadata reads. Returns the
    per-tick sync stats."""
    if wait is None:
        from ..streaming.pacing import NoBatchSizeWait

        wait = NoBatchSizeWait()
    stats: list[dict] = []
    tick = 0
    while True:
        t0 = time.monotonic()
        r = sync_incremental(src, dst, transform=transform, dead_letter=dead_letter)
        stats.append(r)
        tick += 1
        if max_ticks is not None and tick >= max_ticks:
            return stats
        if r["noop"]:
            time.sleep(idle_sleep_s)
        wait.wait_ms(r["rows_synced"], int((time.monotonic() - t0) * 1000))
