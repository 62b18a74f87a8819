"""Chained-pipeline (bronze→silver→gold) crash soak (r4 verdict #4 +
r5 verdict #7): SIGKILL the follow daemon repeatedly mid-sync — between
its upstream changelog read and its downstream commit, at EITHER hop —
while the bronze table is being written by a LIVE replay process AND
periodically compacted + vacuumed. After every resume (and at the end),
silver AND gold must equal a from-scratch transform chain of bronze,
row-exact.

The silver→gold transform additionally FAILS deterministically for a
slice of keys (url-hash → merge key nulled), exercising
sync_incremental's transform-failure dead-letter path: failed rows are
spooled before the checkpoint commits, so kills cannot lose them —
asserted at the end (every final-state failed key's row is in the
spool; duplicates from redone ticks allowed and quantified).

What each kill exercises: sync_incremental's exactly-once contract (the
consumed upstream version commits atomically WITH its data, so a death
anywhere re-runs the whole step and the LWW merge absorbs the redo);
the vacuum-expiry RE-BOOTSTRAP fallback (kills can strand the follower
behind the upstream vacuum horizon — the resume must full-read instead
of dying on the expired changelog range); and the validated-rebase
commit path (the follower's merges race the bronze writer's compactor
only on its own silver table, but its bootstrap reads race upstream
rewrites).

The transform is an immutable-attribute filter (url-hash routing) plus
a derived column — the shape where incremental consumption is provably
equivalent to a from-scratch transform (filters on MUTABLE columns are
not, by construction, and sync_incremental's docstring says so).

Usage: python tools/chained_crash_soak.py [n_pages=8000] [cores=8] [rollback]
       python tools/chained_crash_soak.py daemon <bronze> <silver> <gold> <dlq>  (internal)

With the `rollback` leg: after the chain fully drains, bronze is rolled
back BELOW the follower's consumed floor (bad-batch recovery) and the
same log re-replayed to reconverge it; the follower is then killed
repeatedly INSIDE its self-recovery window (RollbackBeyondCheckpointError
→ dst rollback to its consumed floor → resync). Verdict additionally
requires ≥1 observed recovery tick and bronze row-exact reconvergence.
Prints one JSON line with kills, ticks, rebootstraps, and the equality
verdict.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

KEY = "url"


def _transform_fn():
    from pyspark.sql import functions as F

    # immutable-attribute filter (hash routing on the key) + derived col
    return lambda df: df.filter(F.pmod(F.xxhash64(KEY), F.lit(2)) == 0).withColumn(
        "text_len", F.length("text")
    )


def _transform2_fn():
    from pyspark.sql import functions as F

    # silver→gold: immutable routing filter + derived col + DETERMINISTIC
    # transform failures — an immutable slice of keys (url-hash % 17 == 1)
    # nulls its merge key, the shape sync_incremental quarantines. The
    # failure rule MUST key on immutable attributes (like the filter) for
    # incremental == from-scratch to hold (chained.sync_incremental doc).
    def tf(df):
        return (
            df.filter(F.pmod(F.xxhash64(KEY), F.lit(3)) != 2)
            .withColumn("n_tokens", F.size(F.split(F.col("text"), r"\s+")))
            .withColumn(
                KEY,
                F.when(F.pmod(F.xxhash64(KEY), F.lit(17)) == 1, F.lit(None)).otherwise(
                    F.col(KEY)
                ),
            )
        )

    return tf


def _ensure_table(spark, LakeTable, ConcurrentCommitError, root, schema, order_by):
    if not LakeTable.exists(root):
        try:
            LakeTable.create(
                spark, root, schema, key_col=KEY, num_buckets=4,
                order_by=order_by, merge_mode="mor",
            )
        except ConcurrentCommitError:
            pass  # a previous incarnation created it first
    return LakeTable.load(spark, root)


def daemon(bronze_root: str, silver_root: str, gold_root: str, dlq: str) -> None:
    """The follow daemon: create silver/gold if needed, then tail
    bronze→silver→gold forever, printing one JSON line per tick per hop
    (killed externally — kills land inside EITHER hop or between them)."""
    from debezium_server_batch_spark.plans.chained import sync_incremental
    from debezium_server_batch_spark.plans.laketable import ConcurrentCommitError, LakeTable
    from debezium_server_batch_spark.session import build_session

    spark = build_session(master="local[4]", shuffle_partitions=8)
    bronze = LakeTable.load(spark, bronze_root)
    tf, tf2 = _transform_fn(), _transform2_fn()
    order_by = tuple(bronze.snapshot()["order_by"])
    silver = _ensure_table(
        spark, LakeTable, ConcurrentCommitError, silver_root,
        tf(bronze.read(include_deleted=True)).schema, order_by,
    )
    gold = None
    while True:
        r = sync_incremental(bronze, silver, transform=tf)
        print(json.dumps({"hop": "silver", **r}), flush=True)
        if gold is None and silver.total_rows() > 0:
            gold = _ensure_table(
                spark, LakeTable, ConcurrentCommitError, gold_root,
                tf2(silver.read(include_deleted=True)).schema, order_by,
            )
        if gold is not None:
            r2 = sync_incremental(silver, gold, transform=tf2, dead_letter=dlq)
            print(json.dumps({"hop": "gold", **r2}), flush=True)
            if r["noop"] and r2["noop"]:
                time.sleep(0.5)
        elif r["noop"]:
            time.sleep(0.5)


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    log = f"/tmp/chained-soak-log-{n_pages}"
    bronze = "/dev/shm/chained-soak-bronze"
    silver = "/dev/shm/chained-soak-silver"
    gold = "/dev/shm/chained-soak-gold"
    dlq = "/dev/shm/chained-soak-dlq"
    for d in (bronze, silver, gold, dlq):
        shutil.rmtree(d, ignore_errors=True)

    def cli(args, **kw):
        return subprocess.run(
            [sys.executable, os.path.join(REPO, "run_pipeline.py"), *args],
            capture_output=True, cwd=REPO, **kw,
        )

    if not os.path.isdir(log):
        r = cli(["--master", f"local[{cores}]", "generate", "--out", log,
                 "--pages", str(n_pages), "--hot-pages", str(max(n_pages // 500, 2)),
                 "--hot-k", "24"])
        assert r.returncode == 0, r.stderr.decode()[-2000:]

    # live bronze writer: small windows → many commits to follow
    writer = subprocess.Popen(
        [sys.executable, os.path.join(REPO, "run_pipeline.py"),
         "--master", f"local[{cores}]", "replay", "--log", log, "--table", bronze,
         "--batch-events", "2000", "--buckets", "8"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, cwd=REPO,
    )

    def spawn_daemon():
        return subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "daemon", bronze, silver, gold, dlq],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, cwd=REPO,
        )

    kills, ticks, rebootstraps = 0, [], 0
    compactions, cycle = 0, 0
    t0 = time.monotonic()
    d = None
    while writer.poll() is None:
        if not os.path.isdir(os.path.join(bronze, "_meta")):
            time.sleep(0.5)
            continue
        if d is None:
            d = spawn_daemon()
        # let it sync a few ticks, then SIGKILL mid-flight; vary the
        # window so deaths land in different phases (bootstrap read,
        # changes scan, merge, checkpoint commit)
        time.sleep(7.0 + (cycle % 4) * 3.0)
        if d.poll() is None:
            d.send_signal(signal.SIGKILL)
            kills += 1
        out, _ = d.communicate()
        for ln in out.decode().splitlines():
            if ln.startswith("{"):
                t = json.loads(ln)
                ticks.append(t)
                rebootstraps += bool(t.get("bootstrap"))
        d = None
        cycle += 1
        if cycle % 2 == 0:
            # upstream maintenance: fold + vacuum (keep_last=2 can expire
            # the stranded follower's src_version → rebootstrap path)
            c = cli(["--master", "local[4]", "compact", "--table", bronze,
                     "--incremental"])
            if c.returncode == 0:
                compactions += 1
    assert writer.returncode == 0, writer.communicate()[1].decode()[-2000:]

    def harvest(proc):
        out, _ = proc.communicate()
        n_boot = 0
        for ln in out.decode().splitlines():
            if ln.startswith("{"):
                t = json.loads(ln)
                ticks.append(t)
                n_boot += bool(t.get("bootstrap"))
        return n_boot

    if d is not None:
        d.send_signal(signal.SIGKILL)
        kills += 1
        rebootstraps += harvest(d)

    # post-writer kill cycles: the follower is still catching up on the
    # final bronze state — keep killing mid-drain so deaths land on the
    # gold hop and the last silver deltas too
    for _ in range(3):
        d = spawn_daemon()
        time.sleep(6.0)
        if d.poll() is None:
            d.send_signal(signal.SIGKILL)
            kills += 1
        rebootstraps += harvest(d)

    # final clean drain + from-scratch verification, in-process
    from pyspark.sql import functions as F

    from debezium_server_batch_spark.plans.chained import sync_incremental
    from debezium_server_batch_spark.plans.laketable import ConcurrentCommitError, LakeTable
    from debezium_server_batch_spark.session import build_session

    spark = build_session(master=f"local[{cores}]", shuffle_partitions=cores)
    tf, tf2 = _transform_fn(), _transform2_fn()
    b = LakeTable.load(spark, bronze)
    order_by = tuple(b.snapshot()["order_by"])
    # every incarnation may have died before creating silver/gold
    # (possible at tiny kill windows) — bootstrap now
    s = _ensure_table(
        spark, LakeTable, ConcurrentCommitError, silver,
        tf(b.read(include_deleted=True)).schema, order_by,
    )

    def drain():
        nonlocal rebootstraps, g
        while True:
            r = sync_incremental(b, s, transform=tf)
            ticks.append({"hop": "silver", **r})
            rebootstraps += bool(r.get("bootstrap"))
            if r["noop"]:
                break
        if g is None:
            g = _ensure_table(
                spark, LakeTable, ConcurrentCommitError, gold,
                tf2(s.read(include_deleted=True)).schema, order_by,
            )
        while True:
            r = sync_incremental(s, g, transform=tf2, dead_letter=dlq)
            ticks.append({"hop": "gold", **r})
            rebootstraps += bool(r.get("bootstrap"))
            if r["noop"]:
                break

    g = None
    drain()

    # ---- optional rollback leg: upstream bad-batch rollback BELOW the
    # follower's fully-drained floor, re-replay to reconverge, kills
    # landing inside the follower's self-recovery window -------------
    rollback_info = {}
    if "rollback" in sys.argv[3:]:
        rows_before = b.read().count()
        head = b.published_version() or b.current_version()
        candidates = [v for v in b.versions() if v < head]
        if not candidates:
            rollback_info = {"skipped": "no retained version below head"}
        else:
            target = candidates[len(candidates) // 2]
            b.rollback(target)
            # the checkpoint co-rolled: a re-replay of the SAME log
            # reconverges bronze deterministically (new version numbers,
            # identical final state) — the "corrected batch" after the
            # bad-batch rollback
            r = cli(["--master", f"local[{cores}]", "replay", "--log", log,
                     "--table", bronze, "--batch-events", "2000", "--buckets", "8"])
            assert r.returncode == 0, r.stderr.decode()[-2000:]
            b = LakeTable.load(spark, bronze)
            rows_after = b.read().count()
            # kill the follower mid-recovery: resumes must cross
            # RollbackBeyondCheckpointError → dst rollback → resync
            for _ in range(3):
                d = spawn_daemon()
                time.sleep(6.0)
                if d.poll() is None:
                    d.send_signal(signal.SIGKILL)
                    kills += 1
                rebootstraps += harvest(d)
            drain()
            recoveries = sum(1 for t in ticks if t.get("rolled_back_to") is not None)
            rollback_info = {
                "target": target,
                "head_before": head,
                "bronze_rows_before": rows_before,
                "bronze_rows_after_rereplay": rows_after,
                "reconverged": rows_before == rows_after,
                "follower_recoveries": recoveries,
            }

    # from-scratch chain: bronze → scratch-silver → scratch-gold
    scratch_root = "/dev/shm/chained-soak-scratch"
    scratch_gold_root = "/dev/shm/chained-soak-scratch-gold"
    shutil.rmtree(scratch_root, ignore_errors=True)
    shutil.rmtree(scratch_gold_root, ignore_errors=True)
    scratch = LakeTable.create(
        spark, scratch_root, s.schema(), key_col=KEY, num_buckets=4,
        order_by=order_by, merge_mode="mor",
    )
    sync_incremental(b, scratch, transform=tf)
    scratch_gold = LakeTable.create(
        spark, scratch_gold_root, g.schema(), key_col=KEY, num_buckets=4,
        order_by=order_by, merge_mode="mor",
    )
    sync_incremental(scratch, scratch_gold, transform=tf2)

    def _diff(x, y):
        cols = sorted(set(x.columns) & set(y.columns))
        return (
            x.select(cols).exceptAll(y.select(cols)).count()
            + y.select(cols).exceptAll(x.select(cols)).count()
        )

    sv, sc_ = s.read(), scratch.read()
    gv, gc_ = g.read(), scratch_gold.read()
    diff_silver, diff_gold = _diff(sv, sc_), _diff(gv, gc_)
    rows_silver, rows_scratch = sv.count(), sc_.count()
    rows_gold, rows_scratch_gold = gv.count(), gc_.count()

    # transform-failure DLQ: every FINAL-state failed key's row must be
    # in the spool (no loss across kills); earlier failed versions of the
    # same keys + redone ticks add at-least-once duplicates (quantified)
    expected_dead = tf2(scratch.read()).filter(F.col(KEY).isNull())
    expected_lsns = {r["__lsn"] for r in expected_dead.select("__lsn").collect()}
    dead = spark.read.parquet(dlq) if os.path.isdir(dlq) else None
    spooled_rows = dead.count() if dead is not None else 0
    spooled_lsns = (
        {r["__lsn"] for r in dead.select("__lsn").collect()} if dead is not None else set()
    )
    dlq_no_loss = expected_lsns <= spooled_lsns
    spark.stop()

    out = {
        "n_pages": n_pages,
        "elapsed_s": round(time.monotonic() - t0, 1),
        "kills": kills,
        "ticks_survived": len(ticks),
        "gold_ticks": sum(1 for t in ticks if t.get("hop") == "gold"),
        "rebootstraps": rebootstraps,
        "upstream_compactions": compactions,
        "rows_silver": rows_silver,
        "rows_scratch": rows_scratch,
        "rows_gold": rows_gold,
        "rows_scratch_gold": rows_scratch_gold,
        "value_diff_rows_silver": diff_silver,
        "value_diff_rows_gold": diff_gold,
        "exact_match": diff_silver == 0 and rows_silver == rows_scratch,
        "exact_match_gold": diff_gold == 0 and rows_gold == rows_scratch_gold,
        "dead_expected_final_state": len(expected_lsns),
        "dead_spooled_distinct": len(spooled_lsns),
        "dead_spooled_rows": spooled_rows,
        "dlq_no_loss": dlq_no_loss,
    }
    if rollback_info:
        out["rollback_leg"] = rollback_info
        if not rollback_info.get("skipped"):
            out["exact_match"] = out["exact_match"] and (
                rollback_info["reconverged"] and rollback_info["follower_recoveries"] >= 1
            )
    for dpath in (bronze, silver, gold, dlq, scratch_root, scratch_gold_root):
        shutil.rmtree(dpath, ignore_errors=True)
    print(json.dumps(out))
    if not (out["exact_match"] and out["exact_match_gold"] and dlq_no_loss) or kills == 0:
        sys.exit(1)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "daemon":
        daemon(sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5])
    else:
        main()
