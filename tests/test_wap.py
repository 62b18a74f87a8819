"""Write-audit-publish: staged commits invisible until publish(),
discard with checkpoint co-rollback, follower gating, vacuum floor.

The Iceberg WAP pattern (wap.id branches, minimally): ingest through a
staging() handle, audit the staged head, then one metadata-only commit
flips the whole chain visible to default readers atomically.
"""

import json
import os

import pytest
from pyspark.sql import types as T

from debezium_server_batch_spark.plans.chained import sync_incremental
from debezium_server_batch_spark.plans.laketable import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("__lsn", T.LongType(), True),
        T.StructField("__deleted", T.BooleanType(), True),
    ]
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key_col="url", num_buckets=4,
        order_by=("__lsn",), merge_mode="mor",
    )


def test_staged_commits_invisible_until_publish(spark, table):
    stage = table.staging()
    stage.merge(_batch(spark, [("a", "t1", 1, False), ("b", "t1", 2, False)]))
    stage.merge(_batch(spark, [("a", "t2", 3, False)]))

    # default readers see the published floor (the empty create commit)
    assert table.read().count() == 0
    assert table.read_keys(["a"]).count() == 0
    assert table.published_version() == 0
    head = table.current_version()
    assert head == 2 and table.snapshot(head)["staged"] is True

    # the audit surface: explicit version into the staged chain
    audit = {r["url"]: r["text"] for r in table.read(version=head).collect()}
    assert audit == {"a": "t2", "b": "t1"}

    v = table.publish()
    assert v == head + 1
    snap = table.snapshot()
    assert not snap.get("staged")
    assert snap["summary"] == {"operation": "publish", "published_through": head}
    assert {r["url"]: r["text"] for r in table.read().collect()} == {"a": "t2", "b": "t1"}
    assert table.published_version() == v
    # publish again: no-op
    assert table.publish() == v


def test_publish_never_staged_even_via_staging_handle(spark, table):
    stage = table.staging()
    stage.merge(_batch(spark, [("a", "t1", 1, False)]))
    v = stage.publish()  # issued through the staging handle
    assert not table.snapshot(v).get("staged")
    assert table.read().count() == 1


def test_discard_staged_rolls_back_checkpoints(spark, table):
    table.staging().merge(
        _batch(spark, [("a", "t1", 1, False)]),
        checkpoint={"offset_hi": 100},
    )
    assert table.checkpoint() == {"offset_hi": 100}  # head state (writer view)
    v = table.discard_staged()
    assert v == table.published_version() == table.current_version()
    assert table.read().count() == 0
    # checkpoint co-rolled: a re-ingest replays the discarded window
    assert table.checkpoint() is None
    # nothing staged: discard is a no-op
    assert table.discard_staged() == v


def test_changes_and_follower_gate_on_published(spark, tmp_path, table):
    table.merge(_batch(spark, [("a", "t1", 1, False)]))  # published v1
    dst = LakeTable.create(
        spark, str(tmp_path / "silver"), SCHEMA, key_col="url",
        num_buckets=4, order_by=("__lsn",), merge_mode="mor",
    )
    r = sync_incremental(table, dst)
    assert r["rows_synced"] == 1

    table.staging().merge(_batch(spark, [("b", "t2", 2, False)]))  # staged v2
    # default changelog stops at the published head
    assert table.changes(0).count() == 1
    # follower sees nothing new while the chain is staged
    r = sync_incremental(table, dst)
    assert r["noop"] and dst.read().count() == 1

    table.publish()  # v3
    r = sync_incremental(table, dst)
    assert r["rows_synced"] == 1
    assert {x["url"] for x in dst.read().collect()} == {"a", "b"}


def test_published_version_is_o1_on_long_staged_chain(spark, table):
    """Every staged header carries a published_floor pointer, so the
    WAP gate resolves without walking the chain: published_version()
    on a staged head reads exactly ONE header. Pointer survives
    rollback-into-chain; a doctored pointerless header falls back to
    the scan and still answers correctly."""
    table.merge(_batch(spark, [("a", "t1", 1, False)]))  # published v1
    stage = table.staging()
    for i in range(6):  # staged v2..v7
        stage.merge(_batch(spark, [(f"s{i}", "x", 10 + i, False)]))
    table.rollback(5)  # v8: staged (target staged), pointer carried

    calls = {"n": 0}
    orig = table._header

    def counting(v):
        calls["n"] += 1
        return orig(v)

    table._header = counting
    assert table.published_version() == 1
    assert calls["n"] == 1  # head only — no chain walk
    table._header = orig

    # legacy chain (no pointer): fallback scan still correct
    snap = dict(table.snapshot())
    assert snap["published_floor"] == 1
    import json as _json
    import os as _os

    head_path = _os.path.join(
        table.root, "_meta", f"v{table.current_version():08d}.json"
    )
    doctored = _json.loads(table.storage.read_text(head_path))
    doctored.pop("published_floor")
    table.storage.write_text(head_path, _json.dumps(doctored))
    assert table.published_version() == 1


def test_follower_syncs_across_discard_staged(spark, tmp_path, table):
    """discard_staged() is a rollback; a follower whose next sync range
    crosses it must net the discarded chain out (not wedge, not
    propagate the discarded rows) and keep following the re-ingest."""
    dst = LakeTable.create(
        spark, str(tmp_path / "silver"), SCHEMA, key_col="url",
        num_buckets=4, order_by=("__lsn",), merge_mode="mor",
    )
    table.merge(_batch(spark, [("a", "t1", 1, False)]))  # published v1
    assert sync_incremental(table, dst)["rows_synced"] == 1
    stage = table.staging()
    stage.merge(_batch(spark, [("b", "bad", 2, False)]))  # staged v2
    table.discard_staged()  # v3 (rollback to the published floor)
    table.merge(_batch(spark, [("c", "t2", 3, False)]))  # published v4
    r = sync_incremental(table, dst)
    assert r["rows_synced"] == 1 and not r.get("rolled_back_to")
    assert {x["url"] for x in dst.read().collect()} == {"a", "c"}


def test_rollback_into_staged_chain_stays_staged(spark, table):
    """rollback(v) to a mid-chain STAGED version must not silently
    publish it: the target's staged flag travels with its data, so the
    head stays invisible to default readers and publish() is still the
    only way to flip visibility."""
    table.merge(_batch(spark, [("a", "t1", 1, False)]))  # published v1
    stage = table.staging()
    stage.merge(_batch(spark, [("b", "t2", 2, False)]))  # staged v2
    stage.merge(_batch(spark, [("c", "t3", 3, False)]))  # staged v3
    v = table.rollback(2)  # undo the c-batch, stay inside the chain
    assert table.snapshot(v)["staged"] is True
    # default readers still gate on the published floor
    assert {r["url"] for r in table.read().collect()} == {"a"}
    assert table.published_version() == 1
    # the audit surface shows the rolled-back staged state
    assert {r["url"] for r in table.read(version=v).collect()} == {"a", "b"}
    # and publish is still required (and sufficient) to flip it
    pv = table.publish()
    assert {r["url"] for r in table.read().collect()} == {"a", "b"}
    assert table.published_version() == pv
    # discard direction unchanged: rollback to the floor stays unstaged
    table.staging().merge(_batch(spark, [("d", "t4", 4, False)]))
    dv = table.discard_staged()
    assert not table.snapshot(dv).get("staged")
    assert {r["url"] for r in table.read().collect()} == {"a", "b"}


def test_vacuum_retains_published_floor(spark, table):
    table.merge(_batch(spark, [("a", "t1", 1, False)]))  # published v1
    stage = table.staging()
    for i in range(5):  # staged v2..v6 — deeper than keep_last
        stage.merge(_batch(spark, [(f"s{i}", "x", 10 + i, False)]))
    table.vacuum(keep_last=2, orphan_grace_s=600)
    # the published floor survives though it is far below cur-keep_last+1
    assert 1 in table.versions()
    assert table.published_version() == 1
    assert {r["url"] for r in table.read().collect()} == {"a"}
    # and the staged chain is still fully auditable
    assert table.read(version=table.current_version()).count() == 6


def test_wap_cli_replay_publish_roundtrip(spark, tmp_path):
    """End-to-end through the real CLI: replay --wap stages everything
    (reads see the empty floor), publish flips it, a second replay is a
    checkpoint no-op (the staged chain carried the offsets)."""
    import run_pipeline

    log = str(tmp_path / "log")
    troot = str(tmp_path / "pages")
    assert run_pipeline.main([
        "generate", "--out", log, "--pages", "60", "--hot-pages", "2", "--hot-k", "4",
    ]) == 0
    assert run_pipeline.main([
        "replay", "--log", log, "--table", troot, "--batch-events", "100",
        "--buckets", "4", "--wap",
    ]) == 0

    t = LakeTable.load(spark, troot)
    assert t.read().count() == 0  # unpublished
    assert t.snapshot()["staged"] is True

    assert run_pipeline.main(["publish", "--table", troot]) == 0
    assert not LakeTable.load(spark, troot).snapshot().get("staged")
    n = LakeTable.load(spark, troot).read().count()
    assert n > 0

    # replay again: the staged chain's checkpoints survived the publish
    out = run_pipeline.main([
        "replay", "--log", log, "--table", troot, "--batch-events", "100",
        "--buckets", "4", "--wap",
    ])
    assert out == 0
    t2 = LakeTable.load(spark, troot)
    assert not t2.snapshot().get("staged")  # no-op replay staged nothing
    assert t2.read().count() == n


def test_wap_cli_discard_then_clean_reingest(spark, tmp_path):
    import run_pipeline

    log = str(tmp_path / "log")
    troot = str(tmp_path / "pages")
    assert run_pipeline.main([
        "generate", "--out", log, "--pages", "40", "--hot-pages", "2", "--hot-k", "4",
    ]) == 0
    assert run_pipeline.main([
        "replay", "--log", log, "--table", troot, "--batch-events", "80",
        "--buckets", "4", "--wap",
    ]) == 0
    assert run_pipeline.main(["publish", "--table", troot, "--discard"]) == 0

    t = LakeTable.load(spark, troot)
    assert t.read().count() == 0
    assert t.checkpoint() is None  # co-rolled: the slice replays again

    # clean re-ingest (unstaged this time) reconverges from scratch
    assert run_pipeline.main([
        "replay", "--log", log, "--table", troot, "--batch-events", "80",
        "--buckets", "4",
    ]) == 0
    assert LakeTable.load(spark, troot).read().count() > 0


def test_staged_flag_sticky_through_plain_handle_maintenance(spark, table):
    """Maintenance through a PLAIN handle on a staged chain must not
    silently publish it: the staged flag is sticky — only publish()
    (or rollback) produces an unstaged snapshot on a staged head."""
    stage = table.staging()
    stage.merge(_batch(spark, [("a", "t1", 1, False), ("b", "t1", 2, False)]))
    stage.merge(_batch(spark, [("a", "t2", 3, False)]))
    table.compact()  # plain handle, CLI-maintenance shape
    snap = table.snapshot()
    assert snap["summary"]["operation"] == "compact"
    assert snap["staged"] is True          # inherited, not published
    assert table.read().count() == 0       # still invisible
    assert table.published_version() == 0
    # even a plain-handle checkpoint-only commit stays on the branch
    table.commit_checkpoint({"offset_hi": 7})
    assert table.snapshot()["staged"] is True
    table.publish()
    assert {r["url"]: r["text"] for r in table.read().collect()} == {"a": "t2", "b": "t1"}
