"""LakeTable: snapshot commits, bucket-pruned CoW MERGE, schema
evolution, idempotence, compaction, vacuum, time travel."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_server_batch_spark.plans.laketable import (
    LakeTable,
    SchemaEvolutionError,
    conform,
    evolve_schema,
)

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
    return LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, key_col="url", num_buckets=4, order_by=("__lsn",))


def test_create_load_exists(spark, tmp_path):
    root = str(tmp_path / "t")
    assert not LakeTable.exists(root)
    t = LakeTable.create(spark, root, SCHEMA, key_col="url")
    assert LakeTable.exists(root) and t.total_rows() == 0
    assert LakeTable.load(spark, root).schema() == SCHEMA
    with pytest.raises(FileExistsError):
        LakeTable.create(spark, root, SCHEMA, key_col="url")


def test_merge_insert_update_delete(spark, table):
    table.merge(_batch(spark, [("a", "t1", 1, False), ("b", "t1", 2, False)]))
    assert table.total_rows() == 2
    # update a, delete b, insert c
    table.merge(_batch(spark, [("a", "t2", 3, False), ("b", None, 4, True), ("c", "t1", 5, False)]))
    rows = {r["url"]: r for r in table.read().collect()}
    assert set(rows) == {"a", "c"}
    assert rows["a"]["text"] == "t2"


def test_merge_is_idempotent_on_replay(spark, table):
    b1 = [("a", "t1", 1, False), ("b", "t1", 2, False)]
    b2 = [("a", "t2", 3, False), ("b", None, 4, True)]
    table.merge(_batch(spark, b1))
    table.merge(_batch(spark, b2))
    state = sorted(tuple(r) for r in table.read().collect())
    table.merge(_batch(spark, b2))  # replay suffix
    table.merge(_batch(spark, b1))  # replay stale batch — must be a no-op
    assert sorted(tuple(r) for r in table.read().collect()) == state


def test_stale_delete_does_not_resurrect(spark, table):
    table.merge(_batch(spark, [("a", "t5", 10, False)]))
    table.merge(_batch(spark, [("a", None, 3, True)]))  # older delete replayed late
    rows = table.read().collect()
    assert len(rows) == 1 and rows[0]["text"] == "t5"


def test_delete_leaves_invisible_tombstone(spark, table):
    table.merge(_batch(spark, [("ghost", None, 1, True)]))
    assert table.read().count() == 0
    assert table.read(include_deleted=True).count() == 1  # tombstone retained
    # a stale pre-delete upsert must NOT resurrect the key
    table.merge(_batch(spark, [("ghost", "old", 0, False)]))
    assert table.read().count() == 0
    table.purge_tombstones()
    assert table.read(include_deleted=True).count() == 0


def test_bucket_pruning_rewrites_only_affected_buckets(spark, table):
    urls = [(f"u{i}", "t", i, False) for i in range(40)]
    table.merge(_batch(spark, urls))
    before = table.snapshot()
    table.merge(_batch(spark, [("u0", "t2", 100, False)]))
    after = table.snapshot()
    affected = set(after["summary"]["affected_buckets"])
    assert len(affected) == 1
    untouched = [b for b in before["buckets"] if int(b) not in affected]
    assert untouched, "expected some untouched buckets"
    for b in untouched:
        assert after["buckets"][b] == before["buckets"][b]  # same files retained


def test_schema_evolution_add_column_and_widen(spark, table):
    table.merge(_batch(spark, [("a", "t1", 1, False)]))
    evolved = T.StructType(SCHEMA.fields + [T.StructField("title", T.StringType(), True)])
    b2 = spark.createDataFrame([("b", "t1", 2, False, "T")], evolved)
    table.merge(b2)
    rows = {r["url"]: r for r in table.read().collect()}
    assert rows["a"]["title"] is None and rows["b"]["title"] == "T"
    # widen int→long / float→double at the evolve level
    wide, changed = evolve_schema(
        T.StructType([T.StructField("x", T.IntegerType()), T.StructField("f", T.FloatType())]),
        T.StructType([T.StructField("x", T.LongType()), T.StructField("f", T.DoubleType())]),
    )
    assert changed and wide["x"].dataType == T.LongType() and wide["f"].dataType == T.DoubleType()
    # narrower incoming stays wide
    wide2, changed2 = evolve_schema(
        T.StructType([T.StructField("x", T.LongType())]),
        T.StructType([T.StructField("x", T.IntegerType())]),
    )
    assert not changed2 and wide2["x"].dataType == T.LongType()
    with pytest.raises(SchemaEvolutionError):
        evolve_schema(
            T.StructType([T.StructField("x", T.StringType())]),
            T.StructType([T.StructField("x", T.LongType())]),
        )


def test_append_mode_keeps_ledger(spark, table):
    # reference semantics (W1): deletes/updates land as extra rows
    table.append(_batch(spark, [("a", "t1", 1, False)] * 2))
    table.append(_batch(spark, [("a", None, 2, True)]))
    assert table.total_rows() == 3


def test_checkpoint_rides_in_snapshot(spark, table):
    ck = {"batch_id": 7, "offset_lo": 100, "offset_hi": 200}
    table.merge(_batch(spark, [("a", "t", 1, False)]), checkpoint=ck)
    assert table.checkpoint() == ck
    # next commit without checkpoint inherits it
    table.merge(_batch(spark, [("b", "t", 2, False)]))
    assert table.checkpoint() == ck


def test_time_travel_and_history(spark, table):
    table.merge(_batch(spark, [("a", "v1", 1, False)]))
    v1 = table.current_version()
    table.merge(_batch(spark, [("a", "v2", 2, False)]))
    assert table.read().first()["text"] == "v2"
    assert table.read(version=v1).first()["text"] == "v1"
    assert [s["version"] for s in table.history()] == list(range(table.current_version() + 1))


def test_compact_and_vacuum(spark, table):
    for i in range(4):
        table.merge(_batch(spark, [(f"u{j}", f"t{i}", i * 10 + j, False) for j in range(8)]))
    rows_before = sorted(tuple(r) for r in table.read().collect())
    n_files_before = sum(len(f) for f in table.snapshot()["buckets"].values())
    table.compact()
    assert sorted(tuple(r) for r in table.read().collect()) == rows_before
    n_files_after = sum(len(f) for f in table.snapshot()["buckets"].values())
    assert n_files_after <= max(4, n_files_before)  # ≤1 file per bucket
    removed = table.vacuum(keep_last=1)
    assert removed  # old versions' files deleted
    assert sorted(tuple(r) for r in table.read().collect()) == rows_before


def test_additive_commit_rebases_onto_winner(spark, table):
    """Losing an additive commit race must RE-APPLY the additions onto
    the winner's snapshot — never re-link the stale payload (which would
    erase the winner's files: lost update)."""
    import json as _json

    table.merge(_batch(spark, [("a", "t1", 1, False)]))
    raced = {"done": False}
    my_files = {"0": [{"path": "data/mine/f.parquet", "rows": 1, "schema_id": "0"}]}

    orig_build_calls = []

    def racing_append():
        # use the real additive builder, but have a winner claim the next
        # version between our first build and the link attempt
        def spy_commit(build, rebaseable, expected_base=None, retries=20):
            def wrapped(base):
                orig_build_calls.append(base["version"])
                if not raced["done"]:
                    raced["done"] = True
                    winner = dict(base)
                    winner["version"] = base["version"] + 1
                    winner["parent"] = base["version"]
                    winner["buckets"] = {
                        **base["buckets"],
                        "1": base["buckets"].get("1", [])
                        + [{"path": "data/winner/w.parquet", "rows": 5, "schema_id": "0"}],
                    }
                    winner["summary"] = {"operation": "winner"}
                    with open(os.path.join(table._meta_dir(), f"v{winner['version']:08d}.json"), "w") as fh:
                        _json.dump(winner, fh)
                return build(base)

            return LakeTable._commit(table, wrapped, rebaseable, expected_base, retries)

        table._commit = spy_commit
        try:
            return table._commit_additive(my_files, table.schema(), None, None, {"operation": "mine"})
        finally:
            del table._commit

    v = racing_append()
    snap = table.snapshot()
    assert snap["version"] == v and len(orig_build_calls) == 2  # rebuilt after the race
    all_paths = {f["path"] for fl in snap["buckets"].values() for f in fl}
    assert "data/winner/w.parquet" in all_paths  # winner's file survived
    assert "data/mine/f.parquet" in all_paths  # our addition re-applied


def test_rewrite_conflict_raises_not_lost_update(spark, table):
    from debezium_server_batch_spark.plans.laketable import ConcurrentCommitError

    table.merge(_batch(spark, [("a", "t1", 1, False)]))
    stale = table.snapshot()
    table.append(_batch(spark, [("z", "t", 9, False)]))  # table advances
    payload = {k: stale.get(k) for k in LakeTable._CARRY}
    payload.update(schemas=stale["schemas"], current_schema_id=stale["current_schema_id"],
                   buckets={}, checkpoint=None, lineage=[], summary={"operation": "stale-rewrite"})
    with pytest.raises(ConcurrentCommitError):
        table._commit(lambda base: dict(payload), rebaseable=False, expected_base=stale["version"])
    # the winner's data is intact
    assert "z" in {r["url"] for r in table.read().collect()}


def test_vacuum_expires_metadata_and_rejects_expired_reads(spark, table):
    for i in range(3):
        table.merge(_batch(spark, [("a", f"t{i}", i + 1, False)]))
    old_versions = table.versions()[:-1]
    table.vacuum(keep_last=1)
    assert table.versions() == [table.current_version()]
    assert [s["version"] for s in table.history()] == [table.current_version()]
    with pytest.raises(FileNotFoundError, match="expired"):
        table.read(version=old_versions[-1])
    assert table.read().first()["text"] == "t2"


def test_time_partition_prunes_files(spark, tmp_path):
    schema = T.StructType(SCHEMA.fields + [T.StructField("warc_ts", T.TimestampType(), True)])
    t = LakeTable.create(
        spark, str(tmp_path / "tp"), schema, key_col="url", num_buckets=2,
        order_by=("__lsn",), partition_ts_col="warc_ts",
    )
    import datetime as dt

    rows = [
        (f"u{i}", "t", i, False, dt.datetime(2024, 1, 1 + (i % 3), 12, 0, 0))
        for i in range(30)
    ]
    t.merge(spark.createDataFrame(rows, schema))
    all_files = t.file_entries()
    assert all(f.get("day") is not None for f in all_files)
    one_day = t.file_entries(days=("2024-01-02", "2024-01-02"))
    assert 0 < len(one_day) < len(all_files)  # real pruning, not all files
    got = t.read(days=("2024-01-02", "2024-01-02")).collect()
    assert {r["url"] for r in got} == {f"u{i}" for i in range(30) if i % 3 == 1}
    # day filter also prunes the physical scan's input files
    assert len(t.read(days=("2024-01-02", "2024-01-02")).inputFiles()) == len(one_day)


def test_mor_days_read_does_not_resurrect_superseded_rows(spark, tmp_path):
    """Regression (r2 ADVICE): on a MoR table with outstanding deltas, a
    days-ranged read must NOT file-prune before the LWW collapse — a key
    whose newest version (or tombstone) lives in an out-of-range
    day-file would resurface with an older in-range version as live."""
    import datetime as dt

    schema = T.StructType(SCHEMA.fields + [T.StructField("warc_ts", T.TimestampType(), True)])
    t = LakeTable.create(
        spark, str(tmp_path / "md"), schema, key_col="url", num_buckets=2,
        order_by=("__lsn",), partition_ts_col="warc_ts",
        merge_mode="mor",
    )
    d1, d2 = dt.datetime(2024, 1, 1, 12), dt.datetime(2024, 1, 2, 12)
    t.merge(spark.createDataFrame(
        [("a", "old", 1, False, d1), ("b", "keep", 2, False, d1)], schema))
    # newer version of 'a' and a tombstone for 'b' land in day 2
    t.merge(spark.createDataFrame(
        [("a", "new", 3, False, d2), ("b", None, 4, True, d2)], schema))
    assert t.snapshot()["needs_collapse"] is True

    day1 = {r["url"]: r["text"] for r in t.read(days=("2024-01-01", "2024-01-01")).collect()}
    assert day1 == {}  # neither stale 'a' nor deleted 'b' may resurface
    day2 = {r["url"]: r["text"] for r in t.read(days=("2024-01-02", "2024-01-02")).collect()}
    assert day2 == {"a": "new"}
    # after compaction the pruned fast path gives the same answers
    t.compact()
    assert {r["url"] for r in t.read(days=("2024-01-01", "2024-01-01")).collect()} == set()
    assert {r["url"]: r["text"] for r in t.read(days=("2024-01-02", "2024-01-02")).collect()} == {"a": "new"}


def test_mor_merge_append_collapse_compact(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "m"), SCHEMA, key_col="url", num_buckets=4,
        order_by=("__lsn",), merge_mode="mor",
    )
    t.merge(_batch(spark, [("a", "t1", 1, False), ("b", "t1", 2, False)]))
    t.merge(_batch(spark, [("a", "t2", 3, False), ("b", None, 4, True), ("c", "t1", 5, False)]))
    assert t.snapshot()["needs_collapse"] is True
    rows = {r["url"]: r["text"] for r in t.read().collect()}
    assert rows == {"a": "t2", "c": "t1"}  # read-side LWW collapse + tombstone filter
    # raw files hold every version (delta append, no rewrite)
    assert t._read_raw().count() == 5
    # stale replay: old upsert of deleted key must not resurrect it
    t.merge(_batch(spark, [("b", "t1", 2, False)]))
    assert "b" not in {r["url"] for r in t.read().collect()}
    # compact folds deltas, keeps tombstone winners, clears the flag
    state = sorted(tuple(r) for r in t.read().collect())
    t.compact()
    assert t.snapshot()["needs_collapse"] is False
    assert sorted(tuple(r) for r in t.read().collect()) == state
    assert t._read_raw().count() == 3  # a, c + b-tombstone
    # post-compact merge still correct
    t.merge(_batch(spark, [("a", "t9", 9, False)]))
    assert {r["text"] for r in t.read().filter(F.col("url") == "a").collect()} == {"t9"}


def test_mor_matches_cow_final_state(spark, tmp_path):
    batches = [
        [("a", "t1", 1, False), ("b", "t1", 2, False)],
        [("a", "t2", 3, False), ("b", None, 4, True)],
        [("b", "t3", 6, False), ("c", "t1", 7, False)],
    ]
    roots = {}
    for mode in ("cow", "mor"):
        t = LakeTable.create(
            spark, str(tmp_path / mode), SCHEMA, key_col="url", num_buckets=4,
            order_by=("__lsn",), merge_mode=mode,
        )
        for b in batches:
            t.merge(_batch(spark, b))
        roots[mode] = sorted(tuple(r) for r in t.read().collect())
    assert roots["cow"] == roots["mor"]


def test_conform_fills_missing_and_casts(spark):
    df = spark.createDataFrame([(1, "a")], "x int, s string")
    target = T.StructType(
        [T.StructField("x", T.LongType()), T.StructField("s", T.StringType()), T.StructField("z", T.DoubleType())]
    )
    row = conform(df, target).first()
    assert row["x"] == 1 and row["z"] is None
    assert conform(df, target).schema == target


def test_mor_unbucketed_deltas_map_only_then_compact(spark, tmp_path):
    """Unbucketed MoR deltas: writes land under the '*' pseudo-bucket
    (map-only, no shuffle), reads stay correct (including bucket-
    restricted reads), and compact() folds everything into the real
    bucket layout."""
    t = LakeTable.create(
        spark, str(tmp_path / "u"), SCHEMA, key_col="url", num_buckets=4,
        order_by=("__lsn",), merge_mode="mor",
    )
    t.merge(_batch(spark, [("a", "t1", 1, False), ("b", "t1", 2, False)]))
    t.merge(_batch(spark, [("a", "t2", 3, False), ("b", None, 4, True), ("c", "t1", 5, False)]))
    snap = t.snapshot()
    assert set(snap["buckets"]) == {"*"}  # all delta files, no shuffle layout
    assert {r["url"]: r["text"] for r in t.read().collect()} == {"a": "t2", "c": "t1"}
    # bucket-restricted read keeps its contract despite '*' deltas
    from pyspark.sql import functions as F  # noqa: F811
    bucket_a = t.read(buckets=[0, 1, 2, 3]).filter(F.col("url") == "a").count()
    assert bucket_a == 1
    for b in range(4):
        got = {r["url"] for r in t.read(buckets=[b]).collect()}
        assert got <= {"a", "c"}
    # compact folds '*' into real buckets; state unchanged
    state = sorted(tuple(r) for r in t.read().collect())
    t.compact()
    snap = t.snapshot()
    assert "*" not in snap["buckets"] and snap["needs_collapse"] is False
    assert sorted(tuple(r) for r in t.read().collect()) == state
    # post-compact merge appends new '*' deltas again
    t.merge(_batch(spark, [("a", "t9", 9, False)]))
    assert "*" in t.snapshot()["buckets"]
    assert {r["text"] for r in t.read().filter(F.col("url") == "a").collect()} == {"t9"}


def test_compact_deltas_incremental(spark, tmp_path):
    """Minor compaction folds only the '*' deltas: untouched buckets keep
    their exact files, touched buckets absorb the delta rows with LWW +
    tombstone semantics, and the result equals what a full compact would
    produce."""
    t = LakeTable.create(
        spark, str(tmp_path / "ic"), SCHEMA, key_col="url", num_buckets=8,
        order_by=("__lsn",), merge_mode="mor",
    )
    t.merge(_batch(spark, [(f"u{i}", "t0", i, False) for i in range(40)]))
    t.compact()  # establish a bucketed base
    base = {b: [f["path"] for f in fl] for b, fl in t.snapshot()["buckets"].items()}
    # new deltas touch only two keys (→ at most two buckets) + one delete
    t.merge(_batch(spark, [("u0", "t1", 100, False), ("u1", None, 101, True)]))
    assert "*" in t.snapshot()["buckets"]
    expect = sorted(tuple(r) for r in t.read().collect())
    v = t.compact_deltas()
    snap = t.snapshot()
    assert snap["version"] == v and "*" not in snap["buckets"]
    assert snap["needs_collapse"] is False
    affected = set(map(str, snap["summary"]["affected_buckets"]))
    assert 1 <= len(affected) <= 2
    # untouched buckets kept their exact files — O(deltas), not O(table)
    for b, paths in base.items():
        if b not in affected:
            assert [f["path"] for f in snap["buckets"][b]] == paths
    assert sorted(tuple(r) for r in t.read().collect()) == expect
    assert {r["url"]: r["text"] for r in t.read().collect()}["u0"] == "t1"
    assert "u1" not in {r["url"] for r in t.read().collect()}
    # idempotent no-op when no deltas outstanding
    assert t.compact_deltas() == v


def test_read_keys_point_lookup_prunes_buckets(spark, tmp_path):
    """read_keys scans only the looked-up keys' hash buckets (file-level
    pruning asserted via inputFiles) and returns exactly the live rows —
    the O(1/num_buckets) serving-layer lookup shape."""
    t = LakeTable.create(
        spark, str(tmp_path / "pk"), SCHEMA, key_col="url", num_buckets=8,
        order_by=("__lsn",),
    )
    t.merge(_batch(spark, [(f"u{i}", f"t{i}", i, False) for i in range(40)]))
    t.merge(_batch(spark, [("u0", "t-new", 100, False), ("u1", None, 101, True)]))

    got = {r["url"]: r["text"] for r in t.read_keys(["u0", "u1", "u2"]).collect()}
    assert got == {"u0": "t-new", "u2": "t2"}  # LWW applied, tombstone filtered
    # pruning: the lookup reads fewer files than a full scan
    assert len(t.read_keys(["u0"]).inputFiles()) < len(t.read().inputFiles())
    # large key list takes the semi-join path, same answers
    many = [f"u{i}" for i in range(100)]
    got_many = {r["url"] for r in t.read_keys(many).collect()}
    assert got_many == {f"u{i}" for i in range(40) if i != 1}
    assert t.read_keys([]).count() == 0


def test_read_keys_zone_map_prunes_files_within_bucket(spark, tmp_path):
    """Compaction output is range-clustered and sorted on the leading
    key, and each file records a [kmin, kmax] zone map; read_keys skips
    files inside a bucket whose zone excludes every probed key — the
    Iceberg sorted-rewrite + column-stats skip for multi-file buckets."""

    def batch(prefix, n, lsn0):
        return spark.range(n).select(
            F.format_string(prefix + "%05d", "id").alias("url"),
            F.lit("t").alias("text"),
            (F.col("id") + lsn0).alias("__lsn"),
            F.lit(False).alias("__deleted"),
        )

    t = LakeTable.create(
        spark, str(tmp_path / "zm"), SCHEMA, key_col="url", num_buckets=1,
        order_by=("__lsn",), merge_mode="mor",
    )
    # 120k rows in two disjoint key ranges → the fold range-splits the
    # single bucket into ~3 files with DISJOINT key zones; with 1 hash
    # bucket the zone map is the only file-level discrimination left
    t.merge(batch("a", 60_000, 0))
    t.merge(batch("z", 60_000, 100_000))
    t.compact_deltas(sort=True)  # sorted clustering: the read-optimize pass
    entries = t.file_entries()
    assert len(entries) >= 2 and all("kmin" in f for f in entries)
    a_files = t.file_entries(key_values=["a00005"])
    z_files = t.file_entries(key_values=["z00005"])
    assert len(a_files) < len(entries) and len(z_files) < len(entries)
    assert all(not f["kmin"].startswith("z") for f in a_files)
    # correctness unchanged, incl. LWW over a later (un-zoned) delta
    t.merge(_batch(spark, [("a00005", "t-new", 999_999, False)]))
    got = {r["url"]: r["text"] for r in t.read_keys(["a00005", "z00007"]).collect()}
    assert got == {"a00005": "t-new", "z00007": "t"}
    # a probe value of a different type can't be compared to the zone
    # bounds — those files must be KEPT, not mis-pruned
    assert len(t.file_entries(key_values=[123])) == len(t.file_entries())
    # an EMPTY probe list means "no zone pruning", not "prune everything"
    assert len(t.file_entries(key_values=[])) == len(t.file_entries())


def test_changes_incremental_changelog(spark, tmp_path):
    """changes(since) returns exactly the rows landed by commits after
    `since` (metadata file-diff, tombstones included, maintenance
    commits skipped) — the incremental-scan hook for chaining CDC
    pipelines without re-scanning the table."""
    t = LakeTable.create(
        spark, str(tmp_path / "ch"), SCHEMA, key_col="url", num_buckets=4,
        order_by=("__lsn",), merge_mode="mor",
    )
    v1 = t.merge(_batch(spark, [("a", "t1", 1, False), ("b", "t1", 2, False)]))
    v2 = t.merge(_batch(spark, [("a", "t2", 3, False), ("b", None, 4, True)]))

    ch = t.changes(v1)
    rows = {(r["url"], r["text"], r["__deleted"], r["_commit_version"]) for r in ch.collect()}
    assert rows == {("a", "t2", False, v2), ("b", None, True, v2)}  # tombstone included

    full = t.changes(0)
    assert {(r["url"], r["__lsn"]) for r in full.collect()} == {("a", 1), ("b", 2), ("a", 3), ("b", 4)}

    # maintenance commits add no changelog entries
    t.compact()
    assert {(r["url"], r["__lsn"]) for r in t.changes(v1).collect()} == {("a", 3), ("b", 4)}
    assert t.changes(t.current_version()).count() == 0

    # a CoW merge's files mix new and re-emitted rows — its changelog is
    # recovered by the per-bucket old/new anti-join (r3 next-round #4)
    c = LakeTable.create(
        spark, str(tmp_path / "chc"), SCHEMA, key_col="url", num_buckets=4,
        order_by=("__lsn",), merge_mode="cow",
    )
    c.merge(_batch(spark, [("a", "t1", 1, False)]))
    cv = c.merge(_batch(spark, [("a", "t2", 2, False)]))
    assert {(r["url"], r["text"], r["_commit_version"]) for r in c.changes(cv - 1).collect()} == {
        ("a", "t2", cv)
    }


def test_changes_over_cow_merge_commits(spark, tmp_path):
    """CoW changelog: rows of the rewritten buckets at v not present
    byte-identically at v-1 = inserted + updated + tombstoned rows;
    unchanged rows the rewrite re-emitted cancel in the anti-join even
    when their bucket was rewritten."""
    c = LakeTable.create(
        spark, str(tmp_path / "cowch"), SCHEMA, key_col="url", num_buckets=2,
        order_by=("__lsn",), merge_mode="cow",
    )
    v1 = c.merge(
        _batch(spark, [("a", "t1", 1, False), ("b", "t1", 2, False), ("d", "t1", 3, False)])
    )
    # update a, insert e, delete b; d untouched (but with 2 buckets its
    # bucket is almost surely rewritten alongside — must still cancel)
    v2 = c.merge(
        _batch(spark, [("a", "t2", 4, False), ("e", "t1", 5, False), ("b", None, 6, True)])
    )
    ch = {
        (r["url"], r["text"], r["__deleted"], r["_commit_version"])
        for r in c.changes(v1).collect()
    }
    assert ch == {("a", "t2", False, v2), ("e", "t1", False, v2), ("b", None, True, v2)}
    # full history from create: v1's changes are its whole batch
    full = {(r["url"], r["__lsn"]) for r in c.changes(0).collect()}
    assert full == {("a", 1), ("b", 2), ("d", 3), ("a", 4), ("e", 5), ("b", 6)}
    # empty range still typed correctly
    assert c.changes(c.current_version()).count() == 0


def _mor_table(spark, path):
    return LakeTable.create(
        spark, str(path), SCHEMA, key_col="url", num_buckets=4,
        order_by=("__lsn",), merge_mode="mor",
    )


def _one_shot_commit_hook(spark, t, root, action):
    """Patch t's storage so the FIRST claim attempt is preceded by
    `action` landing a concurrent commit through a separate handle —
    deterministic interleaving of 'winner commits between this rewrite's
    compute and its claim'."""
    orig_claim = t.storage.claim
    fired = []

    def claim_hook(path, data):
        if not fired:
            fired.append(1)
            action(LakeTable.load(spark, root))
        return orig_claim(path, data)

    t.storage.claim = claim_hook


def test_compact_deltas_rebases_onto_concurrent_append(spark, tmp_path):
    """Validated rebase (Iceberg RewriteFiles shape): a MoR appender
    landing a delta between the fold's compute and its claim must NOT
    force a recompute — the fold re-applies as a metadata-only rebase,
    the winner's delta survives under '*', and needs_collapse stays
    raised so reads still collapse it."""
    root = str(tmp_path / "reb")
    t = _mor_table(spark, root)
    t.merge(_batch(spark, [("a", "t1", 1, False), ("b", "t1", 2, False)]))

    _one_shot_commit_hook(
        spark, t, root,
        lambda other: other.merge(_batch(spark, [("a", "t9", 9, False)])),
    )
    t.compact_deltas()

    snap = t.snapshot()
    assert snap["summary"]["operation"] == "compact-deltas"
    assert "rebased_onto" in snap["summary"]  # metadata rebase, not recompute
    assert snap["buckets"].get("*")  # winner's delta survived the fold
    assert snap["needs_collapse"] is True
    got = {(r["url"], r["text"], r["__lsn"]) for r in t.read().collect()}
    assert got == {("a", "t9", 9), ("b", "t1", 2)}  # winner's row wins LWW


def test_competing_folds_converge_via_recompute(spark, tmp_path):
    """Two compactors folding the SAME deltas: the loser's validation
    fails (its consumed files are gone) → ConcurrentCommitError → the
    auto-retry recomputes on the winner's snapshot and no-ops. State
    intact, no duplicate or resurrected rows."""
    root = str(tmp_path / "race2")
    t = _mor_table(spark, root)
    t.merge(_batch(spark, [("a", "t1", 1, False), ("b", "t1", 2, False)]))

    _one_shot_commit_hook(spark, t, root, lambda other: other.compact_deltas())
    t.compact_deltas()

    snap = t.snapshot()
    assert not snap["buckets"].get("*")
    assert snap["needs_collapse"] is False
    got = {(r["url"], r["text"], r["__lsn"]) for r in t.read().collect()}
    assert got == {("a", "t1", 1), ("b", "t1", 2)}


def test_cow_merge_rebases_onto_disjoint_cow_merge(spark, tmp_path):
    """Two CoW merges touching DISJOINT buckets commute: the loser
    rebases metadata-only instead of recomputing; both writers' rows
    land."""
    root = str(tmp_path / "cowreb")
    c = LakeTable.create(
        spark, root, SCHEMA, key_col="url", num_buckets=2,
        order_by=("__lsn",), merge_mode="cow",
    )
    # find two keys hashing to different buckets
    from pyspark.sql import functions as F  # noqa: F811

    probe = spark.createDataFrame([(f"k{i}",) for i in range(8)], "url string")
    bexpr = c._bucket_expr(c.snapshot())
    by_bucket = {}
    for r in probe.select("url", bexpr.alias("b")).collect():
        by_bucket.setdefault(r["b"], r["url"])
    k1, k2 = list(by_bucket.values())[:2]
    assert k1 != k2

    c.merge(_batch(spark, [(k1, "t1", 1, False)]))
    _one_shot_commit_hook(
        spark, c, root,
        lambda other: other.merge(_batch(spark, [(k2, "o1", 5, False)])),
    )
    c.merge(_batch(spark, [(k1, "t2", 2, False)]))

    snap = c.snapshot()
    assert "rebased_onto" in snap["summary"]
    got = {(r["url"], r["text"], r["__lsn"]) for r in c.read().collect()}
    assert got == {(k1, "t2", 2), (k2, "o1", 5)}
    # changelog over the REBASED commit: prev is the WINNER's snapshot,
    # and the per-bucket anti-join must yield exactly this merge's rows
    # (not the winner's, not re-emitted unchanged rows)
    v = c.current_version()
    assert {(r["url"], r["text"]) for r in c.changes(v - 1).collect()} == {(k1, "t2")}
    # and the winner's own commit still reports its rows
    assert {(r["url"], r["text"]) for r in c.changes(v - 2, v - 1).collect()} == {(k2, "o1")}


def test_changes_complete_under_order_prefix_ties(spark, tmp_path):
    """Property (seeded): with the engine's FULL order key — which ends
    in the per-event unique `offset` — two events can never tie on the
    whole key, so the docstring's degenerate same-order-different-payload
    overwrite is unreachable in replays. Even with adversarial prefix
    ties (duplicate (url, __lsn) with different payloads), folding
    changes(0) by last-commit-wins reconstructs read() exactly over a
    CoW history — the changelog loses nothing."""
    import random

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("text", T.StringType(), True),
            T.StructField("__lsn", T.LongType(), True),
            T.StructField("offset", T.LongType(), True),
            T.StructField("__deleted", T.BooleanType(), True),
        ]
    )
    for seed in (0, 1):
        rng = random.Random(seed)
        c = LakeTable.create(
            spark, str(tmp_path / f"tie{seed}"), schema, key_col="url", num_buckets=2,
            order_by=("__lsn", "offset"), merge_mode="cow",
        )
        off = 0
        best: dict = {}
        for _commit in range(4):
            rows = []
            batch_best: dict = {}
            for _ in range(6):
                k = f"k{rng.randrange(4)}"
                lsn = rng.randrange(3)  # tiny range → many prefix ties
                deleted = rng.random() < 0.2
                row = (k, None if deleted else f"p{off}", lsn, off, deleted)
                # strict total order: (lsn, offset) — offset is unique
                if k not in batch_best or (lsn, off) > batch_best[k][0]:
                    batch_best[k] = ((lsn, off), row)
                off += 1
            rows = [v[1] for v in batch_best.values()]  # ≤1 row/key per merge
            c.merge(spark.createDataFrame(rows, schema))
            for k, (order, row) in batch_best.items():
                if k not in best or order >= best[k][0]:
                    best[k] = (order, row)
        expected = {
            k: row for k, (order, row) in best.items() if not row[4]
        }
        got = {r["url"]: (r["url"], r["text"], r["__lsn"], r["offset"], r["__deleted"])
               for r in c.read().collect()}
        assert got == expected  # table state: max full-order key wins
        # changelog fold: per key, the row from the LAST commit version
        fold: dict = {}
        for r in c.changes(0).collect():
            if r["url"] not in fold or r["_commit_version"] >= fold[r["url"]][0]:
                fold[r["url"]] = (
                    r["_commit_version"],
                    (r["url"], r["text"], r["__lsn"], r["offset"], r["__deleted"]),
                )
        folded = {k: row for k, (_, row) in fold.items() if not row[4]}
        assert folded == expected  # changelog reconstructs state exactly


def test_changes_unknown_rewrite_op_raises(spark, table):
    """The honest failure arm: a hypothetical future rewrite kind the
    changelog cannot decompose must raise, not silently mis-report."""
    table.merge(_batch(spark, [("a", "t1", 1, False)]))
    # white-box: land a commit whose operation no changelog rule knows
    table._commit(
        lambda base: {
            **table._carry(base),
            "needs_collapse": bool(base.get("needs_collapse")),
            "schemas": base["schemas"],
            "current_schema_id": base["current_schema_id"],
            "buckets": {b: list(fs) for b, fs in base["buckets"].items()},
            **table._ckpt_fields(base),
            "lineage": [],
            "summary": {"operation": "frobnicate-rewrite"},
        },
        rebaseable=True,
    )
    with pytest.raises(ValueError, match="frobnicate-rewrite"):
        table.changes(0)
    # ranges EXCLUDING the unknown commit still work
    assert table.changes(table.current_version()).count() == 0


def test_cow_merge_auto_retries_on_concurrent_commit(spark, table):
    """A CoW merge racing a concurrent committer survives either way:
    a winner whose files land in a bucket this merge REWROTE (and the
    table doesn't collapse on read) forces exactly one recompute; a
    disjoint winner is absorbed by the validated metadata rebase with
    no recompute at all (see test_cow_merge_rebases_onto_disjoint_
    cow_merge). Nothing of the winner is ever lost."""
    table.merge(_batch(spark, [("a", "t1", 1, False)]))
    # pick a winner key in the SAME bucket as 'a' → rebase guard must
    # refuse (duplicate would sit invisibly beside the rewrite) and the
    # recompute path must run
    snap = table.snapshot()
    bexpr = table._bucket_expr(snap)
    probe = spark.createDataFrame([(f"z{i}",) for i in range(16)] + [("a",)], "url string")
    buckets = {r["url"]: r["b"] for r in probe.select("url", bexpr.alias("b")).collect()}
    z = next(k for k in buckets if k != "a" and buckets[k] == buckets["a"])

    calls = {"n": 0}
    orig = table._write_files

    def racing_write(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            # a concurrent committer appends into the SAME bucket
            LakeTable.load(spark, table.root).append(_batch(spark, [(z, "t", 9, False)]))
        return orig(*a, **kw)

    table._write_files = racing_write
    try:
        table.merge(_batch(spark, [("a", "t2", 2, False)]))
    finally:
        del table._write_files
    state = {r["url"]: r["text"] for r in table.read().collect()}
    assert state["a"] == "t2"  # the retried merge landed
    assert state[z] == "t"  # the winner's row survived (no lost update)
    assert calls["n"] == 2  # exactly one recompute


def test_compact_deltas_auto_retries_on_concurrent_commit(spark, tmp_path):
    """Minor compaction racing a live MoR appender recomputes and
    converges instead of killing the maintenance loop — the appender's
    mid-compaction delta is folded by the retry, not dropped."""
    root = str(tmp_path / "race")
    t = LakeTable.create(
        spark, root, SCHEMA, key_col="url", num_buckets=4,
        order_by=("__lsn",), merge_mode="mor",
    )
    t.merge(_batch(spark, [("a", "t1", 1, False), ("b", "t1", 2, False)]))
    t.merge(_batch(spark, [("a", "t2", 3, False)]))
    calls = {"n": 0}
    orig = t._write_files

    def racing_write(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            LakeTable.load(spark, root).merge(_batch(spark, [("q", "tq", 9, False)]))
        return orig(*a, **kw)

    t._write_files = racing_write
    try:
        t.compact_deltas()
    finally:
        del t._write_files
    # the appender's mid-fold delta no longer forces a recompute: the
    # fold REBASES metadata-only, the racer's delta survives under '*'
    # with needs_collapse still raised, and reads collapse it
    assert calls["n"] == 1
    snap = t.snapshot()
    assert "rebased_onto" in snap["summary"]
    assert snap["buckets"].get("*")  # racer's delta outstanding, not lost
    assert snap["needs_collapse"] is True
    state = {r["url"]: r["text"] for r in t.read().collect()}
    assert state == {"a": "t2", "b": "t1", "q": "tq"}
    # the NEXT maintenance pass folds the racer's delta
    t.compact_deltas()
    snap = t.snapshot()
    assert not snap["buckets"].get("*")
    assert {r["url"]: r["text"] for r in t.read().collect()} == state


def test_two_writer_append_compact_race_converges(spark, tmp_path):
    """Two real writers on one table — a MoR appender thread and a
    compactor thread — must converge to the serial LWW state with no
    lost updates and no failed windows (r3 next-round #2 done-check)."""
    import threading

    root = str(tmp_path / "two")
    LakeTable.create(
        spark, root, SCHEMA, key_col="url", num_buckets=4,
        order_by=("__lsn",), merge_mode="mor",
    )
    errors = []

    def appender():
        try:
            h = LakeTable.load(spark, root)
            for i in range(4):
                h.merge(_batch(spark, [(f"k{i % 3}", f"v{i}", i + 10, False)]))
        except Exception as e:  # noqa: BLE001 — surfaced via assert below
            errors.append(e)

    def compactor():
        try:
            h = LakeTable.load(spark, root)
            for _ in range(3):
                h.compact_deltas()
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    ts = [threading.Thread(target=appender), threading.Thread(target=compactor)]
    for th in ts:
        th.start()
    for th in ts:
        th.join()
    assert not errors
    t = LakeTable.load(spark, root)
    t.compact_deltas()
    state = {r["url"]: (r["text"], r["__lsn"]) for r in t.read().collect()}
    assert state == {"k0": ("v3", 13), "k1": ("v1", 11), "k2": ("v2", 12)}


def test_changes_after_vacuum_fails_clearly(spark, tmp_path):
    """changes() over a range whose snapshots were expired by vacuum
    raises the expired-version FileNotFoundError instead of returning a
    partial changelog — consumers must re-sync from a full read."""
    t = LakeTable.create(
        spark, str(tmp_path / "cv"), SCHEMA, key_col="url", num_buckets=2,
        order_by=("__lsn",), merge_mode="mor",
    )
    t.merge(_batch(spark, [("a", "t1", 1, False)]))
    v1 = t.current_version()
    t.merge(_batch(spark, [("b", "t1", 2, False)]))
    t.compact()
    t.vacuum(keep_last=1, orphan_grace_s=0.0)
    with pytest.raises(FileNotFoundError, match="expired"):
        t.changes(v1)
    # a still-retained range keeps working
    v = t.current_version()
    t.merge(_batch(spark, [("c", "t1", 3, False)]))
    assert {r["url"] for r in t.changes(v).collect()} == {"c"}


def test_transient_write_failure_retries_exactly_once(spark, tmp_path):
    """Injected fault: the first write attempt really lands files, then
    fails 'transiently'. The bounded retry must land the window EXACTLY
    once (no duplicate rows — the failed attempt's files stay
    unreferenced orphans), and vacuum reclaims the orphans. Mirrors the
    reference's BigQuery retry discipline (r2 verdict next-round #5).
    Covers both merge modes: the CoW bucketed rewrite and the MoR
    map-only delta write."""
    from debezium_server_batch_spark.plans.laketable import (
        SchemaEvolutionError,
        TransientWriteError,
    )

    for mode in ("cow", "mor"):
        t = LakeTable.create(
            spark, str(tmp_path / f"rw-{mode}"), SCHEMA, key_col="url", num_buckets=4,
            order_by=("__lsn",), merge_mode=mode,
        )
        t.WRITE_BACKOFF_S = 0.0
        real = t._write_files_once
        calls = {"n": 0}

        def flaky(*a, **kw):
            calls["n"] += 1
            if calls["n"] == 1:
                real(*a, **kw)  # files hit disk, then the 'executor' dies
                raise TransientWriteError("injected executor failure")
            return real(*a, **kw)

        t._write_files_once = flaky
        try:
            t.merge(_batch(spark, [("a", "t1", 1, False), ("b", "t1", 2, False)]))
        finally:
            del t._write_files_once
        assert calls["n"] == 2, mode  # failed once, retried once
        assert sorted(r["url"] for r in t.read().collect()) == ["a", "b"], mode  # exactly once
        # keep all snapshots: only the failed attempt's orphans go (grace
        # 0: no concurrent writer in this test)
        orphans = t.vacuum(keep_last=10, orphan_grace_s=0.0)
        assert orphans, mode  # first attempt's unreferenced files reclaimed
        assert sorted(r["url"] for r in t.read().collect()) == ["a", "b"], mode

        # deterministic errors must NOT retry
        def always_schema_err(*a, **kw):
            calls["n"] += 1
            raise SchemaEvolutionError("bad plan")

        calls["n"] = 0
        t._write_files_once = always_schema_err
        try:
            with pytest.raises(SchemaEvolutionError):
                t.merge(_batch(spark, [("c", "t", 3, False)]))
        finally:
            del t._write_files_once
        assert calls["n"] == 1, mode


def test_object_store_storage_backend(spark, tmp_path):
    """The commit protocol runs against the pluggable StorageLayer: with
    ConditionalPutStorage (object-store semantics: no hard links, no
    renames, claim = conditional PUT) the table round-trips, an additive
    commit losing a race rebases onto the winner, and a stale rewrite
    raises instead of erasing the winner (r2 verdict next-round #4)."""
    import json as _json

    from debezium_server_batch_spark.plans.laketable import ConcurrentCommitError
    from debezium_server_batch_spark.plans.storage import ConditionalPutStorage

    st = ConditionalPutStorage()
    t = LakeTable.create(
        spark, str(tmp_path / "os"), SCHEMA, key_col="url", num_buckets=4,
        order_by=("__lsn",), storage=st,
    )
    t.merge(_batch(spark, [("a", "t1", 1, False), ("b", "t1", 2, False)]))
    t.merge(_batch(spark, [("a", "t2", 3, False), ("b", None, 4, True)]))
    assert {r["url"]: r["text"] for r in t.read().collect()} == {"a": "t2"}
    assert LakeTable.load(spark, str(tmp_path / "os"), storage=st).total_rows() == t.total_rows()

    # additive race: a winner claims the next version mid-commit; the
    # loser must rebase (re-apply its additions), not clobber
    raced = {"done": False}
    my_files = {"0": [{"path": "data/mine/f.parquet", "rows": 1, "schema_id": "0"}]}
    real_claim = st.claim

    def racing_claim(path, data):
        if not raced["done"]:
            raced["done"] = True
            snap = _json.loads(data)
            winner = dict(snap)
            winner["bucket_manifests"] = {
                **snap.get("bucket_manifests", {}),
                "1": [t._write_manifest([{"path": "data/winner/w.parquet", "rows": 5, "schema_id": "0"}])],
            }
            winner["summary"] = {"operation": "winner"}
            assert real_claim(path, _json.dumps(winner))
            return False  # loser's conditional PUT fails
        return real_claim(path, data)

    st.claim = racing_claim
    try:
        v = t._commit_additive(my_files, t.schema(), None, None, {"operation": "mine"})
    finally:
        st.claim = real_claim
    snap = t.snapshot()
    all_paths = {f["path"] for fl in snap["buckets"].values() for f in fl}
    assert snap["version"] == v
    assert "data/winner/w.parquet" in all_paths and "data/mine/f.parquet" in all_paths

    # stale rewrite: conditional PUT lost → ConcurrentCommitError
    stale = t.snapshot()
    t.append(_batch(spark, [("z", "t", 9, False)]))
    payload = {k: stale.get(k) for k in LakeTable._CARRY}
    payload.update(schemas=stale["schemas"], current_schema_id=stale["current_schema_id"],
                   buckets={}, checkpoint=None, lineage=[], summary={"operation": "stale"})
    with pytest.raises(ConcurrentCommitError):
        t._commit(lambda base: dict(payload), rebaseable=False, expected_base=stale["version"])


def test_segmented_manifest_commit_metadata_flat(spark, tmp_path):
    """Snapshot headers reference immutable per-bucket manifest files, so
    per-commit metadata stays O(new files), not O(table files): the
    header size is bounded (refs fold after MANIFEST_FOLD deltas) while
    the table's file count grows without bound, reads/time-travel still
    resolve, and vacuum drops manifests of expired versions."""
    import os as _os

    t = LakeTable.create(
        spark, str(tmp_path / "sm"), SCHEMA, key_col="url", num_buckets=4,
        order_by=("__lsn",), merge_mode="mor",
    )
    meta = _os.path.join(str(tmp_path / "sm"), "_meta")

    def header_bytes(v):
        return _os.path.getsize(_os.path.join(meta, f"v{v:08d}.json"))

    sizes = []
    for i in range(20):
        v = t.merge(_batch(spark, [(f"u{i}", f"t{i}", i, False)]))
        sizes.append(header_bytes(v))
    n_files = sum(len(fl) for fl in t.snapshot()["buckets"].values())
    assert n_files >= 20  # table file count grew linearly...
    assert max(sizes[10:]) <= 2 * max(sizes[:5])  # ...header size did not
    # manifests hold the entries; header holds only refs
    snap_raw = __import__("json").load(open(_os.path.join(meta, f"v{v:08d}.json")))
    assert "buckets" not in snap_raw and "bucket_manifests" in snap_raw
    # reads + time travel resolve through the segmented metadata
    assert t.read().count() == 20
    assert t.read(version=5).count() == 5
    # vacuum expires old versions AND their now-unreferenced manifests
    before = len([f for f in _os.listdir(meta) if f.startswith("m-")])
    t.compact()
    t.vacuum(keep_last=1)
    after = len([f for f in _os.listdir(meta) if f.startswith("m-")])
    assert after < before
    assert t.read().count() == 20


def test_compact_deltas_folds_bucketed_layout(spark, tmp_path):
    """Regression (r2 ADVICE): compact_deltas() folds the outstanding
    deltas into the collapsed bucket layout and clears needs_collapse
    (it used to be a permanent no-op on some layouts: per-read LWW
    collapse and file counts grew unboundedly). With nothing
    outstanding it is a no-op — the collapsed-file tags stop a refold of
    day/salt-split outputs — and a later 1-key merge folds only its
    bucket (O(touched), not O(table))."""
    t = LakeTable.create(
        spark, str(tmp_path / "bk"), SCHEMA, key_col="url", num_buckets=4,
        order_by=("__lsn",), merge_mode="mor",
    )
    t.merge(_batch(spark, [(f"u{i}", "t0", i, False) for i in range(20)]))
    t.merge(_batch(spark, [("u0", "t1", 100, False), ("u1", None, 101, True)]))
    snap = t.snapshot()
    assert set(snap["buckets"]) == {"*"} and snap["needs_collapse"] is True
    expect = sorted(tuple(r) for r in t.read().collect())

    v = t.compact_deltas()
    snap = t.snapshot()
    assert snap["version"] == v
    assert "*" not in snap["buckets"] and snap["needs_collapse"] is False
    assert all(f.get("collapsed") for fl in snap["buckets"].values() for f in fl)
    assert sorted(tuple(r) for r in t.read().collect()) == expect
    assert {r["url"]: r["text"] for r in t.read().collect()}["u0"] == "t1"
    assert "u1" not in {r["url"] for r in t.read().collect()}
    # second call: nothing left to fold → no-op, version stable
    assert t.compact_deltas() == snap["version"]
    # steady state is O(touched): a 1-key merge folds only its bucket
    before = {b: [f["path"] for f in fl] for b, fl in snap["buckets"].items()}
    t.merge(_batch(spark, [("u0", "t2", 200, False)]))
    t.compact_deltas()
    snap = t.snapshot()
    assert len(snap["summary"]["affected_buckets"]) == 1
    assert snap["needs_collapse"] is False
    untouched = set(before) - {str(b) for b in snap["summary"]["affected_buckets"]}
    assert all([f["path"] for f in snap["buckets"][b]] == before[b] for b in untouched)
    assert {r["url"]: r["text"] for r in t.read().collect()}["u0"] == "t2"


def _legacy_bucketed_merge(t, df):
    """Commit `df` the way a MoR merge did on tables created with
    bucketed deltas: files in the real buckets, without the collapsed
    tag, needs_collapse raised."""
    snap = t.snapshot()
    files = t._write_files(df, snap, snap["current_schema_id"], codec="snappy")
    t._commit_additive(
        files, t.schema(snap), None, None, {"operation": "merge-mor"}, set_needs_collapse=True
    )


def test_bucketed_fold_does_not_resurrect_intra_file_duplicates(spark, tmp_path):
    """Regression (r3 review): a MoR merge appends its batch UN-deduped,
    so one file can carry several versions of a key (incl. a
    tombstone). compact_deltas must LWW-collapse them, never just clear
    needs_collapse over them. Holds for '*' deltas and for the untagged
    real-bucket files of tables written with bucketed deltas."""
    rows = [
        ("a", "old", 1, False), ("a", "new", 2, False),
        ("b", "live", 3, False), ("b", None, 4, True),
    ]
    for name, write in (("star", LakeTable.merge), ("legacy", _legacy_bucketed_merge)):
        t = LakeTable.create(
            spark, str(tmp_path / name), SCHEMA, key_col="url", num_buckets=2,
            order_by=("__lsn",), merge_mode="mor",
        )
        # ONE write with two versions of 'a' and a delete-after-insert of 'b'
        write(t, _batch(spark, rows))
        assert t.snapshot()["needs_collapse"] is True
        assert t.outstanding_delta_files() > 0
        t.compact_deltas()
        snap = t.snapshot()
        assert snap["needs_collapse"] is False and t.outstanding_delta_files() == 0
        assert {r["url"]: r["text"] for r in t.read().collect()} == {"a": "new"}, name
        raw = {(r["url"], r["__lsn"]) for r in t._read_raw().collect()}
        assert raw == {("a", 2), ("b", 4)}, name  # old versions physically folded away
        assert t.compact_deltas() == snap["version"]


def test_compact_deltas_keeps_read_winner_on_order_tie(spark, tmp_path):
    """The minor fold reduces with read()'s LWW (max over order_by, then
    the full row), so folding never changes what a read returns — also
    when a delta ties a base row on order_by."""
    t = LakeTable.create(
        spark, str(tmp_path / "tie"), SCHEMA, key_col="url", num_buckets=2,
        order_by=("__lsn",), merge_mode="mor",
    )
    t.merge(_batch(spark, [("k", "zzz", 5, False), ("x", "x1", 1, False)]))
    t.compact()
    t.merge(_batch(spark, [("k", "aaa", 5, False)]))  # same __lsn as the base row
    before = sorted(tuple(r) for r in t.read().collect())
    assert ("k", "zzz", 5, False) in before
    t.compact_deltas()
    assert t.snapshot()["needs_collapse"] is False
    assert sorted(tuple(r) for r in t.read().collect()) == before


def test_empty_mor_merge_does_not_raise_collapse_flag(spark, tmp_path):
    """An empty MoR batch lands no data file and leaves needs_collapse
    clear — otherwise every read pays the LWW aggregate until the next
    fold — while its checkpoint still commits."""
    t = LakeTable.create(
        spark, str(tmp_path / "em"), SCHEMA, key_col="url", num_buckets=2,
        order_by=("__lsn",), merge_mode="mor",
    )
    t.merge(_batch(spark, [("a", "t1", 1, False)]))
    t.compact()
    v = t.merge(_batch(spark, []), checkpoint={"batch_id": 7})
    snap = t.snapshot()
    assert snap["version"] == v and snap["checkpoint"] == {"batch_id": 7}
    assert snap["needs_collapse"] is False
    assert "*" not in snap["buckets"]
    assert all(f["rows"] > 0 for fl in snap["buckets"].values() for f in fl)
    assert [r["url"] for r in t.read().collect()] == ["a"]


def test_commit_crash_atomicity_fuzz(spark, tmp_path):
    """Crash-consistency fuzz for the commit protocol: a storage-layer
    failure injected at EVERY mutating metadata operation index
    (manifest writes, the version claim, vacuum deletes) must leave the
    table readable at a committed version — the batch either landed
    fully or not at all — and a retried merge + vacuum converge to the
    exact final state with orphans reclaimed."""
    from debezium_server_batch_spark.plans.storage import PosixStorage

    class FlakyStorage(PosixStorage):
        def __init__(self, budget):
            self.budget = budget

        def _spend(self):
            self.budget -= 1
            if self.budget < 0:
                raise OSError("injected storage crash")

        def write_text(self, path, data):
            self._spend()
            return super().write_text(path, data)

        def claim(self, path, data):
            self._spend()
            return super().claim(path, data)

        def delete(self, path):
            self._spend()
            return super().delete(path)

    b1 = [("a", "t1", 1, False), ("b", "t1", 2, False)]
    b2 = [("a", "t2", 3, False), ("c", "t1", 4, False)]
    expect_after = {("a", "t2"), ("b", "t1"), ("c", "t1")}
    crashed_at_least_once = False
    for crash_at in range(0, 6):
        root = str(tmp_path / f"fz{crash_at}")
        t = LakeTable.create(
            spark, root, SCHEMA, key_col="url", num_buckets=2,
            order_by=("__lsn",), merge_mode="mor",
        )
        t.merge(_batch(spark, b1))
        before = {(r["url"], r["text"]) for r in t.read().collect()}

        flaky = LakeTable(spark, root, storage=FlakyStorage(crash_at))
        try:
            flaky.merge(_batch(spark, b2))
        except OSError:
            crashed_at_least_once = True
        # whatever happened, the table is readable at a committed version
        t2 = LakeTable.load(spark, root)
        state = {(r["url"], r["text"]) for r in t2.read().collect()}
        assert state in (before, expect_after)
        if state == before:
            t2.merge(_batch(spark, b2))  # at-least-once redelivery
        assert {(r["url"], r["text"]) for r in t2.read().collect()} == expect_after
        # crash mid-vacuum: partial deletes may only touch DEAD files
        t2.compact_deltas()
        flaky_v = LakeTable(spark, root, storage=FlakyStorage(crash_at))
        try:
            flaky_v.vacuum(keep_last=1, orphan_grace_s=0.0)
        except OSError:
            crashed_at_least_once = True
        assert {(r["url"], r["text"]) for r in LakeTable.load(spark, root).read().collect()} == expect_after
        # healthy vacuum reclaims the crashed attempt's orphans
        LakeTable.load(spark, root).vacuum(keep_last=1, orphan_grace_s=0.0)
        assert {(r["url"], r["text"]) for r in LakeTable.load(spark, root).read().collect()} == expect_after
    assert crashed_at_least_once  # the budgets actually exercised failures


def test_chained_pipeline_sync_incremental(spark, tmp_path):
    """Medallion hop (bronze → silver) via sync_incremental: bootstrap
    full read, then per-step consumption of ONLY the new commits'
    changes, exactly-once across a crashed step, deletes propagated,
    upstream maintenance (compaction) transparent, and a filter
    transform applied downstream."""
    from debezium_server_batch_spark.plans.chained import sync_incremental

    bronze = LakeTable.create(
        spark, str(tmp_path / "bronze"), SCHEMA, key_col="url", num_buckets=4,
        order_by=("__lsn",), merge_mode="mor",
    )
    silver = LakeTable.create(
        spark, str(tmp_path / "silver"), SCHEMA, key_col="url", num_buckets=2,
        order_by=("__lsn",), merge_mode="mor",
    )
    bronze.merge(_batch(spark, [("a", "t1", 1, False), ("b", "spam", 2, False)]))
    bronze.merge(_batch(spark, [("c", "t1", 3, False)]))

    drop_spam = lambda df: df.filter((F.col("text") != "spam") | F.col("__deleted"))  # noqa: E731
    r1 = sync_incremental(bronze, silver, transform=drop_spam)
    assert r1["rows_synced"] == 2 and not r1["noop"]  # bootstrap, spam filtered
    assert {r["url"] for r in silver.read().collect()} == {"a", "c"}

    # incremental step: two more bronze commits (update + delete)
    bronze.merge(_batch(spark, [("a", "t2", 4, False), ("d", "t1", 5, False)]))
    bronze.merge(_batch(spark, [("c", None, 6, True)]))
    r2 = sync_incremental(bronze, silver, transform=drop_spam)
    assert r2["rows_synced"] == 3  # a,d,c-tombstone — NOT a re-read of b
    state = {r["url"]: r["text"] for r in silver.read().collect()}
    assert state == {"a": "t2", "d": "t1"}  # delete propagated, update applied

    # no new upstream commits → no-op
    assert sync_incremental(bronze, silver, transform=drop_spam)["noop"]

    # crashed step: checkpoint didn't advance → the redo converges (the
    # order-guarded merge makes redelivery idempotent)
    bronze.merge(_batch(spark, [("e", "t1", 7, False)]))
    ck_before = silver.checkpoint()
    silver.commit_checkpoint(dict(ck_before))  # simulate: nothing consumed yet
    r3 = sync_incremental(bronze, silver, transform=drop_spam)
    assert r3["rows_synced"] == 1
    r4 = sync_incremental(bronze, silver, transform=drop_spam)  # replayed step
    assert r4["noop"]
    assert {r["url"] for r in silver.read().collect()} == {"a", "d", "e"}

    # upstream maintenance is invisible to the changelog consumer
    bronze.compact_deltas()
    bronze.merge(_batch(spark, [("f", "t1", 8, False)]))
    assert sync_incremental(bronze, silver, transform=drop_spam)["rows_synced"] == 1
    # final parity vs recomputing silver from scratch
    scratch = LakeTable.create(
        spark, str(tmp_path / "scratch"), SCHEMA, key_col="url", num_buckets=2,
        order_by=("__lsn",), merge_mode="mor",
    )
    sync_incremental(bronze, scratch, transform=drop_spam)
    assert sorted(tuple(r) for r in silver.read().collect()) == sorted(
        tuple(r) for r in scratch.read().collect()
    )


def test_sync_incremental_scrub_transform_canonical_key(spark, tmp_path):
    """The web-pipeline scrub stage runs INSIDE the medallion hop:
    silver's merge key is the CANONICAL url (functions/url) and its
    text is PII-redacted (functions/pii). Raw-url variants of one page
    collapse to a single silver row by LWW order; because both
    rewrites are pure row functions, incremental consumption stays
    equivalent to a from-scratch transform, and deletes keyed by any
    raw variant land on the canonical silver key."""
    from debezium_server_batch_spark.functions.pii import redact_pii
    from debezium_server_batch_spark.functions.url import canonicalize_url
    from debezium_server_batch_spark.plans.chained import sync_incremental

    scrub = lambda df: df.withColumn("url", canonicalize_url("url")).withColumn(  # noqa: E731
        "text", redact_pii("text")
    )
    mk = lambda root: LakeTable.create(  # noqa: E731
        spark, str(tmp_path / root), SCHEMA, key_col="url", num_buckets=2,
        order_by=("__lsn",), merge_mode="mor",
    )
    bronze, silver = mk("bronze"), mk("silver")

    bronze.merge(_batch(spark, [
        ("HTTP://A.com/p?utm_source=x", "mail me at a@b.io", 1, False),
        ("http://a.com/p", "call 555-867-5309", 2, False),  # same page, canon key
        ("https://b.com/q?id=3", "clean text", 3, False),
    ]))
    r1 = sync_incremental(bronze, silver, transform=scrub)
    assert r1["rows_synced"] == 2 and r1["bootstrap"]  # variants collapsed by LWW
    state = {r["url"]: r["text"] for r in silver.read().collect()}
    assert state == {
        "http://a.com/p": "call <PHONE>",  # __lsn 2 won; phone scrubbed
        "https://b.com/q?id=3": "clean text",
    }

    # incremental: update arrives under the MESSY variant — must land on
    # the same canonical silver key, with its email scrubbed
    bronze.merge(_batch(spark, [("HTTP://A.com/p?utm_source=x", "new a@b.io", 4, False)]))
    r2 = sync_incremental(bronze, silver, transform=scrub)
    assert r2["rows_synced"] == 1 and not r2["bootstrap"]
    state = {r["url"]: r["text"] for r in silver.read().collect()}
    assert state["http://a.com/p"] == "new <EMAIL>"

    # delete keyed by a raw variant propagates to the canonical key
    bronze.merge(_batch(spark, [("http://a.com/p?utm_medium=m", None, 5, True)]))
    sync_incremental(bronze, silver, transform=scrub)
    assert {r["url"] for r in silver.read().collect()} == {"https://b.com/q?id=3"}

    # incremental == from-scratch (pure-function transform invariant)
    scratch = mk("scratch")
    sync_incremental(bronze, scratch, transform=scrub)
    assert sorted(tuple(r) for r in silver.read().collect()) == sorted(
        tuple(r) for r in scratch.read().collect()
    )


def test_sync_incremental_transform_failure_dead_letter(spark, tmp_path):
    """Transform failures (merge key nulled by the transform) are ALWAYS
    excluded from the downstream merge, and with dead_letter set their
    post-transform rows are spooled BEFORE the checkpoint commits —
    exactly-once for the table, at-least-once for the spool (r5 verdict
    next #7)."""
    from debezium_server_batch_spark.plans.chained import sync_incremental

    bronze = LakeTable.create(
        spark, str(tmp_path / "bronze"), SCHEMA, key_col="url", num_buckets=2,
        order_by=("__lsn",), merge_mode="mor",
    )
    silver = LakeTable.create(
        spark, str(tmp_path / "silver"), SCHEMA, key_col="url", num_buckets=2,
        order_by=("__lsn",), merge_mode="mor",
    )
    dlq = str(tmp_path / "dlq")
    # deterministic failure on an immutable attribute: keys starting
    # with 'x' null out (unextractable-key shape)
    fail_x = lambda df: df.withColumn(  # noqa: E731
        "url", F.when(F.col("url").startswith("x"), F.lit(None)).otherwise(F.col("url"))
    )

    bronze.merge(_batch(spark, [("a", "t1", 1, False), ("x1", "bad", 2, False)]))
    r1 = sync_incremental(bronze, silver, transform=fail_x, dead_letter=dlq)
    assert r1["rows_synced"] == 1 and r1["dead_letter_rows"] == 1
    assert {r["url"] for r in silver.read().collect()} == {"a"}  # no null-key row

    spooled = spark.read.parquet(dlq)
    assert spooled.count() == 1
    row = spooled.collect()[0]
    assert row["url"] is None and row["text"] == "bad"
    assert row["reason"] == "null-merge-key-after-transform"
    assert row["src_version"] == r1["src_version"]

    # clean tick: no dead rows, no spool growth, checkpoint advances
    bronze.merge(_batch(spark, [("b", "t1", 3, False)]))
    r2 = sync_incremental(bronze, silver, transform=fail_x, dead_letter=dlq)
    assert r2["rows_synced"] == 1 and r2["dead_letter_rows"] == 0
    assert spark.read.parquet(dlq).count() == 1
    assert sync_incremental(bronze, silver, transform=fail_x, dead_letter=dlq)["noop"]

    # without dead_letter the guard still excludes null keys (no silent
    # table pollution), just without the spool
    bronze.merge(_batch(spark, [("x2", "bad2", 4, False), ("c", "t1", 5, False)]))
    r3 = sync_incremental(bronze, silver, transform=fail_x)
    assert r3["rows_synced"] == 1 and r3["dead_letter_rows"] == 1
    assert {r["url"] for r in silver.read().collect()} == {"a", "b", "c"}


def test_sync_incremental_rebootstraps_after_vacuum_expiry(spark, tmp_path):
    """A follower that fell behind the upstream vacuum horizon (its
    last-synced version header expired) must RE-BOOTSTRAP from the full
    current snapshot instead of dying on the changelog read — the LWW
    merge makes the re-read idempotent and the final state exact."""
    from debezium_server_batch_spark.plans.chained import sync_incremental

    bronze = _mor_table(spark, tmp_path / "bronze")
    silver = _mor_table(spark, tmp_path / "silver")
    bronze.merge(_batch(spark, [("a", "t1", 1, False), ("b", "t1", 2, False)]))
    r = sync_incremental(bronze, silver)
    assert r["rows_synced"] == 2

    # upstream advances far, compacts, then vacuums past the follower
    bronze.merge(_batch(spark, [("a", "t2", 3, False), ("c", "t1", 4, False)]))
    bronze.merge(_batch(spark, [("b", None, 5, True)]))
    bronze.compact_deltas()
    bronze.vacuum(keep_last=1, orphan_grace_s=0.0)
    with pytest.raises(FileNotFoundError):
        bronze.snapshot(r["src_version"])  # follower's version is gone

    r2 = sync_incremental(bronze, silver)
    assert r2["rows_synced"] > 0  # bootstrap path, not a crash
    state = {r_["url"]: r_["text"] for r_ in silver.read().collect()}
    assert state == {"a": "t2", "c": "t1"}  # delete propagated via tombstone
    assert sync_incremental(bronze, silver)["noop"]


def test_changes_nets_out_in_range_rollback(spark, tmp_path):
    """A rollback whose target is at-or-after `since` nets exactly: the
    undone commits' rows drop from the changelog, commits after the
    rollback still flow (this is also the path a follower takes across
    an upstream WAP discard_staged)."""
    t = _mor_table(spark, tmp_path / "t")
    t.merge(_batch(spark, [("a", "t1", 1, False)]))  # v1
    t.merge(_batch(spark, [("b", "t1", 2, False)]))  # v2
    t.merge(_batch(spark, [("c", "t1", 3, False)]))  # v3
    t.rollback(2)  # v4: undoes the c-batch
    t.merge(_batch(spark, [("d", "t1", 4, False)]))  # v5
    ch = t.changes(1)
    got = {(r["url"], r["_commit_version"]) for r in ch.collect()}
    assert got == {("b", 2), ("d", 5)}  # c's insert netted out
    # rollback all the way to `since` itself: everything in range drops
    t.rollback(1)  # v6
    assert t.changes(1, 6).count() == 0


def test_changes_netting_stacked_rollbacks_and_maintenance(spark, tmp_path):
    """The netting walk under the gnarly histories: two rollbacks in one
    range, a rollback targeting another rollback commit's version, and a
    compaction between them. Invariant: for append-only batches with
    disjoint keys, changes(0) == the current table state exactly."""
    t = _mor_table(spark, tmp_path / "t")
    t.merge(_batch(spark, [("a", "t1", 1, False)]))  # v1
    t.merge(_batch(spark, [("b", "t1", 2, False)]))  # v2
    t.rollback(1)  # v3: drop b
    t.merge(_batch(spark, [("c", "t1", 3, False)]))  # v4
    t.compact_deltas()  # v5: maintenance inside the range
    t.merge(_batch(spark, [("d", "t1", 4, False)]))  # v6
    t.rollback(3)  # v7: targets the FIRST rollback commit → state {a}
    t.merge(_batch(spark, [("e", "t1", 5, False)]))  # v8

    state = {r["url"] for r in t.read().collect()}
    assert state == {"a", "e"}
    ch = {(r["url"], r["_commit_version"]) for r in t.changes(0).collect()}
    assert ch == {("a", 1), ("e", 8)}
    # sub-ranges stay consistent too: a walk starting between the
    # rollbacks nets only what IT emitted (v4's c), then v7 (target 3
    # >= since 3) drops it
    assert t.changes(3).count() == 1  # just e
    # and a since above the second rollback's target raises typed
    from debezium_server_batch_spark.plans.laketable import (
        RollbackBeyondCheckpointError,
    )

    with pytest.raises(RollbackBeyondCheckpointError):
        t.changes(4).collect()


def test_changes_raises_on_rollback_below_since(spark, tmp_path):
    from debezium_server_batch_spark.plans.laketable import (
        RollbackBeyondCheckpointError,
    )

    t = _mor_table(spark, tmp_path / "t")
    t.merge(_batch(spark, [("a", "t1", 1, False)]))  # v1
    t.merge(_batch(spark, [("b", "t1", 2, False)]))  # v2
    t.rollback(1)  # v3: undoes v2 — below a consumer checkpointed at 2
    with pytest.raises(RollbackBeyondCheckpointError) as ei:
        t.changes(2).collect()
    assert ei.value.target == 1


def test_sync_incremental_recovers_from_upstream_rollback(spark, tmp_path):
    """Upstream bad-batch rollback BELOW the follower's consumed floor:
    the follower rolls its own table back to the snapshot that consumed
    at-or-below the rollback target (checkpoints co-roll), re-syncs,
    and converges to exactly the from-scratch transform of upstream —
    including dropping rows it had synced from the undone commits."""
    from debezium_server_batch_spark.plans.chained import sync_incremental

    bronze = _mor_table(spark, tmp_path / "bronze")
    silver = _mor_table(spark, tmp_path / "silver")
    bronze.merge(_batch(spark, [("a", "t1", 1, False)]))  # v1
    assert sync_incremental(bronze, silver)["rows_synced"] == 1
    bronze.merge(_batch(spark, [("bad", "oops", 2, False)]))  # v2 (poisoned)
    assert sync_incremental(bronze, silver)["rows_synced"] == 1
    assert {r["url"] for r in silver.read().collect()} == {"a", "bad"}

    bronze.rollback(1)  # v3: undo the poisoned batch
    bronze.merge(_batch(spark, [("c", "t1", 3, False)]))  # v4
    r = sync_incremental(bronze, silver)
    assert "rolled_back_to" in r and not r["noop"]
    state = {x["url"]: x["text"] for x in silver.read().collect()}
    assert state == {"a": "t1", "c": "t1"}  # 'bad' gone downstream too
    # steady state resumes incrementally
    assert sync_incremental(bronze, silver)["noop"]
    bronze.merge(_batch(spark, [("d", "t1", 4, False)]))
    assert sync_incremental(bronze, silver)["rows_synced"] == 1
    assert {x["url"] for x in silver.read().collect()} == {"a", "c", "d"}


def test_follow_loop_paces_and_converges(spark, tmp_path):
    """follow(): per-tick sync_incremental paced by the BatchSizeWait
    family — upstream commits landing BETWEEN ticks (injected from the
    wait hook) are picked up by the next tick; the wait sees each
    tick's row count."""
    from debezium_server_batch_spark.plans.chained import follow

    bronze = LakeTable.create(
        spark, str(tmp_path / "b"), SCHEMA, key_col="url", num_buckets=2,
        order_by=("__lsn",), merge_mode="mor",
    )
    silver = LakeTable.create(
        spark, str(tmp_path / "s"), SCHEMA, key_col="url", num_buckets=2,
        order_by=("__lsn",), merge_mode="mor",
    )
    bronze.merge(_batch(spark, [("a", "t1", 1, False)]))

    class RecordingWait:
        def __init__(self):
            self.calls = []

        def wait_ms(self, n_events, elapsed_ms):
            self.calls.append(n_events)
            if len(self.calls) == 1:  # upstream keeps moving mid-follow
                bronze.merge(_batch(spark, [("b", "t1", 2, False)]))

    w = RecordingWait()
    stats = follow(bronze, silver, wait=w, max_ticks=3)
    assert [s["rows_synced"] for s in stats] == [1, 1, 0]
    assert stats[2]["noop"]
    assert w.calls == [1, 1]  # paced between ticks, not after the last
    assert {r["url"] for r in silver.read().collect()} == {"a", "b"}


def test_format_version_gate(spark, table, tmp_path):
    """Every snapshot header carries format_version; a doctored header
    declaring a FUTURE major is refused loudly at load() and snapshot()
    instead of mis-read as garbage, and pre-versioning headers (field
    absent) keep loading as format 1 (r5 verdict next #5)."""
    import json as _json

    from debezium_server_batch_spark.plans.laketable import UnsupportedFormatVersionError

    table.merge(_batch(spark, [("a", "t1", 1, False)]))
    snap = table.snapshot()
    assert snap["format_version"] == LakeTable.FORMAT_VERSION == 1

    meta = os.path.join(table.root, LakeTable.META)
    cur = table.current_version()

    # pre-versioning header (no field): still loads, reads as format 1
    legacy = dict(_json.loads(open(os.path.join(meta, f"v{cur:08d}.json")).read()))
    legacy.pop("format_version")
    legacy["version"] = cur + 1
    legacy["parent"] = cur
    with open(os.path.join(meta, f"v{cur + 1:08d}.json"), "w") as fh:
        fh.write(_json.dumps(legacy))
    t = LakeTable.load(spark, table.root)
    assert t.snapshot().get("format_version") is None  # absent == v1
    assert {r["url"] for r in t.read().collect()} == {"a"}

    # future-major header: both entry points refuse with a clear error
    future = dict(legacy)
    future["format_version"] = 99
    future["version"] = cur + 2
    future["parent"] = cur + 1
    with open(os.path.join(meta, f"v{cur + 2:08d}.json"), "w") as fh:
        fh.write(_json.dumps(future))
    with pytest.raises(UnsupportedFormatVersionError, match="format 99"):
        LakeTable.load(spark, table.root)
    with pytest.raises(UnsupportedFormatVersionError, match="format 99"):
        t.snapshot()  # already-loaded handle refuses too
    # non-integer majors are refused, not coerced
    future["format_version"] = "2.0"
    with open(os.path.join(meta, f"v{cur + 2:08d}.json"), "w") as fh:
        fh.write(_json.dumps(future))
    with pytest.raises(UnsupportedFormatVersionError):
        LakeTable.load(spark, table.root)


def test_rollback_restores_data_schema_and_checkpoint(spark, table):
    table.merge(
        _batch(spark, [("a", "t1", 1, False), ("b", "t1", 2, False)]),
        checkpoint={"batch_id": 0, "last_offset": 10},
    )
    good_v = table.current_version()
    good_rows = {(r["url"], r["text"]) for r in table.read().collect()}

    # the "bad batch": overwrites a, deletes b, inserts junk
    table.merge(
        _batch(spark, [("a", "JUNK", 9, False), ("b", None, 10, True), ("z", "junk", 11, False)]),
        checkpoint={"batch_id": 1, "last_offset": 20},
    )
    bad_v = table.current_version()
    assert {r["url"] for r in table.read().collect()} == {"a", "z"}

    new_v = table.rollback(good_v)
    assert new_v > bad_v  # history moves forward
    assert table.current_version() == new_v
    assert {(r["url"], r["text"]) for r in table.read().collect()} == good_rows
    # checkpoint rolled back WITH the data: replay re-applies the window
    assert table.checkpoint()["last_offset"] == 10
    assert table.snapshot()["summary"] == {"operation": "rollback", "to_version": good_v}
    # time travel to the undone version still works until vacuum
    assert {r["url"] for r in table.read(version=bad_v).collect()} == {"a", "z"}

    # replaying the undone window reconverges deterministically
    table.merge(
        _batch(spark, [("a", "t2-fixed", 9, False), ("b", None, 10, True)]),
        checkpoint={"batch_id": 1, "last_offset": 20},
    )
    rows = {r["url"]: r["text"] for r in table.read().collect()}
    assert rows == {"a": "t2-fixed"}
    assert table.checkpoint()["last_offset"] == 20


def test_rollback_refuses_unknown_and_noops_on_current(spark, table):
    table.merge(_batch(spark, [("a", "t1", 1, False)]))
    cur = table.current_version()
    assert table.rollback(cur) == cur  # no-op, no new version
    assert table.current_version() == cur
    with pytest.raises(FileNotFoundError):
        table.rollback(cur + 50)


def test_rollback_after_vacuum_expiry_refuses(spark, table):
    for lsn in range(4):
        table.merge(_batch(spark, [("a", f"t{lsn}", lsn, False)]))
    old = table.versions()[0]
    table.vacuum(keep_last=2, orphan_grace_s=0.0)
    with pytest.raises(FileNotFoundError, match="expired"):
        table.rollback(old)


def test_rollback_preserves_writer_slots(spark, table):
    table.merge(
        _batch(spark, [("a", "t1", 1, False)]),
        checkpoint={"batch_id": 0, "last_offset": 5, "writer": "w1"},
    )
    good_v = table.current_version()
    table.merge(
        _batch(spark, [("a", "t2", 2, False)]),
        checkpoint={"batch_id": 1, "last_offset": 9, "writer": "w1"},
    )
    table.rollback(good_v)
    assert table.checkpoint(writer="w1")["last_offset"] == 5


def test_fsck_clean_table_and_after_maintenance(spark, table):
    for lsn in range(3):
        table.merge(
            _batch(spark, [("a", f"t{lsn}", lsn, False), (f"k{lsn}", "x", lsn, False)]),
            checkpoint={"batch_id": lsn, "last_offset": lsn * 10},
        )
    rep = table.fsck(deep=True)
    assert rep["ok"] and rep["errors"] == []
    assert rep["files_checked"] > 0
    assert rep["deep_files_verified"] == rep["files_checked"]
    assert rep["rows_metadata"] == table.total_rows()

    table.compact()
    good_v = table.current_version()
    table.merge(_batch(spark, [("a", "bad", 99, False)]))
    table.rollback(good_v)
    rep = table.fsck(deep=True)
    # a legitimate rollback (checkpoint regression by design) is clean
    assert rep["ok"], rep["errors"]
    # crash leftovers would surface as warnings only; here there are
    # unreferenced files from expired/abandoned versions at most
    assert all("regressed" not in e for e in rep["errors"])


def test_fsck_detects_missing_and_truncated_files(spark, table, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    table.merge(_batch(spark, [("a", "t1", 1, False), ("b", "t2", 2, False)]))
    snap = table.snapshot()
    files = [f for fs in snap["buckets"].values() for f in fs]
    assert len(files) >= 2
    victim_missing = os.path.join(table.root, files[0]["path"])
    victim_wrong = os.path.join(table.root, files[1]["path"])

    # wrong row count: overwrite with a valid 7-row parquet
    pq.write_table(pa.table({"x": list(range(7))}), victim_wrong)
    rep = table.fsck(deep=True)
    assert not rep["ok"]
    assert any("footer has 7 rows" in e for e in rep["errors"])

    # shallow fsck does NOT open footers — wrong-count file passes there
    rep_shallow = table.fsck(deep=False)
    assert rep_shallow["ok"]

    os.remove(victim_missing)
    rep = table.fsck(deep=False)
    assert not rep["ok"]
    assert any("missing" in e for e in rep["errors"])


def test_fsck_detects_checkpoint_regression_and_orphans(spark, table):
    import json as _json

    table.merge(
        _batch(spark, [("a", "t1", 1, False)]),
        checkpoint={"batch_id": 5, "last_offset": 50},
    )
    cur = table.current_version()
    meta = os.path.join(table.root, table.META)
    # doctored commit: checkpoint goes BACKWARD without a rollback marker
    snap = _json.loads(open(os.path.join(meta, f"v{cur:08d}.json")).read())
    snap["version"] = cur + 1
    snap["parent"] = cur
    snap["checkpoint"] = {"batch_id": 2, "last_offset": 20}
    snap["summary"] = {"operation": "merge"}
    with open(os.path.join(meta, f"v{cur + 1:08d}.json"), "w") as fh:
        fh.write(_json.dumps(snap))
    rep = table.fsck()
    assert not rep["ok"]
    assert any("regressed" in e for e in rep["errors"])

    # orphan: an unreferenced parquet under data/ is a warning, not an error
    os.remove(os.path.join(meta, f"v{cur + 1:08d}.json"))
    orphan_dir = os.path.join(table.root, "data", "orphan")
    os.makedirs(orphan_dir, exist_ok=True)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"x": [1]}), os.path.join(orphan_dir, "stray.parquet"))
    rep = table.fsck()
    assert rep["ok"]
    assert any("unreferenced" in w for w in rep["warnings"])


# ----------------------------------------------------------------------
# bucket-count evolution (rescale)
# ----------------------------------------------------------------------


def _bucket_of(url: str, spark, n: int) -> int:
    return (
        spark.range(1)
        .select(F.pmod(F.xxhash64(F.lit(url)), F.lit(n)).alias("b"))
        .collect()[0]["b"]
    )


def test_rescale_preserves_state_and_rebuckets(spark, table):
    """rescale(N') is a pure layout change: rows identical, num_buckets
    updated, every file's keys live in the bucket the NEW layout puts
    them in (bucket-pruned reads stay correct), and time-travel below
    the rescale still reads the OLD layout."""
    table.merge(_batch(spark, [(f"u{j}", "t1", j, False) for j in range(20)]))
    table.merge(_batch(spark, [("u3", "t2", 99, False), ("u7", None, 98, True)]))
    before = sorted(tuple(r) for r in table.read().collect())
    v_pre = table.current_version()

    v = table.rescale(16)
    snap = table.snapshot()
    assert snap["num_buckets"] == 16 and snap["version"] == v
    assert snap["summary"]["operation"] == "rescale"
    assert snap["summary"]["from_buckets"] == 4 and snap["summary"]["to_buckets"] == 16
    assert sorted(tuple(r) for r in table.read().collect()) == before
    # every occupied bucket holds only keys that hash there under N'=16
    for b in snap["buckets"]:
        urls = [r["url"] for r in table.read(buckets=[int(b)], include_deleted=True).collect()]
        assert urls and all(_bucket_of(u, spark, 16) == int(b) for u in urls)
    # point lookups prune under the new layout
    assert {r["url"] for r in table.read_keys(["u3", "u5"]).collect()} == {"u3", "u5"}
    # time travel below the rescale uses the OLD bucket expr
    old = sorted(tuple(r) for r in table.read(version=v_pre).collect())
    assert old == before
    # merges after the rescale land in (and prune to) new-layout buckets
    table.merge(_batch(spark, [("u3", "t3", 100, False), ("zz", "tz", 101, False)]))
    state = {r["url"]: r["text"] for r in table.read().collect()}
    assert state["u3"] == "t3" and state["zz"] == "tz"
    assert "u7" not in state


def test_rescale_folds_mor_deltas_and_keeps_tombstones(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "m"), SCHEMA, key_col="url", num_buckets=2,
        order_by=("__lsn",), merge_mode="mor",
    )
    t.merge(_batch(spark, [("a", "t1", 1, False), ("b", "t1", 2, False)]))
    t.merge(_batch(spark, [("a", "t2", 3, False), ("b", None, 4, True)]))
    assert t.snapshot()["needs_collapse"] is True
    t.rescale(8)
    snap = t.snapshot()
    assert snap["num_buckets"] == 8
    assert snap["needs_collapse"] is False  # rescale LWW-folded the deltas
    assert not snap["buckets"].get("*")     # no unbucketed deltas survive
    assert {r["url"]: r["text"] for r in t.read().collect()} == {"a": "t2"}
    # the delete tombstone is RETAINED (idempotent replay still sees it)
    dead = {r["url"] for r in t.read(include_deleted=True).collect()}
    assert dead == {"a", "b"}


def test_rescale_noop_and_validation(spark, table):
    table.merge(_batch(spark, [("a", "t1", 1, False)]))
    v = table.current_version()
    assert table.rescale(4) == v  # same count: no new commit
    assert table.current_version() == v
    with pytest.raises(ValueError):
        table.rescale(0)


def test_rescale_recomputes_on_concurrent_commit(spark, tmp_path):
    """A rescale racing a live appender must NOT metadata-rebase (the
    winner's files use the old layout) — it recomputes from the winner
    and the final table carries both the rescale and the racer's rows."""
    root = str(tmp_path / "race")
    t = LakeTable.create(
        spark, root, SCHEMA, key_col="url", num_buckets=2,
        order_by=("__lsn",), merge_mode="mor",
    )
    t.merge(_batch(spark, [("a", "t1", 1, False), ("b", "t1", 2, False)]))
    calls = {"n": 0}
    orig = t._write_files

    def racing_write(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            LakeTable.load(spark, root).merge(_batch(spark, [("q", "tq", 9, False)]))
        return orig(*a, **kw)

    t._write_files = racing_write
    try:
        with pytest.warns(UserWarning, match="rescale lost a commit race"):
            t.rescale(8)
    finally:
        del t._write_files
    assert calls["n"] == 2  # full recompute, not a metadata rebase
    snap = t.snapshot()
    assert snap["num_buckets"] == 8
    assert "rebased_onto" not in snap["summary"]
    assert {r["url"]: r["text"] for r in t.read().collect()} == {
        "a": "t1", "b": "t1", "q": "tq"
    }
    for b in snap["buckets"]:
        urls = [r["url"] for r in t.read(buckets=[int(b)], include_deleted=True).collect()]
        assert all(_bucket_of(u, spark, 8) == int(b) for u in urls)


def test_changes_skips_rescale_commit(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "c"), SCHEMA, key_col="url", num_buckets=2,
        order_by=("__lsn",), merge_mode="mor",
    )
    t.merge(_batch(spark, [("a", "t1", 1, False)]))          # v1
    t.rescale(4)                                              # v2 (maintenance)
    t.merge(_batch(spark, [("b", "t2", 2, False)]))          # v3
    ch = t.changes(0)
    got = {(r["url"], r["_commit_version"]) for r in ch.collect()}
    assert got == {("a", 1), ("b", 3)}  # nothing attributed to the rescale
