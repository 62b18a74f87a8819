"""StorageLayer backends: the S3 primitive mapping (against an
in-memory fake client enforcing real S3 semantics — conditional PUT
412s, Delimiter listings, truncated pages) and the PosixStorage /
ConditionalPutStorage claim contract."""

import datetime
import io

import pytest

from debezium_server_batch_spark.plans.storage import (
    ConditionalPutStorage,
    PosixStorage,
    S3Storage,
)


class FakeS3Client:
    """Minimal S3 double with the behaviors S3Storage depends on:
    IfNoneMatch='*' conditional PUT (412 on existing key), HeadObject
    404s, ListObjectsV2 with Delimiter/CommonPrefixes and 2-key pages
    (forces the continuation-token path)."""

    PAGE = 2

    class _Exceptions:
        class ClientError(Exception):
            def __init__(self, code):
                super().__init__(f"http {code}")
                self.response = {"ResponseMetadata": {"HTTPStatusCode": code}}

    def __init__(self):
        self.objects: dict[str, bytes] = {}
        self.exceptions = self._Exceptions()

    def put_object(self, Bucket, Key, Body, IfNoneMatch=None):
        if IfNoneMatch == "*" and Key in self.objects:
            raise self.exceptions.ClientError(412)
        self.objects[Key] = Body

    def get_object(self, Bucket, Key):
        if Key not in self.objects:
            raise self.exceptions.ClientError(404)
        return {"Body": io.BytesIO(self.objects[Key])}

    def head_object(self, Bucket, Key):
        if Key not in self.objects:
            raise self.exceptions.ClientError(404)
        return {"LastModified": datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)}

    def delete_object(self, Bucket, Key):
        self.objects.pop(Key, None)

    def list_objects_v2(self, Bucket, Prefix="", Delimiter=None, MaxKeys=None, ContinuationToken=None):
        keys = sorted(k for k in self.objects if k.startswith(Prefix))
        start = int(ContinuationToken) if ContinuationToken else 0
        page_size = min(MaxKeys or self.PAGE, self.PAGE)
        contents, prefixes, consumed = [], set(), 0
        i = start
        while i < len(keys) and consumed < page_size:
            k = keys[i]
            i += 1
            consumed += 1
            if Delimiter:
                rest = k[len(Prefix):]
                if Delimiter in rest:
                    prefixes.add(Prefix + rest.split(Delimiter, 1)[0] + Delimiter)
                    continue
            contents.append({"Key": k})
        resp = {
            "Contents": contents,
            "CommonPrefixes": [{"Prefix": p} for p in sorted(prefixes)],
            "KeyCount": len(contents) + len(prefixes),
        }
        if i < len(keys):
            resp["IsTruncated"] = True
            resp["NextContinuationToken"] = str(i)
        return resp


@pytest.fixture()
def s3():
    client = FakeS3Client()
    return S3Storage("bkt", prefix="lake", client=client), client


def test_s3_claim_is_conditional_put(s3):
    st, _ = s3
    assert st.claim("t/_meta/v00000001.json", "A")
    assert not st.claim("t/_meta/v00000001.json", "B")  # 412 → race lost
    assert st.read_text("t/_meta/v00000001.json") == "A"  # winner intact


def test_s3_read_write_exists_delete_mtime(s3):
    st, _ = s3
    assert not st.exists("t/x.json")
    st.write_text("t/x.json", "hello")
    assert st.exists("t/x.json")
    assert st.read_text("t/x.json") == "hello"
    assert isinstance(st.mtime("t/x.json"), float)
    st.delete("t/x.json")
    assert not st.exists("t/x.json")


def test_s3_listdir_prefixes_and_pagination(s3):
    st, _ = s3
    # 5 objects → 3 pages at PAGE=2: exercises the continuation token
    for k in ("t/a.json", "t/b.json", "t/sub/x.json", "t/sub/y.json", "t/zub/z.json"):
        st.write_text(k, "v")
    assert st.listdir("t") == ["a.json", "b.json", "sub", "zub"]
    assert st.listdir("t/sub") == ["x.json", "y.json"]
    assert st.isdir("t/sub") and not st.isdir("t/nope")


def test_s3_walk_files_and_uri_keys(s3):
    st, client = s3
    st.write_text("t/data/c1/f1.parquet", "p")
    st.write_text("t/data/c2/f2.parquet", "p")
    walked = sorted(st.walk_files("t/data"))
    assert walked == [
        "s3://bkt/lake/t/data/c1/f1.parquet",
        "s3://bkt/lake/t/data/c2/f2.parquet",
    ]
    # s3:// URIs round-trip back to the same key space (vacuum feeds
    # walk_files output into delete/mtime)
    assert st.exists(walked[0])
    st.delete(walked[0])
    assert "lake/t/data/c1/f1.parquet" not in client.objects
    # makedirs/cleanup are no-ops on a keyspace
    st.makedirs("t/whatever")
    st.cleanup_empty_dirs("t")


def test_posix_and_condput_claim_contract(tmp_path):
    for st in (PosixStorage(), ConditionalPutStorage()):
        d = tmp_path / type(st).__name__
        st.makedirs(str(d))
        p = str(d / "v1.json")
        assert st.claim(p, "first")
        assert not st.claim(p, "second")
        assert st.read_text(p) == "first"


def test_s3_exists_propagates_non_404(s3):
    st, client = s3

    class Throttled(FakeS3Client):
        def head_object(self, Bucket, Key):
            raise self.exceptions.ClientError(503)

    st2 = S3Storage("bkt", client=Throttled())
    with pytest.raises(Throttled._Exceptions.ClientError):
        st2.exists("t/x.json")  # throttling must NOT read as "absent"


def test_s3_rejects_foreign_bucket_uri(s3):
    st, _ = s3
    with pytest.raises(ValueError, match="bound to"):
        st.delete("s3://other-bucket/t/x.json")


def test_s3_claim_resolves_own_retried_put(s3):
    """boto3's automatic retries can 412 a conditional PUT whose first
    attempt actually landed our payload (response lost in transit).
    claim() must GET-and-compare instead of concluding the race was
    lost — the CommitStateUnknown resolution."""
    st, client = s3

    class RetriedPut(FakeS3Client):
        def put_object(self, Bucket, Key, Body, IfNoneMatch=None):
            if IfNoneMatch == "*" and Key not in self.objects:
                # first attempt lands, response is "lost", auto-retry
                # sees the key exist → the SDK surfaces one 412
                self.objects[Key] = Body
                raise self.exceptions.ClientError(412)
            super().put_object(Bucket, Key, Body, IfNoneMatch=IfNoneMatch)

    st2 = S3Storage("bkt", client=RetriedPut())
    assert st2.claim("t/_meta/v1.json", "mine-uuid-abc")  # own payload → won
    assert not st2.claim("t/_meta/v1.json", "other-uuid")  # genuine loss


def test_s3_claim_412_then_deleted_is_plain_lost_race(s3):
    """A definitive 412 proves our PUT did not land; if the winner was
    deleted before the read-back (vacuum), the claim is still just a
    lost race — return False for the caller's rebase/retry, don't
    surface a commit-aborting error."""
    st, _ = s3

    class WinnerVanishes(FakeS3Client):
        def put_object(self, Bucket, Key, Body, IfNoneMatch=None):
            if IfNoneMatch == "*":
                raise self.exceptions.ClientError(412)  # race lost...
            super().put_object(Bucket, Key, Body, IfNoneMatch=IfNoneMatch)

        def get_object(self, Bucket, Key):
            raise self.exceptions.ClientError(404)  # ...winner since vacuumed

    st2 = S3Storage("bkt", client=WinnerVanishes())
    assert st2.claim("t/_meta/v1.json", "mine") is False


def test_s3_claim_transport_error_resolution(s3):
    """A timeout/conn-reset after the PUT may or may not have landed:
    object present with our payload → True; present with another
    writer's → False; absent → state unknown, original error re-raised."""
    st, _ = s3

    class FlakyPut(FakeS3Client):
        land = True

        def put_object(self, Bucket, Key, Body, IfNoneMatch=None):
            if IfNoneMatch == "*" and Key not in self.objects:
                if self.land:
                    self.objects[Key] = Body
                raise ConnectionResetError("wire dropped mid-response")
            super().put_object(Bucket, Key, Body, IfNoneMatch=IfNoneMatch)

    client = FlakyPut()
    st2 = S3Storage("bkt", client=client)
    assert st2.claim("t/_meta/v1.json", "mine")  # landed → resolved as won
    client.land = False
    with pytest.raises(ConnectionResetError):
        st2.claim("t/_meta/v2.json", "mine")  # never landed → unknown, raise


def test_condput_write_text_is_atomic_under_crash(tmp_path, monkeypatch):
    """write_text must never expose a truncated/partial object at the
    final key (a real store's PUT is all-or-nothing): the inherited
    tmp+replace path means a crash anywhere before the rename leaves
    the previous complete object in place."""
    import os as _os

    st = ConditionalPutStorage()
    p = str(tmp_path / "ckpt.json")
    st.write_text(p, "old-complete")

    class Boom(RuntimeError):
        pass

    def explode(fd):  # crash after the NEW bytes hit the tmp file,
        raise Boom()  # before the atomic replace

    monkeypatch.setattr(_os, "fsync", explode)
    with pytest.raises(Boom):
        st.write_text(p, "new-half-written")
    monkeypatch.undo()
    assert st.read_text(p) == "old-complete"  # final key: old object intact


class TestFaultInjection:
    """FlakyStorage (chaos double) under RetryingStorage (SDK retry
    discipline): the stack must present exactly the clean backend's
    contract — every injected transient fault absorbed, claim's
    exactly-once winner semantics preserved, deletes idempotent."""

    def _stack(self, rate=0.4, seed=1):
        from debezium_server_batch_spark.plans.storage import (
            FlakyStorage,
            RetryingStorage,
        )

        flaky = FlakyStorage(
            ConditionalPutStorage(), fault_rate=rate, stale_list_rate=rate, seed=seed
        )
        # generous attempt budget: at the test's adversarial 40-50% fault
        # rates the default 6 could exhaust; production rates are ~5%
        return RetryingStorage(flaky, max_attempts=20, base_backoff_s=0.0), flaky

    def test_read_write_delete_absorb_faults(self, tmp_path):
        st, flaky = self._stack()
        for i in range(60):
            p = str(tmp_path / f"o{i}.json")
            st.write_text(p, f"payload-{i}")
            assert st.read_text(p) == f"payload-{i}"
            assert st.exists(p)
            assert isinstance(st.mtime(p), float)
        for i in range(0, 60, 2):
            st.delete(str(tmp_path / f"o{i}.json"))
            assert not st.exists(str(tmp_path / f"o{i}.json"))
        assert flaky.stats["faults_before"] + flaky.stats["faults_after"] > 10

    def test_claim_exactly_one_winner_per_key_under_faults(self, tmp_path):
        """Across many seeds: claim returns True exactly when this
        writer's payload is durably at the key — an after-op fault on a
        landed claim must resolve as WON (not a false loss), a before-op
        fault must not phantom-claim."""
        for seed in range(12):
            st, _ = self._stack(rate=0.5, seed=seed)
            d = tmp_path / f"s{seed}"
            d.mkdir()
            for k in range(25):
                p = str(d / f"v{k}.json")
                won_a = st.claim(p, f"writer-A-{seed}-{k}")
                won_b = st.claim(p, f"writer-B-{seed}-{k}")
                assert won_a and not won_b
                assert st.read_text(p) == f"writer-A-{seed}-{k}"

    def test_stale_listing_is_transient_not_sticky(self, tmp_path):
        import os as _os
        import time as _time

        st, flaky = self._stack(rate=0.0, seed=3)
        flaky.stale_list_rate = 0.5
        for i in range(4):
            st.write_text(str(tmp_path / f"v{i:04d}.json"), "x")
            _time.sleep(0.01)  # distinct mtimes → deterministic "newest"
        full = sorted(_os.listdir(tmp_path))
        seen_full = seen_stale = False
        for _ in range(40):
            got = sorted(st.listdir(str(tmp_path)))
            if got == full:
                seen_full = True
            else:
                seen_stale = True
                assert got == full[:-1]  # only the NEWEST entry is hidden
        assert seen_full and seen_stale

    def test_delete_idempotent_after_landed_fault(self, tmp_path):
        """A delete whose first attempt landed (response lost) must
        succeed on retry instead of raising FileNotFoundError."""
        from debezium_server_batch_spark.plans.storage import (
            FlakyStorage,
            RetryingStorage,
            StorageTransientError,
        )

        class AlwaysAfter(FlakyStorage):
            fired = False

            def delete(self, path):
                if not self.fired:
                    self.inner.delete(path)
                    type(self).fired = True
                    raise StorageTransientError("landed, response lost")
                return self.inner.delete(path)

        st = RetryingStorage(AlwaysAfter(ConditionalPutStorage(), fault_rate=0), base_backoff_s=0.0)
        p = str(tmp_path / "x.json")
        st.write_text(p, "v")
        st.delete(p)  # must not raise despite the double-delete
        assert not st.exists(p)

    def test_retries_exhausted_surfaces_error(self, tmp_path):
        from debezium_server_batch_spark.plans.storage import (
            RetryingStorage,
            StorageTransientError,
        )

        class Dead:
            def read_text(self, path):
                raise StorageTransientError("hard down")

        st = RetryingStorage(Dead(), max_attempts=3, base_backoff_s=0.0)
        with pytest.raises(StorageTransientError):
            st.read_text("t/x.json")
        assert st.stats["retries"] == 2


def test_laketable_commit_protocol_on_s3_surface(spark, tmp_path):
    """End-to-end: the FULL LakeTable commit path (create → MoR merges →
    schema evolution → fold → checkpoint → changes → vacuum expiry →
    commit race with rebase) running its metadata entirely against the
    S3 API surface (fake client) — every header/manifest/claim is an S3
    object; only the parquet data files go through Spark's own FS. This
    is the closest in-sandbox approximation of the MinIO bed the
    reference tests against (shared/S3Minio.java:36-39)."""
    from pyspark.sql import types as T

    from debezium_server_batch_spark.plans.laketable import LakeTable

    client = FakeS3Client()
    st = S3Storage("bkt", prefix="lake", client=client)
    root = str(tmp_path / "t")
    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("text", T.StringType(), True),
            T.StructField("__lsn", T.LongType(), True),
            T.StructField("__deleted", T.BooleanType(), True),
        ]
    )
    t = LakeTable.create(
        spark, root, schema, key_col="url", num_buckets=4,
        order_by=("__lsn",), merge_mode="mor",
        storage=st,
    )
    # metadata lives in the fake S3 keyspace, not on the local FS
    assert any(k.endswith("v00000000.json") for k in client.objects)
    assert not (tmp_path / "t" / "_meta").exists()

    df = spark.createDataFrame(
        [("a", "t1", 1, False), ("b", "t1", 2, False)], schema
    )
    t.merge(df, checkpoint={"batch_id": 0, "offset_lo": -1, "offset_hi": 9})
    t.merge(spark.createDataFrame([("a", "t2", 3, False), ("b", None, 4, True)], schema))
    # schema evolution on write through the S3 metadata path
    wider = T.StructType(schema.fields + [T.StructField("lang", T.StringType(), True)])
    t.merge(spark.createDataFrame([("c", "t1", 5, False, "en")], wider))

    assert t.checkpoint() == {"batch_id": 0, "offset_lo": -1, "offset_hi": 9}
    state = {r["url"]: (r["text"], r["lang"]) for r in t.read().collect()}
    assert state == {"a": ("t2", None), "c": ("t1", "en")}  # b tombstoned

    # changelog + fold + vacuum expiry, all metadata via S3 calls
    assert {(r["url"], r["__lsn"]) for r in t.changes(1).collect()} == {
        ("a", 3), ("b", 4), ("c", 5)
    }
    t.compact_deltas()
    t.vacuum(keep_last=1, orphan_grace_s=1e9)  # expire old headers only
    assert t.versions() == [t.current_version()]
    assert {r["url"] for r in t.read().collect()} == {"a", "c"}

    # commit race on the S3 claim: a second handle commits between this
    # handle's compute and claim — the 412 resolution + additive rebase
    # must converge without losing either commit
    orig_claim = st.claim
    fired = []

    def claim_hook(path, data):
        if not fired:
            fired.append(1)
            other = LakeTable.load(spark, root, storage=S3Storage("bkt", prefix="lake", client=client))
            other.merge(spark.createDataFrame([("z", "tz", 8, False, "de")], wider))
        return orig_claim(path, data)

    st.claim = claim_hook
    t.merge(spark.createDataFrame([("a", "t3", 9, False, "en")], wider))
    st.claim = orig_claim
    state = {r["url"]: r["text"] for r in t.read().collect()}
    assert state == {"a": "t3", "c": "t1", "z": "tz"}  # nothing lost


def test_filesink_checkpoint_on_s3_surface(spark, tmp_path):
    """The files-sink checkpoint path against the S3 API surface: the
    offset checkpoint is an S3 object (written/read/probed via
    PutObject/GetObject/HeadObject), data files go through Spark's own
    FS; a throttle on HeadObject must surface, never read as 'no
    checkpoint' (which would replay the whole log as duplicates)."""
    from debezium_server_batch_spark.plans.file_sink import FileSink

    client = FakeS3Client()
    st = S3Storage("bkt", prefix="lake", client=client)
    sink = FileSink(spark, str(tmp_path / "out"), storage=st)
    assert sink.checkpoint() is None
    sink.write(spark.createDataFrame([("a", 1)], "url string, v long"), "pages")
    sink.commit_checkpoint({"batch_id": 0, "offset_lo": -1, "offset_hi": 7})
    assert any(k.endswith("_checkpoint.json") or "ckpt" in k or "checkpoint" in k for k in client.objects)
    assert sink.checkpoint()["offset_hi"] == 7
    # data landed on the DATA fs, not in the metadata keyspace
    assert spark.read.parquet(str(tmp_path / "out" / "pages")).count() == 1
    assert not any("pages" in k and k.endswith(".parquet") for k in client.objects)

    class Throttled(FakeS3Client):
        def head_object(self, Bucket, Key):
            raise self.exceptions.ClientError(503)

    sink2 = FileSink(spark, str(tmp_path / "out"), storage=S3Storage("bkt", client=Throttled()))
    with pytest.raises(Throttled._Exceptions.ClientError):
        sink2.checkpoint()


def test_condput_claim_is_cross_process_atomic(tmp_path):
    """The double's claim must hold across PROCESSES (a real conditional
    PUT serializes server-side): N forked writers racing on one version
    key — exactly one wins, and the winner's content is intact."""
    import subprocess
    import sys

    d = tmp_path / "race"
    d.mkdir()
    code = f"""
import sys
sys.path.insert(0, {str(__import__('os').path.dirname(__import__('os').path.dirname(__import__('os').path.abspath(__file__))))!r})
from debezium_server_batch_spark.plans.storage import ConditionalPutStorage
st = ConditionalPutStorage()
print(st.claim({str(d / 'v1.json')!r}, sys.argv[1]), end="")
"""
    script = tmp_path / "claimer.py"
    script.write_text(code)
    procs = [
        subprocess.Popen([sys.executable, str(script), f"writer-{i}"], stdout=subprocess.PIPE)
        for i in range(6)
    ]
    outs = [p.communicate()[0].decode() for p in procs]
    assert sorted(outs).count("True") == 1  # exactly one winner
    content = (d / "v1.json").read_text()
    assert content.startswith("writer-")  # intact, single writer's payload
