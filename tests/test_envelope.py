"""Envelope split / schema grouping / typed parse (S2-S5, G1-G2, P1-P3)."""

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_server_batch_spark.operators.envelope import (
    filter_tombstones,
    parse_envelope_batch,
    rewrite_destination,
    split_envelope,
)
from debezium_server_batch_spark.operators.normalize import (
    add_source_ts,
    cast_deleted,
    normalize_batch,
)

SCHEMA_A = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"type": "int32", "field": "id", "optional": False},
            {"type": "string", "field": "name", "optional": True},
        ],
    }
)
SCHEMA_B = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"type": "int32", "field": "id", "optional": False},
            {"type": "string", "field": "name", "optional": True},
            {"type": "string", "field": "extra", "optional": True},
        ],
    }
)


def _ev(schema, payload):
    return json.dumps({"schema": json.loads(schema) if schema else None, "payload": payload})


@pytest.fixture()
def raw(spark):
    rows = [
        (0, "t.db.a", None, _ev(SCHEMA_A, {"id": 1, "name": "x"})),
        (1, "t.db.a", None, _ev(SCHEMA_A, {"id": 2, "name": "y"})),
        (2, "t.db.a", None, None),  # tombstone
        (3, "t.db.a", None, _ev(SCHEMA_B, {"id": 3, "name": "z", "extra": "e"})),
        (4, "t.db.b", None, _ev(SCHEMA_A, {"id": 9, "name": "w"})),
    ]
    return spark.createDataFrame(rows, "offset long, destination string, key string, value string")


def test_tombstones_filtered(raw):
    assert filter_tombstones(raw).count() == 4


def test_split_envelope_columns(raw):
    out = split_envelope(filter_tombstones(raw))
    r = out.orderBy("offset").first()
    assert json.loads(r["schema_str"])["type"] == "struct"
    assert out.select("schema_hash").distinct().count() == 2


def test_groups_ordered_by_destination_then_offset(raw):
    groups = parse_envelope_batch(raw)
    assert [(g.destination, g.min_offset) for g in groups] == [
        ("t.db.a", 0),
        ("t.db.a", 3),
        ("t.db.b", 4),
    ]
    g0 = groups[0]
    assert g0.row_count_hint == 2
    assert [f.name for f in g0.struct.fields] == ["id", "name"]
    assert g0.struct["id"].dataType == T.IntegerType()
    rows = {r["id"]: r["name"] for r in g0.df.collect()}
    assert rows == {1: "x", 2: "y"}
    assert "extra" in [f.name for f in groups[1].struct.fields]


RAW_SCHEMA = "offset long, destination string, key string, value string"


def test_inference_fallback_without_schema(spark):
    rows = [(0, "t", None, _ev(None, {"id": 1, "name": "x"}))]
    df = spark.createDataFrame(rows, RAW_SCHEMA)
    groups = parse_envelope_batch(df)
    assert len(groups) == 1
    r = groups[0].df.first()
    assert r["id"] == 1 and r["name"] == "x"

    # S5 runs in the JVM and matches spark.read.json over the same
    # payload strings: nested structs, arrays, int→double widening, null
    # fields, and null payloads (skipped by both)
    payloads = [
        {"id": 1, "name": "x", "tags": ["a", "b"], "geo": {"lat": 1, "pts": [[1, 2]]}},
        {"id": 2.5, "name": None, "tags": [], "geo": {"lat": 2.25, "alt": None}},
        {"id": 3, "extra": None, "geo": None},
        None,
    ]
    rows = [(i, "t", None, _ev(None, p)) for i, p in enumerate(payloads)]
    groups = parse_envelope_batch(spark.createDataFrame(rows, RAW_SCHEMA))
    assert len(groups) == 1
    docs = [json.dumps(p) for p in payloads if p is not None]
    want = spark.read.json(spark.sparkContext.parallelize(docs)).schema
    assert groups[0].struct == want
    assert groups[0].struct["id"].dataType == T.DoubleType()
    got = {r["offset"]: r for r in groups[0].df.collect()}
    assert got[1]["id"] == 2.5 and got[0]["geo"]["pts"] == [[1, 2]]
    assert got[3]["id"] is None


def test_unparseable_group_quarantined_without_inference(spark, tmp_path, monkeypatch):
    from debezium_server_batch_spark.operators import envelope
    from debezium_server_batch_spark.streaming.runner import CdcPipeline, PipelineConfig

    def no_inference(*_):
        raise AssertionError("a group without payload documents ran inference")

    monkeypatch.setattr(envelope, "_infer_struct", no_inference)
    bad = [
        (10, "t.bad", "k1", '{"schema":null,"payload":{"id":1,'),
        (11, "t.bad", None, '{"schema":null,"payload":null}'),
        (12, "t.bad", "k3", "not json"),
    ]
    raw = spark.createDataFrame(bad, RAW_SCHEMA)
    groups = parse_envelope_batch(raw)
    assert len(groups) == 1 and groups[0].struct == T.StructType([])
    assert sorted(tuple(r) for r in groups[0].raw.collect()) == bad

    # the runner spools the group's own raw rows, with batch id + reason
    dlq = str(tmp_path / "dlq")
    cfg = PipelineConfig(
        log_path=str(tmp_path / "unused"), table_root=str(tmp_path / "tables"),
        table_per_destination=True, dead_letter=dlq,
    )
    rec = CdcPipeline(spark, cfg).process_batch(raw, batch_id=7, lo=9, hi=12)
    assert rec["groups"][0]["quarantined_group"] and rec["groups"][0]["dead_letter_rows"] == 3
    spooled = spark.read.parquet(dlq)
    assert spooled.columns == ["offset", "destination", "key", "value", "batch_id", "reason"]
    assert sorted(tuple(r) for r in spooled.collect()) == [
        (*r, 7, "null-merge-key") for r in bad
    ]


def test_local_frame_round_trips_exact_schema(spark):
    import datetime
    from decimal import Decimal

    from debezium_server_batch_spark.frames import local_frame

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("amount", T.DecimalType(18, 6), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("day", T.DateType(), True),
            T.StructField("blob", T.BinaryType(), True),
            T.StructField("xs", T.ArrayType(T.IntegerType(), True), True),
            T.StructField("m", T.MapType(T.StringType(), T.DoubleType()), True),
            T.StructField(
                "s", T.StructType([T.StructField("a", T.StringType(), True)]), True
            ),
        ]
    )
    rows = [
        (
            1,
            Decimal("12345.678901"),
            datetime.datetime(2024, 1, 2, 3, 4, 5, 678901),
            datetime.date(2024, 2, 29),
            b"\x00\xffbytes",
            [1, None, 3],
            {"k": 0.5},
            ("v",),
        ),
        (2, None, None, None, None, None, None, None),
        (3, Decimal("-0.000001"), datetime.datetime(1970, 1, 1), None, b"", [], {}, (None,)),
    ]
    df = local_frame(spark, rows, schema)
    assert df.schema == schema
    assert [tuple(r) for r in df.orderBy("id").collect()] == rows
    empty = local_frame(spark, [], schema)
    assert empty.schema == schema and empty.count() == 0
    with pytest.raises(Exception):
        local_frame(spark, [(None,) + rows[1][1:]], schema)  # id is not nullable


def test_destination_rewrite():
    # reference: BatchSparkChangeConsumer.java:137-147
    assert rewrite_destination("testc.inventory.customers", r"^testc\.", "") == "inventory.customers"
    assert rewrite_destination("a.b.c", r"\.", "_", prefix="lake_") == "lake_a_b_c"


def test_add_source_ts_present_and_default(spark):
    df = spark.createDataFrame([(1, 1704067200000), (2, None)], "id int, __source_ts_ms long")
    out = add_source_ts(df, default_ts_ms=99_000)
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["__source_ts"].isoformat().startswith("2024-01-01T00:00:00")
    assert rows[2]["__source_ts_ms"] == 99_000  # default applied when null
    # column entirely absent → synthesized
    df2 = spark.createDataFrame([(1,)], "id int")
    assert add_source_ts(df2, default_ts_ms=5000).first()["__source_ts_ms"] == 5000


def test_cast_deleted(spark):
    df = spark.createDataFrame([("true",), ("false",)], "__deleted string")
    out = cast_deleted(df)
    assert out.schema["__deleted"].dataType == T.BooleanType()
    assert [r[0] for r in out.collect()] == [True, False]
    # disabled → stays string (reference default)
    assert cast_deleted(df, enabled=False).schema["__deleted"].dataType == T.StringType()


def test_normalize_batch_composition(spark):
    df = spark.createDataFrame(
        [("u", 1704067200000, "false")], "url string, __source_ts_ms long, __deleted string"
    )
    out = normalize_batch(df, default_ts_ms=0)
    assert out.schema["__deleted"].dataType == T.BooleanType()
    assert "__source_ts" in out.columns
