"""Property-based tests (hypothesis) for the pure-Python layers — no
SparkSession needed, so these run in milliseconds."""

import json

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from debezium_server_batch_spark.functions.connect_schema import (
    compile_connect_schema,
    struct_to_connect_schema_json,
)
from debezium_server_batch_spark.plans.laketable import SchemaEvolutionError, evolve_schema
from debezium_server_batch_spark.session import spark_config_subset
from debezium_server_batch_spark.streaming.pacing import DynamicBatchSizeWait

# --------------------------------------------------------------------------
# Connect schema compiler: compile(to_connect(st)) is the identity on the
# supported type lattice.
# --------------------------------------------------------------------------

_LEAF = st.sampled_from(
    [
        T.IntegerType(),
        T.LongType(),
        T.FloatType(),
        T.DoubleType(),
        T.BooleanType(),
        T.StringType(),
        T.BinaryType(),
    ]
)

_TYPES = st.recursive(
    _LEAF,
    lambda inner: st.one_of(
        st.builds(lambda e: T.ArrayType(e, True), inner),
        st.builds(lambda v: T.MapType(T.StringType(), v, True), inner),
        st.builds(
            lambda fs: T.StructType(
                [T.StructField(f"f{i}", t, True) for i, t in enumerate(fs)]
            ),
            st.lists(inner, min_size=1, max_size=3),
        ),
    ),
    max_leaves=8,
)


@given(st.lists(_TYPES, min_size=1, max_size=5))
@settings(max_examples=200, deadline=None)
def test_connect_roundtrip_identity(types):
    struct = T.StructType([T.StructField(f"c{i}", t, True) for i, t in enumerate(types)])
    back = compile_connect_schema(struct_to_connect_schema_json(struct))
    assert back == struct


@given(st.lists(_TYPES, min_size=1, max_size=4))
@settings(max_examples=100, deadline=None)
def test_connect_schema_json_is_valid_json(types):
    struct = T.StructType([T.StructField(f"c{i}", t, True) for i, t in enumerate(types)])
    doc = json.loads(struct_to_connect_schema_json(struct))
    assert doc["type"] == "struct" and len(doc["fields"]) == len(types)


# --------------------------------------------------------------------------
# Schema evolution: idempotent, monotone (never loses a field), and stable
# under re-application of any previously merged schema.
# --------------------------------------------------------------------------

_FLAT_STRUCTS = st.lists(
    st.tuples(st.sampled_from(["a", "b", "c", "d", "e"]), _LEAF),
    min_size=1,
    max_size=5,
    unique_by=lambda kv: kv[0],
).map(lambda kvs: T.StructType([T.StructField(k, v, True) for k, v in kvs]))


@given(_FLAT_STRUCTS, _FLAT_STRUCTS)
@settings(max_examples=200, deadline=None)
def test_evolve_monotone_and_idempotent(a, b):
    try:
        evolved, _ = evolve_schema(a, b)
    except SchemaEvolutionError:
        return  # incompatible change — correctly refused
    names = {f.name for f in evolved.fields}
    assert {f.name for f in a.fields} <= names
    assert {f.name for f in b.fields} <= names
    again, changed = evolve_schema(evolved, b)
    assert not changed and again == evolved
    again2, changed2 = evolve_schema(evolved, a)
    assert not changed2 and again2 == evolved


# --------------------------------------------------------------------------
# Pacing: computed waits always within [100, max_wait]; full batches never
# increase the sleep.
# --------------------------------------------------------------------------


@given(st.lists(st.integers(min_value=1, max_value=50_000), min_size=1, max_size=50))
@settings(max_examples=200, deadline=None)
def test_dynamic_wait_bounded(batches):
    w = DynamicBatchSizeWait(max_batch_size=2048, max_wait_ms=60_000)
    for n in batches:
        wait = w.compute_wait_ms(n)
        assert 100 <= wait <= 60_000


@given(st.integers(min_value=1, max_value=20))
@settings(max_examples=50, deadline=None)
def test_full_batches_never_increase_sleep(steps):
    w = DynamicBatchSizeWait(max_batch_size=1000, max_wait_ms=60_000)
    w.batch_history.clear()
    w.batch_history.extend([1000, 1000, 1000])
    prev = w.sleep_history[-1]
    for _ in range(steps):
        cur = w.compute_wait_ms(1000)
        assert cur <= prev
        prev = cur


# --------------------------------------------------------------------------
# Config pass-through subset (reference F7, BatchUtil.java:30-41)
# --------------------------------------------------------------------------


@given(
    st.dictionaries(
        st.text(alphabet="abcdefg.", min_size=1, max_size=20),
        st.text(max_size=5),
        max_size=10,
    )
)
@settings(max_examples=100, deadline=None)
def test_spark_config_subset(cfg):
    sub = spark_config_subset(cfg, prefix="spark.")
    assert all(k.startswith("spark.") for k in sub)
    assert all(cfg[k] == v for k, v in sub.items())
    assert sub == {k: v for k, v in cfg.items() if k.startswith("spark.")}
