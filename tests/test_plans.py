"""Physical-plan assertions — the scale properties the engine's design
depends on, checked in the optimizer's own output so regressions that
silently keep results correct but break the 100×-scale story still fail:

  * offset-window predicates reach the Parquet scan (row-group pruning)
  * LWW dedup plans as partial_max → shuffle → final max (map-side
    combine: hot keys pre-reduce on every input partition)
  * map-only MoR delta writes contain NO exchange (shuffle-free ingest)
  * whole-stage codegen covers the text-analysis expressions
"""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def log(spark, tmp_path_factory):
    from debezium_server_batch_spark.sources.synth import generate_event_log, write_event_log

    p = str(tmp_path_factory.mktemp("plans") / "log")
    write_event_log(generate_event_log(spark, n_pages=200, seed=3), p, n_files=2)
    return p


def test_offset_predicate_pushes_to_scan(spark, log):
    from debezium_server_batch_spark.sources.event_log import EventLogSource

    df = EventLogSource(spark, log).read_slice(100, 200)
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "GreaterThan(offset,100)" in plan and "LessThanOrEqual(offset,200)" in plan


def test_lww_agg_uses_partial_aggregation(spark):
    from debezium_server_batch_spark.operators.dedup import lww_agg

    df = spark.createDataFrame(
        [("u", i, 1000 + i, i) for i in range(10)],
        "url string, __lsn long, __source_ts_ms long, offset long",
    )
    plan = _plan(lww_agg(df, key="url"))
    # partial_max before the exchange, final max after — map-side combine
    assert "partial_max" in plan and plan.index("partial_max") > plan.index("max(")


def test_unbucketed_delta_write_is_shuffle_free(spark, tmp_path):
    """The MoR ingest hot path must stay map-only: the dataframe a delta
    write consumes (conformed batch) plans with zero Exchange nodes."""
    from pyspark.sql import types as T

    from debezium_server_batch_spark.plans.laketable import LakeTable, conform

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("text", T.StringType(), True),
            T.StructField("__lsn", T.LongType(), True),
            T.StructField("__deleted", T.BooleanType(), True),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema, key_col="url", num_buckets=8,
        order_by=("__lsn",), merge_mode="mor",
    )
    batch = spark.createDataFrame([("a", "x", 1, False)], schema)
    assert "Exchange" not in _plan(conform(batch, t.schema()))
    # and the write itself produced exactly the '*' pseudo-bucket
    t.merge(batch)
    assert set(t.snapshot()["buckets"]) == {"*"}


def test_text_features_stay_in_codegen(spark):
    from debezium_server_batch_spark.functions.text import quality_features, token_count

    df = spark.createDataFrame([("hello world the end",)], "text string")
    f = quality_features(F.col("text"))
    out = df.select(token_count(F.col("text")).alias("n"), f["alpha_ratio"].alias("a"))
    plan = _plan(out)
    # '*(n)' prefixes mark whole-stage-codegen spans in executedPlan output
    assert "*(1)" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
