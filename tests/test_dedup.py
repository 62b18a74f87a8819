"""LWW dedup: the engine's reduce (lww_agg) must equal the textbook
window form exactly — including on skewed keys and order-column ties
broken by offset."""

import pytest
from pyspark.sql import functions as F

from debezium_server_batch_spark.operators.dedup import (
    dedup_paragraphs,
    exact_dedup,
    lww_agg,
    lww_window,
)

ORDER = ("__lsn", "__source_ts_ms", "offset")


@pytest.fixture(scope="module")
def skewed(spark):
    """1 hot key with 500 versions (incl. __lsn ties) + 200 normal keys."""
    hot = spark.range(500).select(
        F.lit("hot").alias("url"),
        (F.col("id") / 2).cast("long").alias("__lsn"),  # ties every 2 rows
        (F.lit(1000) + F.col("id")).alias("__source_ts_ms"),
        F.col("id").alias("offset"),
        F.concat(F.lit("v"), F.col("id")).alias("payload"),
    )
    cold = spark.range(200).select(
        F.concat(F.lit("url-"), (F.col("id") % 100)).alias("url"),
        F.col("id").alias("__lsn"),
        F.lit(0).cast("long").alias("__source_ts_ms"),
        (F.col("id") + 10_000).alias("offset"),
        F.concat(F.lit("c"), F.col("id")).alias("payload"),
    )
    return hot.union(cold).cache()


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_three_implementations_agree(skewed):
    w = _sorted_rows(lww_window(skewed, order_by=ORDER))
    a = _sorted_rows(lww_agg(skewed, order_by=ORDER))
    assert w == a


def test_one_row_per_key_and_winner_is_max(skewed):
    out = lww_agg(skewed, order_by=ORDER)
    assert out.count() == out.select("url").distinct().count() == 101
    hot = out.filter(F.col("url") == "hot").first()
    # max __lsn is 249 (ties), tie broken by offset → offset 499 wins
    assert hot["__lsn"] == 249 and hot["offset"] == 499 and hot["payload"] == "v499"


def test_deterministic_tie_break(spark):
    df = spark.createDataFrame(
        [("k", 5, 100, 1, "a"), ("k", 5, 100, 2, "b"), ("k", 5, 99, 3, "c")],
        "url string, __lsn long, __source_ts_ms long, offset long, payload string",
    )
    # equal (__lsn); ts 100 beats 99; offset 2 beats 1
    assert lww_agg(df, order_by=ORDER).first()["payload"] == "b"
    assert lww_window(df, order_by=ORDER).first()["payload"] == "b"


def test_missing_order_column_raises(spark):
    df = spark.createDataFrame([("k", 1)], "url string, offset long")
    with pytest.raises(ValueError, match="__lsn"):
        lww_agg(df, order_by=ORDER)


def test_exact_dedup_distinct_and_keep_by(spark):
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "other")], "doc_id long, text string"
    )
    assert exact_dedup(df, cols=["text"]).count() == 2
    kept = {r["doc_id"] for r in exact_dedup(df, cols=["text"], keep_by="doc_id").collect()}
    assert kept == {1, 3}  # smallest doc_id survives per text group


def test_shared_span_stats_semantics(spark):
    """Spans shared ACROSS >= min_docs distinct documents count as
    shared; a span repeated only WITHIN one document does not; short
    docs contribute their whole text as one span."""
    from debezium_server_batch_spark.operators.dedup import shared_span_stats

    boiler = "this site uses cookies to improve"  # 6 tokens
    docs = [
        (1, boiler + " x alpha beta gamma"),
        (2, boiler + " x delta epsilon zeta"),
        # doc 3 repeats ITS OWN unique 7-gram twice — not cross-doc
        (3, "one two three four five six seven one two three four five six seven"),
        (4, "short doc"),  # < k tokens → one whole-text span, unshared
        (5, "short doc"),  # identical short doc → whole-text span SHARED
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_spans"], r["n_shared_spans"], r["shared_span_ratio"])
        for r in shared_span_stats(df, k=7, min_docs=2).collect()
    }
    # docs 1,2: 10 tokens → 4 span positions; only position 0 (the
    # 6-token boilerplate + the common 'x') occurs in both docs —
    # positions 1+ pull in the per-doc tail and differ
    assert out[1][0] == 4 and out[1][1] == 1
    assert out[2][0] == 4 and out[2][1] == 1
    # doc 3: 14 tokens → 8 positions; its repeated 7-gram appears at
    # positions 0 and 7 but in no OTHER doc → nothing shared
    assert out[3] == (8, 0, 0.0)
    # identical short docs share their whole-text span
    assert out[4] == (1, 1, 1.0)
    assert out[5] == (1, 1, 1.0)


def test_remove_shared_spans_semantics(spark):
    """C4-style span removal: tokens covered by a k-span occurring in
    >=2 DISTINCT docs are dropped; untouched docs keep their original
    bytes (including whitespace); span identity is case-insensitive but
    kept tokens keep their case; a span repeated only WITHIN one doc is
    not boilerplate; short shared docs clean to ''."""
    from debezium_server_batch_spark.operators.dedup import remove_shared_spans

    boiler = "all rights reserved contact us terms of service"  # 8 tokens
    original_spacing = "totally  original   text with no duplication at all whatsoever"
    within = "echo echo echo echo echo echo echo echo echo nine distinct tail tokens here now yes"
    rows = [
        ("d1", "Alpha beta gamma. " + boiler),
        ("d2", boiler + " unique middle words here okay"),
        ("d3", original_spacing),
        ("d4", "tiny doc"),
        ("d5", "tiny doc"),
        ("d6", "ALL RIGHTS RESERVED Contact Us Terms Of Service"),
        ("d7", within),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r["clean_text"] for r in remove_shared_spans(df, k=8, min_docs=2).collect()}
    assert out["d1"] == "Alpha beta gamma."
    assert out["d2"] == "unique middle words here okay"
    # untouched doc: ORIGINAL bytes, double spaces preserved
    assert out["d3"] == original_spacing
    # whole-text span shared between two short docs
    assert out["d4"] == out["d5"] == ""
    # case-insensitive identity: the uppercase variant is removed too
    assert out["d6"] == ""
    # repeated span within ONE doc only: not shared, kept byte-exact
    assert out["d7"] == within

    # plan shape: the doc-frequency branch and the position join reuse
    # ONE exchange over the hash-partitioned spans (explode+md5 chain
    # evaluated once, not once per branch) — check the FINAL adaptive plan
    q = remove_shared_spans(df, k=8, min_docs=2)
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_dedup_paragraphs_semantics(spark):
    """CCNet-style paragraph dedup: global first-wins by (doc, pos),
    case-insensitive matching, structural empties kept, untouched docs
    byte-exact, null ids pass through, keep='none' drops winners too."""
    rows = [
        (0, "alpha beta\n\nSubscribe now\n\ngamma"),
        (1, "delta\n\nSubscribe now\n\nepsilon\n\nsubscribe NOW"),
        (2, "unique only\n\n\n\nzeta"),  # structural empty para
        (3, "Subscribe now"),  # fully-boilerplate doc
        (None, "Subscribe now\n\nkeep me"),  # null id untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["clean_text"], r["n_dropped"]) for r in dedup_paragraphs(df).collect()}
    # doc 0 holds the first occurrence — byte-exact original
    assert out[0] == ("alpha beta\n\nSubscribe now\n\ngamma", 0)
    # doc 1 loses the exact dup AND the case-variant dup
    assert out[1] == ("delta\n\nepsilon", 2)
    assert out[2] == ("unique only\n\n\n\nzeta", 0)
    assert out[3] == ("", 1)
    assert out[None] == ("Subscribe now\n\nkeep me", 0)

    strict = {r["doc_id"]: r["clean_text"] for r in dedup_paragraphs(df, keep="none").collect()}
    assert strict[0] == "alpha beta\n\ngamma"  # winner dropped too
    with pytest.raises(ValueError):
        dedup_paragraphs(df, keep="last")

    # plan shape: ONE exchange over the occurrence stream feeds both the
    # winner aggregate and the occurrence join (ReusedExchange) — the
    # corpus is split+exploded once, not once per branch
    q = dedup_paragraphs(df)
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_decontaminate_semantics(spark):
    """Benchmark decontamination: a corpus doc containing any benchmark
    n-gram is flagged with the hit count; clean docs pass with 0; the
    short-doc whole-text rule applies; matching is case-insensitive;
    the benchmark side broadcasts (no corpus-wide shuffle join)."""
    from debezium_server_batch_spark.operators.dedup import decontaminate

    eval_q = "what is the capital of france and when was it founded exactly"  # 12 tokens
    corpus = spark.createDataFrame(
        [
            # c1 contains the benchmark's 12 leading tokens but never its
            # full 13-gram (b1's gram ends in "yes") → clean under n=13
            ("c1", "intro words here " + eval_q + " trailing tokens"),
            ("c2", "a completely clean document with enough tokens to be long and varied"),
            ("c3", "WHAT IS THE CAPITAL OF FRANCE AND WHEN WAS IT FOUNDED EXACTLY YES"),
            ("c4", "tiny doc"),
        ],
        "doc_id string, text string",
    )
    bench = spark.createDataFrame(
        [("b1", eval_q + " yes"), ("b2", "tiny doc")], "doc_id string, text string"
    )
    out = {r["doc_id"]: (r["contaminated"], r["contaminated_grams"], r["n_grams"])
           for r in decontaminate(corpus, bench, n=13, min_hits=1).collect()}
    # b1 has 13 tokens -> one 13-gram "what ... exactly yes"; c3 contains
    # it (case-insensitively); c1 contains "...exactly" but NOT the
    # trailing "yes" 13-gram -> clean under n=13
    assert out["c3"][0] is True and out["c3"][1] >= 1
    assert out["c1"][0] is False
    assert out["c2"] == (False, 0, out["c2"][2])
    # short-doc whole-text rule: c4 == benchmark doc b2
    assert out["c4"] == (True, 1, 1)
    assert set(out) == {"c1", "c2", "c3", "c4"}  # one row per corpus doc

    q = decontaminate(corpus, bench, n=13)
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # benchmark side broadcast, corpus map-only probe
