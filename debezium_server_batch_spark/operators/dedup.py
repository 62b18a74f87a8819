"""Last-writer-wins (LWW) per-key deduplication — SURVEY.md §2.7.

The reference never dedups (append-only ledger); the north_rule spec is
last-writer-wins per url ordered by (__lsn, warc_ts), ties broken by
offset, so the total order is deterministic and replay is byte-identical.

Two equivalent implementations (property-tested equal):

  * ``lww_window``  — row_number over Window.partitionBy(key). The
    textbook form; skew-fragile: one hot url = one giant partition on
    one task.
  * ``lww_agg``     — groupBy(key).max(struct(order..., row)). Spark
    plans this as partial_max (map-side combine) → shuffle → final_max,
    so a hot key is pre-reduced on every input partition before the
    shuffle; at 10^10 events with Zipf keys this is the scale winner.
    The engine's one LWW reduce: merges, LakeTable reads and folds.

Both return exactly one row per key with the original columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_ORDER = ("__lsn", "__source_ts_ms", "offset")


def _keys(key) -> list[str]:
    """Normalize a single key column or a composite key to a list —
    composite primary keys come from the Debezium key envelope
    (reference DebeziumBigqueryEvent.java:61-70 clusters by key-schema
    fields; a MySQL table can have a multi-column PK)."""
    return [key] if isinstance(key, str) else list(key)


def _order_cols(df: DataFrame, order_by: tuple[str, ...]) -> list[str]:
    missing = [c for c in order_by if c not in df.columns]
    if missing:
        raise ValueError(f"order columns missing from batch: {missing}")
    return list(order_by)


def lww_window(df: DataFrame, key="url", order_by: tuple[str, ...] = DEFAULT_ORDER) -> DataFrame:
    order = _order_cols(df, order_by)
    w = Window.partitionBy(*_keys(key)).orderBy(*[F.col(c).desc() for c in order])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _max_struct(df: DataFrame, order: list[str]):
    """max(struct(order_cols..., full_row)) — struct comparison is
    lexicographic by field position, giving the LWW total order."""
    payload = F.struct(*[F.col(c) for c in df.columns]).alias("_row")
    return F.max(F.struct(*[F.col(c) for c in order], payload)).alias("_m")


def lww_agg(df: DataFrame, key="url", order_by: tuple[str, ...] = DEFAULT_ORDER) -> DataFrame:
    order = _order_cols(df, order_by)
    cols = df.columns
    return (
        df.groupBy(*_keys(key))
        .agg(_max_struct(df, order))
        .select(*[F.col(f"_m._row.{c}").alias(c) for c in cols])
    )


def shared_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated-SPAN statistics — the C4-style signal
    ("remove any three-sentence span occurring more than once") adapted
    to token shingles: per document, how many of its k-token span
    positions carry a span that also appears in >= `min_docs` distinct
    documents. High ratios flag boilerplate (navigation, license
    headers, templated pages) that document-level dedup can't see —
    the standard next filter in a web-corpus pipeline after url/minhash
    dedup.

    Returns (id_col, n_spans, n_shared_spans, shared_span_ratio), one
    row per document (short docs contribute their whole text as one
    span, matching functions.text.shingles).

    Scale shape (100 TB): explode is O(tokens) map-side; document
    frequency is distinct + count with partial aggregation; only the
    SHARED span set (docfreq >= min_docs — boilerplate is a small
    fraction of distinct spans) flows into the join, as a left-semi
    probe; the per-doc totals come from a plain aggregation with no
    join at all. All hashing is a 32-byte md5 (portable across
    engines — the oracle recomputes it bit-for-bit). A span repeated
    only WITHIN one document does not count as shared (frequency is
    per distinct doc)."""
    from ..functions.text import shingles

    # explicit not-null filters match what the semi-join (on _h) and the
    # final left join (on id) push into THEIR branches — without them
    # the three consumers' subplans differ by exactly those filters and
    # the exchange cannot be shared (cf. remove_shared_spans)
    inst = (
        df.filter(F.col(id_col).isNotNull())
        .select(F.col(id_col), F.explode(shingles(F.col(text_col), k)).alias("_sh"))
        .select(F.col(id_col), F.md5("_sh").alias("_h"))
        .filter(F.col("_h").isNotNull())
    )
    # aggregate FIRST: (doc, span) instance counts collapse the exploded
    # instances at the earliest shuffle (map-side combine), and every
    # downstream branch hangs off this ONE aggregated plan (Spark's
    # ReusedExchange evaluates the explode chain once). The frequency
    # aggregate counts via sum(_n_inst >= 1) — equal to count(*), but
    # the _n_inst reference keeps this branch's subplan identical to
    # the others so the exchange reuse survives column pruning (same
    # trick as remove_shared_spans, documented there).
    per_doc = inst.groupBy(id_col, "_h").agg(F.count(F.lit(1)).alias("_n_inst"))
    shared = (
        per_doc.groupBy("_h")
        .agg(F.sum((F.col("_n_inst") >= 1).cast("int")).alias("_docs"))
        .filter(F.col("_docs") >= min_docs)
        .select("_h", F.lit(1).alias("_s"))
    )
    # ONE broadcast left join flags each (doc, span) row as shared-or-
    # not, and ONE per-doc aggregation computes both sums — a left-SEMI
    # variant looked cleaner but Catalyst pushes semi-joins below the
    # (doc,h) aggregation, re-executing the scan+explode for that
    # branch; the outer join stays put, so the whole query runs one
    # Generate and reuses one exchange
    return (
        per_doc.join(F.broadcast(shared), "_h", "left")
        .groupBy(id_col)
        .agg(
            F.sum("_n_inst").alias("n_spans"),
            F.sum(F.when(F.col("_s") == 1, F.col("_n_inst")).otherwise(0)).alias(
                "n_shared_spans"
            ),
        )
        .withColumn(
            "shared_span_ratio",
            F.round(F.col("n_shared_spans") / F.col("n_spans"), 6),
        )
    )


def remove_shared_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """C4-style boilerplate REMOVAL — the transform users run after
    `shared_span_stats` flags it ("remove any three-sentence span
    occurring in more than one document", C4 §2.2, adapted to k-token
    spans like the stats op): every token covered by at least one
    k-token span whose lowercased form appears in >= `min_docs`
    DISTINCT documents is dropped; the survivors are re-joined with
    single spaces. Documents with nothing to remove keep their
    ORIGINAL text byte-for-byte (no whitespace normalization unless an
    edit actually happened). Short docs (< k tokens) are one whole-text
    span — fully boilerplate docs clean to ''.

    Returns (id_col, clean_text), one row per input document.

    Scale shape (100 TB): span enumeration builds (position, md5) pairs
    INSIDE one array `transform` and explodes structs — O(tokens) rows,
    never the token array duplicated per position. Document frequency
    is the same aggregate-first plan as shared_span_stats (per-doc
    distinct spans collapse at the first shuffle, map-side combine);
    flagged START positions come back per doc via a left-semi hash
    join on the 32-hex md5 + collect_set bounded by tokens-per-doc.
    The rebuild is pure codegen array ops; its worst case is
    O(tokens x flagged-spans) per doc — web pages are ~10^3 tokens, and
    docs with zero shared spans skip the rebuild entirely."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(F.col(id_col), F.col(text_col), toks.alias("_t"))
    n = F.size("_t")
    span_h = lambda s: F.md5(F.lower(s))  # noqa: E731 - portable span hash (oracle mirrors)
    structs = F.when(
        n < F.lit(k),
        F.array(F.struct(F.lit(0).alias("p"), span_h(F.concat_ws(" ", "_t")).alias("h"))),
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - F.lit(k)),
            lambda i: F.struct(
                i.alias("p"), span_h(F.concat_ws(" ", F.slice("_t", i + 1, k))).alias("h")
            ),
        )
    )
    # aggregate FIRST, like shared_span_stats: collapse the exploded
    # instances to one row per (doc, span-hash) with its position set at
    # the earliest shuffle (map-side partial collect_set), then hang BOTH
    # the doc-frequency branch and the semi-join off that one aggregated
    # plan — the _h exchange feeding groupBy(_h) and the join-left are
    # identical, so Spark reuses it (ReusedExchange) and the explode+md5
    # chain is evaluated once, not once per branch
    # the explicit not-null filter matches what the downstream semi-join
    # pushes into ITS branch — without it the doc-frequency branch's
    # subplan differs by exactly that filter and the exchange cannot be
    # shared (null ids carry no spans worth mining anyway; the final
    # left join still returns such docs untouched)
    spans = (
        base.filter(F.col(id_col).isNotNull())
        .select(F.col(id_col), F.explode(structs).alias("_s"))
        .select(F.col(id_col), F.col("_s.p").alias("_p"), F.col("_s.h").alias("_h"))
    )
    per_doc = spans.groupBy(id_col, "_h").agg(F.collect_set("_p").alias("_ps"))
    shared = (
        per_doc.groupBy("_h")
        # sum(size(_ps) >= 1) == count(*) here (every row has positions),
        # but referencing _ps stops the optimizer pruning collect_set out
        # of THIS branch's copy of per_doc — both branches' subplans stay
        # identical, so the (doc,hash) exchange and the scan+explode
        # below it are computed once and REUSED (a pruned branch re-ran
        # the whole explode chain: 2x the table scan at 100 TB)
        .agg(F.sum((F.size("_ps") >= 1).cast("int")).alias("_docs"))
        .filter(F.col("_docs") >= min_docs)
        .select("_h")
    )
    # INNER broadcast join, not left_semi: shared has unique _h so they
    # are equivalent here, but Catalyst pushes semi-joins below the
    # (doc,h) aggregation (PushDownLeftSemiAntiJoin), re-executing the
    # scan+explode for this branch; the inner join stays above the agg,
    # keeping the single-Generate / reused-exchange plan at every scale
    flagged = (
        per_doc.join(F.broadcast(shared), "_h")
        .groupBy(id_col)
        # one position starts exactly one span, so the flattened lists
        # are already distinct across hash groups
        .agg(F.flatten(F.collect_list("_ps")).alias("_starts"))
    )
    covered = F.array_distinct(
        F.flatten(F.transform("_starts", lambda s: F.sequence(s, s + F.lit(k - 1))))
    )
    rebuilt = F.concat_ws(
        " ", F.filter("_t", lambda t, i: ~F.array_contains(covered, i))
    )
    return (
        base.join(flagged, id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("_starts").isNull(), F.col(text_col))
            .otherwise(rebuilt)
            .alias("clean_text"),
        )
    )


def exact_dedup(df: DataFrame, cols: list[str] | None = None, keep_by: str | None = None) -> DataFrame:
    """Exact duplicate removal over `cols` (default: all columns).

    With ``keep_by`` given, keeps the row with the smallest value of that
    column per duplicate group (deterministic representative); otherwise
    a plain distinct(). Both are hash-aggregate shuffles with map-side
    partial aggregation — no window, no skew cliff."""
    if cols is None:
        cols = df.columns
    if keep_by is None:
        return df.select(*cols).distinct()
    payload = F.struct(F.col(keep_by), F.struct(*[F.col(c) for c in df.columns]).alias("_row"))
    return (
        df.groupBy(*[F.col(c) for c in cols])
        .agg(F.min(payload).alias("_m"))
        .select(*[F.col(f"_m._row.{c}").alias(c) for c in df.columns])
    )


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    keep: str = "first",
) -> DataFrame:
    """CCNet-style paragraph-level exact dedup: split each document on
    `sep`, and for every paragraph whose lowercased form occurs in more
    than one place across the WHOLE corpus keep only the first
    occurrence (ordered by (id, position)); later occurrences are
    removed and the survivors re-joined with `sep`. This is the line/
    paragraph dedup of CCNet §3.1 and the "discard duplicated lines"
    step most web-corpus pipelines run before span-level cleaning —
    it kills per-site boilerplate (nav text, subscribe footers) that
    exact doc-level dedup can't touch.

    Whitespace-only paragraphs are structural, not content: they are
    always kept and never count as duplicates. Documents that lose no
    paragraph keep their ORIGINAL text byte-for-byte. ``keep="none"``
    drops EVERY occurrence of a duplicated paragraph instead (the
    stricter C4 variant).

    Returns (id_col, clean_text, n_dropped).

    Scale shape (100 TB): the occurrence stream (id, pos, md5) is
    shuffled ONCE — an explicit repartition on the paragraph hash that
    BOTH the winner aggregate and the occurrence join consume
    (ReusedExchange, plan-asserted in tests). The winner per hash is a
    min-struct aggregate (streaming, constant memory per key), and the
    join is co-partitioned so it adds no shuffle. A boilerplate
    paragraph occurring 10^8 times concentrates its occurrences in one
    partition, but rows are ~50 bytes and the work is a linear scan —
    the lower bound for occurrence-level decisions. The alternative
    (separate exchanges for agg and join) scans and explodes the corpus
    TWICE; rejected for the same reason remove_shared_spans aggregates
    first."""
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    paras = F.split(F.col(text_col), sep)
    base = df.select(F.col(id_col), F.col(text_col), paras.alias("_ps"))
    occ = (
        base.filter(F.col(id_col).isNotNull())
        .select(F.col(id_col), F.posexplode("_ps").alias("_p", "_para"))
        .filter(F.trim(F.col("_para")) != "")
        .select(F.col(id_col), F.col("_p"), F.md5(F.lower("_para")).alias("_h"))
        .repartition("_h")
    )
    winners = occ.groupBy("_h").agg(
        F.min(F.struct(F.col(id_col), F.col("_p"))).alias("_w"),
        F.count("*").alias("_n"),
    )
    if keep == "first":
        lose = (F.col("_w")[id_col] != F.col(id_col)) | (F.col("_w._p") != F.col("_p"))
    else:
        lose = F.col("_n") > 1
    dropped = (
        occ.join(winners, "_h")
        .filter(lose)
        .groupBy(id_col)
        .agg(F.collect_set("_p").alias("_drops"))
    )
    rebuilt = F.concat_ws(
        sep, F.filter("_ps", lambda p, i: ~F.array_contains("_drops", i))
    )
    return base.join(dropped, id_col, "left").select(
        F.col(id_col),
        F.when(F.col("_drops").isNull(), F.col(text_col))
        .otherwise(rebuilt)
        .alias("clean_text"),
        F.coalesce(F.size("_drops"), F.lit(0)).cast("long").alias("n_dropped"),
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination — flag every corpus document sharing at
    least `min_hits` distinct n-gram(s) with ANY benchmark document (the
    GPT-3/PaLM 13-gram rule: training data containing eval n-grams
    inflates benchmark scores; n=13 is the published default).

    Returns (id_col, n_grams, contaminated_grams, contaminated) — one
    row per CORPUS doc; callers drop `contaminated` rows or audit the
    gram counts. Matching is on lowercased whitespace n-grams via the
    same portable md5 used across this module (oracle reproduces it
    bit-for-bit). Documents shorter than n tokens match on their whole
    text (same short-doc rule as `shingles`).

    Scale shape (100 TB corpus, MB-GB benchmark): the benchmark side is
    tiny and aggregates to DISTINCT gram hashes — Spark broadcasts it
    (the common case) so the corpus side is a map-only explode + hash
    semi-probe with partial-agg counting; no corpus shuffle beyond the
    per-doc count. A corpus gram appearing in many docs costs O(its
    instances) — no quadratic term anywhere."""
    from ..functions.text import shingles

    def grams(df: DataFrame, keep_id: bool):
        cols = [F.col(id_col)] if keep_id else []
        return df.select(
            *cols, F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("_g")
        ).select(*cols, F.md5(F.lower(F.col("_g"))).alias("_h"))

    bench = grams(benchmark, keep_id=False).distinct().select("_h", F.lit(1).alias("_s"))
    cg = grams(corpus, keep_id=True)
    # ONE broadcast left join flags each corpus gram, ONE aggregation
    # counts totals and hits together — the corpus is scanned and
    # exploded exactly once (a semi-join + separate totals agg read it
    # twice)
    return (
        cg.join(F.broadcast(bench), "_h", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("_s") == 1, 1).otherwise(0)).alias("contaminated_grams"),
        )
        .withColumn("contaminated", F.col("contaminated_grams") >= min_hits)
    )
