"""Near-duplicate detection over document text — exact, MinHash+LSH,
SimHash, n-gram Jaccard, and embedding-cosine variants.

All hot-path math is JVM-side Column expressions (higher-order functions
over token/shingle arrays; xxhash64 as the hash family) or Arrow pandas
UDFs — never per-row Python. Candidate generation is always a bucketed
equi-join (band hash / simhash chunk / LSH sign-bucket), never a cross
join, so the plans survive 100× scale-up: the shuffle key is the band
bucket, hot buckets are bounded by band width, and verification joins
only candidate pairs.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..frames import local_frame
from ..functions.text import shingles


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signature(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 5,
) -> DataFrame:
    """(id, sig array<long>) — sig[j] = min over shingles of
    xxhash64(seed_j, shingle).

    Shape: explode shingles to rows, then num_hashes plain min()
    aggregates per doc. The min-aggregate runs with map-side partial
    aggregation inside whole-stage codegen and shuffles only
    (id, num_hashes longs) per doc — measured ~3× faster than the
    equivalent nested higher-order-function fold (transform + aggregate
    + zip_with builds a num_hashes-wide array per shingle in
    interpreted expression land). Duplicate shingles can't change a
    min, so set semantics are preserved."""
    rows = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(F.col(text_col), k=shingle_k)).alias("sh"),
    )
    # aggregates built as ONE parsed SQL expression each instead of
    # nested Column calls: constructing num_hashes aggregates through
    # the Column API costs ~4 py4j round-trips per hash (~0.5 s of
    # driver time per query build at 32 hashes); F.expr parses the
    # identical tree in one call (r7; semantics unchanged — literal
    # ints type as INT either way, so the xxhash64 seeds hash equal)
    mins = rows.groupBy("id").agg(
        *[F.expr(f"min(xxhash64({j}, sh)) AS _h{j}") for j in range(num_hashes)]
    )
    sig = F.expr("array(" + ", ".join(f"_h{j}" for j in range(num_hashes)) + ") AS sig")
    return mins.select("id", sig)


def cap_by_frequency(df: DataFrame, keys: list[str], max_df: int | None) -> DataFrame:
    """Drop rows whose key appears in more than `max_df` rows — the
    standard LSH guard against stop-shingles / hot band-buckets: a bucket
    shared by m documents contributes m² candidate pairs to the
    self-join, so one stop-shingle ("in the") at 100 TB is a quadratic
    blowup on a single shuffle key. The hot-key set is tiny (it's the
    count > cap tail), so the anti-join broadcasts."""
    if max_df is None:
        return df
    hot = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("_df")).filter(F.col("_df") > max_df).drop("_df")
    return df.join(F.broadcast(hot), keys, "left_anti")


def bucketed_pairs(
    rows: DataFrame,
    keys: list[str],
    payload: list[str] | tuple[str, ...] = (),
    max_bucket_df: int | None = None,
    over_cap: str = "star",
) -> DataFrame:
    """Candidate (id_a, id_b[, <payload>_a, <payload>_b]) pairs from a
    bucketed self-join on `keys` — the shared core of every LSH-family
    candidate generator here (minhash band buckets, simhash pigeonhole
    chunks, embedding sign-LSH buckets).

    A bucket of m rows contributes m² pairs — the ONLY quadratic term in
    these plans, and at 100 TB a single boilerplate bucket is a job
    killer. Buckets over `max_bucket_df` are therefore bounded:

      over_cap='star' (default): an over-cap bucket contributes only
        (min-id representative, member) pairs — O(m), not O(m²).
        Downstream exact verification still filters false positives.
        The recall trade, precisely: when the hot bucket IS a duplicate
        cluster (the common near-dup case), the star keeps the whole
        cluster connected through its representative, so
        canonicalization is unaffected — only the explicit listing of
        non-representative intra-cluster pairs is elided. When the hot
        bucket is an INCIDENTAL collision (boilerplate chunk/band shared
        by unrelated docs), a true pair whose ONLY shared bucket is the
        hot one is found only if its docs also collide in another
        band/chunk/table — the multi-bucket designs (bands, chunks,
        tables) provide that redundancy, but it is probabilistic, not
        guaranteed. Unconditional exactness requires max_bucket_df=None.
      over_cap='drop': drop over-cap buckets entirely. A >cap duplicate
        clique then yields NO pairs at all — opt-in only, for pipelines
        that treat hot buckets as pure stop-phrase noise.

    max_bucket_df=None disables the guard (exact all-pairs semantics —
    what the equality oracles check).
    """
    if over_cap not in ("star", "drop"):
        raise ValueError(f"over_cap must be star|drop, got {over_cap!r}")
    payload = list(payload)

    def _allpairs(r: DataFrame) -> DataFrame:
        a, b = r.alias("a"), r.alias("b")
        on = F.col("a.id") < F.col("b.id")
        for k in keys:
            on = (F.col(f"a.{k}") == F.col(f"b.{k}")) & on
        return a.join(b, on).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in payload],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in payload],
        )

    if max_bucket_df is None:
        return _allpairs(rows)
    hot = (
        rows.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_df"), F.min("id").alias("_rep"))
        .filter(F.col("_df") > max_bucket_df)
        .drop("_df")
    )
    cold = rows.join(F.broadcast(hot.select(*keys)), keys, "left_anti")
    out = _allpairs(cold)
    if over_cap == "star":
        members = rows.join(F.broadcast(hot), keys)
        reps = members.filter(F.col("id") == F.col("_rep")).select(
            *keys,
            F.col("id").alias("_rid"),
            *[F.col(c).alias(f"{c}_a") for c in payload],
        )
        star = (
            members.filter(F.col("id") != F.col("_rep"))
            .select(*keys, F.col("id").alias("id_b"), *[F.col(c).alias(f"{c}_b") for c in payload])
            .join(reps, keys)
            # rep = min(id) in the bucket, so id_a < id_b holds by construction
            .select("_rid", "id_b", *[f"{c}_a" for c in payload], *[f"{c}_b" for c in payload])
            .withColumnRenamed("_rid", "id_a")
        )
        out = out.unionByName(star.select(out.columns))
    return out


def lsh_candidate_pairs(
    sig_df: DataFrame,
    bands: int = 16,
    max_bucket_df: int | None = 1000,
    over_cap: str = "star",
) -> DataFrame:
    """Band the signatures and self-join on (band, band_hash) → candidate
    (a, b) pairs with a < b. The join key is the band bucket — the LSH
    'shingle→minhash→band→bucket-join' scale pattern. Buckets holding
    more than `max_bucket_df` docs are bounded per `over_cap` (see
    bucketed_pairs; default 'star' keeps >cap duplicate clusters
    connected instead of dropping them; None disables)."""
    # rows_per_band from the array length at plan time: use expr on size
    sig_len = F.size(F.col("sig"))
    rows_per_band = (sig_len / bands).cast("int")
    banded = sig_df.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        b, F.concat_ws(",", F.transform(F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band), lambda x: x.cast("string")))
                    ).alias("bhash"),
                ),
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bhash")
    return bucketed_pairs(banded, ["band", "bhash"], (), max_bucket_df, over_cap).distinct()


def exact_jaccard(df: DataFrame, id_col: str, text_col: str, shingle_k: int = 5) -> DataFrame:
    """(id, shingle) exploded view for exact Jaccard verification."""
    return (
        df.select(F.col(id_col).alias("id"), F.explode(F.array_distinct(shingles(F.col(text_col), k=shingle_k))).alias("sh"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = 10_000,
    prefix_filter: bool | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs: |∩| / (|A|+|B|-|∩|) ≥
    threshold, no approximation — the oracle the MinHash path is
    verified against; also SQL-expressible in DuckDB.

    prefix_filter enables the AllPairs/PPJoin prefix-filtering
    similarity join (EXACT — provably no missed pair): order each doc's
    shingles by a global total order (document frequency ascending,
    rarest first) and self-join only the first |d| − ⌈t·|d|⌉ + 1
    shingles per doc — two sets with J ≥ t must share a prefix element
    under any common order, so candidate generation shrinks by ~t per
    side while the final Jaccard is still computed over the FULL
    intersection. Opt-in: worth it when the shingle document-frequency
    distribution is heavy-tailed and uncapped (the self-join fan-out
    dominates); on benign corpora the df-ranking window pass costs more
    than the smaller join saves (measured both ways at sf0.1), so the
    default stays the plain intersection join guarded by
    max_shingle_df.

    max_shingle_df (default ON at 10 000) drops stop-shingles (document
    frequency > cap) before the self-join — one stop-shingle at 100 TB
    is a quadratic blowup on a single shuffle key. Sizes are computed on
    the capped universe so Jaccard stays internally consistent, and the
    SQL oracle models the same cap. Degradation is graceful (pairs are
    still found through their sub-cap shingles), unlike a bucket drop.
    Pass None for the literal uncapped definition."""
    sh = cap_by_frequency(exact_jaccard(df, id_col, text_col, shingle_k), ["sh"], max_shingle_df)
    # the (id, shingle) set feeds the df-cap agg, the per-doc sizes agg
    # and BOTH sides of the intersection self-join — persist it once
    # instead of recomputing tokenize→explode→distinct (a shuffle) 3-4×
    # (measured 15.3s → 9.5s at sf0.1). Lifetime: released by Spark's
    # ContextCleaner once the returned plan is garbage-collected (no
    # in-function unpersist hook exists for a lazily returned plan);
    # LRU eviction bounds the storage-pool footprint meanwhile.
    from pyspark import StorageLevel

    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    if prefix_filter is None:
        prefix_filter = False

    if prefix_filter and threshold > 0:
        from pyspark.sql import Window

        freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
        ranked = (
            sh.join(freq, "sh")
            .withColumn(
                "_rk",
                F.row_number().over(Window.partitionBy("id").orderBy(F.col("_df").asc(), F.col("sh").asc())),
            )
            .join(sizes, "id")
        )
        # prefix length |d| - ceil(t*|d|) + 1
        prefix = ranked.filter(
            F.col("_rk") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
        ).select("id", "sh")
        a, b = prefix.alias("a"), prefix.alias("b")
        cands = (
            a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        # exact intersection of candidates only (full shingle sets)
        fa, fb = sh.alias("fa"), sh.alias("fb")
        inter = (
            cands.join(fa, cands.id_a == F.col("fa.id"))
            .join(fb, (cands.id_b == F.col("fb.id")) & (F.col("fa.sh") == F.col("fb.sh")))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    else:
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "n": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n": "n_b"}), "id_b")
        .withColumn("jaccard", F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_near_dupes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.8,
    max_bucket_df: int | None = 1000,
    over_cap: str = "star",
) -> DataFrame:
    """Full MinHash pipeline: signatures → banded LSH candidates → exact
    Jaccard verification of candidates only. Hot band-buckets
    (> max_bucket_df docs) — the only quadratic term in the plan — are
    bounded: the default over_cap='star' reduces each to
    (representative, member) candidates, so a >cap duplicate cluster
    stays connected (Jaccard-verified, canonicalization-correct) instead
    of silently vanishing the way a dropped bucket would. Output equals
    the exact-Jaccard pair set whenever no bucket exceeds the cap; above
    it, only non-representative intra-cluster pairs are elided."""
    sig = minhash_signature(df, id_col, text_col, num_hashes, shingle_k)
    cands = lsh_candidate_pairs(sig, bands, max_bucket_df, over_cap)
    # NOT persisted (unlike ngram_jaccard_pairs): the candidate join is
    # id-selective, and a cached full shingle set defeats the
    # exchange-reuse/fusion Catalyst applies here — measured 7.5s
    # unpersisted vs 12.9s persisted at sf0.1
    sh = exact_jaccard(df, id_col, text_col, shingle_k)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        cands.join(a, cands.id_a == F.col("a.id"))
        .join(b, (cands.id_b == F.col("b.id")) & (F.col("a.sh") == F.col("b.sh")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "n": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n": "n_b"}), "id_b")
        .withColumn("jaccard", F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


class ConvergenceError(RuntimeError):
    """Raised when an iterative algorithm exits via max_iter still
    changing — returning silently-wrong labels is worse than failing."""


def connected_components(
    pairs: DataFrame,
    max_iter: int = 25,
    checkpoint_every: int = 3,
    on_nonconverged: str = "raise",
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components over near-dup pairs (id_a, id_b) →
    (id, component) where component = min id in the component.

    Adaptive execution (r7): near-dup pair sets are SPARSE — orders of
    magnitude smaller than the corpus they come from (sf0.1: 256 pairs
    from 5000 docs; the 10^6-doc LSH soak: 10^5 pairs) — and each
    distributed label-propagation round costs two joins plus an action.
    When the pair set fits comfortably on the driver
    (≤ `local_threshold` edges, ~30 MB at the 10^6 default), a single
    bounded collect + union-find computes the exact same min-id
    labeling in one action instead of 2-4 rounds of Spark jobs
    (measured 6.4 s → ~1.5 s for the sf0.1 canonicalization query).
    The probe is a LIMIT threshold+1 collect — one job, bounded memory,
    no separate count; overflow falls through to the distributed path
    with the pairs recomputed lazily. local_threshold=0 disables.

    Distributed path: min-label propagation accelerated with pointer
    doubling — each round every vertex takes min(own label, neighbors'
    labels, label-of-label). The label-of-label jump halves chain
    distances, so convergence is O(log diameter) — a 1M-long path needs
    ~20 rounds, not 1M (dup clusters are near-cliques and finish in
    2-3).

    Execution discipline (the part that survives 100×): every generation
    is persisted and materialized by the SAME count that serves as the
    convergence check (one job per round, no extra probe); lineage is cut
    with localCheckpoint every `checkpoint_every` rounds so round k never
    re-executes rounds 0..k-1; the previous generation is unpersisted as
    soon as its successor is materialized. Exits via ConvergenceError
    (or a warning when on_nonconverged='warn') instead of returning
    unmerged components."""
    if local_threshold:
        head = pairs.select("id_a", "id_b").limit(local_threshold + 1).collect()
        if len(head) <= local_threshold:
            # union-find with path compression + union-by-min: root of
            # every set is its minimum id, matching the distributed
            # min-label fixpoint exactly
            parent: dict = {}

            def find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:
                    parent[x], x = r, parent[x]
                return r

            for r in head:
                a, b = r["id_a"], r["id_b"]
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    # keep the smaller id as the root
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
            rows = [(x, find(x)) for x in parent]
            id_type = pairs.schema["id_a"].dataType
            schema = T.StructType(
                [T.StructField("id", id_type), T.StructField("component", id_type)]
            )
            return local_frame(pairs.sparkSession, rows, schema)
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id")).distinct().withColumn("component", F.col("id"))
    ).persist()
    labels.count()

    converged = False
    for i in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nmin"))
        )
        prop = (
            labels.alias("l")
            .join(neighbor_min, F.col("l.id") == F.col("src"), "left")
            .select(
                F.col("l.id").alias("id"),
                F.least(F.col("l.component"), F.coalesce(F.col("nmin"), F.col("l.component"))).alias("component"),
                F.col("l.component").alias("_prev"),
            )
        )
        # pointer doubling: component ← previous generation's label of the
        # component vertex (label-of-label); min keeps monotonicity
        lut = labels.select(F.col("id").alias("_cid"), F.col("component").alias("_cc"))
        jumped = (
            prop.join(lut, prop.component == F.col("_cid"), "left")
            .select(
                "id",
                F.least(F.col("component"), F.coalesce(F.col("_cc"), F.col("component"))).alias("component"),
                "_prev",
            )
        )
        if (i + 1) % checkpoint_every == 0:
            new_labels = jumped.localCheckpoint(eager=False)
        else:
            new_labels = jumped.persist()
        # ONE action: materializes the generation AND checks convergence
        changed = new_labels.filter(F.col("component") != F.col("_prev")).count()
        labels.unpersist()
        labels = new_labels.select("id", "component")
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        msg = f"connected_components did not converge in {max_iter} iterations"
        if on_nonconverged == "warn":
            import warnings

            warnings.warn(msg, stacklevel=2)
        else:
            raise ConvergenceError(msg)
    return labels


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Canonicalize near-dup clusters: every doc mapped to its
    component's minimum id (`canonical_id`); docs in no pair map to
    themselves. Filter `is_canonical` to keep one representative per
    cluster — the end-to-end near-dup removal a training pipeline runs."""
    comp = connected_components(pairs)
    return (
        df.join(comp, df[id_col] == comp.id, "left")
        .select(
            df["*"],
            F.coalesce(F.col("component"), F.col(id_col)).alias("canonical_id"),
        )
        .withColumn("is_canonical", F.col("canonical_id") == F.col(id_col))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def md5_token_hash60(tok: F.Column) -> F.Column:
    """Portable 60-bit token hash: first 15 hex chars of md5. MD5 is
    standardized, so DuckDB (`('0x' || substr(md5(t),1,15))::BIGINT`)
    computes the identical value — this is what makes the SimHash
    pipeline independently verifiable by a SQL oracle. Slower than
    xxhash64 (string md5 + conv); use hash='xxhash64' on hot paths."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def simhash64(text_col, hash: str = "xxhash64") -> F.Column:
    """64-bit SimHash of whitespace tokens: per bit, majority vote of the
    token-hash bits. One aggregate folds all vote counters at once
    (separate per-bit lambdas in one expression collide — see
    minhash_signature note).

    hash='xxhash64' → 63 vote bits (fast, JVM hash); hash='md5' → 60
    vote bits from a portable md5-derived token hash (oracle-checkable
    cross-engine, see md5_token_hash60)."""
    if hash not in ("xxhash64", "md5"):
        raise ValueError(f"hash must be xxhash64|md5, got {hash!r}")
    width = 63 if hash == "xxhash64" else 60  # packed long stays non-negative (ANSI-safe)
    toks = F.split(F.trim(F.lower(text_col)), r"\s+")
    if hash == "xxhash64":
        hashes = F.transform(toks, lambda t: F.xxhash64(t))
    else:
        hashes = F.transform(toks, md5_token_hash60)
    bit_idx = F.sequence(F.lit(0), F.lit(width - 1))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), width),
        lambda acc, h: F.zip_with(
            acc, bit_idx, lambda a, b: a + F.when(F.getbit(h, b) == 1, 1).otherwise(-1)
        ),
    )
    # pack MSB-first: acc*2 + bit — stays < 2^63, no ANSI overflow
    return F.aggregate(
        F.reverse(F.transform(votes, lambda v: F.when(v > 0, 1).otherwise(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, bit: acc * 2 + bit,
    )


def hamming64(a, b) -> F.Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_rows(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", hash: str = "xxhash64"
) -> DataFrame:
    """(id, sh) SimHash per doc, computed as exploded token rows +
    per-bit sum aggregates (whole-stage codegen with map-side partial
    aggregation) instead of the per-row nested array fold of simhash64 —
    same values, ~2× faster on wide corpora. The shuffle carries one row
    per (id, token); the aggregate state is `width` longs per id."""
    width = 63 if hash == "xxhash64" else 60
    toks = F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("tok")
    rows = df.select(F.col(id_col).alias("id"), toks)
    th = F.xxhash64(F.col("tok")) if hash == "xxhash64" else md5_token_hash60(F.col("tok"))
    rows = rows.select("id", th.alias("th"))
    # one parsed SQL expression per vote bit (and one for the packed
    # sum) instead of ~6 Column-API py4j round-trips each: at width 60
    # this removes ~1.5 s of pure driver-side query construction (r7;
    # identical expression trees, values unchanged — asserted against
    # the Column-API build in tests/test_fuzzy_dedup.py)
    votes = rows.groupBy("id").agg(
        *[
            F.expr(f"sum(CASE WHEN getbit(th, {b}) = 1 THEN 1 ELSE -1 END) AS _v{b}")
            for b in range(width)
        ]
    )
    packed = F.expr(
        " + ".join(
            f"(CASE WHEN _v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            for b in range(width)
        )
    )
    return votes.select("id", packed.alias("sh"))


def simhash_near_dupes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    chunks: int = 4,
    hash: str = "xxhash64",
    max_chunk_df: int | None = 1000,
    over_cap: str = "star",
) -> DataFrame:
    """SimHash near-dup pairs: by pigeonhole, two hashes within
    `max_hamming ≤ chunks-1` bits share at least one of `chunks`
    equal-width chunks — candidates join on (chunk_idx, chunk_value),
    verified by exact Hamming distance. The chunk join is LOSSLESS for
    max_hamming < chunks (every qualifying pair is a candidate), so the
    output is exactly the brute-force pair set — which is what lets the
    hash='md5' variant be equality-checked against a SQL oracle.

    Hot chunk-buckets (> max_chunk_df docs — a boilerplate corpus can
    put m docs in one (chunk, cval) bucket → m² candidates on one
    shuffle key) are bounded via over_cap, default 'star' (see
    bucketed_pairs). The LOSSLESS claim above therefore holds whenever
    no bucket exceeds the cap (always true at the oracle's test scale);
    over the cap, a true pair whose only shared chunk is the hot one is
    recovered only via its other chunks — pass max_chunk_df=None for
    unconditional exactness."""
    width = (63 if hash == "xxhash64" else 60) // chunks
    h = simhash_rows(df, id_col, text_col, hash=hash)
    # chunk indices are plain Python ints → unrolled, no lambda needed
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("sh"), c * width)
                .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
                .alias("cval"),
            )
            for c in range(chunks)
        ]
    )
    chunked = h.select("id", "sh", F.explode(chunk_structs).alias("cc")).select(
        "id", "sh", "cc.chunk", "cc.cval"
    )
    return (
        bucketed_pairs(chunked, ["chunk", "cval"], ("sh",), max_chunk_df, over_cap)
        .select(
            "id_a",
            "id_b",
            hamming64(F.col("sh_a"), F.col("sh_b")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (sign-LSH buckets + exact verify)
# ---------------------------------------------------------------------------


def _verify_cosine_pairs(
    df: DataFrame, cand: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """Shared exact-verify tail of both all-pairs variants: join the
    candidate (id_a, id_b) pairs back to their vectors and keep pairs
    whose BUILT-IN sequential-fold cosine clears the exact threshold —
    ONE definition of the oracle-bit-parity contract, so the blocked
    path can never desynchronize from the baseline anchor."""
    from ..functions.vectors import cosine

    e = df.select(F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v"))
    return (
        cand.join(e.withColumnsRenamed({"id": "id_a", "v": "va"}), "id_a")
        .join(e.withColumnsRenamed({"id": "id_b", "v": "vb"}), "id_b")
        .select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def exact_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    candidate_margin: float = 1e-6,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold — the embedding near-dup
    exactness baseline and SQL-oracle anchor.

    Two-phase plan instead of a naive O(n²) expression join:
      1. candidates — a broadcast block-matrix pass: every Arrow batch
         multiplies its (rows × dim) block against the broadcast
         normalized matrix (numpy GEMM), emitting pairs above
         threshold − margin. Distributed over rows, ~100× the
         per-element cost of a JVM fold join.
      2. verify — only the few surviving pairs get the built-in
         sequential-fold cosine (bit-identical to DuckDB's
         list_dot_product math) and the exact threshold filter, so the
         output values and the boundary decision match the SQL oracle
         exactly, not just numpy-approximately.
    The broadcast matrix caps this baseline at driver-memory scale
    (~10^7 vectors); beyond that use embedding_near_dupes (sign-LSH)."""
    import numpy as np

    rows = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).collect()
    ids = np.array([r["id"] for r in rows], dtype=np.int64)
    m = np.array([list(r["v"]) for r in rows], dtype=np.float64)
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    spark = df.sparkSession
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mn)
    cut = threshold - candidate_margin

    def gen_pairs(batches):
        for pdf in batches:
            ids_all, mat = b_ids.value, b_mat.value
            block = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            block = block / np.linalg.norm(block, axis=1, keepdims=True)
            sims = block @ mat.T  # (batch, n)
            bids = pdf["id"].to_numpy()
            ii, jj = np.nonzero(sims >= cut)
            a = bids[ii]
            b = ids_all[jj]
            keep = a < b
            out = pd.DataFrame({"id_a": a[keep], "id_b": b[keep]})
            yield out

    pair_schema = T.StructType(
        [T.StructField("id_a", T.LongType()), T.StructField("id_b", T.LongType())]
    )
    cand = local_frame(spark, [], pair_schema) if not rows else (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .mapInPandas(gen_pairs, pair_schema)
    )
    return _verify_cosine_pairs(df, cand, id_col, vec_col, threshold)


def exact_cosine_pairs_blocked(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_blocks: int = 16,
    candidate_margin: float = 1e-6,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold with NO driver collect — the
    distributed block-matrix form of exact_cosine_pairs (which remains
    the small-corpus oracle baseline).

    Plan: vectors hash into `n_blocks` blocks (collect_list per block —
    each block is n/B vectors, the ONLY bounded materialization);
    every unordered block pair (i ≤ j) becomes one task row via a
    self-join on i ≤ j, and an Arrow kernel GEMMs the two blocks,
    emitting candidate pairs above threshold − margin (upper triangle
    inside a diagonal block). Exactness then comes from the SAME
    built-in sequential-fold verify as the baseline, so output values
    and the boundary decision are bit-identical to the SQL oracle.

    Scale shape: work is the unavoidable O(n²/2) dot products of an
    EXACT all-pairs, but distributed over B(B+1)/2 independent tasks;
    memory per task is two blocks (n/B × dim), and the driver holds
    nothing. At 10^7 vectors × dim 64 with B=1000: ~5 MB per block,
    ~500k tasks — embarrassingly parallel. For near-dup mining at that
    scale prefer embedding_near_dupes (sign-LSH prunes ~150×); this is
    the exact path when recall must be provably 1 with no operating-
    point argument."""
    src = df.select(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("_blk"),
        F.struct(F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v")).alias("_e"),
    )
    blocks = src.groupBy("_blk").agg(F.collect_list("_e").alias("_vs"))
    a = blocks.select(F.col("_blk").alias("_ba"), F.col("_vs").alias("_va"))
    b = blocks.select(F.col("_blk").alias("_bb"), F.col("_vs").alias("_vb"))
    # shuffle_replicate_nl forces a DISTRIBUTED CartesianProduct for the
    # theta join: without it Spark plans BroadcastNestedLoopJoin whenever
    # the blocks side estimates small — which collects EVERY block (the
    # whole corpus) to the driver, re-imposing exactly the memory cap
    # this function exists to remove (and above the broadcast threshold
    # the plan would flip shapes silently). The i<=j filter discards the
    # lower triangle right after the replicate.
    combos = a.hint("shuffle_replicate_nl").join(b, F.col("_ba") <= F.col("_bb"))
    cut = threshold - candidate_margin

    def kernel(batches):
        for pdf in batches:
            out_a, out_b = [], []
            for _ba, va, _bb, vb in zip(pdf["_ba"], pdf["_va"], pdf["_bb"], pdf["_vb"]):
                ids_a = np.fromiter((r["id"] for r in va), dtype=np.int64, count=len(va))
                ids_b = np.fromiter((r["id"] for r in vb), dtype=np.int64, count=len(vb))
                ma = np.stack([np.asarray(r["v"], dtype=np.float64) for r in va])
                mb = np.stack([np.asarray(r["v"], dtype=np.float64) for r in vb])
                ma /= np.linalg.norm(ma, axis=1, keepdims=True)
                mb /= np.linalg.norm(mb, axis=1, keepdims=True)
                sims = ma @ mb.T
                ii, jj = np.nonzero(sims >= cut)
                pa, pb = ids_a[ii], ids_b[jj]
                lo = np.minimum(pa, pb)
                hi = np.maximum(pa, pb)
                keep = lo < hi  # drops self-pairs; orders pairs canonically
                out_a.append(lo[keep])
                out_b.append(hi[keep])
            if out_a:
                yield pd.DataFrame(
                    {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
                )

    # distinct: a diagonal block's GEMM sees each unordered pair twice
    # (ij and ji) — both normalize to (lo, hi); the candidate set is
    # tiny (pairs above threshold), so the dedup shuffle is negligible
    cand = combos.mapInPandas(kernel, "id_a long, id_b long").distinct()
    return _verify_cosine_pairs(df, cand, id_col, vec_col, threshold)


def make_sign_lsh_udf(dim: int, n_planes: int = 16, seed: int = 42, n_tables: int = 1):
    """Arrow UDF: embedding → array of `n_tables` LSH bucket ids, one per
    hash table, each from the sign pattern against `n_planes` seeded
    random hyperplanes (deterministic). Multiple independent tables are
    the standard LSH recall lever: a true pair is missed only if it is
    split in EVERY table — P(miss) = (1 − p^k)^L for per-plane agreement
    p, k planes, L tables."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_planes * n_tables))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sign_buckets(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            m = np.stack(s.to_numpy())
            bits = (m @ planes) > 0  # (rows, n_planes * n_tables)
            out = np.zeros((len(s), n_tables), dtype=np.int64)
            for t in range(n_tables):
                for j in range(n_planes):
                    out[:, t] |= bits[:, t * n_planes + j].astype(np.int64) << j
            yield pd.Series(list(out))

    return sign_buckets


def embedding_near_dupes(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int | None = None,
    n_planes: int = 12,
    seed: int = 42,
    n_tables: int = 1,
    max_bucket_df: int | None = 1000,
    over_cap: str = "star",
    exact_verify: str = "numpy",
) -> DataFrame:
    """Cosine near-dup pairs: sign-LSH bucket join for candidates, exact
    cosine to verify (so emitted pairs are never false positives).

    Scale levers:
      n_tables — independent hash tables; recall → 1 as L grows (the
        sf0.01 driver query runs at a proven recall-1 operating point).
      max_bucket_df / over_cap — hot-bucket bound (near-constant
        embeddings put m docs in one bucket → m² candidates); default
        'star' keeps >cap clusters connected via their representative
        (see bucketed_pairs) instead of dropping them.
      exact_verify — 'numpy' (Arrow batch GEMM, fast path) or 'builtin'
        (sequential-fold Column math, bit-identical to DuckDB's
        list_dot_product — what the SQL equality oracle needs).
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    if exact_verify not in ("numpy", "builtin"):
        raise ValueError(f"exact_verify must be numpy|builtin, got {exact_verify!r}")
    bucketer = make_sign_lsh_udf(dim, n_planes, seed, n_tables)
    e = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    bucketed = e.select("id", F.posexplode(bucketer("v")).alias("tbl", "bkt"))
    cand = bucketed_pairs(bucketed, ["tbl", "bkt"], (), max_bucket_df, over_cap).distinct()
    cand = cand.join(e.withColumnsRenamed({"id": "id_a", "v": "va"}), "id_a").join(
        e.withColumnsRenamed({"id": "id_b", "v": "vb"}), "id_b"
    )

    if exact_verify == "builtin":
        from ..functions.vectors import cosine

        scored = cand.withColumn("cosine", cosine(F.col("va"), F.col("vb")))
    else:

        @F.pandas_udf(T.DoubleType())
        def pair_cos(va: pd.Series, vb: pd.Series) -> pd.Series:
            ma = np.stack(va.to_numpy()).astype(np.float64)
            mb = np.stack(vb.to_numpy()).astype(np.float64)
            num = (ma * mb).sum(axis=1)
            den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
            return pd.Series(num / den)

        scored = cand.withColumn("cosine", pair_cos("va", "vb"))

    return scored.filter(F.col("cosine") >= threshold).select("id_a", "id_b", "cosine")
