"""Hot-key skew soak at the merge/dedup layer (r4 verdict next-round
#3): a Zipf-shaped event set where ONE url owns ~5% of 10^7 events,
LWW-deduped by the two property-tested-equal implementations
(operators/dedup.py), with per-task straggler metrics pulled from the
Spark REST API — the MEASURED version of the salting claim, not just
the equality property test.

What it demonstrates, with numbers:
  * lww_window (textbook row_number over partitionBy(key)) ships every
    hot-key row to ONE task: its max-task duration is a straggler far
    above the stage median — the skew cliff that kills this plan at
    10^10 events;
  * lww_agg (groupBy + max(struct), the replay hot path) pre-reduces
    the hot key on every input partition (partial_max map-side
    combine): the shuffle carries ≤ one row per (partition, key), no
    straggler;
  * all outputs are IDENTICAL (count + order-independent
    full-row hash) — equality is asserted, not assumed.

The event shape mirrors the reference's skew test, which floods one
table with hot keys (performance/BatchSparkChangeConsumerBaseTest
.java:26-52) — here at 10^7 with the straggler quantified.

Usage: python tools/skew_soak.py [n_events=10000000] [cores=8]
Prints one JSON line with per-variant timings and task quantiles.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HOT_SHARE = 0.05  # one url owns 5% of all events
ZIPF_KEYS = 1_000_000


def _stages(ui: str, app: str) -> dict[int, dict]:
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/stages?status=complete") as r:
        return {s["stageId"]: s for s in json.load(r)}


def _task_quantiles(ui: str, app: str, stage_id: int) -> dict | None:
    url = (
        f"{ui}/api/v1/applications/{app}/stages/{stage_id}/0/taskSummary"
        "?quantiles=0.5,0.95,1.0"
    )
    try:
        with urllib.request.urlopen(url) as r:
            return json.load(r)
    except Exception:
        return None


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from pyspark.sql import functions as F

    from debezium_server_batch_spark.operators.dedup import lww_agg, lww_window
    from debezium_server_batch_spark.session import build_session

    # UI on: the REST API is where per-task duration quantiles live
    # Partition-coalescing OFF for this measurement: skew only shows
    # when the hot key's share exceeds a task's fair share — on a
    # 1000-executor cluster a fair share is ~0.1% so a 5% key is a 50×
    # straggler, but on local[8] AQE coalesces 5% back under the ~12%
    # fair share and hides it. Many small partitions model the cluster
    # shape honestly. AQE cannot fix this class of skew anyway: a hot
    # GROUP is indivisible for row_number (skewJoin only splits join
    # partitions), which is the point being measured.
    spark = build_session(
        master=f"local[{cores}]",
        shuffle_partitions=cores * 16,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        },
    )
    sc = spark.sparkContext
    ui = sc.uiWebUrl
    app = sc.applicationId

    # Zipf-shaped skew, pure codegen (no Python in the generator):
    # 5% of offsets → the single hot url; the rest follow an inverse
    # power law over ~10^6 keys (Zipf s≈1.2 tail shape: rank =
    # u^(-1/0.2) truncated). A 64-byte payload makes shuffle volume
    # realistic for the window variant's skew cliff.
    u = (F.pmod(F.xxhash64("id"), F.lit(1_000_003)).cast("double") + F.lit(1.0)) / F.lit(1_000_003.0)
    zipf_rank = F.least(
        F.pow(u, F.lit(-1.0 / 0.2)), F.lit(float(ZIPF_KEYS))
    ).cast("long")
    df = (
        spark.range(n_events)
        .withColumn(
            "url",
            F.when(F.pmod(F.col("id"), F.lit(int(1 / HOT_SHARE))) == 0, F.lit("https://hot.example/page"))
            .otherwise(F.concat(F.lit("https://example.com/p"), zipf_rank.cast("string"))),
        )
        .withColumn("__lsn", F.col("id"))
        .withColumn("__source_ts_ms", F.lit(1_700_000_000_000) + F.col("id"))
        .withColumn("offset", F.col("id"))
        .withColumn("text", F.concat(F.lit("payload-"), F.repeat(F.lit("x"), 64), F.col("id").cast("string")))
        .drop("id")
        .persist()
    )
    df.count()  # materialize once so every variant reads the same cache

    def fingerprint(out):
        row = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64("url", "__lsn", "__source_ts_ms", "offset", "text").cast("decimal(38,0)")
            ).alias("h"),
        ).first()
        return row["n"], row["h"]

    # Spark ≥3.5's WindowGroupLimit rewrite partial-reduces a
    # row_number()==1 window BEFORE the shuffle (top-1 per key per map
    # task), so even the textbook window plan no longer ships the hot
    # key's rows to one task. The naive variant DISABLES that rewrite to
    # measure the underlying cliff — what any planner without the
    # optimization (or any non-top-k window: lag/lead/cumulative sums
    # over the hot key) suffers at this key distribution.
    GL = "spark.sql.optimizer.windowGroupLimitThreshold"
    variants = {
        "lww_window_naive": (lww_window, {GL: "-1"}),
        "lww_window_group_limit": (lww_window, {}),
        "lww_agg_partial": (lww_agg, {}),
    }
    results, prints = {}, {}
    for name, (fn, conf) in variants.items():
        for k, v in conf.items():
            spark.conf.set(k, v)
        before = set(_stages(ui, app))
        t0 = time.monotonic()
        prints[name] = fingerprint(fn(df, key="url"))
        wall = time.monotonic() - t0
        for k in conf:
            spark.conf.unset(k)
        after = _stages(ui, app)
        # the straggler lives in the POST-SHUFFLE reduce stage: identify
        # it as the new stage with the largest single-task shuffle-read,
        # and report the DETERMINISTIC skew evidence (shuffle-read
        # records/bytes max vs median — immune to GC/timing noise)
        # alongside the duration quantiles of that same stage
        worst = None
        for sid in after:
            if sid in before:
                continue
            q = _task_quantiles(ui, app, sid)
            if not q or "shuffleReadMetrics" not in q:
                continue
            recs = q["shuffleReadMetrics"].get("readRecords") or [0, 0, 0]
            if worst is None or recs[-1] > worst[0]:
                worst = (recs[-1], q)
        if worst is None:
            results[name] = {"wall_s": round(wall, 2)}
            continue
        q = worst[1]
        r_med, _, r_max = q["shuffleReadMetrics"]["readRecords"]
        b_med, _, b_max = q["shuffleReadMetrics"]["readBytes"]
        d_med, _, d_max = (v / 1000.0 for v in q["duration"])
        results[name] = {
            "wall_s": round(wall, 2),
            "shuffle_records_median_task": int(r_med),
            "shuffle_records_max_task": int(r_max),
            "shuffle_skew_records_ratio": round(r_max / max(r_med, 1.0), 1),
            "shuffle_mb_max_task": round(b_max / 1e6, 1),
            "shuffle_skew_bytes_ratio": round(b_max / max(b_med, 1.0), 1),
            "straggler_max_task_s": round(d_max, 2),
            "stage_median_task_s": round(d_med, 2),
        }

    identical = len(set(prints.values())) == 1
    hot = df.filter(F.col("url") == "https://hot.example/page").count()
    out = {
        "n_events": n_events,
        "hot_key_events": hot,
        "hot_share": round(hot / n_events, 4),
        "distinct_keys": prints["lww_agg_partial"][0],
        "outputs_identical": identical,
        "variants": results,
    }
    spark.stop()
    print(json.dumps(out))
    if not identical:
        sys.exit(1)


if __name__ == "__main__":
    main()
