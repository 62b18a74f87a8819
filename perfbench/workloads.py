"""The workloads. Each has a set-up step (inputs and engine init, counted
in setup_s), a measured step, and a check step that compares the engine's
outputs with an independent DuckDB result outside the timed region.

Sizes are fixed, so every commit does the same work for a given seed.
"""

from __future__ import annotations

import contextlib
import math
import os
import random
import statistics
import time

from pyspark.sql import functions as F

from . import oracle

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORPUS_DIR = os.path.join(ROOT, "perfbench", "corpus", "sf0.01")
RESULTS_DIR = os.path.join(ROOT, ".perfbench_results")
CLK_TCK = os.sysconf("SC_CLK_TCK")

# bulk leg: one destination, event-balanced windows large enough that
# the per-window fixed cost is a small share of each window
BULK_PAGES = 2_000
BULK_WINDOW_EVENTS = 4_500
BULK_BUCKETS = 8

# trickle leg: four destinations, small windows, ~0.2% truncated values
TRICKLE_DESTINATIONS = 4
TRICKLE_PAGES = 80  # per destination
TRICKLE_WINDOW_EVENTS = 700
TRICKLE_BUCKETS = 4
MALFORMED_EVERY = 500  # one truncated value per 500 offsets
LOOKUPS = 2
LOOKUP_KEYS = 8

# the entry queries corpus_queries runs: the LWW collapse, the LakeTable
# append/rollback/changes/read paths (cdc_rollback) and one query per
# operator/function family. All 44 would take several times the time one
# run may take.
QUERIES = (
    "cdc_lww_upsert",
    "cdc_rollback",
    "dedup_exact",
    "pii_redaction",
    "asof_join_orders",
    "topk_cosine",
)


def page_url(page_id: int) -> str:
    """The generator's url for a page id (sources/synth.py)."""
    return f"https://site-{page_id % 37}.example.com/page/{page_id}"


def full_scan(df) -> tuple[int, int]:
    """Evaluate every column of every row; returns (rows, xxhash64 sum)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def table_layout(spark, roots: list[str]) -> dict:
    """On-disk size, parquet files and outstanding merge-on-read deltas of
    freshly replayed tables (read between timed phases)."""
    from debezium_server_batch_spark.plans.laketable import LakeTable

    return {
        "table_bytes": sum(dir_bytes(r) for r in roots),
        "files_written": sum(
            f.endswith(".parquet") for r in roots for _, _, fs in os.walk(r) for f in fs
        ),
        "delta_files_outstanding": sum(
            LakeTable.load(spark, r).outstanding_delta_files() for r in roots
        ),
    }


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def cpu_seconds() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and its Python workers), reaped children included. Time the
    hypervisor steals from a vCPU is not in it, so unlike wall time it
    does not grow when other guests load the host."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            parent[int(d)] = int(f[1])
            ticks[int(d)] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / CLK_TCK


class Timer:
    """Accumulates wall time and CPU time per named phase."""

    def __init__(self):
        self.phases: dict[str, float] = {}
        self.cpu: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        t0, c0 = time.perf_counter(), cpu_seconds()
        yield
        self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0
        self.cpu[name] = self.cpu.get(name, 0.0) + cpu_seconds() - c0

    def __call__(self, name: str, fn, *args, **kwargs):
        with self.phase(name):
            return fn(*args, **kwargs)


# ----------------------------------------------------------------------
# ingest legs


class BulkLeg:
    """Throughput-bound replay through the single-table fast path, then a
    full scan of the merge-on-read table, compaction and a second scan."""

    def __init__(self, run):
        self.run = run
        self.log = os.path.join(run.workdir, "bulk_log")
        self.table = os.path.join(run.workdir, "bulk_table")

    def setup(self) -> None:
        from debezium_server_batch_spark.sources.synth import generate_event_log, write_event_log

        events = generate_event_log(
            self.run.spark, n_pages=BULK_PAGES, seed=self.run.seed,
            n_hot=BULK_PAGES // 1000, hot_k=64,
        )
        write_event_log(events, self.log, n_files=8)

    def work(self, tm: Timer) -> dict:
        from debezium_server_batch_spark.plans.laketable import LakeTable
        from debezium_server_batch_spark.streaming.runner import CdcPipeline, PipelineConfig

        spark, span = self.run.spark, self.run.span
        cfg = PipelineConfig(
            log_path=self.log, table_root=self.table, batch_events=BULK_WINDOW_EVENTS,
            num_buckets=BULK_BUCKETS, merge_mode="mor",
        )
        stats = tm("bulk_replay", CdcPipeline(spark, cfg).run)
        self.layout = table_layout(spark, [self.table])
        with span("bench.scan_mor"):
            self.scan_mor = tm("scan_mor", lambda: full_scan(LakeTable.load(spark, self.table).read()))
        with span("bench.compact"):
            tm("compact", lambda: LakeTable.load(spark, self.table).compact())
        with span("bench.scan_compacted"):
            self.scan_compacted = tm(
                "scan_compacted", lambda: full_scan(LakeTable.load(spark, self.table).read())
            )
        return {"events": stats.events, "windows": [w["duration_s"] for w in stats.lineage]}

    def check(self) -> tuple[list[tuple[str, bool]], dict]:
        from debezium_server_batch_spark.plans.laketable import LakeTable
        from debezium_server_batch_spark.sources.synth import DESTINATION

        want = oracle.LwwOracle(self.log).table_digest(DESTINATION)
        got = oracle.spark_table_digest(LakeTable.load(self.run.spark, self.table).read())
        checks = [
            ("bulk_table_equals_lww_oracle", got == want),
            ("scan_mor_rows", self.scan_mor[0] == want[0]),
            ("scan_compacted_rows", self.scan_compacted[0] == want[0]),
            ("compaction_preserves_rows", self.scan_mor == self.scan_compacted),
        ]
        return checks, {**self.layout, "live_rows": want[0],
                        "bytes_per_row": self.layout["table_bytes"] / want[0]}


class TrickleLeg:
    """Small windows over four destinations through the grouped path, with
    a dead-letter spool, then point lookups on the uncompacted tables."""

    def __init__(self, run):
        self.run = run
        self.log = os.path.join(run.workdir, "trickle_log")
        self.tables = os.path.join(run.workdir, "trickle_tables")
        self.dlq = os.path.join(run.workdir, "trickle_dlq")
        self.destinations = [f"trickle{d}.pages" for d in range(TRICKLE_DESTINATIONS)]

    def setup(self) -> None:
        from debezium_server_batch_spark.sources.synth import generate_event_log, write_event_log

        seed, n = self.run.seed, TRICKLE_DESTINATIONS
        pages = TRICKLE_PAGES * n
        # one generated log routed to n destinations by page id (offset
        # mod pages), so every window touches every table
        events = generate_event_log(self.run.spark, n_pages=pages, seed=seed + 1, n_hot=n, hot_k=16)
        page = F.pmod(F.col("offset"), F.lit(pages))
        # evenly spaced, so every window carries about the same number
        truncate = F.pmod(F.col("offset") + F.lit(seed), F.lit(MALFORMED_EVERY)) == 0
        events = events.withColumns({
            "destination": F.format_string("trickle%d.pages", F.pmod(page, F.lit(n))),
            "value": F.when(truncate, F.expr("substring(value, 1, length(value) - 24)"))
            .otherwise(F.col("value")),
        })
        write_event_log(events, self.log, n_files=8)

    def work(self, tm: Timer) -> dict:
        from debezium_server_batch_spark.plans.laketable import LakeTable
        from debezium_server_batch_spark.streaming.runner import CdcPipeline, PipelineConfig

        spark, span, n = self.run.spark, self.run.span, TRICKLE_DESTINATIONS
        cfg = PipelineConfig(
            log_path=self.log, table_root=self.tables, batch_events=TRICKLE_WINDOW_EVENTS,
            num_buckets=TRICKLE_BUCKETS, merge_mode="mor", table_per_destination=True,
            dead_letter=self.dlq,
        )
        stats = tm("trickle_replay", CdcPipeline(spark, cfg).run)
        self.layout = table_layout(spark, [os.path.join(self.tables, d) for d in self.destinations])

        rng = random.Random(self.run.seed)
        self.probes = [
            (self.destinations[i % n],
             [page_url(p * n + i % n) for p in rng.sample(range(TRICKLE_PAGES), LOOKUP_KEYS)])
            for i in range(LOOKUPS)
        ]
        tables = tm("lookup", lambda: {
            d: LakeTable.load(spark, os.path.join(self.tables, d)) for d in self.destinations
        })
        cols = ["url", "__lsn", "text", "lang", "title", F.unix_millis("warc_ts").alias("ms")]
        self.found, lookups = [], []
        for dest, keys in self.probes:
            with span("bench.lookup"), tm.phase("lookup"):
                t0 = time.perf_counter()
                self.found.append(tables[dest].read_keys(keys).select(*cols).collect())
                lookups.append(time.perf_counter() - t0)
        return {"events": stats.events, "windows": [w["duration_s"] for w in stats.lineage],
                "lookups": lookups}

    def check(self) -> tuple[list[tuple[str, bool]], dict]:
        from debezium_server_batch_spark.plans.laketable import LakeTable

        ref = oracle.LwwOracle(self.log)
        checks, live = [], 0
        for dest in self.destinations:
            want = ref.table_digest(dest)
            live += want[0]
            got = oracle.spark_table_digest(
                LakeTable.load(self.run.spark, os.path.join(self.tables, dest)).read()
            )
            checks.append((f"trickle_table_equals_lww_oracle:{dest}", got == want))
        injected = ref.malformed()
        spooled = self.run.spark.read.parquet(self.dlq).select("offset").distinct().count()
        checks.append(("dead_letters_equal_injected", injected > 0 and spooled == injected))
        for i, ((dest, keys), rows) in enumerate(zip(self.probes, self.found)):
            got = {oracle.row_digest("|".join("~" if v is None else str(v) for v in r)) for r in rows}
            checks.append((f"lookup_{i}", len(rows) == len(got) and got == ref.lookup(dest, keys)))
        return checks, {**self.layout, "live_rows": live, "dead_letters": injected,
                        "bytes_per_row": self.layout["table_bytes"] / live}


class Ingest:
    """The bulk leg, then the trickle leg, in one session."""

    name = "ingest"

    def __init__(self, run):
        self.run = run
        self.bulk, self.trickle = BulkLeg(run), TrickleLeg(run)

    def setup(self) -> None:
        with self.run.span("synth.generate"):
            self.bulk.setup()
            self.trickle.setup()

    def work(self) -> dict:
        tm = Timer()
        with self.run.span("bench.bulk"):
            bulk = self.bulk.work(tm)
        with self.run.span("bench.trickle"):
            trickle = self.trickle.work(tm)
        replay = ("bulk_replay", "trickle_replay")
        events = bulk["events"] + trickle["events"]
        return {
            "bulk": bulk,
            "trickle": trickle,
            "phases": tm.phases,
            "cpu_phases": tm.cpu,
            "work_s": sum(tm.phases.values()),
            "cpu_s": sum(tm.cpu.values()),
            "rate_per_s": events / sum(tm.phases[p] for p in replay),
            "rate_per_cpu_s": events / sum(tm.cpu[p] for p in replay),
            "steps": bulk["windows"] + trickle["windows"],
            "ops_cpu": list(tm.cpu.values()),
        }

    def check(self, out: dict) -> list[tuple[str, bool]]:
        checks = []
        for leg in ("bulk", "trickle"):
            leg_checks, layout = getattr(self, leg).check()
            checks += leg_checks
            out[leg].update(layout)
        return checks


class CorpusQueries:
    """The QUERIES entries of __spark_entry__.queries() at sf0.01, each
    result fetched in full through Arrow, then compared with its
    oracle_sql() in DuckDB."""

    name = "corpus_queries"

    def __init__(self, run):
        self.run = run

    def setup(self) -> None:
        with self.run.span("entry.import"):
            import __spark_entry__

        self.entry = __spark_entry__

    def work(self) -> dict:
        spark, jsc = self.run.spark, self.run.spark.sparkContext._jsc
        self.results, leaked, tm = {}, {}, Timer()
        entries = self.entry.queries()
        for name in QUERIES:
            fn = entries[name]
            with self.run.span(f"query.{name}"), tm.phase(name):
                self.results[name] = fn(spark, CORPUS_DIR).toArrow()
            leaked[name] = jsc.getPersistentRDDs().size()
        total, cpu = sum(tm.phases.values()), sum(tm.cpu.values())
        return {
            "queries": tm.phases,
            "queries_cpu": tm.cpu,
            "leaked_rdds": leaked,
            "work_s": total,
            "cpu_s": cpu,
            "rate_per_s": len(QUERIES) / total,
            "rate_per_cpu_s": len(QUERIES) / cpu,
            "steps": list(tm.phases.values()),
            "ops_cpu": list(tm.cpu.values()),
        }

    def check(self, out: dict) -> list[tuple[str, bool]]:
        os.makedirs(RESULTS_DIR, exist_ok=True)
        ref = oracle.CorpusOracle(CORPUS_DIR, self.entry.oracle_sql(),
                                  os.path.join(RESULTS_DIR, "corpus_oracle.json"))
        checks = [(f"query:{name}", name in ref.sql and ref.matches(name, tbl))
                  for name, tbl in self.results.items()]
        ref.save()
        return checks


WORKLOADS = {w.name: w for w in (Ingest, CorpusQueries)}


# ----------------------------------------------------------------------
# reporting


def details(out: dict) -> dict:
    """Everything the workload measured, for the result file."""
    return {k: v for k, v in out.items() if k not in ("steps", "ops_cpu")}


def traced_extras(out: dict, wall_s: float) -> dict[str, tuple[float, str]]:
    """Workload-level figures of a traced run, reported beside the layers.
    A figure the workload does not produce is absent (and reads 0)."""
    m = {"trace.wall_s": (wall_s, "s")}
    phases = out.get("phases", {})
    for name in ("scan_mor", "compact", "scan_compacted"):
        if name in phases:
            m[f"bench.{name}_s"] = (phases[name], "s")
    for leg in ("bulk", "trickle"):
        if leg in out:
            r = out[leg]
            m[f"bench.{leg}_events_per_s"] = (r["events"] / phases[f"{leg}_replay"], "events/s")
            m[f"bench.{leg}_window_s_p50"] = (statistics.median(r["windows"]), "s")
            m[f"bench.{leg}_bytes_per_row"] = (r["bytes_per_row"], "bytes/row")
    if "bulk" in out:
        m["laketable.files_written"] = (out["bulk"]["files_written"] + out["trickle"]["files_written"],
                                        "count")
        m["laketable.delta_files_outstanding"] = (
            out["bulk"]["delta_files_outstanding"] + out["trickle"]["delta_files_outstanding"],
            "count",
        )
        m["bench.lookup_s_p50"] = (statistics.median(out["trickle"]["lookups"]), "s")
    if "queries" in out:
        times = out["queries"]
        m["bench.queries_total_s"] = (sum(times.values()), "s")
        m["bench.queries_geomean_s"] = (geomean(list(times.values())), "s")
        m["corpus.leaked_rdds"] = (max(out["leaked_rdds"].values()), "count")
        for name, t in times.items():
            m[f"query.{name}_s"] = (t, "s")
    return m
