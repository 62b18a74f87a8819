"""Traced-run instrumentation: wrap the engine's public functions in spans
and counters, then turn spans, counters and the Spark event log into the
per-layer metrics listed in BENCHMARK.json.

Wrapping happens only in traced runs, from the benchmark's side of each
layer boundary; untraced runs call the engine unmodified.
"""

from __future__ import annotations

import functools

from .spans import SPAN_PROPERTY, EventLog, Tracer

LAKETABLE_OPS = (
    "merge", "commit_checkpoint", "snapshot", "load", "read", "read_keys", "compact", "compact_deltas",
)
STORAGE_OPS = (
    "makedirs", "isdir", "exists", "listdir", "read_text", "write_text", "claim", "delete",
    "mtime", "walk_files", "cleanup_empty_dirs",
)
SPARK_TOTALS = (
    ("jobs", "count"), ("tasks", "count"), ("task_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
    ("input_bytes", "bytes"), ("output_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
)


def spark_switch(spark):
    """on_switch callback: tag the current thread's Spark jobs with the span id."""
    sc = spark.sparkContext

    def switch(span_id: int | None) -> None:
        sc.setLocalProperty(SPAN_PROPERTY, None if span_id is None else str(span_id))

    return switch


class Instrumentation:
    """Installs span/counter wrappers on the engine and removes them again."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._undo: list[tuple[object, str, object]] = []

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def _spanned(self, name: str, fn, on_result=None):
        tracer = self.tracer

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            tracer.count(f"{name}_calls")
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        return wrapper

    def _counted(self, name: str, fn, on_call=None):
        tracer = self.tracer

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            tracer.count(name)
            out = fn(*args, **kwargs)
            if on_call is not None:
                on_call(args, kwargs, out)
            return out

        return wrapper

    def install(self) -> "Instrumentation":
        from debezium_server_batch_spark.plans.laketable import LakeTable
        from debezium_server_batch_spark.plans.storage import PosixStorage
        from debezium_server_batch_spark.sources.event_log import EventLogSource
        from debezium_server_batch_spark.streaming import runner

        t = self.tracer
        self._patch(runner, "parse_envelope_batch",
                    self._spanned("envelope.parse", runner.parse_envelope_batch))
        self._patch(runner, "normalize_batch", self._counted("normalize.calls", runner.normalize_batch))
        self._patch(EventLogSource, "window_bounds",
                    self._spanned("event_log.window_bounds", EventLogSource.window_bounds))
        self._patch(EventLogSource, "read_slice",
                    self._counted("event_log.read_slice_calls", EventLogSource.read_slice))
        pipeline = runner.CdcPipeline
        self._patch(pipeline, "run", self._spanned("runner.run", pipeline.run))
        self._patch(pipeline, "process_batch",
                    self._spanned("runner.window", pipeline.process_batch,
                                  lambda rec: t.count("runner.dead_letter_rows", dead_letters(rec))))
        for op in LAKETABLE_OPS:
            raw = LakeTable.__dict__[op]
            if isinstance(raw, classmethod):
                self._patch(LakeTable, op, classmethod(self._spanned(f"laketable.{op}", raw.__func__)))
            else:
                self._patch(LakeTable, op, self._spanned(f"laketable.{op}", raw))

        def storage_bytes(args, kwargs, out):
            data = args[2] if len(args) > 2 else kwargs.get("data", "")
            t.count("storage.bytes_written", len(data.encode()))

        for op in STORAGE_OPS:
            fn = PosixStorage.__dict__[op]
            on_call = None
            if op == "write_text":
                on_call = storage_bytes
            elif op == "claim":
                def on_call(args, kwargs, out):
                    storage_bytes(args, kwargs, out)
                    if out is False:
                        t.count("storage.claim_lost")
            self._patch(PosixStorage, op, self._counted(f"storage.{op}_calls", fn, on_call))
        return self

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


def dead_letters(window_record: dict) -> int:
    """Dead-letter rows of one runner window record: the fast path reports
    them at the top level, the grouped path per schema group."""
    if "dead_letter_rows" in window_record:
        return int(window_record["dead_letter_rows"] or 0)
    return sum(int(g.get("dead_letter_rows") or 0) for g in window_record.get("groups", []))


# ----------------------------------------------------------------------
# metric derivation


def _outermost(tracer: Tracer, name: str):
    """Spans called `name` that have no ancestor of the same name, so an
    op that calls itself (read_keys → read) is not counted twice."""
    index = tracer.by_id()
    for s in tracer.spans:
        if s.name == name and s.end is not None:
            if not any(a.name == name for a in list(tracer.ancestors(s.id, index))[1:]):
                yield s


def span_total(tracer: Tracer, name: str) -> float:
    return sum(s.end - s.start for s in _outermost(tracer, name))


def layer_metrics(tracer: Tracer, log: EventLog | None) -> dict[str, tuple[float, str]]:
    """Per-layer metrics from one traced run (names as in BENCHMARK.json)."""
    c = tracer.counters
    index = tracer.by_id()
    self_s = tracer.self_times()
    windows = [s for s in tracer.spans if s.name == "runner.window"]
    window_ids = {s.id for s in windows}
    under_window: dict[int, int] = {}  # span id -> enclosing window id
    for s in tracer.spans:
        for a in tracer.ancestors(s.id, index):
            if a.id in window_ids:
                under_window[s.id] = a.id
                break
    parsed_windows = {under_window[s.id] for s in tracer.spans
                      if s.name == "envelope.parse" and s.id in under_window}

    m: dict[str, tuple[float, str]] = {
        "session.build_s": (span_total(tracer, "session.build"), "s"),
        "entry.import_s": (span_total(tracer, "entry.import"), "s"),
        "synth.generate_s": (span_total(tracer, "synth.generate"), "s"),
        "event_log.window_bounds_s": (span_total(tracer, "event_log.window_bounds"), "s"),
        "event_log.read_slice_calls": (c["event_log.read_slice_calls"], "count"),
        "envelope.parse_calls": (c["envelope.parse_calls"], "count"),
        "envelope.parse_s": (span_total(tracer, "envelope.parse"), "s"),
        "normalize.calls": (c["normalize.calls"], "count"),
        "runner.windows": (len(windows), "count"),
        "runner.fast_windows": (len(window_ids - parsed_windows), "count"),
        "runner.window_self_s": (sum(self_s.get(i, 0.0) for i in window_ids), "s"),
        "runner.dead_letter_rows": (c["runner.dead_letter_rows"], "count"),
    }
    for op in LAKETABLE_OPS:
        m[f"laketable.{op}_calls"] = (c[f"laketable.{op}_calls"], "count")
        m[f"laketable.{op}_s"] = (span_total(tracer, f"laketable.{op}"), "s")
    for op in STORAGE_OPS:
        m[f"storage.{op}_calls"] = (c[f"storage.{op}_calls"], "count")
    m["storage.claim_lost"] = (c["storage.claim_lost"], "count")
    m["storage.bytes_written"] = (c["storage.bytes_written"], "bytes")

    totals = dict.fromkeys((k for k, _ in SPARK_TOTALS), 0.0)
    merge_cpu = 0.0
    window_jobs = 0
    if log is not None:
        spans_known = set(index)
        for job_span in log.job_span.values():
            if job_span in spans_known:
                totals["jobs"] += 1
                window_jobs += job_span in under_window
        merge_ids = {s.id for s in tracer.spans if s.name == "laketable.merge"}
        for st in log.stages.values():
            if st.span not in spans_known:
                continue  # correctness checks run outside every span
            for k in ("tasks", "task_s", "cpu_s", "gc_s", "input_bytes", "output_bytes",
                      "shuffle_write_bytes", "spill_bytes"):
                totals[k] += getattr(st, k)
            if any(a.id in merge_ids for a in tracer.ancestors(st.span, index)):
                merge_cpu += st.cpu_s
    for k, unit in SPARK_TOTALS:
        m[f"spark.{k}"] = (totals[k], unit)
    m["spark.merge_cpu_s"] = (merge_cpu, "s")
    m["spark.jobs_per_window"] = (window_jobs / len(windows) if windows else 0.0, "count")
    m["trace.spans"] = (len(tracer.spans), "count")
    m["trace.bookkeeping_s"] = (tracer.bookkeeping_s, "s")
    return m


def window_accounting(tracer: Tracer) -> dict[str, float]:
    """Self-check: window wall time against runner.window_self_s plus the
    self times of every span under a window."""
    index = tracer.by_id()
    self_s = tracer.self_times()
    windows = {s.id: s for s in tracer.spans if s.name == "runner.window"}
    wall = sum(s.end - s.start for s in windows.values())
    own = sum(self_s[i] for i in windows)
    below = 0.0
    for s in tracer.spans:
        if s.id in windows:
            continue
        if any(a.id in windows for a in tracer.ancestors(s.id, index)):
            below += self_s.get(s.id, 0.0)
    return {"window_wall_s": wall, "window_self_s": own, "child_self_s": below,
            "unaccounted_s": wall - own - below}
