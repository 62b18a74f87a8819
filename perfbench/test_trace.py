"""Self-checks for the benchmark's tracer.

    python3 -m pytest perfbench/test_trace.py -q

The first tests drive the span recorder with a hand-set clock; the last
replays a log of a few hundred pages through the engine with tracing on
and checks the Spark event-log attribution end to end (a few seconds
after the JVM starts).
"""

from __future__ import annotations

import json
import os
import sys
import threading

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.layers import Instrumentation, layer_metrics, spark_switch, window_accounting  # noqa: E402
from perfbench.run import stop_session  # noqa: E402
from perfbench.spans import SPAN_PROPERTY, Tracer, parse_event_log  # noqa: E402


class Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_nested_self_times_partition_the_root():
    clock = Clock()
    tr = Tracer(clock=clock)
    with tr.span("root") as root:
        clock.t = 1
        with tr.span("a") as a:
            clock.t = 2
            with tr.span("b") as b:
                clock.t = 3
            clock.t = 4
        clock.t = 10
    st = tr.self_times()
    assert st[root.id] == pytest.approx(7)
    assert st[a.id] == pytest.approx(2)
    assert st[b.id] == pytest.approx(1)
    assert sum(st.values()) == pytest.approx(10)


def test_cross_thread_children_share_overlap():
    """Worker-thread spans are parented to the creating thread's open span;
    where two overlap, each takes half of the overlap."""
    clock = Clock()
    tr = Tracer(clock=clock)
    a_open, b_done, a_close = threading.Event(), threading.Event(), threading.Event()
    ids = {}

    def worker_a():
        clock.t = 1
        with tr.span("merge") as s:
            ids["a"] = s
            a_open.set()
            a_close.wait(5)
            clock.t = 5

    def worker_b():
        a_open.wait(5)
        clock.t = 2
        with tr.span("merge") as s:
            ids["b"] = s
            clock.t = 4
        b_done.set()

    with tr.span("window") as window:
        threads = [threading.Thread(target=worker_a), threading.Thread(target=worker_b)]
        for t in threads:
            t.start()
        b_done.wait(5)
        a_close.set()
        for t in threads:
            t.join(5)
            assert not t.is_alive()
        clock.t = 6
        with tr.span("commit") as commit:
            clock.t = 7
        clock.t = 10
    st = tr.self_times()
    assert ids["a"].parent == window.id and ids["b"].parent == window.id
    assert st[window.id] == pytest.approx(5)  # [0,1] + [5,6] + [7,10]
    assert st[ids["a"].id] == pytest.approx(3)  # [1,2] + half of [2,4] + [4,5]
    assert st[ids["b"].id] == pytest.approx(1)  # half of [2,4]
    assert st[commit.id] == pytest.approx(1)
    assert sum(st.values()) == pytest.approx(10)


def test_on_switch_tracks_innermost_span():
    seen = []
    tr = Tracer(on_switch=seen.append)
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    assert seen == [outer.id, inner.id, outer.id, None]


def test_event_log_attribution(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {SPAN_PROPERTY: "7"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0},
         "Properties": {SPAN_PROPERTY: "7"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1], "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0},
         "Properties": {}},
    ] + [
        {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
         "Task Metrics": {"Executor Run Time": 1500, "Executor CPU Time": 1_000_000_000,
                          "JVM GC Time": 100, "Input Metrics": {"Bytes Read": 10},
                          "Output Metrics": {"Bytes Written": 20},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 30},
                          "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2}}
        for stage in (0, 0, 1)
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = parse_event_log(str(tmp_path))
    assert log.job_span == {0: 7, 1: None}
    s0, s1 = log.stages[(0, 0)], log.stages[(1, 0)]
    assert (s0.span, s0.tasks, s1.span, s1.tasks) == (7, 2, None, 1)
    assert s0.task_s == pytest.approx(3.0) and s0.cpu_s == pytest.approx(2.0)
    assert (s0.input_bytes, s0.output_bytes, s0.shuffle_write_bytes, s0.spill_bytes) == (20, 40, 60, 6)


def test_traced_replay_attributes_jobs_to_spans(tmp_path):
    """A few hundred pages over two destinations: the merge-pool threads'
    jobs land under laketable.merge spans, and each window's wall time is
    its own self time plus its descendants' self times."""
    from pyspark.sql import functions as F

    from debezium_server_batch_spark.session import build_session
    from debezium_server_batch_spark.sources.synth import generate_event_log, write_event_log
    from debezium_server_batch_spark.streaming.runner import CdcPipeline, PipelineConfig

    evdir = tmp_path / "eventlog"
    evdir.mkdir()
    spark = build_session(master="local[2]", shuffle_partitions=2, app_name="perfbench-test",
                          extra_conf={"spark.eventLog.enabled": "true",
                                      "spark.eventLog.dir": f"file://{evdir}",
                                      "spark.eventLog.compress": "false"})
    tracer = Tracer(on_switch=spark_switch(spark))
    inst = Instrumentation(tracer).install()
    try:
        with tracer.span("run"):
            events = generate_event_log(spark, n_pages=200, seed=3).withColumn(
                "destination", F.format_string("d%d", F.pmod(F.col("offset"), F.lit(2)))
            )
            write_event_log(events, str(tmp_path / "log"), n_files=2)
            cfg = PipelineConfig(log_path=str(tmp_path / "log"), table_root=str(tmp_path / "t"),
                                 batch_events=300, num_buckets=2, table_per_destination=True)
            stats = CdcPipeline(spark, cfg).run()
    finally:
        inst.uninstall()
        stop_session(spark)

    log = parse_event_log(str(evdir))
    m = layer_metrics(tracer, log)
    assert m["runner.windows"][0] == stats.batches > 1
    assert m["envelope.parse_calls"][0] == stats.batches  # grouped path every window
    assert m["laketable.merge_calls"][0] == 2 * stats.batches
    index = tracer.by_id()
    merges = [s for s in tracer.spans if s.name == "laketable.merge"]
    assert any(s.thread != threading.main_thread().ident for s in merges)  # ran on the merge pool
    for s in merges:
        assert any(a.name == "runner.window" for a in tracer.ancestors(s.id, index))
    merge_ids = {s.id for s in merges}
    merge_jobs = [j for j, sid in log.job_span.items() if sid in merge_ids]
    assert len(merge_jobs) >= len(merges)
    assert m["spark.merge_cpu_s"][0] > 0
    assert m["spark.jobs"][0] == sum(1 for sid in log.job_span.values() if sid in index)
    acct = window_accounting(tracer)
    assert acct["unaccounted_s"] == pytest.approx(0, abs=1e-9)
    assert acct["window_self_s"] == pytest.approx(m["runner.window_self_s"][0])
