"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Run from the repository root. The engine runs in this process on a
local[N] SparkSession (N = usable cores unless --cores says otherwise),
driven on a closed loop: one operation at a time, each waiting for the
previous one. --trace 0 prints the end-to-end metrics; --trace 1 wraps the
engine's public functions in spans, records a Spark event log, and prints
the per-layer metrics instead. The last stdout line is the result; the
same result, with details, is written under .perfbench_results/.
See perfbench/NOTES.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import resource
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = ("debezium_server_batch_spark", "__spark_entry__.py")
HEAP = "1g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=20,
                   help="nominal measured length; the workloads are fixed-size")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                   help="local[N] parallelism (default: usable cores)")
    return p.parse_args(argv)


def java_pids() -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/comm") as fh:
                    if fh.read().strip() == "java":
                        out.append(int(d))
            except OSError:
                pass
    return out


def wait_for_quiet_jvms(timeout_s: float = 20.0) -> dict:
    """A JVM lingering from an earlier run burns CPU; wait for it to exit."""
    t0 = time.monotonic()
    while java_pids() and time.monotonic() - t0 < timeout_s:
        time.sleep(0.5)
    return {"wait_s": time.monotonic() - t0, "left": len(java_pids())}


def source_digest() -> str:
    h = hashlib.sha256()
    for top in ENGINE:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".py")
        )
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                           timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


class Run:
    """State of one benchmark run, handed to the workload."""

    def __init__(self, args, workdir: str):
        from perfbench.spans import Tracer

        self.seed = args.seed
        self.cores = args.cores
        self.workdir = workdir
        self.trace = bool(args.trace)
        self.tracer = Tracer() if self.trace else None
        self.spark = None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def start_session(self):
        from debezium_server_batch_spark.session import build_session

        conf = {
            "spark.local.dir": os.path.join(self.workdir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.workdir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.workdir}/tmp",
        }
        if self.trace:
            os.makedirs(os.path.join(self.workdir, "eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.workdir, "eventlog"),
                "spark.eventLog.compress": "false",
            })
        with self.span("session.build"):
            self.spark = build_session(master=f"local[{self.cores}]", shuffle_partitions=self.cores,
                                       app_name="perfbench", extra_conf=conf)
        if self.tracer:
            from perfbench.layers import spark_switch

            self.tracer.on_switch = spark_switch(self.spark)

def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit (it leaves on stdin EOF)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb() -> float:
    """Peak RSS of this process plus its largest reaped child (the JVM)."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    kb += resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    return kb / 1024.0


def steal_s() -> float:
    """CPU time the hypervisor has stolen from all vCPUs since boot."""
    from perfbench.workloads import CLK_TCK

    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / CLK_TCK


def measure(run: Run, wl) -> tuple[float, float, dict]:
    """Set up and run the workload; returns (setup_s, wall_s, its output).
    In a traced run the engine is instrumented only inside this window."""
    from perfbench.layers import Instrumentation
    from perfbench.workloads import cpu_seconds

    inst = Instrumentation(run.tracer) if run.trace else None
    try:
        t0, c0, s0 = time.perf_counter(), cpu_seconds(), steal_s()
        with run.span("run"):
            run.start_session()
            if inst is not None:
                inst.install()
            wl.setup()
            setup_s = time.perf_counter() - t0
            setup_cpu_s = cpu_seconds() - c0
            out = wl.work()
        out["setup_cpu_s"] = setup_cpu_s
        out["host_steal_s"] = steal_s() - s0
        return setup_s, time.perf_counter() - t0, out
    finally:
        if inst is not None:
            inst.uninstall()


def declared(measured: dict, section: str) -> dict:
    """The metrics BENCHMARK.json declares for this mode, in its order and
    units. A declared per-layer figure the workload does not produce
    reads 0; undeclared figures stay in the result file's details."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)[section]
    out = {}
    for m in spec:
        if m["name"] in measured:
            out[m["name"]] = (measured[m["name"]][0], m["unit"])
        elif section == "per_layer":
            out[m["name"]] = (0, m["unit"])
        else:
            raise KeyError(f"end-to-end metric {m['name']!r} was not measured")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in ENGINE if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import layers, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    workdir = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    # everything the run writes stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cores)
    # a fixed heap well inside the box's memory keeps GC and RSS comparable
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    quiet = wait_for_quiet_jvms()

    run = Run(args, workdir)
    wl = workloads.WORKLOADS[args.workload](run)
    try:
        try:
            setup_s, wall_s, out = measure(run, wl)
            checks = wl.check(out)
            spark_version = run.spark.version
        finally:
            if run.spark is not None:
                stop_session(run.spark)
        e2e = {
            "setup_s": (out["setup_cpu_s"], "s"),
            "cpu_s": (out["cpu_s"], "s"),
            "rate_per_cpu_s": (out["rate_per_cpu_s"], "1/s"),
            "op_cpu_s_geomean": (workloads.geomean(out["ops_cpu"]), "s"),
            "peak_rss_mb": (peak_rss_mb(), "MB"),
        }
        details = workloads.details(out)
        details["end_to_end"] = {n: v for n, (v, _) in e2e.items()}
        details["wall_clock"] = {
            "setup_s": setup_s, "wall_s": wall_s, "work_s": out["work_s"],
            "rate_per_s": out["rate_per_s"], "step_s_geomean": workloads.geomean(out["steps"]),
        }
        if run.trace:
            from perfbench.spans import parse_event_log

            log = parse_event_log(os.path.join(workdir, "eventlog"))
            metrics = layers.layer_metrics(run.tracer, log)
            metrics.update(workloads.traced_extras(out, wall_s))
            details["window_accounting"] = layers.window_accounting(run.tracer)
        else:
            metrics = e2e
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    metrics = declared(metrics, "per_layer" if run.trace else "end_to_end")

    failed = [name for name, ok in checks if not ok]
    result = {
        "correct": not failed,
        "attempted": len(checks),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    report = {
        "result": result,
        "failed_checks": failed,
        "details": details,
        "env": {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "cores": args.cores,
            "nproc": len(os.sched_getaffinity(0)), "spark_version": spark_version,
            "python": sys.version.split()[0], "git_sha": git_sha(),
            "source_digest": source_digest(), "stray_jvm": quiet,
        },
    }
    os.makedirs(workloads.RESULTS_DIR, exist_ok=True)
    with open(os.path.join(workloads.RESULTS_DIR, f"{tag}.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
