"""Scaling-efficiency evidence (north_rule: N → 4N executors ≥ 0.8).

No real cluster in the sandbox, so per task instructions we run the SAME
replay job on the SAME input at local[8] and local[32] in separate JVMs
(fresh SparkSession each). The sandbox host is shared and noisy
(identical runs vary ~3×), so the protocol is noise-robust:

  * legs alternate 8, 32, 8, 32, ... (`--reps`, default 3 each)
  * the median throughput per parallelism level is reported
  * efficiency = (median32 / median8) / 4

Per-batch driver-side constants (Catalyst analysis + codegen per
micro-batch, snapshot fsync) are a serial fraction that vanishes as the
events-per-batch grows; use a workload ≥ 1M events for honest numbers.

Usage: python tools/scaling.py [n_pages=400000] [reps=3] [base_cores=8]
(levels measured are base_cores and 4*base_cores)
Writes tools/scaling_result.json.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def wait_for_jvm_teardown(timeout_s: float = 120.0) -> None:
    """A finished leg's JVM can keep burning CPU for tens of seconds
    after spark.stop() (shutdown hooks + large-heap teardown), polluting
    the next leg's measurement. Block until no java survives."""
    import time

    t0 = time.monotonic()
    while time.monotonic() - t0 < timeout_s:
        out = subprocess.run(["pgrep", "-c", "java"], capture_output=True, text=True)
        if out.stdout.strip() in ("", "0"):
            return
        time.sleep(1.0)


def run_leg(cores: int, log_path: str, workdir: str, batch_events: int) -> dict:
    wait_for_jvm_teardown()
    table = os.path.join(workdir, f"pages-{cores}")
    shutil.rmtree(table, ignore_errors=True)
    # Shuffle + table I/O on tmpfs: a real N→4N *executor* scale-up adds
    # local disks with the nodes, so aggregate storage bandwidth scales
    # with the cluster. The sandbox's single shared block device does
    # not — measuring through it benchmarks the device, not the engine.
    # RAM-backed local dirs emulate per-node storage that scales.
    # local[N] caps task threads but not the JVM's GC threads, so a
    # low-N leg would borrow extra parallelism and skew the N→4N
    # comparison; pin GC to the leg's width.
    gc = f"-XX:ParallelGCThreads={cores} -XX:ConcGCThreads={max(1, cores // 4)}"
    env = {
        **os.environ,
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "JAVA_TOOL_OPTIONS": f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} {gc}".strip(),
    }
    cmd = [
        sys.executable, os.path.join(REPO, "run_pipeline.py"),
        "--master", f"local[{cores}]",
        "--shuffle-partitions", str(cores),
        "replay",
        "--log", log_path,
        "--table", table,
        "--batch-events", str(batch_events),
        "--buckets", "32",
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO, check=True, env=env)
    line = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    base = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    quad = base * 4
    batch_events = 2 * n_pages  # ≈ half the events → 2 balanced micro-batches per leg
    workdir = tempfile.mkdtemp(prefix="dsbs-scaling-", dir="/dev/shm")
    log_path = f"/tmp/dsbs-scaling-log-{n_pages}"
    try:
        if not os.path.isdir(log_path):
            gen = subprocess.run(
                [
                    sys.executable, os.path.join(REPO, "run_pipeline.py"),
                    "--master", "local[32]", "generate",
                    "--out", log_path, "--pages", str(n_pages),
                    "--hot-pages", str(max(n_pages // 1000, 2)), "--hot-k", "64",
                ],
                capture_output=True, text=True, cwd=REPO, check=True,
            )
            print("generate:", gen.stdout.strip().splitlines()[-1], flush=True)

        # hardware-delivery control: pure codegen loop at both levels
        hw = {}
        for cores in (base, quad):
            wait_for_jvm_teardown()
            out = subprocess.run(
                [sys.executable, os.path.join(REPO, "tools", "hardware_probe.py"), str(cores)],
                capture_output=True, text=True, cwd=REPO, check=True,
            )
            hw[cores] = json.loads(out.stdout.strip().splitlines()[-1])
            print(f"hw-probe local[{cores}]: {hw[cores]}", flush=True)
        hw_speedup = hw[quad]["rows_per_sec"] / hw[base]["rows_per_sec"]

        legs: dict[int, list[dict]] = {base: [], quad: []}
        for i in range(reps):
            for cores in (base, quad):
                r = run_leg(cores, log_path, workdir, batch_events)
                legs[cores].append(r)
                print(f"rep{i} local[{cores}]: {r}", flush=True)

        med8 = statistics.median(r["events_per_sec"] for r in legs[base])
        med32 = statistics.median(r["events_per_sec"] for r in legs[quad])
        speedup = med32 / med8
        result = {
            "n_pages": n_pages,
            "events": legs[8][0]["events"],
            "batches": legs[8][0]["batches"],
            "reps": reps,
            "base_cores": base,
            "quad_cores": quad,
            "base_events_per_sec_runs": [r["events_per_sec"] for r in legs[base]],
            "quad_events_per_sec_runs": [r["events_per_sec"] for r in legs[quad]],
            "base_events_per_sec": med8,
            "quad_events_per_sec": med32,
            "speedup_n_to_4n": round(speedup, 3),
            "scaling_efficiency": round(speedup / 4.0, 3),
            "hw_codegen_speedup_n_to_4n": round(hw_speedup, 3),
            "hw_delivered_cpu_ratio": round(hw_speedup / 4.0, 3),
            "efficiency_vs_delivered_hw": round(speedup / hw_speedup, 3),
        }
        print(json.dumps(result))
        with open(os.path.join(REPO, "tools", "scaling_result.json"), "w") as fh:
            json.dump(result, fh, indent=2)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
