"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Starts the workload script in a fresh
process with a pinned environment and a fresh scratch directory under
``.perfbench_tmp/`` (Spark warehouse and local dirs, generated inputs,
index caches, temp files all land there and are deleted afterwards),
checks its outputs, and prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it carries workload-specific diagnostics. Exits non-zero, printing
no result, when the workload fails or the package cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = {"batch_queries": "batch_queries.py", "serve_ann": "serve_ann.py"}
TIMEOUT_S = 170
END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "p50_ms": "ms"}


def pinned_env(work: str, root: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    mem_kb = int(next(line.split()[1] for line in open("/proc/meminfo")
                      if line.startswith("MemTotal:")))
    # a quarter of the box, at most 4 GiB: the Spark JVM holds only small
    # generated tables
    jvm_mem_mb = max(1024, min(4096, mem_kb // 1024 // 4))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{jvm_mem_mb}m",
        "OPENBLAS_NUM_THREADS": "1", "OMP_NUM_THREADS": "1", "MKL_NUM_THREADS": "1",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # -XX:-UsePerfData: the JVM's perf-data file would go to /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": root + os.pathsep + HERE,
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONHASHSEED": "0",
    })
    return env


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


def stop_group(pgid: int) -> None:
    """Terminate every process the workload started and wait until gone."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while _group_alive(pgid) and time.monotonic() < deadline:
            time.sleep(0.05)


def run_workload(name: str, seed: int, seconds: float, trace: int, extra=()) -> dict | None:
    """Run one workload in a fresh process; return its result dict, or None
    when it failed."""
    t0 = time.monotonic()
    root = os.getcwd()
    work = os.path.join(root, ".perfbench_tmp", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, WORKLOADS[name]), "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--t0", repr(t0),
           "--out", out, *extra]
    proc = subprocess.Popen(cmd, cwd=work, env=pinned_env(work, root),
                            stdout=sys.stderr, start_new_session=True)
    result = None
    try:
        try:
            rc = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"[perfbench] {name} timed out after {TIMEOUT_S} s", file=sys.stderr)
            rc = None
        finally:
            stop_group(proc.pid)
            if proc.poll() is None:
                proc.wait()
        if rc == 0 and os.path.exists(out):
            with open(out) as fh:
                result = json.load(fh)
            sp = result.get("spans_path")
            if sp and os.path.exists(sp):
                keep = os.path.join(root, ".perfbench_out")
                os.makedirs(keep, exist_ok=True)
                shutil.copy(sp, os.path.join(keep, f"spans-{name}-seed{seed}.jsonl"))
        elif rc is not None:
            print(f"[perfbench] {name} exited with {rc}", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        tmp_root = os.path.join(root, ".perfbench_tmp")
        if os.path.isdir(tmp_root) and not os.listdir(tmp_root):
            os.rmdir(tmp_root)
    return result


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    def terminated(*_):
        raise SystemExit(1)  # unwinds through run_workload's clean-up

    signal.signal(signal.SIGTERM, terminated)
    result = run_workload(args.workload, args.seed, args.seconds, args.trace)
    if result is None:
        return 1
    metrics = result["metrics"]
    if args.trace == 0 and {k: v["unit"] for k, v in metrics.items()} != END_TO_END:
        print(f"[perfbench] metric set mismatch: {sorted(metrics)}", file=sys.stderr)
        return 1
    detail = result["detail"]
    if args.trace:
        from layers import LAYER_METRICS

        # which workload each per-layer metric belongs to and which
        # end-to-end metric it should move
        detail["layer_tags"] = {name: {"workload": wl, "moves": moves}
                                for name, _, _, wl, moves in LAYER_METRICS}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": detail}))
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
