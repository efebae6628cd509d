"""Shared helpers for the workload scripts: statistics, the result file,
the in-memory span tracer, Spark probes and the order-insensitive digest.

Every workload script is started by ``run.py`` in a fresh process whose
working directory is a fresh scratch directory inside the checkout, with
``PYTHONPATH`` pointing at the checkout root so the package imports.
"""

from __future__ import annotations

import functools
import hashlib
import json
import math
import os
import statistics
import sys
import threading
import time

PACKAGE = "custom_python_vectordb_spark"


def now() -> float:
    """CLOCK_MONOTONIC seconds: comparable across processes on one host."""
    return time.monotonic()


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else float("nan")


def pct(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    xs = sorted(xs)
    if not xs:
        return float("nan")
    return xs[min(len(xs) - 1, max(0, math.ceil(q / 100.0 * len(xs)) - 1))]


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def parse_args(argv=None):
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, required=True,
                    help="monotonic time at which the benchmark process started")
    ap.add_argument("--out", required=True, help="result JSON path")
    ap.add_argument("--toy", action="store_true", help="self-test size")
    ap.add_argument("--corrupt", default="",
                    help="self-test: deliberately break one check (digest, recall)")
    return ap.parse_args(argv)


def write_result(path: str, *, correct: bool, attempted: int, failed: int,
                 metrics: dict, detail: dict, spans_path: str | None = None) -> None:
    with open(path, "w") as fh:
        json.dump({"correct": bool(correct), "attempted": int(attempted),
                   "failed": int(failed), "metrics": metrics, "detail": detail,
                   "spans_path": spans_path}, fh)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def log(*a) -> None:
    print("[perfbench]", *a, file=sys.stderr, flush=True)


# -- tracing -----------------------------------------------------------------

class Tracer:
    """Spans (name, start, end, parent, request id) kept in memory and written
    out when the run ends. Wrappers are installed from the benchmark's side
    around the public entry points of the package's modules; ``enabled``
    switches recording off without uninstalling, so traced and untraced
    rounds can alternate inside one run."""

    def __init__(self) -> None:
        self.spans: list[tuple] = []  # (name, t0, t1, parent_idx, rid)
        self.enabled = True
        self._tls = threading.local()
        self._lock = threading.Lock()
        self.counts: dict[str, int] = {}

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def set_rid(self, rid) -> None:
        self._tls.rid = rid

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] = self.counts.get(name, 0) + n

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if not tracer.enabled:
                return fn(*a, **kw)
            with _Span(tracer, name):
                return fn(*a, **kw)

        return wrapper

    def install(self, owner, attr: str, name: str) -> None:
        """Wrap ``owner.attr`` (a module function or a class method)."""
        fn = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        setattr(owner, attr, self.wrap(name, fn))

    def install_everywhere(self, module, attr: str, name: str) -> None:
        """Wrap a module function and every package-module global bound to
        the same object (``from x import f`` copies the reference)."""
        orig = getattr(module, attr)
        w = self.wrap(name, orig)
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == PACKAGE or mname.startswith(PACKAGE + ".")):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    setattr(mod, k, w)

    def _record(self, name, t0, t1, parent, rid) -> int:
        with self._lock:
            self.spans.append((name, t0, t1, parent, rid))
            return len(self.spans) - 1

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, (n, t0, t1, p, rid) in enumerate(self.spans):
                fh.write(json.dumps({"i": i, "name": n, "start": t0, "end": t1,
                                     "parent": p, "rid": rid}) + "\n")


class _Span:
    __slots__ = ("tr", "name", "slot")

    def __init__(self, tracer: Tracer, name: str):
        self.tr, self.name = tracer, name

    def __enter__(self):
        st = self.tr._stack()
        # reserve the index now so children can point at their parent
        self.slot = self.tr._record(self.name, now(), None, st[-1] if st else None,
                                    getattr(self.tr._tls, "rid", None))
        st.append(self.slot)
        return self

    def __exit__(self, *exc):
        t1 = now()
        st = self.tr._stack()
        st.pop()
        with self.tr._lock:
            n, t0, _, p, rid = self.tr.spans[self.slot]
            self.tr.spans[self.slot] = (n, t0, t1, p, rid)
        return False


# -- Spark probes --------------------------------------------------------------

def install_py4j_counter(tracer: Tracer) -> None:
    """Count gateway round trips at ``GatewayClient.send_command``."""
    from py4j.java_gateway import GatewayClient

    orig = GatewayClient.send_command

    def send_command(self, *a, **kw):
        tracer.count("py4j.calls")
        return orig(self, *a, **kw)

    GatewayClient.send_command = send_command


def jvm_gc_ms(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def catalyst_phases(df) -> dict[str, float]:
    """analysis / optimization / planning ms from the QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()  # a Scala Map
    out = {}
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)  # an Option
        out[name] = float(ph.get().durationMs()) if ph.isDefined() else 0.0
    return out


def job_group_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            si = st.getStageInfo(s)
            stages += 1
            tasks += si.numTasks if si is not None else 0
    return len(jobs), stages, tasks


def spark_anchors(spark, n: int = 15) -> dict[str, float]:
    """Window anchors: py4j round trip and the floor of a trivial job."""
    jvm = spark.sparkContext._jvm
    rtt = []
    for _ in range(200):
        a = now()
        jvm.java.lang.System.nanoTime()
        rtt.append(now() - a)
    floor = []
    for _ in range(n):
        a = now()
        spark.range(1).collect()
        floor.append(now() - a)
    return {"py4j_rtt_us": median(rtt) * 1e6, "spark_job_floor_ms": median(floor) * 1e3}


# -- digests -------------------------------------------------------------------

def _norm(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def digest(columns, rows) -> str:
    """Row count + order-insensitive value hash: columns sorted by name,
    values canonicalized (floats to 6 significant digits), rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    canon = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(canon).encode()).hexdigest()[:16]
    return f"{len(rows)}:{h}"


def proc_cpu_s(pid: int) -> float:
    """utime + stime of a process, in seconds, from /proc."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def proc_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")
