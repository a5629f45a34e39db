"""Shared machinery of the benchmark: the run context (work dir, box,
Spark session), in-memory tracing, percentile helpers, Spark event-log
accounting and the box calibrations.

Everything the benchmark writes lives under the checkout it runs from:
`.perfbench_work/` (scratch, removed at exit) and `.perfbench_out/`
(trace files of `--trace 1` runs, kept).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict

WORK_DIR = ".perfbench_work"
OUT_DIR = ".perfbench_out"


class BenchError(RuntimeError):
    """The run cannot start: bad arguments, an oversubscribed box, or no
    engine package beside the benchmark. It exits 2 with no result."""


# ------------------------------------------------------------ statistics

def pct(values, q: float) -> float:
    """q-th percentile (0..100) by linear interpolation between order
    statistics (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_pct(n: int) -> int:
    """Highest of p99/p90/p50 with at least ten samples beyond it."""
    for q in (99, 90):
        if n * (100 - q) / 100.0 >= 10:
            return q
    return 50


def median(values) -> float:
    return statistics.median(values) if values else 0.0


# --------------------------------------------------------------- tracing

class Tracer:
    """In-memory spans: (name, start, end, parent, request id). Off by
    default; `span` is then a shared no-op context so untraced runs pay
    one attribute test per call site. Parent and request id propagate
    through a thread-local stack, so the spans of one `search_files`
    call share the request id its outer span was given."""

    _NOOP = contextlib.nullcontext()

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[tuple] = []  # (id, parent, name, t0, t1, req)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0

    def span(self, name: str, req: int | None = None):
        if not self.enabled:
            return self._NOOP
        return self._span(name, req)

    @contextlib.contextmanager
    def _span(self, name: str, req: int | None):
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        parent = stack[-1] if stack else None
        if req is None and parent is not None:
            req = parent[1]
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        stack.append((sid, req))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, parent[0] if parent else None, name, t0, t1, req))

    @contextlib.contextmanager
    def paused(self):
        """Record nothing inside (set-up passes and gate checks)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace owner.attr (an instance's bound method or a module's
        function) with a spanned call of the original."""
        fn = getattr(owner, attr)

        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, spanned)

    def durations(self, name: str) -> list[float]:
        """Inclusive seconds of every span called `name`."""
        return [t1 - t0 for _, _, n, t0, t1, _ in self.spans if n == name]

    def self_times(self) -> dict[str, dict]:
        """Per span name: calls, inclusive seconds and self seconds
        (inclusive minus the time its direct children cover)."""
        child_s: dict[int, float] = defaultdict(float)
        for _, parent, _, t0, t1, _ in self.spans:
            if parent is not None:
                child_s[parent] += t1 - t0
        out: dict[str, dict] = {}
        for sid, _, name, t0, t1, _ in self.spans:
            e = out.setdefault(name, {"calls": 0, "incl_s": 0.0, "self_s": 0.0})
            e["calls"] += 1
            e["incl_s"] += t1 - t0
            e["self_s"] += (t1 - t0) - child_s.get(sid, 0.0)
        return out

    def dump(self) -> list[dict]:
        return [{"id": s, "parent": p, "name": n, "start": a, "end": b, "req": r}
                for s, p, n, a, b, r in self.spans]


# ------------------------------------------------------------ box checks

def _burn(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


def calibrate() -> dict:
    """Same-run calibrations: single-thread CPU burn rate (Python loop
    iterations per µs, best of 3) and memcpy bandwidth (numpy copy of a
    64 MiB buffer, best of 5, GB/s counted as bytes read + written)."""
    import numpy as np

    n = 500_000
    best = min(_timed(lambda: _burn(n)) for _ in range(3))
    src = np.ones(64 << 20, dtype=np.uint8)
    dst = np.empty_like(src)
    bw = min(_timed(lambda: np.copyto(dst, src)) for _ in range(5))
    return {"cpu_mops": n / best / 1e6, "membw_gbps": 2 * src.nbytes / bw / 1e9}


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ------------------------------------------------------------ run context

class Ctx:
    """One benchmark run: arguments, box, work dir, tracer, Spark."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 trace: bool, cores: int, clients: int):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.cores, self.clients = cores, clients
        self.work = os.path.join(root, WORK_DIR)
        self.tracer = Tracer(enabled=trace)
        self.trace = trace
        self.spark = None
        self._gateway_proc = None
        self.attempted = 0
        self.failed = 0
        self.named: dict[str, tuple[float, str]] = {}  # human-facing metrics
        self.layer: dict[str, float] = {}  # per-layer metrics (traced run)
        self.notes: dict = {}  # extra facts for the trace file
        self.mismatches: list[str] = []  # correctness-gate failures
        self.t_start = time.perf_counter()

    def log(self, msg: str) -> None:
        """Progress line on stderr, stamped with seconds since start."""
        print(f"perfbench {time.perf_counter() - self.t_start:7.2f}s {msg}",
              file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def prepare(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.path("tmp"))
        os.environ["TMPDIR"] = self.path("tmp")

    def mismatch(self, msg: str) -> None:
        """A correctness-gate failure: the run goes on, reports
        `correct: false` and exits non-zero."""
        print(f"perfbench: correctness gate failed: {msg}", file=sys.stderr, flush=True)
        self.mismatches.append(msg)

    def record(self, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1

    # ----------------------------------------------------------- spark
    def start_spark(self):
        """local[cores] Spark with every scratch path under the work dir;
        the traced run also writes Spark's event log there."""
        os.environ["SPARK_WAREHOUSE_DIR"] = self.path("warehouse")
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        tmp = self.path("tmp")
        conf = {
            "spark.local.dir": self.path("spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.trace:
            os.makedirs(self.path("events"), exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.path("events")
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        conf["spark.ui.showConsoleProgress"] = "false"
        from mantic_sh_spark.session import get_spark

        self.log("spark: starting")
        self.spark = get_spark(cores=self.cores, app_name=f"perfbench-{self.workload}",
                               extra_conf=conf)
        self._gateway_proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        self.log("spark: started")
        return self.spark

    @contextlib.contextmanager
    def job_group(self, name: str):
        """Tag Spark jobs started inside with `name` (event-log attribution)."""
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def stop_spark(self) -> None:
        """Stop the session and wait for its JVM (and with it the Python
        workers it forked) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            with contextlib.suppress(Exception):
                gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        proc = self._gateway_proc
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        self.spark = None
        self._gateway_proc = None
        self.log("spark: stopped")

    # ----------------------------------------------------------- output
    def event_log_totals(self) -> dict[str, dict[str, float]]:
        """Task metrics summed per job group from Spark's event log."""
        if not self.trace:
            return {}
        files = [os.path.join(dp, f) for dp, _, fns in os.walk(self.path("events"))
                 for f in fns if not f.startswith(("appstatus", "."))]
        return event_log_totals(files)

    def close(self) -> None:
        self.stop_spark()
        shutil.rmtree(self.work, ignore_errors=True)


def event_log_totals(files: list[str]) -> dict[str, dict[str, float]]:
    """Sum task metrics of a Spark JSON event log by the job group of the
    stage's job: shuffle bytes written/read, bytes spilled, executor CPU
    seconds and JVM GC seconds."""
    stage_group: dict[int, str] = {}
    tot: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for fn in files:
        with open(fn) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "other"
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    g = tot[stage_group.get(ev.get("Stage ID"), "other")]
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    g["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
                    g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["tasks"] += 1
    return {k: dict(v) for k, v in tot.items()}


def dir_files(path: str) -> dict[str, tuple[int, int]]:
    """relative path → (size, mtime_ns) of every file under path."""
    out = {}
    for dp, _, fns in os.walk(path):
        for fn in fns:
            p = os.path.join(dp, fn)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of files that are new or changed between two dir_files views."""
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))
