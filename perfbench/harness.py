"""Host pinning, scratch space, statistics and tracing for the benchmark.

Everything here measures the engine from outside: the tracer wraps calls
into the package's public functions, counts the Spark work each call
caused through the public ``statusTracker`` (plus the status store for
shuffle bytes), and diffs on-disk store listings around write calls.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

SCRATCH_PARENT = ".perfbench_scratch"
TRACE_DIR = ".perfbench_traces"
DRIVER_HEAP = "2g"

# *_tail_* metrics: the highest percentile with at least TAIL_BEYOND
# samples above it
TAIL_BEYOND = 10


def host_cores() -> int:
    """Cores this process may run on (what ``nproc`` prints without an
    ``OMP_NUM_THREADS`` override)."""
    return len(os.sched_getaffinity(0))


# --------------------------------------------------------------------------
# scratch root
# --------------------------------------------------------------------------
def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


class Scratch:
    """One scratch root per run under ``<checkout>/.perfbench_scratch``.

    Every file the run (Python, the driver JVM, its Python workers)
    writes goes below it: Spark local dirs, ``TMPDIR``,
    ``java.io.tmpdir``, the SQL warehouse and all stores. Roots left by
    runs that died are removed on start; the own root is removed on
    close and its absence is checked."""

    def __init__(self, checkout: str, tag: str):
        self.parent = os.path.join(checkout, SCRATCH_PARENT)
        os.makedirs(self.parent, exist_ok=True)
        self.reclaimed_bytes = 0
        for name in os.listdir(self.parent):
            pid = name.split("-", 1)[0]
            if pid.isdigit() and not _pid_alive(int(pid)):
                stale = os.path.join(self.parent, name)
                self.reclaimed_bytes += tree_bytes(stale)
                shutil.rmtree(stale, ignore_errors=True)
        self.root = os.path.join(self.parent, f"{os.getpid()}-{tag}")
        os.makedirs(self.root)

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def close(self) -> int:
        """Delete the root; return the bytes that could not be deleted."""
        shutil.rmtree(self.root, ignore_errors=True)
        leaked = tree_bytes(self.root) if os.path.exists(self.root) else 0
        if not os.listdir(self.parent):
            os.rmdir(self.parent)
        return leaked


def pin_host_env(scratch: Scratch) -> dict[str, str]:
    """Environment the engine's ``get_spark`` reads, plus the temp dirs.
    Must run before the JVM starts."""
    env = {
        "SPARK_GRAFT_CPUS": str(host_cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
        "SPARK_LOCAL_DIRS": scratch.path("spark-local"),
        "TMPDIR": scratch.path("tmp"),
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    os.environ.pop("OMP_NUM_THREADS", None)
    return env


def session_conf(scratch: Scratch) -> dict[str, str]:
    """Extra confs for ``get_spark``: keep every JVM-side file inside the
    scratch root and silence the console progress bar."""
    return {
        "spark.sql.warehouse.dir": scratch.path("warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={scratch.path('tmp')} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


# --------------------------------------------------------------------------
# files and memory
# --------------------------------------------------------------------------
def listing(root: str) -> dict[str, tuple[int, int]]:
    """relative path → (size, mtime_ns) of every file below ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def listing_diff(before: dict, after: dict) -> tuple[int, int, int]:
    """(top-level dirs touched, files added or rewritten, bytes of them)."""
    changed = [p for p, v in after.items() if before.get(p) != v]
    removed = [p for p in before if p not in after]
    top = {p.split(os.sep, 1)[0] for p in changed + removed if os.sep in p}
    return len(top), len(changed), sum(after[p][0] for p in changed)


def tree_bytes(root: str) -> int:
    return sum(v[0] for v in listing(root).values())


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def process_cpu_s(pid: int) -> float:
    """User + system CPU seconds a process has used."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    return (_vm_hwm_kb(jvm_pid(spark)) + _vm_hwm_kb(os.getpid())) / 1024.0


def cpu_times() -> tuple[int, int]:
    """(all, steal) CPU jiffies of the host since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------
def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> float:
    """Highest percentile with at least TAIL_BEYOND of ``n`` samples
    beyond it. Below 2 × TAIL_BEYOND samples that would fall under the
    median, and the median is reported instead (a maximum of few samples
    swings with every outlier)."""
    return max(50.0, 100.0 * (1.0 - TAIL_BEYOND / n)) if n else 50.0


def median(values) -> float:
    return percentile(values, 50.0)


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------
class Tracer:
    """In-memory spans around layer calls, with Spark work counted per
    call. A disabled tracer records nothing (no job groups, no status
    queries, no listings), which is what the untraced run measures.

    ``span(name, op, spark_layer)`` records (name, start, end, parent,
    op id). When ``spark_layer`` is given, the call runs under its own
    job group and the jobs, stages, tasks, failed tasks and shuffle
    bytes it caused are added to ``counts`` under that layer name. Jobs
    a call submits from its own worker threads carry no group; they are
    picked up as the ungrouped jobs that appeared during the call, unless
    another counted call ran at the same time (then only the call's own
    group is counted). Spans nest per client thread."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, list[float]] = defaultdict(list)
        self.overhead_s = 0.0
        self._local = threading.local()  # per-thread span stack
        self._lock = threading.Lock()
        self._seq = 0
        self._inflight: dict[str, bool] = {}  # counted call's group → overlapped

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: int, spark_layer: str | None = None):
        if not self.enabled:
            yield None
            return
        t_book = time.perf_counter()
        stack = self._stack()
        with self._lock:
            self._seq += 1
            seq = self._seq
        group = f"pb-{seq}"
        before = None
        if spark_layer is not None:
            sc = self.spark.sparkContext
            before = set(sc.statusTracker().getJobIdsForGroup(None))
            with self._lock:
                overlapped = bool(self._inflight)
                for g in self._inflight:
                    self._inflight[g] = True
                self._inflight[group] = overlapped
            sc.setJobGroup(group, name)
        rec = {
            "id": seq,
            "name": name,
            "op": op,
            "parent": stack[-1]["id"] if stack else None,
        }
        stack.append(rec)
        self._add_overhead(time.perf_counter() - t_book)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            t_book = time.perf_counter()
            stack.pop()
            self.spans.append(rec)
            if spark_layer is not None:
                with self._lock:
                    overlapped = self._inflight.pop(group)
                self._count_spark(group, None if overlapped else before, spark_layer)
            self._add_overhead(time.perf_counter() - t_book)

    def _add_overhead(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s += seconds

    def count(self, name: str, value: float) -> None:
        with self._lock:
            self.counts[name].append(value)

    @contextmanager
    def bookkeeping(self):
        """Time spent here is tracing work (e.g. store listings) and is
        added to the tracing overhead."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self._add_overhead(time.perf_counter() - t)

    def _count_spark(self, group: str, before: set | None, layer: str) -> None:
        """``before``: ungrouped jobs at the call's start, or None when
        ungrouped jobs cannot be attributed (an overlapping call)."""
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        tracker = sc.statusTracker()
        jobs = set(tracker.getJobIdsForGroup(group))
        if before is not None:
            jobs |= set(tracker.getJobIdsForGroup(None)) - before
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = failed = 0
        ran = []
        for s in stages:
            info = tracker.getStageInfo(s)
            if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
                continue  # skipped (reused shuffle output) or never ran
            ran.append(s)
            tasks += info.numCompletedTasks
            failed += info.numFailedTasks
        self.count(f"spark.jobs_per_call.{layer}", len(jobs))
        self.count(f"spark.stages_per_call.{layer}", len(ran))
        self.count(f"spark.tasks_per_call.{layer}", tasks)
        self.count(f"spark.failed_tasks.{layer}", failed)
        self.count(f"spark.shuffle_bytes_per_call.{layer}", self._shuffle_bytes(ran))

    def _shuffle_bytes(self, stages) -> float:
        """Shuffle bytes written by ``stages``, from the status store (the
        public tracker does not carry them)."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        empty = gw.new_array(gw.jvm.double, 0)
        total = 0
        for s in stages:
            it = store.stageData(s, False, gw.jvm.java.util.ArrayList(), False, empty).iterator()
            while it.hasNext():
                total += it.next().shuffleWriteBytes()
        return float(total)

    def self_times_ms(self) -> dict[str, list[float]]:
        """Per span name: duration minus the time its children cover."""
        child_ms = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] += (s["end"] - s["start"]) * 1000
        out = defaultdict(list)
        for s in self.spans:
            dur = (s["end"] - s["start"]) * 1000
            out[s["name"]].append(max(0.0, dur - child_ms[s["id"]]))
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
