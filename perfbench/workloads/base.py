"""Shared workload plumbing: operation accounting, the closed loop and
the metric helpers every workload reports through."""

from __future__ import annotations

import threading
import time
import traceback
from dataclasses import dataclass

import harness


@dataclass
class Ctx:
    spark: object
    seed: int
    tracer: harness.Tracer
    scratch: harness.Scratch
    smoke: bool
    pids: tuple  # the driver JVM and this process


class Workload:
    """One workload. Subclasses implement ``setup``, ``warmup``, ``step``
    (closed loop) or ``run`` (their own loop), ``verify`` and the quality
    and storage figures. Latencies land in four lists (milliseconds):

    - ``query_ms``: time the engine spends on a read (dashboard query,
      freshness read, search, decision read-back);
    - ``write_ms``: writes (ingest + merge, append, dedup batch);
    - ``step_ms``: one iteration of the client loop as its user waits
      for it (for open loops: from when the request was due);
    - ``fresh_ms``: from a batch being handed to the engine until a read
      shows it (write workloads only);
    - ``cpu_ms``: CPU time the driver JVM and this process used during
      each step's engine calls (input generation and answer checking
      excluded).
    """

    name = ""
    loop = "closed, 1 client"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.query_ms: list[float] = []
        self.write_ms: list[float] = []
        self.step_ms: list[float] = []
        self.fresh_ms: list[float] = []
        self.cpu_ms: list[float] = []
        self.rows_in = 0
        self.attempted = 0
        self.failed_ops: set = set()
        self.errors: list[str] = []
        self._op = 0
        self._fail_lock = threading.Lock()  # clients may fail ops concurrently

    # -- accounting -------------------------------------------------------
    def new_op(self) -> int:
        self._op += 1
        self.attempted += 1
        return self._op

    def fail(self, op, why: str) -> None:
        with self._fail_lock:
            self.failed_ops.add(op)
            if len(self.errors) < 20:
                self.errors.append(f"op {op}: {why}")

    def guarded(self, op, fn):
        """Run ``fn``; an exception fails ``op`` and returns None."""
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 - a failed op is a measurement
            self.fail(op, "".join(traceback.format_exception_only(exc)).strip()[:300])
            return None

    def cpu_s(self) -> float:
        """CPU seconds the driver JVM and this process have used so far."""
        return sum(map(harness.process_cpu_s, self.ctx.pids))

    @property
    def failed(self) -> int:
        return len(self.failed_ops)

    # -- loop -------------------------------------------------------------
    def run(self, seconds: float) -> float:
        """Closed loop: the next step starts when the previous one ends;
        steps are started until ``seconds`` have passed."""
        t0 = time.perf_counter()
        i = 0
        while time.perf_counter() - t0 < seconds:
            self.step(i)
            i += 1
        return time.perf_counter() - t0

    def step(self, i: int) -> None:
        raise NotImplementedError

    # -- figures ------------------------------------------------------------
    def recall(self) -> float:
        """Share of the expected answer the engine returned."""
        return 1.0

    def store_ratio(self) -> float:
        raise NotImplementedError

    def extra(self, elapsed: float) -> dict[str, tuple[float, str]]:
        """Workload-specific figures, printed beside the end-to-end ones."""
        return {}

    def layer_counts(self) -> None:
        """Add per-layer counters the spans do not give (traced runs)."""


def input_bytes(df) -> int:
    """In-memory size of a generated input batch."""
    return int(df.memory_usage(index=False, deep=True).sum())
