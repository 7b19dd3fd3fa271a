"""ingest_maintain: one writer streams GOES batches into a time-partitioned
datasource and event batches into the rollup store, reads each batch's
day back, and applies retention. Loads ``ingest`` and the rollup write
path."""

from __future__ import annotations

import os
import time
from collections import defaultdict

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import harness
import loadgen
import oracle
from workloads.base import Workload, input_bytes

from data_pipeline_with_big_data_stack_spark import ingest
from data_pipeline_with_big_data_stack_spark.operators import rollup_maintenance as RM
from data_pipeline_with_big_data_stack_spark.schemas import GOES_SATELLITE

HISTORY_DAYS = 14
RETENTION_DAYS = 10  # expire_partitions keeps this many days
EXPIRE_EVERY = 4  # steps
DAY_EVERY = 3  # steps per "current" day
LATE_EVERY = 4  # one batch in every 4 lands 1..6 days in the past
WARM_STEPS = 3


class IngestMaintain(Workload):
    name = "ingest_maintain"

    def setup(self) -> None:
        smoke = self.ctx.smoke
        self.n_goes = 200 if smoke else 2_000
        self.n_events = 500 if smoke else 5_000
        self.r = loadgen.rng(self.ctx.seed, self.name)
        history = loadgen.events(self.r, (300 if smoke else 1_500) * HISTORY_DAYS, 0, HISTORY_DAYS)
        self.input_total = input_bytes(history)
        # the cumulative per-(day, event_type) state the store must serve:
        # [n, sum micros, min micros, max micros]
        self.want = defaultdict(lambda: [0, 0, None, None])
        self._absorb(history)
        self.store = self.ctx.scratch.path("rollup")
        self.goes_path = self.ctx.scratch.path("goes")
        RM.build_rollup(self._events_df(history), self.store)
        self.goes_rows = defaultdict(int)  # day → rows written
        self.goes_ops = defaultdict(list)  # day → measured ops that wrote it
        self.today = HISTORY_DAYS
        self.served: list[tuple] = []
        self.step_no = 0
        self._next = None  # the next step's prepared inputs

    def warmup(self) -> None:
        """Step latency settles over the first few batches (code
        generation and JIT); measure after it has."""
        for _ in range(WARM_STEPS):
            self._step(check=False)
        if self.failed_ops:
            raise RuntimeError(f"warm-up failed: {self.errors}")

    def _events_df(self, pdf):
        return (self.spark.createDataFrame(pdf)
                .withColumn("ts", F.timestamp_seconds("timestamp")).drop("timestamp"))

    def _absorb(self, pdf) -> None:
        days = (pdf["timestamp"].to_numpy() - loadgen.EPOCH0) // loadgen.DAY_S
        micros = (pdf["value"].to_numpy() * 100).round().astype("int64") * 10_000
        for d, et, m in zip(days.tolist(), pdf["event_type"].tolist(), micros.tolist()):
            s = self.want[(d, et)]
            s[0] += 1
            s[1] += m
            s[2] = m if s[2] is None else min(s[2], m)
            s[3] = m if s[3] is None else max(s[3], m)

    def _expected_day(self, day: int) -> list[tuple]:
        start = loadgen.day_date(day).isoformat() + " 00:00:00"
        return sorted(
            (start, et, n, oracle.round4_units(m), oracle.round4_units(m, n),
             oracle.round4_units(lo), oracle.round4_units(hi))
            for (d, et), (n, m, lo, hi) in self.want.items() if d == day and n
        )

    def step(self, i: int) -> None:
        self._step(check=True)

    def _prepare(self) -> dict:
        """The next step's inputs, generated and converted to Spark frames
        before its clock starts."""
        i = self.step_no
        self.step_no += 1
        if i and i % DAY_EVERY == 0:
            self.today += 1
        if i % LATE_EVERY == 0:
            self.late_slot = i + int(self.r.integers(0, LATE_EVERY))
        late = i == self.late_slot
        day = self.today - int(self.r.integers(1, 7)) if late else self.today
        goes_pdf = loadgen.goes(self.r, self.n_goes, day, i)
        ev_pdf = loadgen.events(self.r, self.n_events, day, day + 1)
        return {
            "i": i, "day": day, "goes_pdf": goes_pdf, "ev_pdf": ev_pdf,
            "goes_df": self.spark.createDataFrame(goes_pdf), "ev_df": self._events_df(ev_pdf),
            "keep_from": self.today - RETENTION_DAYS if i % EXPIRE_EVERY == EXPIRE_EVERY - 1
            else None,
        }

    def _step(self, check: bool) -> None:
        b = self._next if self._next is not None else self._prepare()
        i, day = b["i"], b["day"]
        tr = self.tr
        op = self.new_op() if check else 0
        cpu0 = self.cpu_s()
        t0 = time.perf_counter()  # the batch is handed to ingest

        def write():
            with tr.span("ingest.compile_transform", op):
                compiled = ingest.compile_transform(GOES_SATELLITE, b["goes_df"])
            with tr.bookkeeping():
                before = harness.listing(self.goes_path) if tr.enabled else None
            with tr.span("ingest.write_batch", op, "write_batch"):
                ingest.write_batch(GOES_SATELLITE, compiled, self.goes_path)
            if tr.enabled:
                with tr.bookkeeping():
                    _, files, nbytes = harness.listing_diff(before, harness.listing(self.goes_path))
                tr.count("ingest.files_written", files)
                tr.count("ingest.bytes_written", nbytes)
                with tr.bookkeeping():
                    before = harness.listing(self.store)
            with tr.span("rollup_maintenance.apply_increment", op, "apply_increment"):
                RM.apply_increment(self.spark, self.store, b["ev_df"],
                                   batch_id=f"{self.ctx.seed}-{i}")
            if tr.enabled:
                with tr.bookkeeping():
                    parts, _, nbytes = harness.listing_diff(before, harness.listing(self.store))
                tr.count("rollup_maintenance.partitions_touched", parts)
                tr.count("rollup_maintenance.bytes_rewritten", nbytes)
            return True

        wrote = self.guarded(op, write)
        t_written = time.perf_counter()

        def read():
            d0, d1 = loadgen.day_date(day), loadgen.day_date(day + 1)
            with tr.span("rollup_maintenance.serve_rollup", op, "serve_rollup"):
                with tr.span("rollup_maintenance.serve_plan", op):
                    df = RM.serve_rollup(self.spark, self.store, grain="day",
                                         dims=("event_type",), since=d0, until=d1)
                with tr.span("rollup_maintenance.serve_exec", op):
                    return df.collect()

        rows = self.guarded(op, read) if wrote else None
        t_read = time.perf_counter()
        keep_from = b["keep_from"]
        if keep_from is not None:
            def expire():
                with tr.span("rollup_maintenance.expire_partitions", op, "expire_partitions"):
                    RM.expire_partitions(self.spark, self.store, loadgen.day_date(keep_from))

            self.guarded(op, expire)
        t_end = time.perf_counter()
        cpu_ms = (self.cpu_s() - cpu0) * 1000.0
        # bookkeeping and the next step's inputs, outside the clock
        self._absorb(b["ev_pdf"])
        if keep_from is not None:
            for key in [k for k in self.want if k[0] < keep_from]:
                del self.want[key]
        self.goes_rows[day] += self.n_goes
        if check:
            self.goes_ops[day].append(op)
        self.rows_in += self.n_goes + self.n_events
        self.input_total += input_bytes(b["goes_pdf"]) + input_bytes(b["ev_pdf"])
        if check:
            self.write_ms.append((t_written - t0) * 1000.0)
            self.query_ms.append((t_read - t_written) * 1000.0)
            self.fresh_ms.append((t_read - t0) * 1000.0)
            self.step_ms.append((t_end - t0) * 1000.0)
            self.cpu_ms.append(cpu_ms)
            if rows is not None:
                self.served.append((op, day, oracle.served_rows(rows, False),
                                    self._expected_day(day)))
        self._next = self._prepare()

    def verify(self) -> None:
        for op, day, got, want in self.served:
            if got != want:
                self.fail(op, f"day {day}: served {len(got)} rows differ from the cumulative oracle")
        # the GOES datasource: every surviving day holds exactly the rows
        # written to it (read from parquet footers, not through Spark)
        for day, n in self.goes_rows.items():
            part = os.path.join(self.goes_path, f"__date={loadgen.day_date(day).isoformat()}")
            files = [os.path.join(part, f) for f in os.listdir(part)
                     if f.endswith(".parquet")] if os.path.isdir(part) else []
            rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
            if rows != n:
                for o in self.goes_ops[day] or [0]:
                    self.fail(o, f"GOES day {day}: {rows} rows on disk, {n} written")

    def store_ratio(self) -> float:
        stored = harness.tree_bytes(self.store) + harness.tree_bytes(self.goes_path)
        return stored / self.input_total

    def extra(self, elapsed: float) -> dict[str, tuple[float, str]]:
        out = {"rows_per_s": (self.rows_in / elapsed, "1/s")}
        for name, xs in (("write", self.write_ms), ("freshness", self.fresh_ms)):
            out[f"{name}_p50_ms"] = (harness.median(xs), "ms")
            out[f"{name}_tail_ms"] = (harness.percentile(xs, harness.tail_percentile(len(xs))), "ms")
        return out
