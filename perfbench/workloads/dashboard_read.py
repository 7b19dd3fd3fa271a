"""dashboard_read: open-loop dashboard traffic against a rollup store and
a raw ``__time`` table. Read-only: loads ``sql_shim`` and the rollup
read path."""

from __future__ import annotations

import queue
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

import harness
import loadgen
import oracle
from workloads.base import Workload, input_bytes

from data_pipeline_with_big_data_stack_spark import ingest
from data_pipeline_with_big_data_stack_spark.operators import rollup_maintenance as RM
from data_pipeline_with_big_data_stack_spark.plans import sql_shim
from data_pipeline_with_big_data_stack_spark.schemas import (
    DatasourceSpec,
    Dimension,
    GranularitySpec,
    TimestampSpec,
)

EVENTS_SPEC = DatasourceSpec(
    name="bench_events",
    topic="bench_events",
    timestamp=TimestampSpec("timestamp", "posix"),
    dimensions=(Dimension("event_type"), Dimension("user_id", "long"),
                Dimension("value", "double")),
    granularity=GranularitySpec("DAY", "NONE", rollup=False),
)

# Open-loop arrival rate and executing clients. A request costs about
# 1.7 s of CPU time across the driver's threads on a 4-core host (0.45 s
# of wall time), so 1 request/s keeps the host under half busy, and two
# clients keep a request from waiting behind a slow one. The latency
# limit a dashboard request must meet (a failed request misses it).
RATE_PER_S = 1.0
CLIENTS = 2  # requests served at once
SLO_MS = 1500.0

# The reference's documented dashboard queries in the Druid dialect, with
# their DuckDB twins; {lo}/{hi} bound __time. hourly: README.md:173-182
# (TIME_FLOOR PT1H average); daily_max: GOES_PIPELINE_REPORT.md:306-314;
# top_by_metric: README.md:186-193 (ORDER BY the metric, top 20);
# hour_of_day: a TIME_EXTRACT activity profile.
_WHERE = "WHERE __time >= TIMESTAMP '{lo}' AND __time < TIMESTAMP '{hi}'"
PANELS = {
    "sql_hourly": (
        "SELECT TIME_FLOOR(__time, 'PT1H') AS hour, round(AVG(value), 4) AS avg_value, "
        f"COUNT(*) AS n_events FROM events {_WHERE} GROUP BY 1 ORDER BY 1",
        "SELECT CAST(date_trunc('hour', __time) AS TIMESTAMP), avg(value), count(*) "
        f"FROM events {_WHERE} GROUP BY 1",
    ),
    "sql_daily_max": (
        "SELECT TIME_FLOOR(__time, 'P1D') AS day, round(MAX(value), 2) AS max_value "
        f"FROM events {_WHERE} GROUP BY 1",
        "SELECT CAST(date_trunc('day', __time) AS TIMESTAMP), max(value) "
        f"FROM events {_WHERE} GROUP BY 1",
    ),
    "sql_top_by_metric": (
        "SELECT user_id AS entity, round(value, 2) AS metric FROM events "
        f"{_WHERE} ORDER BY metric DESC, entity LIMIT 20",
        f"SELECT user_id, value FROM events {_WHERE} ORDER BY value DESC, user_id LIMIT 20",
    ),
    "sql_hour_of_day": (
        "SELECT CAST(TIME_EXTRACT(__time, 'HOUR') AS BIGINT) AS hour_of_day, COUNT(*) AS n, "
        f"round(SUM(value), 2) AS sum_value FROM events {_WHERE} GROUP BY 1",
        "SELECT extract(hour FROM __time), count(*), CAST(sum(cents) AS DOUBLE) / 100 "
        f"FROM events {_WHERE} GROUP BY 1",
    ),
}


class DashboardRead(Workload):
    name = "dashboard_read"
    loop = f"open, {RATE_PER_S} requests/s, {CLIENTS} executing clients"

    def setup(self) -> None:
        smoke = self.ctx.smoke
        self.n_days = 7 if smoke else 28
        n_events = 3_000 if smoke else 40_000
        self.r = r = loadgen.rng(self.ctx.seed, self.name)
        self.events = loadgen.events(r, n_events, 0, self.n_days)
        self.input_bytes = input_bytes(self.events)
        src = self.spark.createDataFrame(self.events)
        self.store = self.ctx.scratch.path("rollup")
        RM.build_rollup(
            src.withColumn("ts", F.timestamp_seconds("timestamp")).drop("timestamp"),
            self.store,
        )
        self.raw = self.ctx.scratch.path("events_raw")
        ingest.write_batch(EVENTS_SPEC, ingest.compile_transform(EVENTS_SPEC, src), self.raw)
        self.spark.read.parquet(self.raw).createOrReplaceTempView("events")
        self.results: list[tuple[dict, list]] = []
        self.lag_ms: list[float] = []
        self.wait_ms: list[float] = []
        self.slo_miss = 0

    def warmup(self) -> None:
        """One request of every shape, so code generation and file
        listings are paid before timing."""
        shapes = [{"kind": k, "window": "last_day", "day_lo": self.n_days - 1,
                   "day_hi": self.n_days} for k in PANELS]
        shapes += [{"kind": "serve", "window": "last_week", "day_lo": self.n_days - 7,
                    "day_hi": self.n_days, "grain": g, "distinct": d}
                   for g in ("hour", "day", "week") for d in (False, True)]
        with ThreadPoolExecutor(max_workers=harness.host_cores()) as ex:
            for f in [ex.submit(self._execute, q, 0) for q in shapes]:
                f.result()

    def _execute(self, q: dict, op: int) -> list:
        tr = self.tr
        lo, hi = loadgen.day_date(q["day_lo"]), loadgen.day_date(q["day_hi"])
        if q["kind"] == "serve":
            with tr.span("rollup_maintenance.serve_rollup", op, "serve_rollup"):
                with tr.span("rollup_maintenance.serve_plan", op):
                    df = RM.serve_rollup(self.spark, self.store, grain=q["grain"],
                                         dims=("event_type",), with_distinct=q["distinct"],
                                         since=lo, until=hi)
                with tr.span("rollup_maintenance.serve_exec", op):
                    return df.collect()
        sql = PANELS[q["kind"]][0].format(lo=lo, hi=hi)
        if not tr.enabled:
            return sql_shim.druid_sql(self.spark, sql).collect()
        # traced: druid_sql's two steps, each in its own span
        with tr.span("sql_shim.druid_sql", op, "druid_sql"):
            with tr.span("sql_shim.rewrite", op):
                rewritten = sql_shim.rewrite_druid_sql(sql)
            with tr.span("sql_shim.plan", op):
                df = self.spark.sql(rewritten)
            with tr.span("sql_shim.exec", op):
                return df.collect()

    def run(self, seconds: float) -> float:
        n = max(1, int(seconds * RATE_PER_S))
        mix = loadgen.dashboard_mix(self.r, n, self.n_days)
        pending: queue.Queue = queue.Queue()
        t0 = time.perf_counter() + 0.01

        def generate():
            for i in range(n):
                due = t0 + i / RATE_PER_S
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                pending.put((i, due, time.perf_counter()))
            pending.put(None)

        def serve(q, op):
            start = time.perf_counter()
            rows = self.guarded(op, lambda: self._execute(q, op))
            return start, time.perf_counter(), rows

        gen = threading.Thread(target=generate, name="loadgen", daemon=True)
        cpu0 = self.cpu_s()
        gen.start()
        issued = []
        try:
            with ThreadPoolExecutor(max_workers=CLIENTS) as ex:
                while (item := pending.get()) is not None:
                    i, due, at = item
                    op = self.new_op()
                    issued.append((op, mix[i], due, at, ex.submit(serve, mix[i], op)))
        finally:
            gen.join(timeout=seconds + 60)
        elapsed = time.perf_counter() - t0
        # concurrent requests share the processes, so CPU time is taken
        # over the whole window (one entry: the total)
        self.cpu_ms.append((self.cpu_s() - cpu0) * 1000.0)
        for op, q, due, at, fut in issued:
            start, done, rows = fut.result()
            lat = (done - due) * 1000.0
            self.lag_ms.append((at - due) * 1000.0)
            self.wait_ms.append((start - at) * 1000.0)
            self.query_ms.append((done - start) * 1000.0)
            self.step_ms.append(lat)
            if rows is None or lat > SLO_MS:
                self.slo_miss += 1
            if rows is not None:
                self.results.append((op, q, rows))
        return elapsed

    def verify(self) -> None:
        orc = oracle.EventsOracle(self.events)
        try:
            for op, q, rows in self.results:
                lo, hi = loadgen.day_date(q["day_lo"]), loadgen.day_date(q["day_hi"])
                if q["kind"] == "serve":
                    got = oracle.served_rows(rows, q["distinct"])
                    want = orc.serve(q["grain"], lo, hi, q["distinct"])
                    ok = oracle.serve_matches(got, want, q["distinct"])
                else:
                    want = orc.sql(PANELS[q["kind"]][1].format(lo=lo, hi=hi))
                    ok = oracle.rows_match(oracle.canonical(rows), want)
                if not ok:
                    self.fail(op, f"{q} differs from the DuckDB answer")
        finally:
            orc.close()

    def store_ratio(self) -> float:
        stored = harness.tree_bytes(self.store) + harness.tree_bytes(self.raw)
        return stored / self.input_bytes

    def extra(self, elapsed: float) -> dict[str, tuple[float, str]]:
        n = len(self.query_ms)
        return {
            "slo_miss_ratio": (self.slo_miss / n if n else 1.0, "ratio"),
            "loadgen.lag_max_ms": (max(self.lag_ms, default=0.0), "ms"),
            "loadgen.queue_wait_p50_ms": (harness.median(self.wait_ms) if n else 0.0, "ms"),
        }

    def layer_counts(self) -> None:
        for v in self.lag_ms:
            self.tr.count("loadgen.lag_ms", v)
        for v in self.wait_ms:
            self.tr.count("loadgen.queue_wait_ms", v)
