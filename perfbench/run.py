#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload dashboard_read --seed 1 --seconds 10 --trace 0

Starts one Spark session with the engine's ``get_spark`` (cores =
``nproc``, a 2 GiB driver heap, every temporary file under one scratch
root inside the checkout), sets the workload up from the seed, warms it
up, measures it for ``--seconds``, checks every answer against an
independent oracle and prints every figure, one per line with its unit,
then one JSON object as the last line. Its metrics are the ones
BENCHMARK.json declares: the end-to-end metrics with ``--trace 0``; with
``--trace 1`` the same load runs with spans and Spark counters around
every layer call and the per-layer metrics are reported instead. Exit
code 0 means every answer was correct; 1 means a wrong or failed answer;
2 means the engine could not be loaded or set up (no result is printed).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
PACKAGE = "data_pipeline_with_big_data_stack_spark"
DEADLINE_S = 170  # a run that has not finished by now is stopped

sys.path.insert(0, HERE)
import harness  # noqa: E402

# per-layer span metrics: metric → span name; each is the median self
# time over the run's calls (0 when the workload makes no such call)
SPAN_METRICS = {
    "sql_shim.rewrite_ms": "sql_shim.rewrite",
    "sql_shim.plan_ms": "sql_shim.plan",
    "sql_shim.exec_ms": "sql_shim.exec",
    "rollup_maintenance.serve_plan_ms": "rollup_maintenance.serve_plan",
    "rollup_maintenance.serve_exec_ms": "rollup_maintenance.serve_exec",
    "ingest.compile_ms": "ingest.compile_transform",
    "ingest.write_ms": "ingest.write_batch",
    "rollup_maintenance.apply_increment_ms": "rollup_maintenance.apply_increment",
    "rollup_maintenance.expire_ms": "rollup_maintenance.expire_partitions",
    "ann_index.search_plan_ms": "ann_index.search_plan",
    "ann_index.search_exec_ms": "ann_index.search_exec",
    "ann_index.append_ms": "ann_index.append_to_ivfpq_index",
    "dedup_ingest.batch_ms": "dedup_ingest.dedup_ingest_batch",
    "dedup_ingest.read_ms": "dedup_ingest.read_decisions",
    "dedup_ingest.compact_ms": "dedup_ingest.compact_dedup_ingest_store",
}
# per-layer counters: metric → (unit, how the per-call values reduce)
COUNT_METRICS = {
    "ingest.files_written": ("count", "median"),
    "ingest.bytes_written": ("bytes", "median"),
    "rollup_maintenance.partitions_touched": ("count", "median"),
    "rollup_maintenance.bytes_rewritten": ("bytes", "median"),
    "ann_index.cold_search_ms": ("ms", "median"),
    "dedup_ingest.store_files": ("count", "last"),
    "dedup_ingest.store_bytes": ("bytes", "last"),
    "loadgen.lag_ms": ("ms", "max"),
    "loadgen.queue_wait_ms": ("ms", "median"),
}
SPARK_LAYERS = (
    "druid_sql", "serve_rollup", "write_batch", "apply_increment", "expire_partitions",
    "search_ivfpq_index", "append_to_ivfpq_index", "dedup_ingest_batch", "read_decisions",
    "compact_dedup_ingest_store",
)
SPARK_COUNTS = {
    "jobs_per_call": ("count", "median"),
    "stages_per_call": ("count", "median"),
    "tasks_per_call": ("count", "median"),
    "failed_tasks": ("count", "sum"),
    "shuffle_bytes_per_call": ("bytes", "median"),
}


def _reduce(values: list[float], how: str) -> float:
    if not values:
        return 0.0
    if how == "median":
        return harness.median(values)
    if how == "max":
        return max(values)
    if how == "sum":
        return float(sum(values))
    return float(values[-1])


def per_layer(wl, tracer: harness.Tracer, session_ms: float) -> dict[str, tuple[float, str]]:
    """Every per-layer figure, as (value, unit); layers the workload does
    not call read 0."""
    self_ms = tracer.self_times_ms()
    out = {m: (_reduce(self_ms.get(span, []), "median"), "ms")
           for m, span in SPAN_METRICS.items()}
    for m, (unit, how) in COUNT_METRICS.items():
        out[m] = (_reduce(tracer.counts.get(m, []), how), unit)
    out["session.start_ms"] = (session_ms, "ms")
    # the tracer's bookkeeping runs synchronously in the client loop, so
    # it is what tracing adds to each operation's end-to-end time
    out["trace.overhead_ms"] = (tracer.overhead_s * 1000.0 / max(1, wl.attempted), "ms")
    for layer in SPARK_LAYERS:
        for c, (unit, how) in SPARK_COUNTS.items():
            m = f"spark.{c}.{layer}"
            out[m] = (_reduce(tracer.counts.get(m, []), how), unit)
    return out


def end_to_end(wl, elapsed: float, setup_s: float, rss_mb: float) -> dict[str, tuple[float, str]]:
    """Every end-to-end figure, as (value, unit)."""
    q, s = wl.query_ms, wl.step_ms
    out = {
        "setup_s": (setup_s, "s"),
        "query_p50_ms": (harness.median(q), "ms"),
        "query_tail_ms": (harness.percentile(q, harness.tail_percentile(len(q))), "ms"),
        "queries_per_s": (len(q) / elapsed, "1/s"),
        "step_p50_ms": (harness.median(s), "ms"),
        "step_tail_ms": (harness.percentile(s, harness.tail_percentile(len(s))), "ms"),
        "cpu_ms_per_step": (sum(wl.cpu_ms) / len(s), "ms"),
        "store_bytes_per_input_byte": (wl.store_ratio(), "ratio"),
        "result_recall": (wl.recall(), "ratio"),
        "peak_rss_mb": (rss_mb, "MB"),
        "error_ratio": (wl.failed / max(1, wl.attempted), "ratio"),
    }
    out.update(wl.extra(elapsed))
    return out


def reported(figures: dict, declared: list[dict]) -> dict:
    """The result's ``metrics``: exactly the metrics BENCHMARK.json
    declares, each with its declared unit."""
    out = {}
    for m in declared:
        value, unit = figures[m["name"]]
        if unit != m["unit"]:
            raise ValueError(f"{m['name']} is measured in {unit}, declared in {m['unit']}")
        out[m["name"]] = {"value": value, "unit": unit}
    return out


def _stop_session(spark) -> None:
    """Stop Spark, then the driver JVM (and with it the Python worker
    daemon), and wait until the JVM process has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _on_deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="smoke: minimal inputs, for perfbench/smoke.py")
    args = ap.parse_args(argv)

    os.environ["TZ"] = "UTC"
    time.tzset()
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    if not os.path.isdir(os.path.join(CHECKOUT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE!r} not found next to perfbench/",
              file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _on_deadline)
    signal.alarm(DEADLINE_S)
    scratch = harness.Scratch(CHECKOUT, f"{args.workload}-{args.seed}")
    spark = None
    try:
        env = harness.pin_host_env(scratch)
        # Python workers import the engine from this checkout too
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (CHECKOUT, os.environ.get("PYTHONPATH")) if p)
        # the engine is imported only now, after the temp dirs are pinned
        sys.path.insert(0, CHECKOUT)
        import workloads
        from data_pipeline_with_big_data_stack_spark.session import get_spark

        if args.workload not in workloads.WORKLOADS:
            raise ValueError(f"unknown workload {args.workload!r}; one of "
                             f"{sorted(workloads.WORKLOADS)}")

        t = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=harness.session_conf(scratch))
        spark.range(1).count()
        session_ms = (time.perf_counter() - t) * 1000.0

        tracer = harness.Tracer(spark, enabled=False)
        pids = (harness.jvm_pid(spark), os.getpid())
        ctx = workloads.base.Ctx(spark, args.seed, tracer, scratch, args.size == "smoke", pids)
        wl = workloads.WORKLOADS[args.workload](ctx)
        t = time.perf_counter()
        wl.setup()
        t_setup = time.perf_counter() - t
        wl.warmup()
        t_warm = time.perf_counter() - t - t_setup
        setup_s = time.perf_counter() - T_START
        tracer.enabled = bool(args.trace)
        host0 = harness.cpu_times()
        elapsed = wl.run(args.seconds)
        host1 = harness.cpu_times()
        tracer.enabled = False
        steal = (host1[1] - host0[1]) / max(1, host1[0] - host0[0])
        rss = harness.peak_rss_mb(spark)
        wl.verify()
        figures = end_to_end(wl, elapsed, setup_s, rss)
        if args.trace:
            # the traced run's own end-to-end figures are printed too, so
            # traced minus untraced reads off directly
            wl.layer_counts()
            figures.update(per_layer(wl, tracer, session_ms))
            tracer.write(os.path.join(CHECKOUT, harness.TRACE_DIR, f"{args.workload}.jsonl"))
        metrics = reported(figures, declared)
    except Exception:  # noqa: BLE001 - report, clean up, exit without a result
        traceback.print_exc()
        return 2
    finally:
        signal.alarm(0)
        if spark is not None:
            _stop_session(spark)
        leaked = scratch.close()
        if leaked:
            print(f"perfbench: {leaked} bytes left in the scratch root", file=sys.stderr)
    if leaked:
        return 2

    print(f"# workload {wl.name}: {wl.loop}; seed {args.seed}; measured {elapsed:.3f} s; "
          f"{wl.attempted} operations, {wl.failed} failed")
    print(f"# set-up: session {session_ms / 1000:.1f} s, workload {t_setup:.1f} s, "
          f"warm-up {t_warm:.1f} s")
    print("# host: " + ", ".join(f"{k}={v}" for k, v in sorted(env.items()) if k != "TMPDIR")
          + f"; cpu steal {steal:.1%} of the measured window; scratch root removed"
          + f" ({scratch.reclaimed_bytes} bytes of stale roots reclaimed)")
    n_q, n_s = len(wl.query_ms), len(wl.step_ms)
    print(f"# tail percentile: query p{harness.tail_percentile(n_q):.1f} of {n_q}, "
          f"step p{harness.tail_percentile(n_s):.1f} of {n_s}")
    for name, (value, unit) in figures.items():
        if value or name in metrics:
            print(f"{name} = {value:.6g} {unit}")
    for e in wl.errors:
        print(f"# error: {e}")
    correct = wl.failed == 0 and wl.attempted > 0
    print(json.dumps({
        "correct": correct,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
