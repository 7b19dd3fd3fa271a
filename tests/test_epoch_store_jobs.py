"""Spark-job budgets for the epoch-store hot path.

tests/test_shuffle_budgets.py pins plan cost as shuffle exchanges; this
suite pins the cost the epoch stores (`operators/dedup_ingest`,
`operators/substring_ingest`) pay per call as Spark JOBS. On a small
micro-batch nearly all of a call's wall time is fixed per-job cost, so
a job that moves no data — a parquet footer-inference job before a
read, a sampling job before a range partitioning, an empty seed write —
costs as much as one that does. Budgets are the CURRENT counts
(equality passes, fewer passes, more fails), and every job a call runs
must belong to a SQL execution: the footer-inference job Spark launches
for a read without a declared schema runs outside any execution, so
one off-plan job is exactly the regression this suite exists to catch.

Jobs are counted the way the benchmark's tracer counts them: the call
runs under its own job group, and jobs started on the stores' driver
thread pools (which do not inherit the group) are added as the
group-less jobs that appeared during the call.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_with_big_data_stack_spark.operators import dedup_ingest as DI
from data_pipeline_with_big_data_stack_spark.operators import substring_ingest as SI
from data_pipeline_with_big_data_stack_spark.tables import load_table
from tests.conftest import SF_SMOKE

# call -> max Spark jobs. Counts before declared read schemas, hash-split
# folds, empty-only fold seeds and the JVM watermark row, on the same
# fixture: dedup batch 30, fold 25, read 2; substring batch 21-22, fold 14.
# The substring batch's two publishes race to materialize one cached
# frame, which moves its count by one between runs (20-21 measured).
BUDGETS = {
    "dedup_ingest_batch": 26,
    "compact_dedup_ingest_store": 12,
    "read_decisions": 1,
    "substring_ingest_batch": 21,
    "compact_substring_ingest_store": 7,
}


def _sql_job_ids(spark) -> set[int]:
    """Every job id the SQL status store attributes to an execution."""
    ids: set[int] = set()
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    while it.hasNext():
        keys = it.next().jobs().keys().iterator()
        while keys.hasNext():
            ids.add(int(keys.next()))
    return ids


def _jobs(spark, name, fn) -> tuple[int, list[int]]:
    """(jobs ``fn`` ran, ids of those that belong to no SQL execution)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    group = f"epoch-store-jobs-{name}"
    sc.setJobGroup(group, name)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    jobs = set(tracker.getJobIdsForGroup(group)) | (
        set(tracker.getJobIdsForGroup(None)) - before
    )
    return len(jobs), sorted(jobs - _sql_job_ids(spark))


def _batches(spark, n):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    return [
        docs.filter((F.col("doc_id") >= 50 * i) & (F.col("doc_id") < 50 * (i + 1)))
        for i in range(n)
    ]


def _check(name, got):
    n, offplan = got
    assert not offplan, (
        f"{name}: jobs {offplan} ran outside any SQL execution — a read "
        "without a declared schema (footer inference) or another job that "
        "moves no data"
    )
    assert n <= BUDGETS[name], f"{name}: {n} Spark jobs, budget {BUDGETS[name]}"


@pytest.fixture(scope="module")
def dedup_calls(spark, tmp_path_factory):
    """Steady state like the benchmark's: one epoch, its decision read
    and an incremental fold run first; the second round is measured."""
    store = DI.init_dedup_ingest_store(
        spark, str(tmp_path_factory.mktemp("jobs") / "dedup")
    )
    b0, b1 = _batches(spark, 2)
    DI.dedup_ingest_batch(b0, 0, store)
    store.read(spark, "decisions").filter(F.col("batch_id") == 0).collect()
    DI.compact_dedup_ingest_store(spark, store, full=False)
    return {
        "dedup_ingest_batch": _jobs(
            spark, "batch", lambda: DI.dedup_ingest_batch(b1, 1, store)
        ),
        "read_decisions": _jobs(
            spark,
            "read",
            lambda: store.read(spark, "decisions")
            .filter(F.col("batch_id") == 1)
            .collect(),
        ),
        "compact_dedup_ingest_store": _jobs(
            spark,
            "fold",
            lambda: DI.compact_dedup_ingest_store(spark, store, full=False),
        ),
    }


@pytest.mark.parametrize(
    "name", ["dedup_ingest_batch", "read_decisions", "compact_dedup_ingest_store"]
)
def test_dedup_store_call_within_job_budget(dedup_calls, name):
    _check(name, dedup_calls[name])


def test_substring_store_calls_within_job_budget(spark, tmp_path):
    store = SI.init_substring_store(spark, str(tmp_path / "sub"))
    b0, b1 = _batches(spark, 2)
    SI.substring_ingest_batch(b0, 0, store)
    SI.compact_substring_ingest_store(spark, store, full=False)
    _check(
        "substring_ingest_batch",
        _jobs(spark, "sub-batch", lambda: SI.substring_ingest_batch(b1, 1, store)),
    )
    _check(
        "compact_substring_ingest_store",
        _jobs(
            spark,
            "sub-fold",
            lambda: SI.compact_substring_ingest_store(spark, store, full=False),
        ),
    )


@pytest.mark.parametrize(
    "init,ingest",
    [
        (DI.init_dedup_ingest_store, DI.dedup_ingest_batch),
        (SI.init_substring_store, SI.substring_ingest_batch),
    ],
)
def test_declared_read_schema_matches_inferred(spark, tmp_path, init, ingest):
    """The declared read schemas only skip the inference job: every
    sink reads back with the column names, order and types an inferring
    read of the same directory returns, and the same rows."""
    store = init(spark, str(tmp_path / "st"))
    ingest(_batches(spark, 1)[0], 0, store)
    for sink in store._SINKS:
        declared = store.read(spark, sink)
        inferred = spark.read.parquet(store._sink(sink))
        assert declared.schema == inferred.schema, sink
        assert sorted(declared.collect()) == sorted(inferred.collect()), sink
