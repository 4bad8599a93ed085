"""Tests of the benchmark itself: python3 -m pytest perfbench -q

The Spark tests run one small traced workload in a session of their own,
with the event log on, and check the benchmark's accounting against
Spark's own record of the run.
"""

from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import datagen  # noqa: E402
from perfbench.run import (  # noqa: E402
    LAYER_METRICS,
    WORKLOADS,
    Runner,
    Workload,
    host_info,
    job_count_mismatches,
    layer_metrics,
    prepare_env,
    stop_spark,
)

WRONG = "damped_part_popularity"
QUERIES = (WRONG, "top_orders_per_customer", "embedding_knn_graph",
           "purchase_graph_pagerank", "orders_column_stats")


def test_inputs_depend_only_on_seed():
    a, b = datagen.build_tables(3, 0.001), datagen.build_tables(3, 0.001)
    c = datagen.build_tables(4, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert {t: a[t].num_rows for t in a} == {t: c[t].num_rows for t in c}
    assert not a["lineitem"].equals(c["lineitem"])
    dups = [t for t in a["documents"].column("text").to_pylist() if t.endswith(" dup")]
    assert 0 < len(dups) < a["documents"].num_rows // 5


def test_every_workload_query_has_an_oracle():
    from bigdata_capstone_spark.catalog import ORACLE_SQL, QUERIES as REGISTRY

    for wl in WORKLOADS.values():
        for name in wl.queries:
            assert name in REGISTRY and name in ORACLE_SQL, name


@pytest.fixture(scope="module")
def traced_run(tmp_path_factory):
    """Warm-up with one planted wrong oracle, then one traced pass; the
    session is stopped so the event log is complete."""
    from bigdata_capstone_spark.catalog import ORACLE_SQL
    from bigdata_capstone_spark.session import build_session
    from perfbench.tracing import EventLog, Tracer

    work = str(tmp_path_factory.mktemp("perfbench"))
    event_log = os.path.join(work, "eventlog")
    host = dict(host_info(), nproc=2, driver_heap="1g")
    prepare_env(work, host, event_log)
    sf_dir = datagen.generate(os.path.join(work, "data"), 0.001)
    spark = build_session(app_name="perfbench-test")
    try:
        oracles = dict(ORACLE_SQL, **{WRONG: "SELECT 1 AS planted"})
        tracer = Tracer(spark)
        runner = Runner(spark, Workload(0.001, QUERIES), sf_dir, 5,
                        oracles=oracles, tracer=tracer)
        t0 = time.perf_counter()
        warm_s = runner.warmup_and_check()
        warm_wall = time.perf_counter() - t0
        runner.enable_tracing()
        tp = runner.traced_pass(1)
        runner.disable_tracing()
    finally:
        stop_spark(spark)
    events = EventLog(event_log)
    metrics, per_query = layer_metrics(runner, tp, events, runner.streaming.batches,
                                       2, 1.0)
    return runner, tracer, events, metrics, per_query, (warm_s, warm_wall)


def test_planted_wrong_oracle_counts_as_failed(traced_run):
    runner = traced_run[0]
    assert len(runner.failures) == 1
    assert runner.failures[0].startswith(f"{WRONG}: oracle mismatch")
    assert runner.attempted == 2 * len(QUERIES)


def test_warmup_times_only_the_queries(traced_run):
    # the oracle queries, comparisons and cache cleanups are left out
    warm_s, warm_wall = traced_run[-1]
    assert 0 < warm_s < warm_wall


def test_job_counts_match_the_event_log(traced_run):
    _, tracer, events, metrics, _, _ = traced_run
    assert tracer.spans and all(s.jobs >= 0 for s in tracer.spans)
    assert job_count_mismatches(tracer, events) == []
    assert metrics["exec.jobs"] > 0
    assert metrics["exec.tasks"] >= metrics["exec.stages"] > 0


def test_layer_split(traced_run):
    _, _, _, metrics, per_query, _ = traced_run
    run_level = {"driver.peak_rss_mb", "trace.overhead_s"}
    assert set(metrics) == set(LAYER_METRICS) - run_level
    assert per_query[WRONG]["catalog.build_jobs"] == 0
    knn = per_query["embedding_knn_graph"]
    assert knn["catalog.build_jobs"] > 0
    assert knn["operators"]["operators.simsearch"]["jobs"] == knn["catalog.build_jobs"]
    pr = per_query["purchase_graph_pagerank"]["operators"]
    assert pr["operators.ckpt"]["jobs"] > 0
    assert pr["operators.graph"]["jobs"] >= pr["operators.ckpt"]["jobs"]
    stats = per_query["orders_column_stats"]["operators"]
    assert stats["operators.maintenance"]["jobs"] > 0
    assert metrics["sources.input_bytes"] > 0
    assert metrics["plan.exchanges"] > 0
