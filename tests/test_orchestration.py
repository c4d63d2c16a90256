"""Orchestration semantics: dependency order, retry, branch isolation,
soft-fail, depends_on_past backfill — and edge-faithful equality with
run_pipeline on the full e-commerce graph."""

from __future__ import annotations

import pytest

from ecommerce_data_engineering_spark.orchestration import (
    Dag, State, backfill, pipeline_dag,
)


def _nop(r):
    return "ok"


def test_topo_respects_edges_and_insertion_order():
    d = Dag("t", default_retries=0)
    d.task("a", _nop)
    d.task("b", _nop)
    d.task("c", _nop, upstream=("a", "b"))
    d.task("d", _nop, upstream=("c",))
    order = d.topo_order()
    assert order == ["a", "b", "c", "d"]
    runs = d.run()
    assert all(r.state is State.SUCCESS for r in runs.values())


def test_unknown_upstream_and_duplicate_rejected():
    d = Dag("t")
    d.task("a", _nop)
    with pytest.raises(ValueError, match="unknown task"):
        d.task("b", _nop, upstream=("zzz",))
    with pytest.raises(ValueError, match="duplicate"):
        d.task("a", _nop)


def test_retry_recovers_transient_failure():
    """retries=1 (the reference default) → a once-flaky task succeeds
    on attempt 2; retry_delay is honored via the injected sleep."""
    slept = []
    d = Dag("t", default_retries=1, default_retry_delay=0.25)
    d.sleep = slept.append
    calls = {"n": 0}

    def flaky(r):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient")
        return "recovered"

    d.task("flaky", flaky)
    runs = d.run()
    assert runs["flaky"].state is State.SUCCESS
    assert runs["flaky"].attempts == 2
    assert runs["flaky"].result == "recovered"
    assert slept == [0.25]


def test_task_runs_record_wall_and_attempt_durations():
    """Every executed task records one duration per attempt and a wall
    spanning them (retry delay included), on the sequential and the
    parallel path alike; tasks decided without running record none."""
    import time as _time

    def build():
        d = Dag("timed", default_retries=1, default_retry_delay=0.05)
        calls = {"n": 0}

        def flaky(r):
            calls["n"] += 1
            _time.sleep(0.05)
            if calls["n"] == 1:
                raise RuntimeError("transient")
            return "ok"

        d.task("flaky", flaky)
        d.task("boom", lambda r: 1 / 0, retries=0)
        d.task("blocked", _nop, upstream=("boom",))
        return d

    for runs in (build().run(), build().run(max_workers=2)):
        flaky = runs["flaky"]
        assert flaky.state is State.SUCCESS and flaky.attempts == 2
        assert len(flaky.attempt_s) == 2
        assert all(s >= 0.05 for s in flaky.attempt_s)
        assert flaky.wall_s >= sum(flaky.attempt_s) + 0.05
        assert runs["boom"].state is State.FAILED
        assert len(runs["boom"].attempt_s) == 1
        assert runs["boom"].wall_s >= runs["boom"].attempt_s[0]
        blocked = runs["blocked"]
        assert blocked.state is State.UPSTREAM_FAILED
        assert blocked.wall_s == 0.0 and blocked.attempt_s == []


def test_hard_failure_blocks_descendants_only():
    """warehouse_dag.py:554-563 semantics: a failed branch blocks its
    own descendants; sibling branches still run."""
    d = Dag("t", default_retries=1)
    d.sleep = lambda s: None

    def boom(r):
        raise RuntimeError("permanent")

    d.task("ok_root", _nop)
    d.task("bad_root", boom)
    d.task("ok_child", _nop, upstream=("ok_root",))
    d.task("bad_child", _nop, upstream=("bad_root",))
    d.task("joined", _nop, upstream=("ok_child", "bad_child"))
    runs = d.run()
    assert runs["bad_root"].state is State.FAILED
    assert runs["bad_root"].attempts == 2            # initial + 1 retry
    assert runs["ok_child"].state is State.SUCCESS
    assert runs["bad_child"].state is State.UPSTREAM_FAILED
    assert runs["joined"].state is State.UPSTREAM_FAILED


def test_soft_fail_lets_downstream_proceed():
    """analytics_dag.py:325-328: campaign attribution failing must not
    block the views task."""
    d = Dag("t", default_retries=0)

    def boom(r):
        raise RuntimeError("no campaign rows")

    d.task("attribution", boom, soft_fail=True)
    d.task("views", lambda r: r.get("attribution", "absent"),
           upstream=("attribution",))
    runs = d.run()
    assert runs["attribution"].state is State.SOFT_FAILED
    assert runs["views"].state is State.SUCCESS
    # soft-failed result surfaces as None, like run_pipeline's except-leg
    assert runs["views"].result is None


def test_backfill_runs_dates_in_order_and_gates_on_past():
    seen = []

    def bind(ds):
        d = Dag(f"t_{ds}", default_retries=0)

        def work(r, ds=ds):
            seen.append(ds)
            if ds == "2024-07-02":
                raise RuntimeError("bad day")
            return ds

        d.task("work", work, depends_on_past=True)
        d.task("after", _nop, upstream=("work",))
        return d

    out = backfill(Dag("unused"), ["2024-07-03", "2024-07-01", "2024-07-02"],
                   bind=bind)
    assert list(out) == ["2024-07-01", "2024-07-02", "2024-07-03"]
    assert out["2024-07-01"]["work"].state is State.SUCCESS
    assert out["2024-07-02"]["work"].state is State.FAILED
    # depends_on_past: the 07-03 instance is gated on 07-02's failure
    assert out["2024-07-03"]["work"].state is State.SKIPPED
    # skips cascade: the downstream task of a skipped instance skips too
    assert out["2024-07-03"]["after"].state is State.SKIPPED
    assert seen == ["2024-07-01", "2024-07-02"]


def test_pipeline_dag_matches_run_pipeline(spark):
    """The edge-faithful DAG produces the same tables as the straight-
    line run_pipeline (same build functions, same inputs → identical
    counts; spot-check one value column)."""
    from ecommerce_data_engineering_spark.pipeline import AS_OF_DATE, run_pipeline
    from ecommerce_data_engineering_spark.sources.synthetic import (
        generate_ecommerce,
    )

    raw = generate_ecommerce(spark, scale=0.05)
    expected = run_pipeline(spark, raw, as_of=AS_OF_DATE)

    d = pipeline_dag(spark, raw, as_of=AS_OF_DATE)
    runs = d.run()
    bad = {n: r.state for n, r in runs.items()
           if r.state not in (State.SUCCESS, State.SOFT_FAILED)}
    assert not bad, f"non-success states: {bad}"

    views = runs["create_business_summary_views"].result
    got = {
        "dim_customers": runs["transform_customers_dimension"].result,
        "fact_orders": runs["load_orders_fact"].result,
        "fact_order_items": runs["load_order_items_fact"].result,
        "daily_sales": runs["create_daily_sales_summary"].result,
        "customer_metrics": runs["create_customer_metrics"].result,
        "top_products": views["top_products"],
    }
    for name, df in got.items():
        assert df.count() == expected[name].count(), name
    # value spot-check: total revenue agrees across the two drivers
    from pyspark.sql import functions as F
    lhs = got["daily_sales"].agg(F.sum("total_revenue")).collect()[0][0]
    rhs = expected["daily_sales"].agg(F.sum("total_revenue")).collect()[0][0]
    assert lhs == rhs


def test_parallel_run_overlaps_and_matches_sequential_states():
    """max_workers>1: independent branches actually overlap (wall time
    well under the serial sum) and failure semantics are identical to
    the sequential executor."""
    import time as _time

    def build():
        d = Dag("par", default_retries=0)
        d.task("a", lambda r: (_time.sleep(0.4), "a")[1])
        d.task("b", lambda r: (_time.sleep(0.4), "b")[1])
        d.task("boom", lambda r: 1 / 0)
        d.task("joined", lambda r: r["a"] + r["b"], upstream=("a", "b"))
        d.task("blocked", _nop, upstream=("boom",))
        return d

    t0 = _time.perf_counter()
    par = build().run(max_workers=4)
    elapsed = _time.perf_counter() - t0
    seq = build().run()
    assert {n: r.state for n, r in par.items()} == \
           {n: r.state for n, r in seq.items()}
    assert par["joined"].result == "ab"
    assert par["blocked"].state is State.UPSTREAM_FAILED
    # the two 0.4 s sleeps overlapped
    assert elapsed < 0.75, elapsed


def test_parallel_pipeline_dag_matches(spark):
    """The full e-commerce DAG under the concurrent executor produces
    the same terminal states as sequential."""
    from ecommerce_data_engineering_spark.pipeline import AS_OF_DATE
    from ecommerce_data_engineering_spark.sources.synthetic import (
        generate_ecommerce,
    )

    raw = generate_ecommerce(spark, scale=0.02)
    runs = pipeline_dag(spark, raw, as_of=AS_OF_DATE).run(max_workers=4)
    bad = {n: r.state for n, r in runs.items()
           if r.state not in (State.SUCCESS, State.SOFT_FAILED)}
    assert not bad, bad
    assert runs["create_business_summary_views"].result[
        "top_products"].count() > 0


def test_curation_dag_with_transient_failure_matches_direct_funnel(spark):
    """The curation funnel expressed as an orchestrated DAG (dedup →
    gate → split → pack as tasks, results flowing through the task
    graph) with a transiently-failing gate task: the retry recovers it
    and the final manifest equals the direct corpus_curation_funnel
    query — Airflow-equivalent semantics wrapped around the curation
    story."""
    from pyspark.sql import functions as F

    from ecommerce_data_engineering_spark.operators import dedup as D
    from ecommerce_data_engineering_spark.operators import packing as PK
    from ecommerce_data_engineering_spark.operators import sampling as SP
    from ecommerce_data_engineering_spark.operators import text as X
    from ecommerce_data_engineering_spark.orchestration import Dag, State
    from ecommerce_data_engineering_spark.plans import REGISTRY
    from ecommerce_data_engineering_spark.plans.curation import (
        PACK_BUDGET, PACK_SEED, PACK_SHARDS, SPLIT_SEED, SPLITS)
    from ecommerce_data_engineering_spark.sources import load

    sf = "/root/testdata/sf0.001"
    d = Dag("curation", default_retries=1)
    d.sleep = lambda s: None
    flaked = {"n": 0}

    def dedup_task(r):
        docs = load(spark, sf, "documents")
        keepers = (D.exact_dedup(docs, "text", "doc_id")
                   .select(F.col("keeper_id").alias("doc_id")))
        return docs.join(keepers, "doc_id", "left_semi")

    def gate_task(r):
        flaked["n"] += 1
        if flaked["n"] == 1:
            raise RuntimeError("transient executor loss")
        return r["dedup"].filter(X.gopher_gate("text"))

    def split_task(r):
        return (SP.assign_splits(r["gate"], "doc_id", SPLITS, SPLIT_SEED)
                .filter(F.col("split") == "train"))

    def pack_task(r):
        n_tokens = F.size(F.regexp_extract_all(
            F.col("text"), F.lit(X.BPE_ISH_PATTERN), 0))
        toks = r["split"].select(
            "doc_id", n_tokens.cast("long").alias("n_tokens"))
        packed = PK.pack_sequences(toks, "doc_id", "n_tokens", PACK_BUDGET,
                                   num_shards=PACK_SHARDS, seed=PACK_SEED)
        return (packed.groupBy("shard", "bin_id")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("n_tokens").alias("bin_tokens")))

    d.task("dedup", dedup_task)
    d.task("gate", gate_task, upstream=["dedup"])
    d.task("split", split_task, upstream=["gate"])
    d.task("pack", pack_task, upstream=["split"])
    runs = d.run()
    assert all(r.state is State.SUCCESS for r in runs.values())
    assert runs["gate"].attempts == 2

    got = sorted(map(tuple, d.results(runs)["pack"].collect()))
    want = sorted(map(tuple,
                      REGISTRY["corpus_curation_funnel"].fn(spark, sf)
                      .collect()))
    assert got == want and len(want) > 0


def test_duplicate_upstream_entries_do_not_fake_a_cycle(spark):
    """A duplicated upstream name inflated the Kahn in-degree while
    completion decremented once per task — falsely reporting a cycle."""
    from ecommerce_data_engineering_spark.orchestration import Dag

    d = Dag("dup")
    d.task("a", lambda r: 1)
    d.task("b", lambda r: r["a"] + 1, upstream=("a", "a"))
    runs = d.run()
    assert runs["b"].result == 2


# Spark jobs of ``validate_warehouse_data`` on the incremental day below:
# 51 when every check re-ran the SCD2 merge, key mapping and fact
# upsert; 7 once those tables are materialized by their own tasks
VALIDATE_WAREHOUSE_JOBS = 7


def test_validate_warehouse_reads_materialized_tables(spark):
    """On an incremental day the warehouse checks read the stored dims
    and fact instead of recomputing their lineage: the task's job count,
    taken from its own job group, stays at the measured budget."""
    from ecommerce_data_engineering_spark.sources.synthetic import (
        generate_ecommerce,
    )
    from tests.test_pipeline import dag_warehouse, incremental_raw

    prior = dag_warehouse(spark, generate_ecommerce(spark, scale=0.05),
                          "2024-07-09")
    d = pipeline_dag(spark, incremental_raw(spark, 0.05), "2024-07-10",
                     prior=prior)
    task = d._tasks["validate_warehouse_data"]
    checks, group = task.fn, "validate-warehouse-jobs"
    sc = spark.sparkContext

    def grouped(r):
        sc.setJobGroup(group, "validate_warehouse_data")
        try:
            return checks(r)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    task.fn = grouped
    runs = d.run()
    assert runs["validate_warehouse_data"].state is State.SUCCESS
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= VALIDATE_WAREHOUSE_JOBS, len(jobs)
