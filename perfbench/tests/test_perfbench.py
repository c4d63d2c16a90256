"""Tests for the benchmark itself (not the engine).

    python -m pytest perfbench/tests -q

The Spark-backed tests start one local session and run two roster
queries over a small seeded fixture; one more runs the benchmark in a
child process whose JVM is killed partway (about 45 s on 4 vCPUs in all).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT, os.path.join(ROOT, "tests")]

import fixture  # noqa: E402
import run  # noqa: E402
from spans import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert SPEC["command"][:2] == ["python3", "perfbench/run.py"]
    assert SPEC["paths"] == ["perfbench"]
    assert 1 <= SPEC["run_seconds"] <= 60
    names = [w["name"] for w in SPEC["workloads"]]
    assert set(names) == set(run.WORKLOADS)
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    seen = set(names)
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher")
        assert m["name"] not in seen
        seen.add(m["name"])
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in SPEC["end_to_end"])}]


def _passes(errors=(None, None)):
    return [{"wall": 2.0, "ops": [("q1", 0.5, errors[0]), ("q2", 1.5, errors[1])]}]


def test_result_line_schema_and_end_to_end_names():
    values = run.end_to_end_metrics(9.0, [1.0, 2.0, 3.0], _passes())
    assert list(values) == [m["name"] for m in SPEC["end_to_end"]]
    assert all(v > 0 for v in values.values())
    line = run.result(values, 0, 4, run.metric_units())
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["attempted"] == 4
    for m in SPEC["end_to_end"]:
        assert line["metrics"][m["name"]]["unit"] == m["unit"]
    json.dumps(line)


def test_per_layer_names_match_benchmark_json():
    class Serve:
        name = "serve"

    tracer = Tracer("t")
    with tracer.span("session.start"):
        pass
    with tracer.span("pass"):
        with tracer.span("query", query="q", group="g") as q:
            with tracer.span("construct"):
                pass
            with tracer.span("execute"):
                pass
        q["counters"] = {"jobs": 1, "executor_run_ms": 1}
    values = run.layer_metrics(tracer.spans, tracer, Serve(),
                               [{"wall": 1.0, "ops": []}],
                               {"jvm.peak_rss_mb": 900.0, "error_rate": 0.0})
    assert list(values) == [m["name"] for m in SPEC["per_layer"]]


def test_fixture_is_a_function_of_the_seed():
    a, b, c = (fixture.build(0.001, s) for s in (0, 0, 1))
    assert list(a) == list(fixture.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


@pytest.fixture(scope="module")
def serve(tmp_path_factory):
    """A two-query roster plus one query that always raises."""
    from ecommerce_data_engineering_spark.plans import REGISTRY, QuerySpec
    from ecommerce_data_engineering_spark.session import get_spark
    from roster import Serve

    def broken(spark, sf_dir):
        raise RuntimeError("deliberately failing query")

    REGISTRY["__perfbench_broken"] = QuerySpec(
        name="__perfbench_broken", fn=broken, oracle="SELECT 1 AS x")
    spark = get_spark("perfbench-tests", cpus=2, shuffle_partitions=2)
    w = Serve(spark, Tracer("t"), str(tmp_path_factory.mktemp("serve")), seed=5,
              queries=["pricing_summary", "daily_sales", "__perfbench_broken"])
    w.setup()
    yield w
    del REGISTRY["__perfbench_broken"]
    spark.stop()


def test_failing_query_raises_error_rate(serve):
    checked, failures = serve.check()
    assert checked == 3
    assert len(failures) == 1 and "__perfbench_broken" in failures[0]
    ops = serve.one_pass("g")
    errors = [e for _, _, e in ops if e]
    assert len(errors) == 1 and "deliberately failing" in errors[0]
    line = run.result({}, len(failures + errors), len(ops) + checked, {})
    assert line["correct"] is False
    assert line["failed"] / line["attempted"] == pytest.approx(2 / 6)


def test_construct_and_execute_spans_tile_each_query(serve):
    serve.queries = serve.queries[:2]
    start = len(serve.tracer.spans)
    serve.one_pass("tile")
    spans = serve.tracer.spans[start:]
    queries = [s for s in spans if s["name"] == "query"]
    assert len(queries) == 2
    for q in queries:
        parts = [s for s in spans if s["parent"] == q["id"]]
        assert [s["name"] for s in parts] == ["construct", "execute"]
        assert parts[0]["start"] >= q["start"] and parts[1]["end"] <= q["end"]
        gap = (q["end"] - q["start"]) - sum(s["end"] - s["start"] for s in parts)
        assert 0 <= gap < 0.01 * (q["end"] - q["start"]) + 0.005


def test_plan_counter_counts_every_execution(serve):
    from spans import PlanCounter, wait_for_listeners
    spark = serve.spark
    df = spark.range(100).repartition(3)
    wait_for_listeners(spark)
    plans = PlanCounter(spark)
    df.count()
    wait_for_listeners(spark)
    one = plans.since_last()
    df.count()
    df.count()
    wait_for_listeners(spark)
    two = plans.since_last()
    assert one["exchanges"] >= 1
    assert two == {k: 2 * v for k, v in one.items()}


# The roster of a child run: one query, then one that kills the JVM.
KILL_RUN = """
import sys
sys.path[:0] = {paths!r}
import roster, run
from ecommerce_data_engineering_spark.plans import REGISTRY, QuerySpec

def kill_jvm(spark, sf_dir):
    from pyspark import SparkContext
    SparkContext._gateway.proc.kill()
    SparkContext._gateway.proc.wait()
    return spark.range(1)

REGISTRY["__perfbench_kill"] = QuerySpec(
    name="__perfbench_kill", fn=kill_jvm, oracle="SELECT 1 AS x")
roster.ROSTER = ("pricing_summary", "__perfbench_kill")
sys.exit(run.main(["--workload", "serve", "--seed", "2", "--seconds", "5",
                   "--trace", "0", "--heap-share", "0.1"]))
"""


def test_dead_jvm_fails_every_remaining_operation():
    code = KILL_RUN.format(paths=[BENCH, ROOT, os.path.join(ROOT, "tests")])
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, timeout=300,
                       capture_output=True, text=True)
    assert p.returncode == 0, p.stderr[-2000:]
    line = json.loads(p.stdout.strip().splitlines()[-1])
    # the check pass and one timed pass of two queries; only the check
    # of the query before the kill succeeds
    assert line["attempted"] == 4 and line["failed"] == 3
    assert line["correct"] is False
