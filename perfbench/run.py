"""Run one benchmark workload and print its record.

    python3 perfbench/run.py --heap-share 0.25 --workload serve --seed 0 \
        --seconds 12 --trace 0

Run from the repository root.  The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of ``BENCHMARK.json`` (``--trace 0``) or its per-layer metrics
(``--trace 1``).  The line before it is the full record: seed, host
context, per-operation medians and any failures.  Spans go to
``.perfbench/traces/`` in traced runs; everything a run writes stays
under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
WORKLOADS = ("serve", "warehouse_daily")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--heap-share", type=float, default=None,
                   help="set spark.driver.memory to this share of the host's "
                        "memory (cgroup limit if lower); default: the "
                        "package's own heap")
    return p.parse_args(argv)


def host_heap(share: float) -> str:
    """``share`` of physical memory, or of the cgroup limit if lower."""
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            mem = min(mem, int(f.read()))
    except (OSError, ValueError):         # no cgroup v2 limit ("max")
        pass
    return f"{max(1, int(mem * share) >> 20)}m"


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(-(-q * len(s) // 100)) - 1))]


def host_context(spark) -> dict:
    sc = spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": sc.getConf().get("spark.driver.memory", "1g"),
    }


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM (local mode: driver and executors)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit (it exits
    when its stdin closes); kill it if it has not after a minute."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    try:
        spark.stop()
        gw.shutdown()
    except Exception:                    # noqa: BLE001 - a dead JVM
        pass                             # cannot be stopped cleanly
    finally:
        gw.proc.stdin.close()
        try:
            gw.proc.wait(60)
        except Exception:                # noqa: BLE001 - hung JVM
            gw.proc.kill()
            gw.proc.wait()


def layer_metrics(spans: list[dict], tracer, workload, passes: list[dict],
                  run_totals: dict) -> dict:
    """Per-layer totals of the traced pass, whose spans are ``spans``,
    followed by ``run_totals`` (peak RSS, error rate)."""
    ops = [s for s in spans if "counters" in s]

    def dur(name, pred=lambda s: True):
        return sum(s["end"] - s["start"] for s in spans
                   if s["name"] == name and pred(s))

    def tot(key, among=ops):
        return sum(s.get("counters", {}).get(key, 0) for s in among)

    serve = workload.name == "serve"
    exec_wall = dur("execute") if serve else dur("sources.write")
    exec_ops = ops if serve else [s for s in ops if s["step"] != "dag"]

    def validate(s):
        return s["task"].startswith("validate_")

    m = {
        "session.start_s": tracer.total("session.start"),
        "plans.construct_s": (dur("construct") if serve else
                              dur("orchestration.task", lambda s: not validate(s))),
        "plans.py4j_calls": sum(s.get("py4j", 0) for s in spans
                                if s["name"] in ("construct", "orchestration.task")),
        "exec.wall_s": exec_wall,
        "exec.jobs": tot("jobs"),
        "exec.stages": tot("stages"),
        "exec.tasks": tot("tasks"),
        "exec.busy_cores": (tot("executor_run_ms", exec_ops) / 1e3 / exec_wall
                            if exec_wall else 0.0),
        "exec.executor_cpu_s": tot("executor_cpu_ns") / 1e9,
        "exec.gc_s": tot("gc_ms") / 1e3,
        "exec.shuffle_read_bytes": tot("shuffle_read_bytes"),
        "exec.shuffle_write_bytes": tot("shuffle_write_bytes"),
        "exec.spill_bytes": tot("spill_bytes"),
        "plan.exchanges": tot("exchanges"),
        "plan.smj": tot("smj"),
        "plan.shj": tot("shj"),
        "plan.bhj": tot("bhj"),
        "sources.read_s": dur("sources.read"),
        "sources.write_s": dur("sources.write"),
        "sources.rows_written": 0 if serve else tot("output_records", exec_ops),
        "sources.bytes_written": 0,
        "sources.files_written": 0,
        "sources.scan_amplification": 0.0,
        "orchestration.task_s": dur("orchestration.task"),
        "orchestration.attempts": 0,
        "quality.check_s": dur("orchestration.task", validate),
        "trace.pass_s": passes[0]["wall"],
        "trace.overhead_s": dur("trace.collect"),
        "day.initial_load_s": dur("day", lambda s: s["day"] == 1),
        "day.incremental_day_s": dur("day", lambda s: s["day"] == 2),
    }
    if not serve:
        m.update(workload.written_files())
        m["orchestration.attempts"] = sum(
            t.attempts for runs in workload.last_runs for t in runs.values())
        raw_rows = sum(n for day in workload.staged_rows for n in day.values())
        m["sources.scan_amplification"] = tot("input_records") / raw_rows
    return {**m, **run_totals}


def timed_passes(seconds: float, workload) -> int:
    """Timed passes of an untraced run: as many nominal passes of the
    workload as fit ``seconds``, at least one.  The count never depends
    on measured speed: later passes still run faster while the JIT
    warms, so a count that grew with speed would skew the median."""
    return max(1, round(seconds / workload.nominal_pass_s))


def measure(spark, workload, tracer, args, run_id: str):
    """Correctness checks and timed passes of one workload.  Returns
    (timed passes, untimed attempts: checks, failures)."""
    from spans import (PlanCounter, Py4jCounter, job_group_counters,
                       wait_for_listeners)
    failures: list[str] = []
    untimed = 0

    def check():
        nonlocal untimed, failures
        with tracer.span("check"):
            n, bad = workload.check()
        untimed += n
        failures += bad

    if workload.check_first:
        check()   # the untimed correctness pass also warms the JVM

    plans = None

    def counters(span):
        if plans is not None:
            with tracer.span("trace.collect"):
                wait_for_listeners(spark)
                span["counters"] = {**job_group_counters(spark, span["group"]),
                                    **plans.since_last()}

    workload.after_op = counters
    # traced: one pass with counters, whose cost is the trace.collect spans
    if args.trace:
        try:
            wait_for_listeners(spark)
            plans = PlanCounter(spark)
        except Exception:                # noqa: BLE001 - the JVM is gone;
            pass                         # the pass's operations fail anyway
        tracer.counter = Py4jCounter(spark)
    passes: list[dict] = []
    for i in range(1 if args.trace else timed_passes(args.seconds, workload)):
        with tracer.span("pass") as p:
            ops = workload.one_pass(f"{run_id}:pass{i + 1}")
        passes.append({"wall": p["end"] - p["start"], "ops": ops})
        failures += [e for _, _, e in ops if e]
        if not workload.check_first:
            check()
    if tracer.counter is not None:
        tracer.counter.close()
        tracer.counter = None
    return passes, untimed, failures


def op_medians(passes: list[dict]) -> dict[str, float]:
    """Each operation's median wall across the passes."""
    walls: dict[str, list[float]] = {}
    for name, w, _ in (op for p in passes for op in p["ops"]):
        walls.setdefault(name, []).append(w)
    return {k: statistics.median(v) for k, v in walls.items()}


def end_to_end_metrics(session_s: float, setups: list[float],
                       passes: list[dict]) -> dict:
    """Setup, median pass wall, and percentiles over the operations of
    their median latency across passes."""
    lat = list(op_medians(passes).values())
    return {
        "setup_s": session_s + statistics.median(setups),
        "pass_s": statistics.median(p["wall"] for p in passes),
        "op_p50_s": percentile(lat, 50),
        "op_p90_s": percentile(lat, 90),
    }


def result(values: dict, failed: int, attempted: int, units: dict) -> dict:
    """The benchmark's last stdout line."""
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in values.items()}}


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # keeps every JVM's scratch and perf-data files inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    if args.heap_share:
        os.environ["SPARK_DRIVER_MEMORY"] = host_heap(args.heap_share)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    try:
        from ecommerce_data_engineering_spark.loadctx import (
            busy_fraction, load_snapshot)
        from ecommerce_data_engineering_spark.session import get_spark
        import oracle  # noqa: F401  (the roster's correctness reference)
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from roster import Serve
    from spans import Tracer
    from warehouse import WarehouseDaily

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    tracer = Tracer(run_id)
    load0 = load_snapshot()
    with tracer.span("session.start"):
        spark = get_spark("perfbench")
    try:
        cls = Serve if args.workload == "serve" else WarehouseDaily
        workload = cls(spark, tracer, work, args.seed)
        setups = []
        for _ in range(SETUP_REPEATS):
            with tracer.span("setup") as s:
                workload.setup()
            setups.append(s["end"] - s["start"])

        passes, untimed, failures = measure(spark, workload, tracer, args,
                                            run_id)
        attempted = sum(len(p["ops"]) for p in passes) + untimed
        try:
            peak_rss, context = jvm_peak_rss_mb(spark), host_context(spark)
        except Exception as e:           # noqa: BLE001 - the JVM is gone;
            # the operations after its end have failed already
            peak_rss = 0.0
            context = {"jvm_lost": f"{type(e).__name__}: {e}"[:300]}
        if args.trace:
            p = [s for s in tracer.spans if s["name"] == "pass"][-1]
            values = layer_metrics(
                [s for s in tracer.spans if p["start"] <= s["start"] <= p["end"]],
                tracer, workload, passes,
                {"jvm.peak_rss_mb": peak_rss,
                 "error_rate": len(failures) / attempted})
        else:
            values = end_to_end_metrics(tracer.total("session.start"), setups,
                                        passes)
    finally:
        stop_spark(spark)
    load1 = load_snapshot()
    context.update(loadavg_start=load0.get("loadavg"),
                   loadavg_end=load1.get("loadavg"),
                   cpu_busy_frac=busy_fraction(load0, load1))
    if args.trace:
        os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".perfbench", "traces", f"{run_id}.json"))
    units = metric_units()
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "passes": [p["wall"] for p in passes],
        "check_s": [s["end"] - s["start"] for s in tracer.spans
                    if s["name"] == "check"],
        "setup_runs_s": setups, "session_start_s": tracer.total("session.start"),
        "peak_rss_mb": peak_rss, "host": context, "failures": failures,
        "op_median_s": op_medians(passes),
    }
    print(json.dumps(record))
    print(json.dumps(result(values, len(failures), attempted, units)))
    return 0


def metric_units() -> dict[str, str]:
    """Metric name → unit, as declared in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
