"""Spans and Spark-side counters, recorded from the benchmark process.

Nothing here reaches inside the package: spans wrap the benchmark's
own calls into it, py4j commands are counted by wrapping the gateway
client's ``send_command``, and execution counters come from Spark's
status store (job groups → stages) and its SQL status store (the plan
of every execution).
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

# per-stage fields summed into a query's counters: (StageData getter, key)
_STAGE_FIELDS = (
    ("numCompleteTasks", "tasks"),
    ("executorRunTime", "executor_run_ms"),
    ("executorCpuTime", "executor_cpu_ns"),
    ("jvmGcTime", "gc_ms"),
    ("shuffleRemoteBytesRead", "shuffle_read_bytes"),
    ("shuffleLocalBytesRead", "shuffle_read_bytes"),
    ("shuffleWriteBytes", "shuffle_write_bytes"),
    ("memoryBytesSpilled", "spill_bytes"),
    ("diskBytesSpilled", "spill_bytes"),
    ("inputRecords", "input_records"),
    ("outputRecords", "output_records"),
)
_PLAN_NODES = {"exchanges": r"\bExchange\b", "smj": r"\bSortMergeJoin\b",
               "shj": r"\bShuffledHashJoin\b", "bhj": r"\bBroadcastHashJoin\b"}


class Tracer:
    """In-memory span recorder: name, start, end, parent and run id,
    plus the py4j commands sent inside the span while a counter is
    attached.  Untraced runs use it too, for their wall clocks."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counter: Py4jCounter | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        calls = self.counter.count if self.counter else None
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if calls is not None:
                rec["py4j"] = self.counter.count - calls
            self._stack.pop()

    def total(self, name: str) -> float:
        """Summed duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class Py4jCounter:
    """Counts py4j commands by wrapping the gateway client's
    ``send_command``; ``count`` is monotone across the whole run."""

    def __init__(self, spark):
        self.count = 0
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command

        def counted(*a, **kw):
            self.count += 1
            return self._orig(*a, **kw)

        self._client.send_command = counted

    def close(self) -> None:
        self._client.send_command = self._orig


def wait_for_listeners(spark) -> None:
    """The status stores are filled by the listener bus, asynchronously
    to the action that ran the jobs; drain it before reading them."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def job_group_counters(spark, group: str) -> dict:
    """Jobs, stages and summed stage metrics of one job group."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    default3 = getattr(store, "stageData$default$3")()
    default5 = getattr(store, "stageData$default$5")()
    out = {"jobs": 0, "stages": 0}
    out.update({k: 0 for _, k in _STAGE_FIELDS})
    seen: set[int] = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        info = sc.statusTracker().getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                attempts = store.stageData(sid, False, default3, False, default5)
            except Exception:            # noqa: BLE001 - skipped stage
                continue
            ran = False
            it = attempts.iterator()
            while it.hasNext():
                sd = it.next()
                ran = ran or sd.numCompleteTasks() > 0
                for getter, key in _STAGE_FIELDS:
                    out[key] += int(getattr(sd, getter)())
            out["stages"] += ran
    return out


class PlanCounter:
    """Exchange and join-strategy counts (``plan_nodes``) over every SQL
    execution that started since the previous call, so an operation
    that runs many actions counts every plan it ran.  Drain the
    listener bus first (``wait_for_listeners``)."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        execs = self._store.executionsList()
        self.seen = -1 if execs.isEmpty() else execs.last().executionId()

    def since_last(self) -> dict:
        out = {k: 0 for k in _PLAN_NODES}
        execs = self._store.executionsList()     # ordered by execution id
        newest = self.seen
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            if e.executionId() <= self.seen:
                break
            newest = max(newest, e.executionId())
            for k, n in plan_nodes(e.physicalPlanDescription()).items():
                out[k] += n
        self.seen = newest
        return out


def plan_nodes(desc: str) -> dict:
    """Node counts of one execution's physical plan description: its
    plan tree without the per-node details that follow it, and of an
    adaptive plan only the newest tree (``Final Plan``, or ``Current
    Plan`` when the store holds no final one)."""
    tree = desc.split("\n\n(", 1)[0]
    for marker in ("== Final Plan ==", "== Current Plan =="):
        if marker in tree:
            tree = tree.split(marker, 1)[1].split("== Initial Plan ==", 1)[0]
            break
    return {k: len(re.findall(p, tree)) for k, p in _PLAN_NODES.items()}
