"""SparkSession factory.

Local-mode defaults are tuned for the test harness (local[32], single
JVM); the same builder flags are what we would ship on a real cluster —
AQE handles partition coalescing / skew at any scale, UTC pins
timestamp semantics for oracle comparison, Arrow accelerates the few
pandas-UDF extension operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local mode runs driver and executors in one JVM, so this heap is the
# engine's whole memory budget; the rest of the host stays for off-heap
# buffers, Python workers and the page cache
HEAP_SHARE = 0.6


def heap_for(mem_total: int, cgroup_max: int | None = None) -> str:
    """``spark.driver.memory`` for a host with ``mem_total`` bytes of
    RAM and an optional cgroup ``memory.max`` limit in bytes:
    ``HEAP_SHARE`` of the lower of the two, in MiB."""
    limit = mem_total if cgroup_max is None else min(mem_total, cgroup_max)
    return f"{max(1, int(limit * HEAP_SHARE) >> 20)}m"


def _host_heap() -> str:
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            cgroup = int(f.read())
    except (OSError, ValueError):        # no cgroup v2 limit ("max")
        cgroup = None
    return heap_for(total, cgroup)


def get_spark(app_name: str = "ecommerce_data_engineering_spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    At 100 TB the master/memory flags come from the cluster manager
    instead, but every ``spark.sql.*`` setting below is scale-neutral:

    - AQE + coalesce + skewJoin: runtime re-planning replaces hand-tuned
      shuffle partition counts and manual skew salting for most plans.
    - ``shuffle.partitions`` is only the *initial* number; AQE coalesces.
    - UTC session timezone: deterministic date extraction regardless of
      host timezone (and matches the DuckDB oracle, which is UTC-naive).
    - ANSI mode stays at the Spark 4 default (on); coercion semantics
      that need invalid→NULL use ``try_cast`` explicitly.

    The heap defaults to ``HEAP_SHARE`` of host memory, or of the
    cgroup limit when that is lower (``heap_for``);
    ``SPARK_DRIVER_MEMORY`` overrides it.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE SMJ->shuffled-hash rewrite (guide §3.1; r12): when every
        # post-shuffle build-side partition is under this bound, the
        # runtime replaces sort-merge with shuffled-hash — dropping the
        # two per-partition sorts of the fact-table joins (measured 64×:
        # fact_lineitem_build 5.4→4.5 s, top_revenue_orders 2.9→2.3 s,
        # min-of-4 each; static plans unchanged — this is a runtime
        # re-optimization).  Scale-safe by construction: AQE coalesces
        # partitions toward 64 MB, the bound caps the per-task hash map,
        # and oversized partitions fall back to SMJ.  Off upstream only
        # because the default must never risk a build-side OOM on
        # unknown memory budgets; 256 MB is conservative against this
        # engine's per-task memory (heap/cores).
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "256m"))
        # runtime Bloom-filter semi-join pruning (kicks in at real scan
        # sizes; see tests/test_physical.py for the demonstrated plan)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or _host_heap())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the driver fixtures store events.ts as TIMESTAMP(NANOS), which
        # Spark's vectorized reader rejects; read as long and convert
        # (sources/readers.py handles the cast back to timestamp)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
