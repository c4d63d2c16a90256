"""``warehouse_daily`` workload: the reference's daily job, two days.

Setup writes the staging CSVs: day 1 from
``sources.synthetic.generate_ecommerce`` and day 2 as day 1 plus a
seeded change set (segment/city moves, price changes, new customers,
a new day of orders and items).  A timed pass is the initial load
(CSV → ``pipeline_dag`` with its eager quality checks → the written
tables) followed by the incremental day (prior state read back →
``pipeline_dag(prior=...)`` → SCD2 merge and keyed upsert → written
again).  Every written table recomputes its lineage from the CSVs,
which is what the daily job pays.

Only the tables that carry state from day to day are written: the two
SCD2 dimensions and the order fact.  Writing all 14 warehouse and
analytics tables takes about 30 s (initial) and 47 s (incremental) per
pass on a warm 4-vCPU JVM, past the run budget; see README.md.
"""

from __future__ import annotations

import os
from decimal import Decimal

import numpy as np
import pandas as pd

# staging volume relative to the reference generator (1.0 ≙ 2500
# customers, 12000 orders, 75000 clickstream rows)
SCALE = 0.25
AS_OF = ("2024-07-09", "2024-07-10")
NEW_ORDER_DATE = "2024-07-09"
TABLES = ("customers", "products", "orders", "order_items", "clickstream",
          "inventory", "marketing_campaigns")
NATURAL_KEYS = {"dim_customers": ("customer_id", "customer_key"),
                "dim_products": ("product_id", "product_key")}


def change_set(day1: dict, seed: int) -> dict:
    """Day-2 staging tables: day 1 with seeded updates and inserts."""
    rng = np.random.default_rng(seed)
    day2 = {k: v.copy() for k, v in day1.items()}

    c = day2["customers"]
    moved = rng.random(len(c)) < 0.05
    segs = np.array(["Premium", "Regular", "Budget"])
    c.loc[moved, "customer_segment"] = segs[rng.integers(0, 3, moved.sum())]
    relocated = rng.random(len(c)) < 0.05
    c.loc[relocated, "city"] = "Bogra"
    n_new = max(5, len(c) // 100)
    new_c = c.iloc[rng.integers(0, len(c), n_new)].copy()
    new_c["customer_id"] = [f"CUST_N{i:05d}" for i in range(n_new)]
    day2["customers"] = pd.concat([c, new_c], ignore_index=True)

    p = day2["products"]
    repriced = rng.random(len(p)) < 0.05
    p.loc[repriced, "selling_price"] = [
        (v * Decimal("1.10")).quantize(Decimal("0.01"))
        for v in p.loc[repriced, "selling_price"]]

    o = day2["orders"]
    n_ord = max(20, len(o) // 50)
    new_o = o.iloc[rng.integers(0, len(o), n_ord)].copy()
    new_o["order_id"] = [f"ORD_N{i:07d}" for i in range(n_ord)]
    cust = day2["customers"]["customer_id"].to_numpy()
    new_o["customer_id"] = cust[rng.integers(0, len(cust), n_ord)]
    new_o["order_date"] = np.datetime64(NEW_ORDER_DATE, "D").astype(object)
    day2["orders"] = pd.concat([o, new_o], ignore_index=True)

    it = day2["order_items"]
    new_i = it.iloc[rng.integers(0, len(it), 2 * n_ord)].copy()
    new_i["order_item_id"] = [f"OI_N{i:07d}" for i in range(2 * n_ord)]
    new_i["order_id"] = np.repeat(new_o["order_id"].to_numpy(), 2)
    day2["order_items"] = pd.concat([it, new_i], ignore_index=True)
    return day2


class WarehouseDaily:
    name = "warehouse_daily"
    after_op = staticmethod(lambda span: None)   # per-op hook of traced runs
    check_first = False         # checks the warehouse each pass wrote
    # the daily job starts a fresh application every day, so the timed
    # pass runs in a cold JVM; later passes, if --seconds asks for more,
    # run about twice as fast
    nominal_pass_s = 30.0       # cold pass wall on 4 vCPUs (see timed_passes)

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer = spark, tracer
        self.work, self.seed = work, seed
        self.csv = [os.path.join(work, "csv", f"day{d}") for d in (1, 2)]
        self.passes = 0
        self.staged_rows: list[dict] = [{}, {}]

    # ------------------------------------------------------------ setup

    def setup(self) -> None:
        from ecommerce_data_engineering_spark.sources.synthetic import (
            generate_ecommerce)
        raw = generate_ecommerce(self.spark, scale=SCALE)
        day1 = {k: raw[k].toPandas() for k in TABLES}
        for d, tables in enumerate((day1, change_set(day1, self.seed))):
            os.makedirs(self.csv[d], exist_ok=True)
            for k, pdf in tables.items():
                pdf.to_csv(os.path.join(self.csv[d], f"{k}.csv"), index=False)
            self.staged_rows[d] = {k: len(v) for k, v in tables.items()}

    # ------------------------------------------------------------- pass

    def _read(self, d: int) -> dict:
        from ecommerce_data_engineering_spark.schemas import ECOMMERCE
        from ecommerce_data_engineering_spark.sources import read_csv_declared
        with self.tracer.span("sources.read", day=d + 1):
            return {k: read_csv_declared(self.spark,
                                         os.path.join(self.csv[d], f"{k}.csv"),
                                         ECOMMERCE[k])
                    for k in TABLES}

    def _prior(self, root: str) -> dict:
        from ecommerce_data_engineering_spark.sources import versioned as V
        with self.tracer.span("sources.read", day=2):
            read = self.spark.read.parquet
            return {
                "dim_customers": V.read_current(self.spark, f"{root}/dim_customers"),
                "dim_products": V.read_current(self.spark, f"{root}/dim_products"),
                "fact_orders": read(f"{root}/day1/fact_orders").drop("order_month"),
            }

    def _run_dag(self, d: int, raw: dict, prior: dict | None):
        from ecommerce_data_engineering_spark.orchestration import pipeline_dag
        dag = pipeline_dag(self.spark, raw, AS_OF[d], prior=prior)
        for task in dag._tasks.values():     # span every task from outside
            task.fn = self._spanned(task.name, task.fn)
        return dag.run()

    def _spanned(self, name, fn):
        def run(results):
            with self.tracer.span("orchestration.task", task=name):
                return fn(results)
        return run

    def _write(self, name: str, df, root: str, d: int) -> None:
        from ecommerce_data_engineering_spark.sources import versioned as V
        from ecommerce_data_engineering_spark.sources import write_partitioned
        if name == "fact_orders":
            write_partitioned(df, f"{root}/day{d + 1}/{name}")
        else:
            V.publish_version(df, f"{root}/{name}")

    def one_pass(self, group_prefix: str) -> list[tuple[str, float, str | None]]:
        """Initial load then incremental day: (day, wall, error).  A day
        fails if its DAG leaves a task outside SUCCESS or a write raises."""
        self.passes += 1
        root = os.path.join(self.work, "warehouse", f"pass{self.passes}")
        self.last_root, self.last_runs = root, []
        ops = []
        for d in (0, 1):
            with self.tracer.span("day", day=d + 1) as s:
                try:
                    err = self._day(d, root, f"{group_prefix}:day{d + 1}")
                except Exception as e:   # noqa: BLE001 - counted, not raised
                    err = f"{type(e).__name__}: {e}"
            ops.append((f"day{d + 1}", s["end"] - s["start"],
                        f"day {d + 1}: {err}"[:300] if err else None))
        return ops

    def _day(self, d: int, root: str, group_prefix: str) -> str | None:
        """One day's load; returns the first error, if any."""
        sc = self.spark.sparkContext
        raw = self._read(d)
        prior = self._prior(root) if d else None
        group = f"{group_prefix}:dag"
        sc.setJobGroup(group, "pipeline_dag")
        with self.tracer.span("step", step="dag", group=group) as s:
            runs = self._run_dag(d, raw, prior)
        self.last_runs.append(runs)
        self.after_op(s)
        bad = [n for n, t in runs.items() if t.state.value != "success"]
        if bad:
            return f"tasks not in SUCCESS: {bad}"
        tables = {"dim_customers": runs["transform_customers_dimension"],
                  "dim_products": runs["transform_products_dimension"],
                  "fact_orders": runs["load_orders_fact"]}
        for name, task in tables.items():
            group = f"{group_prefix}:{name}"
            sc.setJobGroup(group, name)
            with self.tracer.span("step", step=name, group=group) as s:
                with self.tracer.span("sources.write", table=name):
                    self._write(name, task.result, root, d)
            self.after_op(s)
        return None

    def written_files(self) -> dict:
        """Data files and bytes the last pass left on disk."""
        files = sizes = 0
        for d, _, names in os.walk(self.last_root):
            for n in names:
                if not n.startswith(("_", ".")):
                    files += 1
                    sizes += os.path.getsize(os.path.join(d, n))
        return {"sources.files_written": files, "sources.bytes_written": sizes}

    # ------------------------------------------------------------ check

    def check(self) -> tuple[int, list[str]]:
        """Invariants of the last pass's written warehouse: one current
        row per natural key and durable surrogate keys in both SCD2
        dimensions, and as many fact_orders rows as staged orders, on
        both days.  Returns (invariants checked, failures)."""
        from pyspark.sql import functions as F
        from ecommerce_data_engineering_spark.sources import versioned as V
        root, failures = self.last_root, []
        read = self.spark.read.parquet
        try:
            for name, (nk, sk) in NATURAL_KEYS.items():
                maps = []
                for v in (1, 2):
                    dim = V.read_version(self.spark, f"{root}/{name}", v)
                    bad = (dim.groupBy(nk)
                           .agg(F.sum(F.col("is_current").cast("int")).alias("n"))
                           .filter("n <> 1").count())
                    if bad:
                        failures.append(f"day {v} {name}: {bad} keys without "
                                        f"exactly one current row")
                    maps.append(dim.filter("is_current")
                                .select(nk, F.col(sk).alias(f"k{v}")))
                moved = (maps[0].join(maps[1], nk)
                         .filter(F.col("k1") != F.col("k2")).count())
                if moved:
                    failures.append(f"{name}: {moved} surrogate keys changed "
                                    f"from day 1 to day 2")
            for d in (0, 1):
                n = read(f"{root}/day{d + 1}/fact_orders").count()
                if n != self.staged_rows[d]["orders"]:
                    failures.append(f"day {d + 1} fact_orders: {n} rows, "
                                    f"{self.staged_rows[d]['orders']} staged")
        except Exception as e:           # noqa: BLE001 - counted, not raised
            failures.append(f"invariants: {type(e).__name__}: {e}"[:300])
        return 3 * len(NATURAL_KEYS) + 2, failures
