"""``serve`` workload: the registry's bench roster as dashboard queries.

One long-lived session answers eight ``bench=True`` registry queries
over a seeded fixture, one at a time in a closed loop, each sent to a
``noop`` sink.  Correctness is the DuckDB oracle of every query,
normalized as in ``tests/oracle.py`` and digested in setup; the Spark
results are collected and digested outside the timed region.
"""

from __future__ import annotations

import hashlib
import os

import fixture

# dashboard scale: every query runs 2-20 tasks, so plan construction and
# scheduling, not kernels, set the latency (see README.md)
SF = 0.01


# Eight of the 22 ``bench=True`` registry queries.  A run pays a fresh
# JVM: the cold correctness pass costs about twice a warm pass, so the
# whole roster (56 s cold + 30 s warm on 4 vCPUs) cannot fit the run
# budget.  Kept: the reference's Looker-facing analytics, two star-
# schema join aggregates, and the two top plan-construction costs
# outside the corpus/ANN queries.
ROSTER = (
    "customer_metrics", "product_metrics", "top_products", "daily_sales",
    "pricing_summary", "revenue_by_nation",
    "cdc_incremental_metrics", "campaign_attribution_scalable",
)


def digest(pdf) -> dict:
    """Order-insensitive fingerprint of a result: sorted column names,
    their dtype families and a hash of the sorted canonical rows.  Cells
    are normalized by ``oracle._norm_cell`` (what ``oracle.canonical``
    applies), column by column instead of row by row."""
    from oracle import _dtype_family, _norm_cell
    cols = sorted(pdf.columns)
    rows = sorted(zip(*([_norm_cell(v) for v in pdf[c].tolist()] for c in cols)))
    return {"columns": cols, "rows": len(rows),
            "families": [_dtype_family(pdf[c]) for c in cols],
            "sha256": hashlib.sha256(repr(rows).encode()).hexdigest()}


def _same(got: dict, want: dict) -> bool:
    """Digest equality, with the dtype-family leniency of
    ``oracle.dtype_problems``: all-null matches anything, date matches
    datetime."""
    keys = ("columns", "rows", "sha256")
    if [got[k] for k in keys] != [want[k] for k in keys]:
        return False
    return all(a == b or "all-null" in (a, b) or {a, b} == {"date", "datetime"}
               for a, b in zip(got["families"], want["families"]))


class Serve:
    name = "serve"
    after_op = staticmethod(lambda span: None)   # per-op hook of traced runs
    check_first = True          # the check pass doubles as the JVM warm-up
    nominal_pass_s = 5.0        # warm pass wall on 4 vCPUs (see timed_passes)

    def __init__(self, spark, tracer, work: str, seed: int, queries=None):
        self.spark, self.tracer = spark, tracer
        self.data = os.path.join(work, "fixture")
        self.seed = seed
        self.queries = list(queries or ROSTER)
        self.expected: dict[str, dict] = {}

    def setup(self) -> None:
        """Fixture from the seed, then every query's oracle digest."""
        from oracle import duckdb_run
        from ecommerce_data_engineering_spark.plans import REGISTRY
        fixture.write(self.data, SF, self.seed)
        self.expected = {n: digest(duckdb_run(REGISTRY[n].oracle, self.data))
                         for n in self.queries}

    def check(self) -> tuple[int, list[str]]:
        """Run each query once, collect it, compare digests.
        Returns (queries checked, failures one line each)."""
        from ecommerce_data_engineering_spark.plans import REGISTRY
        failures = []
        for n in self.queries:
            try:
                got = digest(REGISTRY[n].fn(self.spark, self.data).toPandas())
                if not _same(got, self.expected[n]):
                    failures.append(f"{n}: result differs from its oracle "
                                    f"({got['rows']} vs {self.expected[n]['rows']} rows)")
                self.spark.catalog.clearCache()
            except Exception as e:       # noqa: BLE001 - counted, not raised
                failures.append(f"{n}: {type(e).__name__}: {e}"[:300])
        return len(self.queries), failures

    def one_pass(self, group_prefix: str) -> list[tuple[str, float, str | None]]:
        """One closed-loop pass over the roster: (query, wall, error)."""
        from ecommerce_data_engineering_spark.plans import REGISTRY
        sc = self.spark.sparkContext
        out = []
        for n in self.queries:
            group = f"{group_prefix}:{n}"
            err, q = None, None
            try:
                sc.setJobGroup(group, n)
                with self.tracer.span("query", query=n, group=group) as q:
                    with self.tracer.span("construct", query=n):
                        df = REGISTRY[n].fn(self.spark, self.data)
                    with self.tracer.span("execute", query=n):
                        df.write.format("noop").mode("overwrite").save()
                self.after_op(q)
                # queries may persist intermediates; later ones must not
                # run under their cache pressure (bench.py does the same)
                self.spark.catalog.clearCache()
            except Exception as e:       # noqa: BLE001 - counted, not raised
                err = f"{n}: {type(e).__name__}: {e}"[:300]
            out.append((n, q["end"] - q["start"] if q else 0.0, err))
        return out
