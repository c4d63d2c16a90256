"""The full reference pipeline — staging → warehouse → analytics — over
the e-commerce schema, DECIMAL money preserved (SURVEY.md §3).

This is the fidelity layer: each function reproduces one Airflow task
of the reference (staging_dag.py / warehouse_dag.py / analytics_dag.py)
as a DataFrame build.  The Airflow task graph collapses into plain
function ordering inside one SparkSession (SURVEY.md §3.4); the
documented quirks (§7.4.5) are replicated and cited inline.

Scale posture: dims broadcast; facts shuffle once on their join key;
every analytics table is a single groupBy; campaign attribution uses
the broadcast range join (25 campaigns) with the date-expansion
equi-join available for bigger campaign tables.

Materialization point: everything here returns a lazy plan except the
three warehouse tables that several consumers share — both keyed SCD2
dimensions (``_attach_surrogate``) and ``fact_orders``
(``build_fact_orders``).  Those end in ``_materialize``, so each is
computed once per run, where the reference's warehouse task writes its
Postgres table (warehouse_dag.py:31-227).  The quality checks, the
downstream facts and analytics, and the caller's writes then read the
stored rows instead of re-running the SCD2 merge, the durable key
mapping and the keyed upsert once per action; and every consumer sees
one computation of the surrogate keys.  ``run_pipeline`` and
``orchestration.pipeline_dag`` both go through these two functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import AS_OF_DATE
from .functions.cleaning import clean_string, coerce_numeric, fill_unknown
from .functions.dates import date_key, day_name, is_weekend, month_name, pg_dow
from .operators.range_join import range_join
from .operators.scd2 import scd2_merge
from .operators.upsert import keyed_upsert
from . import quality as Q

# ---------------------------------------------------------------- staging


def stage_customers(raw: DataFrame) -> DataFrame:
    """staging_dag.py:52-84: email lower+trim (P1), segment fillna (P2)."""
    return (raw
            .withColumn("email", clean_string("email"))
            .withColumn("customer_segment", fill_unknown("customer_segment")))


def stage_products(raw: DataFrame) -> DataFrame:
    """staging_dag.py:90-120: price coercion (P3) + dropna (P5)."""
    return (raw
            .withColumn("cost_price", coerce_numeric("cost_price"))
            .withColumn("selling_price", coerce_numeric("selling_price"))
            .na.drop(subset=["cost_price", "selling_price"]))


def stage_orders(raw: DataFrame) -> DataFrame:
    """staging_dag.py:126-156: date coercion (P4) + dropna (P5)."""
    return (raw
            .withColumn("order_date", F.col("order_date").try_cast("date"))
            .na.drop(subset=["order_date", "customer_id"]))


def staging_quality(staged: dict[str, DataFrame]) -> list[Q.CheckResult]:
    """staging_dag.py:233-259 (Q2-Q4).  The reference *logs* these
    values rather than failing on them (tasks fail only on exceptions),
    so every check here runs soft; callers wanting hard gates use
    quality.py directly with soft=False."""
    return [
        Q.check_row_count(staged["customers"], 1, "customers", soft=True),
        Q.check_row_count(staged["orders"], 1, "orders", soft=True),
        Q.check_null_count(staged["customers"], "email", at_most=10**9, soft=True),
        Q.check_rule(staged["products"],
                     (F.col("cost_price") <= 0) | (F.col("selling_price") <= 0),
                     "invalid_prices", at_most=10**9, soft=True),
    ]


# -------------------------------------------------------------- warehouse


def _empty_dim(staging: DataFrame, key: str, attrs: list[str],
               as_of: str) -> DataFrame:
    """Initial SCD2 load: every staged row becomes a current version."""
    return (staging.select(key, *attrs)
            .withColumn("effective_date", F.lit(as_of).cast("date"))
            .withColumn("expiry_date", F.lit("9999-12-31").cast("date"))
            .withColumn("is_current", F.lit(True)))


def build_dim_customers(staged: DataFrame, prior: DataFrame | None,
                        as_of: str = AS_OF_DATE) -> DataFrame:
    """warehouse_dag.py:31-92 — SCD2 on segment/city/country; full_name
    via null-propagating `||` concat (P6: PG `first || ' ' || last`
    yields NULL if either side is NULL — F.concat matches; concat_ws
    would skip NULLs, a documented semantic difference, SURVEY §2.2)."""
    attrs = ["full_name", "email", "customer_segment", "city", "country",
             "registration_date"]
    snapshot = (staged.withColumn(
        "full_name",
        F.concat(F.col("first_name"), F.lit(" "), F.col("last_name")))
        .select("customer_id", *attrs))
    if prior is None:
        return _empty_dim(snapshot, "customer_id", attrs, as_of)
    return scd2_merge(prior, snapshot, "customer_id",
                      tracked=["customer_segment", "city", "country"],
                      as_of_date=as_of)


def build_dim_products(staged: DataFrame, prior: DataFrame | None,
                       as_of: str = AS_OF_DATE) -> DataFrame:
    """warehouse_dag.py:94-153 — SCD2 on cost/sell/is_active, plus the
    profit-margin projection (P12/P13, warehouse_dag.py:128)."""
    margin = F.when(
        F.col("selling_price") > 0,
        F.round((F.col("selling_price") - F.col("cost_price"))
                / F.col("selling_price") * 100, 2),
    ).cast("decimal(5,2)")
    snapshot = (staged
                .withColumn("profit_margin", margin)
                .select("product_id", "product_name", "category", "brand",
                        "cost_price", "selling_price", "profit_margin",
                        "is_active"))
    attrs = [c for c in snapshot.columns if c != "product_id"]
    if prior is None:
        return _empty_dim(snapshot, "product_id", attrs, as_of)
    return scd2_merge(prior, snapshot, "product_id",
                      tracked=["cost_price", "selling_price", "is_active"],
                      as_of_date=as_of)


def build_dim_time(orders_staged: DataFrame,
                   prior: DataFrame | None = None) -> DataFrame:
    """warehouse_dag.py:160-180: distinct order dates → calendar
    attributes (P8-P11; PG DOW semantics), insert-if-absent (M4)."""
    d = F.col("order_date")
    fresh = (orders_staged.select(d.alias("order_date")).distinct()
             .select(
                 date_key(d).alias("time_key"),
                 d.cast("date").alias("full_date"),
                 pg_dow(d).alias("day_of_week"),
                 day_name(d).alias("day_name"),
                 F.dayofmonth(d).alias("day_of_month"),
                 F.dayofyear(d).alias("day_of_year"),
                 F.weekofyear(d).alias("week_of_year"),
                 F.month(d).alias("month"),
                 month_name(d).alias("month_name"),
                 F.quarter(d).alias("quarter"),
                 F.year(d).alias("year"),
                 is_weekend(d).alias("is_weekend"),
             ))
    if prior is None:
        return fresh
    from .operators.upsert import insert_if_absent
    return insert_if_absent(prior, fresh, "time_key")


def _materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` now and return a plan that reads the stored rows.

    ``localCheckpoint`` cuts the lineage, so downstream plans analyze a
    ``LogicalRDD`` leaf instead of the SCD2 tree, and Spark's
    ContextCleaner frees the blocks once the returned DataFrame is
    dropped.  ``persist`` would keep a CacheManager entry alive across
    runs until something unpersists it, and nothing in the DAG knows
    when the caller has finished writing.

    Cluster caveat: local-checkpoint blocks live on the executors and
    are lost with an executor.  The engine runs in local mode, where
    driver and executor are one JVM; on a cluster this is the one place
    to switch to a reliable ``checkpoint()`` under a checkpoint dir."""
    return df.localCheckpoint(eager=True)


def _surrogate(dim: DataFrame, natural_key: str, surrogate: str) -> DataFrame:
    """P20: surrogate keys for current dim rows.

    Dims built by ``run_pipeline`` carry a DURABLE stored key column
    (operators/keys.surrogate_mapping — assigned at first sight, never
    recomputed), so this is just the current-row filter.  The
    row_number fallback serves standalone single-run callers only; in
    an incremental pipeline it would reassign keys when the key set's
    sort order shifts (reference SERIAL semantics forbid that)."""
    if surrogate in dim.columns:
        return dim.filter(F.col("is_current"))
    w = Window.orderBy(natural_key)
    return (dim.filter(F.col("is_current"))
            .withColumn(surrogate, F.row_number().over(w)))


def _attach_surrogate(dim: DataFrame, prior_dim: DataFrame | None,
                      natural_key: str, surrogate: str) -> DataFrame:
    """Join the durable key mapping onto every version row of the dim
    (all versions of a natural key share one surrogate — SERIAL
    parity).  Prior keys are reused verbatim; only first-seen keys get
    new values (max prior + row_number over the new keys alone).

    The keyed dim is materialized (``_materialize``): the current-row
    and orphan checks, every fact and metric that resolves keys, and
    the caller's write all read one computation of the SCD2 merge and
    the key mapping, and a failure in either surfaces here, in the task
    that builds the dimension."""
    from .operators.keys import surrogate_mapping

    prior_map = (prior_dim.select(natural_key, surrogate).distinct()
                 if prior_dim is not None and surrogate in prior_dim.columns
                 else None)
    mapping = surrogate_mapping(dim, natural_key, surrogate, prior_map)
    # null-safe attach: surrogate_mapping deliberately gives a NULL
    # natural key a durable surrogate; a plain equi-join would drop
    # that dim row here (NULL = NULL is never true)
    m = mapping.select(F.col(natural_key).alias("__nk"), surrogate)
    return _materialize(dim.join(m, F.col(natural_key).eqNullSafe(F.col("__nk")))
                        .drop("__nk"))


def _drop_if_present(df: DataFrame | None, col: str) -> DataFrame | None:
    return df.drop(col) if df is not None and col in df.columns else df


def build_fact_orders(orders_staged: DataFrame, dim_customers: DataFrame,
                      prior: DataFrame | None = None) -> DataFrame:
    """warehouse_dag.py:202-227: resolve surrogate keys against current
    dim rows (J1/J4), smart date key (P8), profit = total−tax−shipping
    (P12), `total_items = 1` hardcode (quirk, warehouse_dag.py:224),
    idempotent keyed upsert (M2).

    The result is materialized (``_materialize``): the orphan check,
    ``fact_order_items``, the order analytics and the caller's write
    read the stored fact instead of re-running the join and the
    upsert."""
    dim = _surrogate(dim_customers, "customer_id", "customer_key")
    fact = (
        orders_staged.join(F.broadcast(dim.select("customer_id", "customer_key")),
                           "customer_id")
        .select(
            "order_id",
            "customer_key",
            date_key("order_date").alias("order_date_key"),
            "order_status",
            "subtotal", "discount_amount", "shipping_cost", "tax_amount",
            "total_amount",
            (F.col("total_amount") - F.col("tax_amount")
             - F.col("shipping_cost")).cast("decimal(12,2)").alias("profit"),
            F.lit(1).alias("total_items"),
        )
    )
    return _materialize(fact if prior is None
                        else keyed_upsert(prior, fact, "order_id"))


def build_fact_order_items(items_staged: DataFrame, fact_orders: DataFrame,
                           dim_products: DataFrame,
                           prior: DataFrame | None = None) -> DataFrame:
    """warehouse_dag.py:247-273 (J2 multi-way): items resolve order facts
    + current products; item profit = (price − cost) × qty (P12)."""
    dimp = _surrogate(dim_products, "product_id", "product_key")
    fact = (
        items_staged
        .join(fact_orders.select("order_id", "customer_key", "order_date_key"),
              "order_id")
        .join(F.broadcast(dimp.select("product_id", "product_key", "cost_price")),
              "product_id")
        .select(
            "order_item_id", "order_id", "customer_key", "product_key",
            "order_date_key", "quantity", "unit_price", "total_price",
            ((F.col("unit_price") - F.col("cost_price")) * F.col("quantity"))
            .cast("decimal(12,2)").alias("item_profit"),
        )
    )
    return fact if prior is None else keyed_upsert(prior, fact, "order_item_id")


def build_fact_clickstream(click_staged: DataFrame,
                           dim_customers: DataFrame,
                           dim_products: DataFrame) -> DataFrame:
    """warehouse_dag.py:382-426: clickstream events resolve surrogate
    keys but KEEP anonymous rows (left joins, J3).  30% NULL
    customer_id is the skew driver (§7.4.8) — the null-safe join keeps
    NULL keys out of the shuffle entirely."""
    from .operators.skew import null_safe_left_join

    dimc = _surrogate(dim_customers, "customer_id", "customer_key") \
        .select("customer_id", "customer_key")
    dimp = _surrogate(dim_products, "product_id", "product_key") \
        .select("product_id", "product_key")
    fact = null_safe_left_join(click_staged, dimc, "customer_id")
    fact = null_safe_left_join(fact, dimp, "product_id")
    return fact.select(
        "event_id", "session_id", "customer_key", "product_key",
        "event_type", "device_type",
        date_key(F.col("timestamp")).alias("event_date_key"),
        "timestamp", "duration_seconds",
    )


def build_fact_inventory(inventory_staged: DataFrame,
                         dim_products: DataFrame) -> DataFrame:
    """warehouse_dag.py:296-340: full-refresh inventory fact (M3)."""
    dimp = _surrogate(dim_products, "product_id", "product_key") \
        .select("product_id", "product_key")
    return (inventory_staged.join(F.broadcast(dimp), "product_id")
            .select("inventory_id", "product_key", "warehouse_location",
                    "current_stock", "reserved_stock",
                    (F.col("current_stock") - F.col("reserved_stock"))
                    .alias("available_stock")))


def build_dim_campaigns(campaigns_staged: DataFrame) -> DataFrame:
    """warehouse_dag.py:344-378: campaign dim with duration (M3)."""
    return campaigns_staged.withColumn(
        "duration_days",
        F.datediff("end_date", "start_date") + F.lit(1))


def warehouse_quality(fact_orders: DataFrame,
                      dim_customers: DataFrame) -> list[Q.CheckResult]:
    """warehouse_dag.py:462-488: current-row count + orphan FK check."""
    current = dim_customers.filter("is_current")
    return [
        Q.check_row_count(current, 1, "dim_customers_current"),
        Q.check_referential(
            fact_orders, _surrogate(dim_customers, "customer_id", "customer_key"),
            "customer_key", "customer_key", "fact_orders→dim_customers"),
    ]


# -------------------------------------------------------------- analytics


def build_customer_metrics(dim_customers: DataFrame, fact_orders: DataFrame,
                           as_of: str = AS_OF_DATE) -> DataFrame:
    """analytics_dag.py:44-69: per-customer rollup + churn tiers."""
    dim = _surrogate(dim_customers, "customer_id", "customer_key")
    as_of_c = F.lit(as_of).cast("date")
    last_dk = F.max("order_date_key")
    last_date = F.to_date(last_dk.cast("string"), "yyyyMMdd")
    days_since = F.datediff(as_of_c, last_date)
    return (
        dim.join(fact_orders, "customer_key", "left")
        .groupBy("customer_id", "customer_key", "customer_segment")
        .agg(
            F.count("order_id").alias("total_orders"),
            F.coalesce(F.sum("total_amount"),
                       F.lit(0).cast("decimal(12,2)")).alias("lifetime_value"),
            F.coalesce(F.avg("total_amount"),
                       F.lit(0).cast("decimal(12,2)")).alias("avg_order_value"),
            F.min(F.to_date(F.col("order_date_key").cast("string"), "yyyyMMdd"))
             .alias("first_order_date"),
            last_date.alias("last_order_date"),
            days_since.alias("days_since_last_order"),
            F.when(last_dk.isNull(), "No Orders")
             .when(days_since > 365, "High")
             .when(days_since > 180, "Medium")
             .otherwise("Low").alias("churn_risk"),
        )
        .drop("customer_key")
    )


def build_product_metrics(dim_products: DataFrame, fact_items: DataFrame,
                          inventory_staged: DataFrame) -> DataFrame:
    """analytics_dag.py:85-122 with the CTE total_inventory (A6) and the
    PG truncating integer division (P21 — floor, §7.4.4)."""
    dimp = _surrogate(dim_products, "product_id", "product_key")
    total_inv = (inventory_staged.groupBy("product_id")
                 .agg(F.sum("current_stock").alias("total_stock")))
    sales = (fact_items.groupBy("product_key")
             .agg(F.sum("quantity").alias("units_sold"),
                  F.sum("total_price").alias("total_revenue"),
                  F.sum("item_profit").alias("total_profit"),
                  F.countDistinct("order_id").alias("order_count")))
    return (
        dimp.join(sales, "product_key", "left")
        .join(total_inv, "product_id", "left")
        .select(
            "product_id", "product_name", "category", "brand",
            "profit_margin",
            F.coalesce("units_sold", F.lit(0)).alias("units_sold"),
            F.coalesce(F.col("total_revenue"), F.lit(0).cast("decimal(12,2)"))
             .alias("total_revenue"),
            F.coalesce(F.col("total_profit"), F.lit(0).cast("decimal(12,2)"))
             .alias("total_profit"),
            F.coalesce("order_count", F.lit(0)).alias("order_count"),
            F.coalesce("total_stock", F.lit(0)).alias("total_stock"),
            # analytics_dag.py:114-117: guard + truncating division.
            # PG integer division truncates TOWARD ZERO (cast does
            # too); floor() would round toward -inf and diverge on a
            # negative units_sold (returns/corrections)
            F.when(F.coalesce("total_stock", F.lit(0)) > 0,
                   (F.coalesce("units_sold", F.lit(0))
                    / F.col("total_stock")).cast("int"))
             .otherwise(0).alias("stock_turnover"),
        )
    )


def build_daily_sales(fact_orders: DataFrame) -> DataFrame:
    """analytics_dag.py:150-163 (incl. new_customers = 0 placeholder)."""
    return (
        fact_orders
        .groupBy(F.to_date(F.col("order_date_key").cast("string"), "yyyyMMdd")
                 .alias("sales_date"))
        .agg(F.countDistinct("order_id").alias("total_orders"),
             F.sum("total_amount").alias("total_revenue"),
             F.avg("total_amount").alias("avg_order_value"),
             F.countDistinct("customer_key").alias("unique_customers"))
        .withColumn("new_customers", F.lit(0))
    )


def build_monthly_trends(daily_sales: DataFrame) -> DataFrame:
    """analytics_dag.py:191-208."""
    return (
        daily_sales
        .groupBy(F.year("sales_date").alias("year"),
                 F.month("sales_date").alias("month"))
        .agg(F.sum("total_orders").alias("total_orders"),
             F.sum("total_revenue").alias("total_revenue"),
             F.sum("unique_customers").alias("customer_visits"))
        .orderBy("year", "month")
    )


def build_customer_acquisition(dim_customers: DataFrame,
                               fact_orders: DataFrame) -> DataFrame:
    """analytics_dag.py:236-268: first-order CTE (A6) with the
    first_order_value = MIN(total_amount) quirk (§7.4.5)."""
    dim = _surrogate(dim_customers, "customer_id", "customer_key")
    first_order = (
        fact_orders.groupBy("customer_key")
        .agg(F.min(F.to_date(F.col("order_date_key").cast("string"), "yyyyMMdd"))
             .alias("first_order_date"),
             F.min("total_amount").alias("first_order_value"))
    )
    days = F.datediff("first_order_date", "registration_date")
    return (
        dim.join(first_order, "customer_key", "left")
        .select(
            "customer_id", "registration_date", "first_order_date",
            "first_order_value",
            days.alias("days_to_first_purchase"),
            F.when(F.col("first_order_date").isNull(), "Never Purchased")
             .when(days <= 7, "First Week")
             .when(days <= 30, "First Month")
             .otherwise("After Month").alias("acquisition_bucket"),
        )
    )


def build_campaign_attribution(daily_sales: DataFrame,
                               campaigns_staged: DataFrame) -> DataFrame:
    """analytics_dag.py:296-316 (J7 BETWEEN range join; campaign side
    broadcast).  Soft-fails upstream per the reference (§7.4.5 — the
    caller wraps in try/except)."""
    joined = range_join(daily_sales, campaigns_staged.select(
        "campaign_id", "campaign_name", "channel", "start_date", "end_date"),
        "sales_date", "start_date", "end_date")
    return (
        joined.groupBy("campaign_id", "campaign_name", "channel",
                       "start_date", "end_date")
        .agg(F.count("sales_date").alias("days_with_sales"),
             F.sum("total_revenue").alias("revenue_in_period"),
             F.avg("total_revenue").alias("avg_daily_revenue"))
    )


def build_top_products(product_metrics: DataFrame) -> DataFrame:
    """top_products view (analytics_dag.py:357-370) — distributed
    top-20 with rank over survivors (no global window)."""
    from .operators.topk import distributed_topk

    return distributed_topk(
        product_metrics.select("product_id", "product_name", "category",
                               "total_revenue", "units_sold", "order_count"),
        [F.desc("total_revenue"), F.asc("product_id")], 20,
        rank_on=F.desc("total_revenue"), rank_name="revenue_rank")


def build_customer_segmentation(customer_metrics: DataFrame) -> DataFrame:
    """customer_segmentation view (analytics_dag.py:376-384)."""
    seg = (customer_metrics.groupBy("customer_segment")
           .agg(F.count(F.lit(1)).alias("customer_count"),
                F.sum("lifetime_value").alias("total_lifetime_value"),
                F.avg("lifetime_value").alias("avg_lifetime_value")))
    total = Window.partitionBy()
    return seg.withColumn(
        "pct_of_customers",
        F.round(F.col("customer_count") * 100.0 /
                F.sum("customer_count").over(total), 2))


def build_seasonal_performance(daily_sales: DataFrame) -> DataFrame:
    """seasonal_performance view (analytics_dag.py:388-398)."""
    return (daily_sales
            .groupBy(F.quarter("sales_date").alias("quarter"))
            .agg(F.sum("total_orders").alias("total_orders"),
                 F.sum("total_revenue").alias("total_revenue"),
                 F.avg("avg_order_value").alias("avg_order_value")))


def build_acquisition_summary(customer_acquisition: DataFrame) -> DataFrame:
    """acquisition_summary view (analytics_dag.py:403-419): W2 over the
    bucket aggregate."""
    by_bucket = (customer_acquisition.groupBy("acquisition_bucket")
                 .agg(F.count(F.lit(1)).alias("customer_count"),
                      F.avg("days_to_first_purchase").alias("avg_days_to_purchase")))
    return by_bucket.withColumn(
        "pct_of_customers",
        F.round(F.col("customer_count") * 100.0 /
                F.sum("customer_count").over(Window.partitionBy()), 2))


def build_executive_summary(fact_orders: DataFrame,
                            dim_customers: DataFrame) -> DataFrame:
    """analytics_dag.py:339-352.  DOCUMENTED DEVIATION (§7.4.5): the
    reference CROSS JOINs unaggregated tables (inflating sums); we
    aggregate first — the stated intent."""
    orders_agg = fact_orders.agg(
        F.sum("total_amount").alias("total_revenue"),
        F.countDistinct("order_id").alias("total_orders"),
        F.avg("total_amount").alias("avg_order_value"))
    cust_agg = (dim_customers.filter("is_current")
                .agg(F.count(F.lit(1)).alias("total_customers")))
    return orders_agg.crossJoin(cust_agg)


# ---------------------------------------------------------------- driver


def run_pipeline(spark: SparkSession, raw: dict[str, DataFrame],
                 as_of: str = AS_OF_DATE,
                 prior: dict[str, DataFrame] | None = None) -> dict[str, DataFrame]:
    """staging → warehouse → analytics, mirroring the reference's DAG
    ordering (SURVEY.md §3.2-3.3).  ``prior`` carries yesterday's dims/
    facts for the incremental path (SCD2 + M2 upsert); None = initial
    load.  Campaign attribution soft-fails like the reference."""
    prior = prior or {}

    staged = {
        "customers": stage_customers(raw["customers"]),
        "products": stage_products(raw["products"]),
        "orders": stage_orders(raw["orders"]),
        "order_items": raw["order_items"],
        "inventory": raw["inventory"],
        "marketing_campaigns": raw["marketing_campaigns"],
        "clickstream": raw["clickstream"],
    }
    staging_quality(staged)

    # SCD2 merge runs on the attribute columns only (the stored key is
    # stripped from `prior` so it isn't mistaken for a tracked attr),
    # then the durable key mapping is re-attached: prior keys verbatim,
    # new natural keys get max(prior)+row_number(new) — facts retained
    # by the M2 upsert keep resolving to the same dim rows run over run.
    dim_customers = _attach_surrogate(
        build_dim_customers(staged["customers"],
                            _drop_if_present(prior.get("dim_customers"),
                                             "customer_key"), as_of),
        prior.get("dim_customers"), "customer_id", "customer_key")
    dim_products = _attach_surrogate(
        build_dim_products(staged["products"],
                           _drop_if_present(prior.get("dim_products"),
                                            "product_key"), as_of),
        prior.get("dim_products"), "product_id", "product_key")
    dim_time = build_dim_time(staged["orders"], prior.get("dim_time"))
    fact_orders = build_fact_orders(staged["orders"], dim_customers,
                                    prior.get("fact_orders"))
    fact_order_items = build_fact_order_items(
        staged["order_items"], fact_orders, dim_products,
        prior.get("fact_order_items"))
    warehouse_quality(fact_orders, dim_customers)

    daily_sales = build_daily_sales(fact_orders)
    customer_metrics = build_customer_metrics(dim_customers, fact_orders, as_of)
    product_metrics = build_product_metrics(dim_products, fact_order_items,
                                            staged["inventory"])
    customer_acquisition = build_customer_acquisition(dim_customers, fact_orders)
    out = {
        "dim_customers": dim_customers,
        "dim_products": dim_products,
        "dim_time": dim_time,
        "dim_campaigns": build_dim_campaigns(staged["marketing_campaigns"]),
        "fact_orders": fact_orders,
        "fact_order_items": fact_order_items,
        "fact_clickstream": build_fact_clickstream(staged["clickstream"],
                                                   dim_customers, dim_products),
        "fact_inventory": build_fact_inventory(staged["inventory"], dim_products),
        "customer_metrics": customer_metrics,
        "product_metrics": product_metrics,
        "daily_sales": daily_sales,
        "monthly_trends": build_monthly_trends(daily_sales),
        "customer_acquisition": customer_acquisition,
        "executive_summary": build_executive_summary(fact_orders, dim_customers),
        "top_products": build_top_products(product_metrics),
        "customer_segmentation": build_customer_segmentation(customer_metrics),
        "seasonal_performance": build_seasonal_performance(daily_sales),
        "acquisition_summary": build_acquisition_summary(customer_acquisition),
    }
    try:
        # analytics_dag.py:325-328: attribution is the one soft-fail
        # task.  DataFrames are lazy, so this except can only catch
        # ANALYSIS-time failures (missing campaign columns/table —
        # the reference's actual soft-fail cause); an execution-time
        # failure surfaces at the consumer's action like any other
        # table's would.  Consumers needing a hard guarantee should
        # eagerly materialize inside their own guard.
        out["campaign_attribution"] = build_campaign_attribution(
            daily_sales, staged["marketing_campaigns"])
    except Exception:
        out["campaign_attribution"] = None
    return out
