"""Relational core queries (SURVEY.md §2.1-2.6) on the driver corpus.

Each query exercises one or more inventory operators through the package's
operator modules and carries a DuckDB oracle. Naming: every computed
column aliased identically on both sides; doubles rounded identically
(2dp currency sums, 4dp means, 6dp ratios/logs) so the driver's value
hash is engine-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import bucket_label_col, first_word
from ..operators import aggregates as agg
from ..operators import cleaning, joins, topk
from ..plans.materialize import local_frame
from ..registry import query
from ..sources.readers import load_table

# --------------------------------------------------------------------------
# A1/A12-style wide aggregation: TPC-H Q1 shape (grouped 8-agg scan).
# Scale: single scan, map-side partial agg, 6-group result. The shipdate
# filter reaches the parquet scan (PushedFilters) — verified via explain.
# --------------------------------------------------------------------------


@query(
    "pricing_summary_report",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2025-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def pricing_summary_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2025-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# T1: top-N by count with deterministic tie-break.
# --------------------------------------------------------------------------


@query(
    "top10_part_brands",
    oracle="""
SELECT p_brand, count(*) AS count
FROM part GROUP BY p_brand
ORDER BY count DESC, p_brand ASC LIMIT 10
""",
)
def top10_part_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topk.top_n_by_count(load_table(spark, sf_dir, "part"), "p_brand", 10)


# --------------------------------------------------------------------------
# J1 chain: fact ⋈ broadcast dims (customer→nation→region), grouped revenue.
# Scale: nation/region broadcast (no fact shuffle for dims); the one real
# shuffle is lineitem⋈orders on orderkey, then orders⋈customer on custkey.
# --------------------------------------------------------------------------


@query(
    "region_revenue",
    oracle="""
SELECT r.r_name, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name ORDER BY r.r_name
""",
)
def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = load_table(spark, sf_dir, "region")
    df = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        df.groupBy("r_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name")
    )


# --------------------------------------------------------------------------
# J2/P7: left-semi membership against a derived table (top segment).
# --------------------------------------------------------------------------


@query(
    "top_segment_order_stats",
    oracle="""
WITH top_seg AS (
  SELECT c_mktsegment FROM customer GROUP BY c_mktsegment
  ORDER BY count(*) DESC, c_mktsegment ASC LIMIT 1
),
seg_cust AS (
  SELECT c_custkey FROM customer
  WHERE c_mktsegment IN (SELECT c_mktsegment FROM top_seg)
)
SELECT o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_spend
FROM orders WHERE o_custkey IN (SELECT c_custkey FROM seg_cust)
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def top_segment_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    top_seg = topk.top_n_by_count(cust, "c_mktsegment", 1).select("c_mktsegment")
    seg_cust = joins.semi_filter(cust, top_seg, "c_mktsegment").select("c_custkey")
    seg_orders = joins.semi_filter(
        orders, seg_cust.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"
    )
    return (
        seg_orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Anti join: customers with no orders (engine extension of J-family).
# --------------------------------------------------------------------------


@query(
    "customers_without_orders",
    oracle="""
SELECT c_mktsegment, count(*) AS n_customers
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate > TIMESTAMP '2000-01-01 00:00:00')
GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 anti-join — LAPSED customers (no order since the cutoff), not
    never-ordered: every customer in this corpus has at least one order,
    so the unconditional NOT EXISTS was empty at every SF and its green
    hash proved nothing. The date predicate pushes to the orders scan."""
    cutoff = F.lit("2000-01-01 00:00:00").cast("timestamp")
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") > cutoff)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        joins.anti_filter(cust, orders, "c_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# A7/§2.9: per-group five-number summary + IQR whiskers (boxplot reduction).
# --------------------------------------------------------------------------


@query(
    "order_price_five_number_summary",
    oracle="""
SELECT o_orderpriority,
       round(min(o_totalprice), 2) AS lo,
       round(quantile_cont(o_totalprice, 0.25), 4) AS q1,
       round(quantile_cont(o_totalprice, 0.50), 4) AS median,
       round(quantile_cont(o_totalprice, 0.75), 4) AS q3,
       round(max(o_totalprice), 2) AS hi
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def order_price_five_number_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = agg.five_number_summary(orders, "o_orderpriority", "o_totalprice")
    return base.select(
        "o_orderpriority",
        F.round("lo", 2).alias("lo"),
        F.round("q1", 4).alias("q1"),
        F.round("median", 4).alias("median"),
        F.round("q3", 4).alias("q3"),
        F.round("hi", 2).alias("hi"),
    ).orderBy("o_orderpriority")


# --------------------------------------------------------------------------
# F6+A7: IQR outlier cap (the reference's cap_outliers_iqr), then stats of
# the capped column — proves clamp semantics without shipping 60k rows.
# --------------------------------------------------------------------------


@query(
    "iqr_capped_price_stats",
    oracle="""
WITH b AS (
  SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
         quantile_cont(l_extendedprice, 0.75) AS q3
  FROM lineitem
),
capped AS (
  SELECT l_returnflag,
         greatest(least(l_extendedprice, q3 + 1.5 * (q3 - q1)),
                  q1 - 1.5 * (q3 - q1)) AS v
  FROM lineitem, b
)
SELECT l_returnflag, round(avg(v), 4) AS avg_capped,
       round(min(v), 2) AS min_capped, round(max(v), 2) AS max_capped,
       count(*) AS n
FROM capped GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def iqr_capped_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    capped = cleaning.cap_outliers_iqr(li, ["l_extendedprice"])
    return (
        capped.groupBy("l_returnflag")
        .agg(
            F.round(F.avg("l_extendedprice"), 4).alias("avg_capped"),
            F.round(F.min("l_extendedprice"), 2).alias("min_capped"),
            F.round(F.max("l_extendedprice"), 2).alias("max_capped"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# F8: fixed-break right-closed binning (R cut semantics).
# --------------------------------------------------------------------------

_PRICE_BREAKS = [0.0, 100000.0, 200000.0, 300000.0, 400000.0, 500000.0]
_PRICE_LABELS = ["Budget", "Mid", "Upper", "Premium", "Luxury"]


@query(
    "fixed_bucket_order_counts",
    oracle="""
SELECT CASE WHEN o_totalprice < 0 THEN NULL
            WHEN o_totalprice <= 100000 THEN 'Budget'
            WHEN o_totalprice <= 200000 THEN 'Mid'
            WHEN o_totalprice <= 300000 THEN 'Upper'
            WHEN o_totalprice <= 400000 THEN 'Premium'
            WHEN o_totalprice <= 500000 THEN 'Luxury'
            ELSE NULL END AS price_band,
       count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
FROM orders GROUP BY 1 ORDER BY 1
""",
)
def fixed_bucket_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn(
            "price_band", bucket_label_col("o_totalprice", _PRICE_BREAKS, _PRICE_LABELS)
        )
        .groupBy("price_band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
        .orderBy("price_band")
    )


# --------------------------------------------------------------------------
# §2.9 histogram: 30 equal-width bins.
# --------------------------------------------------------------------------


@query(
    "totalprice_histogram",
    oracle="""
WITH m AS (
  SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
)
SELECT least(floor((o_totalprice - m.lo) / ((m.hi - m.lo) / 30)), 29)::BIGINT AS bin,
       count(*) AS n,
       round(m.lo + least(floor((o_totalprice - m.lo) / ((m.hi - m.lo) / 30)), 29)
             * ((m.hi - m.lo) / 30), 6) AS bin_lo
FROM orders, m GROUP BY 1, 3 ORDER BY 1
""",
)
def totalprice_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.histogram(load_table(spark, sf_dir, "orders"), "o_totalprice", 30)


# --------------------------------------------------------------------------
# F1: first-word extraction (brand from CarName → word from p_name).
# --------------------------------------------------------------------------


@query(
    "part_first_word_counts",
    oracle="""
SELECT split_part(p_name, ' ', 1) AS name_word, count(*) AS n,
       round(avg(p_retailprice), 4) AS avg_retail
FROM part GROUP BY 1 ORDER BY 1
""",
)
def part_first_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.withColumn("name_word", first_word("p_name"))
        .groupBy("name_word")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_retail"),
        )
        .orderBy("name_word")
    )


# --------------------------------------------------------------------------
# P10+T1: keep top-5 levels, recode the rest to 'Other'.
# --------------------------------------------------------------------------


@query(
    "brand_recode_top5",
    oracle="""
WITH top5 AS (
  SELECT p_brand FROM part GROUP BY p_brand
  ORDER BY count(*) DESC, p_brand ASC LIMIT 5
)
SELECT CASE WHEN p_brand IN (SELECT p_brand FROM top5)
            THEN p_brand ELSE 'Other' END AS brand_top,
       count(*) AS n
FROM part GROUP BY 1 ORDER BY 1
""",
)
def brand_recode_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    top5 = [r["p_brand"] for r in topk.top_n_by_count(part, "p_brand", 5).collect()]
    return (
        cleaning.recode_rare(
            part.withColumn("brand_top", F.col("p_brand")), "brand_top", top5
        )
        .groupBy("brand_top")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("brand_top")
    )


# --------------------------------------------------------------------------
# T4: argmax per group (each customer's largest order).
# --------------------------------------------------------------------------


@query(
    "largest_order_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn = 1 ORDER BY o_custkey
""",
)
def largest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        topk.argmax_per_group(orders, "o_custkey", "o_totalprice", "o_orderkey")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey")
    )


# --------------------------------------------------------------------------
# A14: contingency counts (long-form crosstab).
# --------------------------------------------------------------------------


@query(
    "returnflag_linestatus_crosstab",
    oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def returnflag_linestatus_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return agg.crosstab_counts(li, "l_returnflag", "l_linestatus").orderBy(
        "l_returnflag", "l_linestatus"
    )


# --------------------------------------------------------------------------
# Pivot as conditional aggregation (wide crosstab, engine-independent).
# --------------------------------------------------------------------------


@query(
    "qty_pivot_by_linestatus",
    oracle="""
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END), 2) AS qty_open,
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END), 2) AS qty_filled
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def qty_pivot_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(
                F.sum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity")).otherwise(0)),
                2,
            ).alias("qty_open"),
            F.round(
                F.sum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity")).otherwise(0)),
                2,
            ).alias("qty_filled"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# A10-adjacent: distinct counting per group.
# --------------------------------------------------------------------------


@query(
    "nation_distinct_suppliers",
    oracle="""
SELECT n.n_name, count(DISTINCT s.s_suppkey) AS n_suppliers,
       round(avg(s.s_acctbal), 4) AS avg_acctbal
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name ORDER BY n.n_name
""",
)
def nation_distinct_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        joins.broadcast_dim_join(sup, nation, sup.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.countDistinct("s_suppkey").alias("n_suppliers"),
            F.round(F.avg("s_acctbal"), 4).alias("avg_acctbal"),
        )
        .orderBy("n_name")
    )


# --------------------------------------------------------------------------
# Rollup (engine extension noted in §2.4): hierarchical totals.
# --------------------------------------------------------------------------


@query(
    "rollup_revenue_region_nation",
    oracle="""
SELECT coalesce(r_name, 'ALL') AS region,
       coalesce(n_name, 'ALL') AS nation,
       round(sum(c_acctbal), 2) AS total_acctbal,
       count(*) AS n_customers
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY region, nation
""",
)
def rollup_revenue_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    df = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return (
        df.rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "total_acctbal",
            "n_customers",
        )
        .orderBy("region", "nation")
    )


# --------------------------------------------------------------------------
# Cube: all grouping combinations (rollup's superset).
# --------------------------------------------------------------------------


@query(
    "cube_qty_by_flag_status",
    oracle="""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
""",
)
def cube_qty_by_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
        .orderBy("returnflag", "linestatus")
    )


# --------------------------------------------------------------------------
# Set operations: INTERSECT / EXCEPT (distinct semantics both engines).
# --------------------------------------------------------------------------


@query(
    "nation_set_operations",
    oracle="""
WITH cust_nations AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
supp_nations AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
SELECT 'both' AS membership, count(*) AS n
FROM (SELECT nk FROM cust_nations INTERSECT SELECT nk FROM supp_nations)
UNION ALL
SELECT 'customer_only', count(*)
FROM (SELECT nk FROM cust_nations EXCEPT SELECT nk FROM supp_nations)
UNION ALL
SELECT 'supplier_only', count(*)
FROM (SELECT nk FROM supp_nations EXCEPT SELECT nk FROM cust_nations)
ORDER BY membership
""",
)
def nation_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk")
    ).distinct()
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nk")
    ).distinct()
    spark_df = cust.intersect(supp).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("both").alias("membership"), "n"
    )
    c_only = cust.exceptAll(supp).distinct().agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("customer_only").alias("membership"), "n"
    )
    s_only = supp.exceptAll(cust).distinct().agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("supplier_only").alias("membership"), "n"
    )
    return spark_df.unionByName(c_only).unionByName(s_only).orderBy("membership")


# --------------------------------------------------------------------------
# Skew-safe aggregation: the salted two-phase path must equal the plain
# aggregation — so its oracle IS the plain SQL (operators/skew.py).
# --------------------------------------------------------------------------


@query(
    "salted_user_event_totals",
    oracle="""
SELECT user_id, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY user_id ORDER BY user_id
""",
)
def salted_user_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_group_agg

    ev = load_table(spark, sf_dir, "events")
    out = salted_group_agg(ev, "user_id", ["value"], buckets=16)
    return out.select(
        "user_id", "n", F.round("sum_value", 2).alias("sum_value")
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# A6: mode with deterministic tie-break, per group.
# --------------------------------------------------------------------------


@query(
    "modal_priority_by_status",
    oracle="""
SELECT o_orderstatus, o_orderpriority AS modal_priority FROM (
  SELECT o_orderstatus, o_orderpriority,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY count(*) DESC, o_orderpriority ASC) AS rn
  FROM orders GROUP BY o_orderstatus, o_orderpriority
) WHERE rn = 1 ORDER BY o_orderstatus
""",
)
def modal_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderstatus", "o_orderpriority").count()
    return (
        topk.argmax_per_group(counts, "o_orderstatus", "count", "o_orderpriority")
        .select(
            "o_orderstatus", F.col("o_orderpriority").alias("modal_priority")
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# A5/F10: median imputation of synthesized nulls (raw corpus has none —
# mirrors the reference's defensive imputation, BigDataProject.R:83-94).
# --------------------------------------------------------------------------


@query(
    "median_imputed_event_values",
    oracle="""
WITH masked AS (
  SELECT event_type,
         CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value
  FROM events
),
med AS (
  SELECT quantile_cont(value, 0.5) AS m FROM masked
)
SELECT event_type, round(avg(coalesce(value, med.m)), 6) AS avg_value,
       count(*) AS n
FROM masked, med GROUP BY event_type, med.m ORDER BY event_type
""",
)
def median_imputed_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    masked = ev.withColumn(
        "value",
        F.when(F.col("event_type") == "error", F.lit(None).cast("double")).otherwise(
            F.col("value")
        ),
    )
    imputed = cleaning.impute(masked, numeric=["value"])
    return (
        imputed.groupBy("event_type")
        .agg(
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Set op: unionByName over heterogeneous account-holder tables.
# --------------------------------------------------------------------------


@query(
    "account_holders_union",
    oracle="""
SELECT kind, n_nationkey AS nationkey, count(*) AS n, round(sum(acctbal), 2) AS total_bal
FROM (
  SELECT 'customer' AS kind, c_nationkey AS n_nationkey, c_acctbal AS acctbal FROM customer
  UNION ALL
  SELECT 'supplier' AS kind, s_nationkey AS n_nationkey, s_acctbal AS acctbal FROM supplier
) GROUP BY kind, n_nationkey ORDER BY kind, nationkey
""",
)
def account_holders_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("kind"),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_acctbal").alias("acctbal"),
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("kind"),
        F.col("s_nationkey").alias("nationkey"),
        F.col("s_acctbal").alias("acctbal"),
    )
    return (
        cust.unionByName(sup)
        .groupBy("kind", "nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("acctbal"), 2).alias("total_bal"),
        )
        .orderBy("kind", "nationkey")
    )


# --------------------------------------------------------------------------
# F5/P12: log1p feature + grouped mean (joins orders→customer).
# --------------------------------------------------------------------------


@query(
    "avg_log_price_by_segment",
    oracle="""
SELECT c.c_mktsegment, round(avg(ln(1 + o.o_totalprice)), 6) AS avg_log_price,
       count(*) AS n_orders
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
""",
)
def avg_log_price_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .withColumn("log_price", F.log1p("o_totalprice"))
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.avg("log_price"), 6).alias("avg_log_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# 100 TB mode demo: sketch-based approximations vs their exact
# counterparts, with observed relative error (rows-only: sketches are
# engine-specific by design; the exact columns are covered by other
# oracles). SCALE.md documents when the approx path replaces exact.
# --------------------------------------------------------------------------


@query("approx_vs_exact_stats")
def approx_vs_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact vs sketch statistics, plus the gate that licenses the 100 TB
    percentile mode: the fraction of orders whose quartile price band
    (flagship F7 bucketing) is IDENTICAL under exact and approx quartiles
    — tests assert ≥ 99.9% agreement."""
    from ..queries.pricing import price_band_col, quartiles

    li = load_table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.countDistinct("l_partkey").alias("exact_distinct"),
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_distinct"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_median"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median"),
    ).first()
    orders = load_table(spark, sf_dir, "orders")
    eq = quartiles(orders, "o_totalprice", "exact")
    aq = quartiles(orders, "o_totalprice", "approx")
    agree = orders.agg(
        F.avg(
            (
                price_band_col("o_totalprice", *eq)
                == price_band_col("o_totalprice", *aq)
            ).cast("double")
        )
    ).first()[0]
    rel = lambda a, b: abs(a - b) / max(abs(b), 1e-12)  # noqa: E731
    data = [
        (
            "count_distinct(l_partkey)",
            float(row["exact_distinct"]),
            float(row["approx_distinct"]),
            round(rel(row["approx_distinct"], row["exact_distinct"]), 6),
        ),
        (
            "median(l_extendedprice)",
            float(row["exact_median"]),
            float(row["approx_median"]),
            round(rel(row["approx_median"], row["exact_median"]), 6),
        ),
        (
            "price_band_assignment_agreement",
            1.0,
            round(float(agree), 6),
            round(1.0 - float(agree), 6),
        ),
    ]
    return local_frame(
        spark,
        data, "statistic string, exact double, approx double, rel_error double"
    )


# --------------------------------------------------------------------------
# A4: per-column null profile (on a masked projection so counts are >0).
# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# S5: schema/profile inspect (glimpse/summary) as explicit aggregates.
# --------------------------------------------------------------------------


@query(
    "lineitem_profile_summary",
    oracle="""
SELECT 'l_quantity' AS col_name, count(l_quantity) AS n,
       round(avg(l_quantity), 4) AS mean, round(stddev_samp(l_quantity), 4) AS stddev,
       round(min(l_quantity), 2) AS min, round(max(l_quantity), 2) AS max
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', count(l_extendedprice),
       round(avg(l_extendedprice), 4), round(stddev_samp(l_extendedprice), 4),
       round(min(l_extendedprice), 2), round(max(l_extendedprice), 2)
FROM lineitem
UNION ALL
SELECT 'l_discount', count(l_discount),
       round(avg(l_discount), 4), round(stddev_samp(l_discount), 4),
       round(min(l_discount), 2), round(max(l_discount), 2)
FROM lineitem
ORDER BY col_name
""",
)
def lineitem_profile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: summary() profile (count/mean/sd/min/max) as typed aggregates
    (BigDataProject.R:44-46) — one pass for all profiled columns."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(c).alias(f"n_{c}"),
            F.round(F.avg(c), 4).alias(f"mean_{c}"),
            F.round(F.stddev_samp(c), 4).alias(f"sd_{c}"),
            F.round(F.min(c), 2).alias(f"min_{c}"),
            F.round(F.max(c), 2).alias(f"max_{c}"),
        ]
    row = li.agg(*aggs).first()
    data = [
        (
            c,
            row[f"n_{c}"],
            float(row[f"mean_{c}"]),
            float(row[f"sd_{c}"]),
            float(row[f"min_{c}"]),
            float(row[f"max_{c}"]),
        )
        for c in cols
    ]
    return local_frame(
        spark,
        sorted(data),
        "col_name string, n long, mean double, stddev double, min double, max double",
    )


# --------------------------------------------------------------------------
# A13: pairwise correlation matrix in one aggregation pass.
# --------------------------------------------------------------------------


@query(
    "lineitem_correlation_matrix",
    oracle="""
SELECT 'l_quantity' AS col_name,
       1.0 AS l_quantity,
       round(corr(l_quantity, l_extendedprice), 6) AS l_extendedprice,
       round(corr(l_quantity, l_discount), 6) AS l_discount
FROM lineitem
UNION ALL
SELECT 'l_extendedprice',
       round(corr(l_extendedprice, l_quantity), 6),
       1.0,
       round(corr(l_extendedprice, l_discount), 6)
FROM lineitem
UNION ALL
SELECT 'l_discount',
       round(corr(l_discount, l_quantity), 6),
       round(corr(l_discount, l_extendedprice), 6),
       1.0
FROM lineitem
ORDER BY col_name
""",
)
def lineitem_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: corr matrix (BigDataProject.R:159-162) via the one-pass
    sufficient-statistics operator."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    out = agg.corr_matrix(li, cols)
    rounded = out.select(
        F.col("column").alias("col_name"),
        *[F.round(F.col(c), 6).alias(c) for c in cols],
    )
    return rounded.orderBy("col_name")


@query(
    "null_profile_events",
    oracle="""
SELECT count(*) FILTER (WHERE CASE WHEN event_type = 'error' THEN NULL ELSE value END IS NULL) AS value,
       count(*) FILTER (WHERE CASE WHEN user_id % 7 = 0 THEN NULL ELSE user_id END IS NULL) AS user_id,
       count(*) FILTER (WHERE props IS NULL) AS props
FROM events
""",
)
def null_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    masked = ev.select(
        F.when(F.col("event_type") == "error", None).otherwise(F.col("value")).alias("value"),
        F.when(F.col("user_id") % 7 == 0, None).otherwise(F.col("user_id")).alias("user_id"),
        "props",
    )
    return agg.na_counts(masked, ["value", "user_id", "props"])


# --------------------------------------------------------------------------
# SCD-1 upsert merge (engine extension): full-outer-join MERGE with
# update / keep / insert accounting, oracle-checked branch by branch.
# --------------------------------------------------------------------------


@query(
    "customer_upsert_merge_accounting",
    oracle="""
WITH latest AS (
  SELECT o_custkey AS c_custkey, o_totalprice AS last_totalprice,
         o_orderpriority AS last_priority
  FROM (
    SELECT o_custkey, o_totalprice, o_orderpriority,
           row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM orders
  ) WHERE rn = 1
),
feed AS (
  SELECT c_custkey, last_totalprice, last_priority FROM latest
  WHERE c_custkey % 3 <> 0
  UNION ALL
  SELECT c_custkey + 10000000, last_totalprice, last_priority
  FROM latest WHERE c_custkey < 20
),
merged AS (
  SELECT coalesce(c.c_mktsegment, 'NEW') AS segment,
         CASE WHEN c.c_custkey IS NOT NULL AND f.c_custkey IS NOT NULL THEN 'update'
              WHEN c.c_custkey IS NOT NULL THEN 'keep'
              ELSE 'insert' END AS _action,
         CASE WHEN f.c_custkey IS NOT NULL THEN f.last_totalprice
              ELSE c.c_acctbal END AS balance
  FROM customer c FULL OUTER JOIN feed f ON c.c_custkey = f.c_custkey
)
SELECT segment, _action, count(*) AS n, round(sum(balance), 2) AS total_balance
FROM merged GROUP BY segment, _action ORDER BY segment, _action
""",
)
def customer_upsert_merge_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-1 MERGE via operators/joins.py::upsert_merge: each customer's
    account balance is overwritten by their LATEST order's total
    (update), customers with no orders pass through (keep), and a
    deterministic out-of-keyspace slice of the feed lands as inserts —
    per-(segment, action) row counts and balance sums are oracle-checked
    so every merge branch is verified, not just the happy path."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    from ..plans.materialize import pinned_lru

    # pinned (r12, guide §1.2): ``latest`` feeds both the feed filter
    # and the insert slice — two full evaluations of the rank window
    # before; the pin is customer-grain (bounded), evaluated once.
    latest = pinned_lru(
        orders.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_totalprice").alias("last_totalprice"),
            F.col("o_orderpriority").alias("last_priority"),
        ),
        "upsert_latest",
        keep=2,
    )
    # deterministic out-of-keyspace slice (key filter, not limit — limit
    # order is not driver-stable) exercises the insert branch
    inserts = latest.filter(F.col("c_custkey") < 20).select(
        (F.col("c_custkey") + 10_000_000).alias("c_custkey"),
        "last_totalprice",
        "last_priority",
    )
    # the feed skips every third customer so the keep branch is
    # non-vacuous alongside update and insert
    feed = latest.filter(F.col("c_custkey") % 3 != 0).unionByName(inserts)
    merged = joins.upsert_merge(
        cust, feed, "c_custkey", update_cols={"c_acctbal": "last_totalprice"}
    )
    return (
        merged.select(
            F.coalesce("c_mktsegment", F.lit("NEW")).alias("segment"),
            "_action",
            F.col("c_acctbal").alias("balance"),
        )
        .groupBy("segment", "_action")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("balance"), 2).alias("total_balance"),
        )
        .orderBy("segment", "_action")
    )


@query(
    "bloom_prefilter_join_audit",
    oracle="""
WITH keys AS (
  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
),
pos AS (
  SELECT ('0x' || substr(md5('bf' || r.j || ':' || k), 1, 15))::BIGINT % 65536
           AS p
  FROM keys, range(3) r(j)
),
bloom AS (
  SELECT p // 63 AS word, bit_or(1::BIGINT << (p % 63)::INTEGER) AS bits
  FROM pos GROUP BY 1
),
probe AS (SELECT DISTINCT o_custkey AS k FROM orders),
ppos AS (
  SELECT k, ('0x' || substr(md5('bf' || r.j || ':' || k), 1, 15))::BIGINT % 65536
           AS p
  FROM probe, range(3) r(j)
),
checks AS (
  SELECT ppos.k,
         min(CASE WHEN bloom.bits IS NOT NULL
                   AND (bloom.bits >> (ppos.p % 63)::INTEGER) & 1 = 1
             THEN 1 ELSE 0 END) AS pass
  FROM ppos LEFT JOIN bloom ON bloom.word = ppos.p // 63
  GROUP BY 1
),
truth AS (
  SELECT c.k, c.pass,
         CASE WHEN kk.k IS NOT NULL THEN 1 ELSE 0 END AS member
  FROM checks c LEFT JOIN (SELECT DISTINCT k FROM keys) kk ON kk.k = c.k
)
SELECT (SELECT count(*) FROM keys)::BIGINT AS n_build_keys,
       count(*)::BIGINT AS n_probe_keys,
       sum(pass)::BIGINT AS n_bloom_pass,
       sum(member)::BIGINT AS n_members,
       sum(CASE WHEN pass = 1 AND member = 0 THEN 1 ELSE 0 END)::BIGINT
         AS n_false_pos,
       sum(CASE WHEN member = 1 AND pass = 0 THEN 1 ELSE 0 END)::BIGINT
         AS n_false_neg,
       (SELECT sum(bit_count(bits)) FROM bloom)::BIGINT AS n_bits_set
FROM truth
""",
)
def bloom_prefilter_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning with an exact audit: build a
    65,536-bit (8 KB, 1041 x 63-bit words — 63 so the portable
    1<<bit never hits the BIGINT sign bit) Bloom filter over the
    BUILDING-segment customer keys with k=3 engine-portable md5 hashes,
    probe every distinct order custkey through it, then verify against
    the exact semi-join. The contract row pins n_false_neg = 0 (Bloom
    filters never miss a member) and exposes the false-positive mass
    and set-bit count — the oracle rebuilds the filter WORD-FOR-WORD in
    DuckDB, so the hash checks the filter's contents, not just the
    counts.

    Scale: this is the 100 TB semi-join pattern when the build side is
    too big to broadcast as raw keys but its bitmap isn't — the filter
    is a fixed-size bit_or aggregate (map-side combined), the probe
    side joins the <=1041-row word table broadcast, and only the
    surviving ~0.1% reaches the exact join. Spark's own runtime row
    filtering (spark.sql.optimizer.runtime.bloomFilter.enabled) does
    this implicitly; the explicit form ports to any engine and is
    auditable."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    m_bits, k_hashes = 65536, 3  # 1041 63-bit words

    def positions(df: DataFrame, key: str) -> DataFrame:
        """Explode each key into its k bit positions via the portable
        md5 hash (Spark conv(substr(md5,1,15)) == DuckDB '0x'||substr)."""
        pos = F.explode(
            F.array(
                *[
                    F.pmod(
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.encode(
                                        F.concat(
                                            F.lit(f"bf{j}:"),
                                            F.col(key).cast("string"),
                                        ),
                                        "UTF-8",
                                    )
                                ),
                                1,
                                15,
                            ),
                            16,
                            10,
                        ).cast("long"),
                        F.lit(m_bits),
                    )
                    for j in range(k_hashes)
                ]
            )
        ).alias("p")
        return df.select(F.col(key).alias("k"), pos)

    keys = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    bloom = (
        positions(keys, "k")
        .select(
            F.expr("p div 63").alias("word"),
            F.expr(
                "shiftleft(cast(1 as bigint), cast(pmod(p, 63) as int))"
            ).alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
    )
    probe = orders.select(F.col("o_custkey").alias("k")).distinct()
    checks = (
        positions(probe, "k")
        .withColumn("word", F.expr("p div 63"))
        .join(F.broadcast(bloom), "word", "left")
        .select(
            "k",
            F.when(
                F.col("bits").isNotNull()
                & (
                    F.expr("shiftright(bits, cast(pmod(p, 63) as int)) & 1") == 1
                ),
                1,
            )
            .otherwise(0)
            .alias("hit"),
        )
        .groupBy("k")
        .agg(F.min("hit").alias("pass"))
    )
    truth = checks.join(
        keys.distinct().withColumn("member", F.lit(1)), "k", "left"
    ).select("pass", F.coalesce("member", F.lit(0)).alias("member"))
    n_build = keys.agg(F.count(F.lit(1)).alias("n_build_keys"))
    n_bits = bloom.agg(F.sum(F.bit_count("bits")).alias("n_bits_set"))
    return (
        truth.agg(
            F.count(F.lit(1)).alias("n_probe_keys"),
            F.sum("pass").alias("n_bloom_pass"),
            F.sum("member").alias("n_members"),
            F.sum(
                F.when((F.col("pass") == 1) & (F.col("member") == 0), 1).otherwise(0)
            ).alias("n_false_pos"),
            F.sum(
                F.when((F.col("member") == 1) & (F.col("pass") == 0), 1).otherwise(0)
            ).alias("n_false_neg"),
        )
        .crossJoin(F.broadcast(n_build))
        .crossJoin(F.broadcast(n_bits))
        .select(
            "n_build_keys",
            "n_probe_keys",
            "n_bloom_pass",
            "n_members",
            "n_false_pos",
            "n_false_neg",
            "n_bits_set",
        )
    )


@query(
    "part_skyline_pareto",
    oracle="""
SELECT a.p_partkey, a.p_retailprice, a.p_size
FROM part a
WHERE NOT EXISTS (
  SELECT 1 FROM part b
  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size <= a.p_size
    AND (b.p_retailprice < a.p_retailprice OR b.p_size < a.p_size))
ORDER BY a.p_partkey
""",
)
def part_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE (Pareto frontier) operator: the parts no other part beats
    on BOTH retail price and size (minimize both) — the multi-objective
    "best offers" primitive relational engines lack as a built-in. The
    distributed plan is the two-stage divide-and-conquer from
    operators/skyline.py::skyline_2d_min: a per-partition running-min
    sweep (JVM window over spark_partition_id) prunes to a candidate
    superset, then one BroadcastNestedLoopJoin anti-join over the k-row
    candidate frame applies the exact dominance predicate. The oracle is
    the textbook NOT EXISTS dominance query — quadratic, fine at oracle
    SF; the Spark side is the shape that survives 100 TB (candidates are
    O(partitions x frontier), never all-pairs).

    Exactness: dominance compares the same parquet doubles/ints on both
    engines; no arithmetic is performed at all."""
    from ..operators.skyline import skyline_2d_min

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    return skyline_2d_min(part, "p_retailprice", "p_size").orderBy("p_partkey")


# --------------------------------------------------------------------------
# Bloom-filter join pruning, mechanism-exact: the build side (BUILDING-
# segment customer keys) sets k=3 portable-md5 bit positions in an
# m=4096-bit filter; every probe key (distinct order custkeys) passes
# iff all 3 of its positions are set. The filter is represented as the
# distinct set-bit table (≤ m rows, broadcast) so BOTH engines compute
# the identical pass set; the exact semi-join alongside yields the
# false-positive count the ε ≈ (1-e^{-kn/m})^k bound promises. At
# 100 TB this is the runtime-filter primitive: build once on the dim,
# broadcast ≤ m longs, prune the fact scan before the shuffle.
# --------------------------------------------------------------------------

_BF_K, _BF_M = 3, 4096


def _bf_hash_sql(j: int, key: str) -> str:
    return f"('0x' || substr(md5('bf{j}:' || {key}), 1, 15))::BIGINT % {_BF_M}"


_BLOOM_ORACLE = (
    "WITH build AS (\n"
    "  SELECT DISTINCT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'\n"
    "),\n"
    "bits AS (\n"
    "  SELECT DISTINCT b FROM (\n"
    "    SELECT unnest(["
    + ", ".join(_bf_hash_sql(j, "k::VARCHAR") for j in range(_BF_K))
    + "]) AS b FROM build)\n"
    "),\n"
    "probe AS (SELECT DISTINCT o_custkey AS k FROM orders),\n"
    "pb AS (\n"
    "  SELECT k, unnest(["
    + ", ".join(_bf_hash_sql(j, "k::VARCHAR") for j in range(_BF_K))
    + "]) AS b FROM probe\n"
    "),\n"
    f"pass AS (\n"
    f"  SELECT pb.k, count(*) = {_BF_K} AS bloom_pass\n"
    "  FROM pb JOIN bits USING (b) GROUP BY pb.k\n"
    "),\n"
    "flags AS (\n"
    "  SELECT p.k, coalesce(pass.bloom_pass, FALSE) AS bloom_pass,\n"
    "         p.k IN (SELECT k FROM build) AS is_member\n"
    "  FROM probe p LEFT JOIN pass ON p.k = pass.k\n"
    ")\n"
    "SELECT (SELECT count(*) FROM build)::BIGINT AS n_build_keys,\n"
    "       (SELECT count(*) FROM bits)::BIGINT AS n_bits_set,\n"
    "       count(*)::BIGINT AS n_probe_keys,\n"
    "       sum(bloom_pass::INT)::BIGINT AS n_bloom_pass,\n"
    "       sum(is_member::INT)::BIGINT AS n_true_members,\n"
    "       sum((bloom_pass AND NOT is_member)::INT)::BIGINT AS n_false_positives,\n"
    "       round(sum((bloom_pass AND NOT is_member)::INT)::DOUBLE\n"
    "             / nullif(count(*) - sum(is_member::INT), 0), 6) AS fp_rate\n"
    "FROM flags"
)


@query("bloom_join_pruning_audit", oracle=_BLOOM_ORACLE)
def bloom_join_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning audit (k=3, m=4096, portable md5
    bit positions): build on BUILDING-segment customer keys, probe every
    distinct order custkey, and report the bloom pass set against the
    exact semi-join — membership is never missed (zero false negatives
    by construction; the driver hash pins that along with the exact
    false-positive count).

    Scale: the filter is ≤ m rows broadcast to the probe side — the
    runtime-filter pattern that prunes a 100 TB fact scan down to
    ~selectivity × corpus before any shuffle. The probe-side explode is
    map-side; one hash aggregate to |probe keys| rows closes it."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    build = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("k"))
        .distinct()
    )
    from ..llm.text import portable_hash60

    def positions(key: F.Column) -> F.Column:
        return F.explode(
            F.array(
                *[
                    portable_hash60(
                        F.concat(F.lit(f"bf{j}:"), key.cast("string"))
                    )
                    % F.lit(_BF_M)
                    for j in range(_BF_K)
                ]
            )
        )

    bits = build.select(positions(F.col("k")).alias("b")).distinct()
    probe = orders.select(F.col("o_custkey").alias("k")).distinct()
    pb = probe.select("k", positions(F.col("k")).alias("b"))
    passed = (
        pb.join(F.broadcast(bits), "b")
        .groupBy("k")
        .agg((F.count(F.lit(1)) == _BF_K).alias("bloom_pass"))
    )
    flags = (
        probe.join(passed, "k", "left")
        .join(build.withColumn("_mem", F.lit(1)), "k", "left")
        .select(
            F.coalesce("bloom_pass", F.lit(False)).alias("bloom_pass"),
            F.col("_mem").isNotNull().alias("is_member"),
        )
    )
    counts = build.agg(F.count(F.lit(1)).alias("n_build_keys")).crossJoin(
        bits.agg(F.count(F.lit(1)).alias("n_bits_set"))
    )
    fp = (F.col("bloom_pass") & ~F.col("is_member")).cast("int")
    return (
        flags.agg(
            F.count(F.lit(1)).alias("n_probe_keys"),
            F.sum(F.col("bloom_pass").cast("int")).alias("n_bloom_pass"),
            F.sum(F.col("is_member").cast("int")).alias("n_true_members"),
            F.sum(fp).alias("n_false_positives"),
            F.round(
                F.sum(fp).cast("double")
                / F.nullif(
                    F.count(F.lit(1)) - F.sum(F.col("is_member").cast("int")),
                    F.lit(0),
                ),
                6,
            ).alias("fp_rate"),
        )
        .crossJoin(F.broadcast(counts))
        .select(
            "n_build_keys",
            "n_bits_set",
            "n_probe_keys",
            "n_bloom_pass",
            "n_true_members",
            "n_false_positives",
            "fp_rate",
        )
    )
