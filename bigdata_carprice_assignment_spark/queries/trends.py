"""Trend / distribution / market-structure analytics — the reporting
workload an analytics engine serves daily at 100 TB: running totals,
seasonality, co-occurrence, concentration indices, positional window
functions, robust (winsorized) statistics, and inter-event timing.

Engine-parity conventions as everywhere: counts cast long, currency
sums rounded 2 dp, ratios computed as ONE division of deterministic
operands (integer sums where possible — microsecond gaps, unit
conditional sums), months formatted as strings on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources.readers import load_table


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part co-purchase edge list (distinct (u, v), u < v, parts
    sharing an order at l_quantity >= 30) — built ONCE per (session,
    sf_dir) and pooled: six graph queries (pagerank, triangle census,
    k-core, BFS, clustering coefficients, degree power-law) consume the
    IDENTICAL frame, and before r11 each rebuilt it from the fact table
    (scan + distinct + self-join + distinct = 3 shuffles, ~1-2s each at
    sf0.1; guide §2.4 — remove repeated shuffles outright). Pooled
    persist (plans/materialize.memo): lineage stays recomputable, one
    generation per corpus. Graph operators given the same key memoize
    their derived tables under it."""
    from ..plans.materialize import memo

    def build() -> DataFrame:
        li = (
            load_table(spark, sf_dir, "lineitem")
            .filter(F.col("l_quantity") >= 30)
            .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
            .distinct()
        )
        a, b = li.alias("a"), li.alias("b")
        return (
            a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
            .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
            .distinct()
        )

    return memo(spark, ("copurchase_edges", sf_dir), build)


@query(
    "supplier_catalog_breadth",
    oracle="""
SELECT l_suppkey,
       count(DISTINCT l_partkey)::BIGINT AS n_parts,
       count(*) AS n_lines,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
GROUP BY 1 ORDER BY revenue DESC, l_suppkey LIMIT 20
""",
)
def supplier_catalog_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 suppliers by revenue with their distinct-part breadth —
    exact countDistinct alongside plain aggregates in one grouped pass
    (single-distinct: Spark's two-phase rewrite, no Expand), TakeOrdered
    top-k on the rounded metric with a key tiebreak."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(
            F.count_distinct("l_partkey").alias("n_parts"),
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_suppkey"))
        .limit(20)
    )


@query(
    "order_lines_histogram",
    oracle="""
WITH c AS (SELECT l_orderkey, count(*) AS n_lines FROM lineitem GROUP BY 1)
SELECT n_lines, count(*) AS n_orders FROM c GROUP BY 1 ORDER BY 1
""",
)
def order_lines_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lines-per-order distribution (count-of-counts): two chained
    aggregations where the second runs on |orders| rows — the profile
    histogram you compute before choosing join strategies (order fanout
    = the multiplicity the orderkey shuffle will see)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .groupBy("n_lines")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("n_lines")
    )


@query(
    "monthly_revenue_running_total",
    oracle="""
WITH m AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         sum(o_totalprice) AS rev
  FROM orders GROUP BY 1
)
SELECT month,
       round(rev, 2) AS revenue,
       round(sum(rev) OVER (ORDER BY month ROWS UNBOUNDED PRECEDING), 2)
         AS cumulative_revenue
FROM m ORDER BY month
""",
)
def monthly_revenue_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-grain revenue with its running total. The cumulative runs
    over the |months|-row AGGREGATE (bounded by the calendar, ~80 rows),
    never over raw orders, via the range-partitioned two-pass cumsum —
    no partitionless window, no single-task sort; the 2dp round absorbs
    the partial-sum reassociation (~1e-8 relative on 1e8-scale
    revenue)."""
    from ..operators.windows import range_partitioned_cumsum

    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
    ).agg(F.sum("o_totalprice").alias("rev"))
    cum = range_partitioned_cumsum(m, ["month"], ["rev"])
    return cum.select(
        "month",
        F.round("rev", 2).alias("revenue"),
        F.round("cum_rev", 2).alias("cumulative_revenue"),
    ).orderBy("month")


@query(
    "weekday_order_seasonality",
    oracle="""
SELECT dayofweek(o_orderdate)::BIGINT AS dow,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders GROUP BY 1 ORDER BY 1
""",
)
def weekday_order_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order volume/revenue by day of week. Calendar-function parity is
    a real cross-engine trap: Spark's dayofweek is 1-based Sunday-first,
    DuckDB's 0-based Sunday-first — the Spark side shifts by one so both
    engines emit 0=Sunday."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            (F.dayofweek("o_orderdate") - 1).cast("long").alias("dow")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("dow")
    )


@query(
    "part_pair_cooccurrence",
    oracle="""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       count(*) AS n_orders
FROM op a JOIN op b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING count(*) >= 2
ORDER BY n_orders DESC, part_a, part_b LIMIT 30
""",
)
def part_pair_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top part pairs bought together (raw co-occurrence self-join — the
    SQL-shaped complement of the FPGrowth miner): distinct (order, part)
    first, then an equi-self-join on orderkey with `a < b` halving.

    Scale: the join is co-partitioned on orderkey (one shuffle feeds
    both sides); output per order is quadratic in its distinct-part
    count, bounded by the basket-size histogram above — for heavy-tailed
    baskets you cap per-order fanout before pairing, as the rules miner
    does."""
    op = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a"))
    b = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "k")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
        .limit(30)
    )


@query(
    "nation_supplier_hhi",
    oracle="""
WITH s AS (
  SELECT n_name, s_suppkey,
         sum(l_extendedprice * (1 - l_discount)) AS rev
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2
),
sh AS (
  SELECT n_name, rev / sum(rev) OVER (PARTITION BY n_name) AS share FROM s
)
SELECT n_name, count(*) AS n_suppliers,
       round(sum(share * share), 6) AS hhi
FROM sh GROUP BY 1 ORDER BY 1
""",
)
def nation_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of supplier revenue within
    each nation (1/n = perfectly even, 1 = monopoly): grouped revenue →
    share via a window over the per-supplier AGGREGATE (≤|suppliers|
    rows) → sum of squared shares. The market-structure metric ops
    dashboards track per region."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "s_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
        )
    )
    share = F.col("rev") / F.sum("rev").over(Window.partitionBy("n_name"))
    return (
        s.select("n_name", share.alias("share"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum(F.col("share") * F.col("share")), 6).alias("hhi"),
        )
        .orderBy("n_name")
    )


@query(
    "event_value_winsorized_stats",
    oracle="""
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.01) AS lo,
         quantile_cont(value, 0.99) AS hi
  FROM events GROUP BY 1
)
SELECT e.event_type,
       count(*) AS n,
       round(b.lo, 4) AS p01,
       round(b.hi, 4) AS p99,
       round(avg(CASE WHEN e.value < b.lo THEN b.lo
                      WHEN e.value > b.hi THEN b.hi
                      ELSE e.value END), 4) AS winsorized_mean
FROM events e JOIN b USING (event_type)
GROUP BY 1, 3, 4 ORDER BY 1
""",
)
def event_value_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-type value means (the reference's 1%/99% outlier
    cap — `clean(cap='percentile')` — applied to the events corpus):
    exact type-7 percentile bounds per group (one agg), broadcast back,
    clamp, aggregate. Two passes total; the bounds table is |types|
    rows."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("lo"),
        F.expr("percentile(value, 0.99)").alias("hi"),
    )
    clamped = F.when(F.col("value") < F.col("lo"), F.col("lo")).when(
        F.col("value") > F.col("hi"), F.col("hi")
    ).otherwise(F.col("value"))
    return (
        ev.join(F.broadcast(b), "event_type")
        .groupBy(
            "event_type",
            F.round("lo", 4).alias("p01"),
            F.round("hi", 4).alias("p99"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(clamped), 4).alias("winsorized_mean"),
        )
        .select("event_type", "n", "p01", "p99", "winsorized_mean")
        .orderBy("event_type")
    )


@query(
    "user_inter_event_gap_stats",
    oracle="""
WITH o AS (
  SELECT user_id, event_id, epoch_us(ts) AS t FROM events
),
g AS (
  SELECT user_id,
         t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS gap
  FROM o
)
SELECT user_id,
       count(gap)::BIGINT AS n_gaps,
       ((2 * sum(gap)::BIGINT + 10000 * count(gap))
        // (20000 * count(gap))) / 100.0 AS mean_gap_sec,
       ((2 * min(gap) + 10000) // 20000) / 100.0 AS min_gap_sec,
       ((2 * max(gap) + 10000) // 20000) / 100.0 AS max_gap_sec
FROM g WHERE gap IS NOT NULL
GROUP BY 1 ORDER BY 1
""",
)
def user_inter_event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event timing per user (the cadence feature behind bot
    detection and session modeling): lag over (user, time, id) —
    event_id tiebreak makes the lag deterministic under timestamp ties —
    with gaps kept as EXACT microsecond longs, so sums are
    order-independent and the mean is one deterministic division."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    # ts arrives as TIMESTAMP_NTZ (session is UTC-pinned, so the cast
    # is value-preserving); unix_micros needs the LTZ type
    g = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
    ).withColumn("gap", F.col("t") - F.lag("t").over(w))
    return (
        g.filter(F.col("gap").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("gap").alias("n_gaps"),
            F.sum("gap").alias("_s"),
            F.min("gap").alias("_mn"),
            F.max("gap").alias("_mx"),
        )
        .select(
            "user_id",
            "n_gaps",
            # micros → seconds at 2 dp via integer half-up division:
            # rational quotients of exact longs can land exactly on a
            # half, where the engines' rounding rules disagree
            (
                F.expr("(2 * _s + 10000 * n_gaps) DIV (20000 * n_gaps)") / 100.0
            ).alias("mean_gap_sec"),
            (F.expr("(2 * _mn + 10000) DIV 20000") / 100.0).alias("min_gap_sec"),
            (F.expr("(2 * _mx + 10000) DIV 20000") / 100.0).alias("max_gap_sec"),
        )
        .orderBy("user_id")
    )


@query(
    "monthly_urgent_share",
    oracle="""
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
       count(*) AS n_orders,
       round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END)
             / count(*), 6) AS urgent_share
FROM orders GROUP BY 1 ORDER BY 1
""",
)
def monthly_urgent_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly share of urgent orders — the conditional-count ratio
    trend. The numerator sums exact unit values, so the share is one
    deterministic division per month."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "month"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(
                    F.when(F.col("o_orderpriority") == "1-URGENT", 1.0).otherwise(
                        0.0
                    )
                )
                / F.count(F.lit(1)),
                6,
            ).alias("urgent_share"),
        )
        .orderBy("month")
    )


@query(
    "customer_order_position_prices",
    oracle="""
WITH w AS (
  SELECT o_custkey,
         first_value(o_totalprice) OVER win AS first_price,
         nth_value(o_totalprice, 2) OVER win AS second_price,
         last_value(o_totalprice) OVER win AS last_price,
         row_number() OVER
           (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
  WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT o_custkey AS custkey,
       round(first_price, 2) AS first_price,
       round(second_price, 2) AS second_price,
       round(last_price, 2) AS last_price
FROM w WHERE rn = 1 ORDER BY custkey
""",
)
def customer_order_position_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First / second / latest order price per customer — the
    positional window family (first_value, nth_value, last_value) over
    an unbounded frame with a deterministic (date, key) order;
    single-order customers get NULL second_price on both engines. One
    shuffle on custkey serves all four window functions."""
    orders = load_table(spark, sf_dir, "orders")
    order_cols = [F.asc("o_orderdate"), F.asc("o_orderkey")]
    full = (
        Window.partitionBy("o_custkey")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    seq = Window.partitionBy("o_custkey").orderBy(*order_cols)
    return (
        orders.select(
            F.col("o_custkey").alias("custkey"),
            F.first("o_totalprice").over(full).alias("first_price"),
            F.nth_value("o_totalprice", 2).over(full).alias("second_price"),
            F.last("o_totalprice").over(full).alias("last_price"),
            F.row_number().over(seq).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "custkey",
            F.round("first_price", 2).alias("first_price"),
            F.round("second_price", 2).alias("second_price"),
            F.round("last_price", 2).alias("last_price"),
        )
        .orderBy("custkey")
    )


@query(
    "order_value_log_histogram",
    oracle="""
SELECT floor(log2(o_totalprice))::BIGINT AS log2_band,
       count(*) AS n_orders,
       round(min(o_totalprice), 2) AS band_min,
       round(max(o_totalprice), 2) AS band_max
FROM orders WHERE o_totalprice > 0
GROUP BY 1 ORDER BY 1
""",
)
def order_value_log_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-banded order-value histogram — the constant-memory
    distribution profile for heavy-tailed monetary columns (linear
    bins starve the tail; log bands give one bucket per octave).
    Band edges at exact powers of two are loss-free in both engines
    (2-dp prices hit 2^k exactly or not at all)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_totalprice") > 0)
        .groupBy(
            F.floor(F.log2("o_totalprice")).cast("long").alias("log2_band")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("band_min"),
            F.round(F.max("o_totalprice"), 2).alias("band_max"),
        )
        .orderBy("log2_band")
    )


@query(
    "monthly_ship_lag_trend",
    oracle="""
WITH a AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         count(*)::BIGINT AS n,
         sum(date_diff('day', o_orderdate, l_shipdate))::BIGINT AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1
)
SELECT month, n AS n_lines,
       ((2000 * s + n) // (2 * n)) / 1000.0 AS mean_lag_days
FROM a ORDER BY month
""",
)
def monthly_ship_lag_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment-lag trend by order month: mean days from order to
    line shipment over the fact-fact join. Day gaps are exact integers,
    so the monthly mean is an order-independent integer sum and ONE
    division — no float-reassociation exposure at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "month"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.datediff("l_shipdate", "o_orderdate")).alias("s"),
        )
        .select(
            "month",
            F.col("n").alias("n_lines"),
            # integer half-up at 3 dp (see supplier_lag_consistency)
            (F.expr("(2000 * s + n) DIV (2 * n)") / 1000.0).alias(
                "mean_lag_days"
            ),
        )
        .orderBy("month")
    )


@query(
    "discount_level_effect",
    oracle="""
SELECT round(l_discount, 2) AS discount,
       count(*) AS n_lines,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       round(sum(l_quantity), 1) AS total_qty
FROM lineitem GROUP BY 1 ORDER BY 1
""",
)
def discount_level_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume and revenue by discount level (the 11 discrete 0-10%
    steps): grouping on the ROUNDED discount makes the key engine-
    portable even though the column is a double."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.round("l_discount", 2).alias("discount"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.round(F.sum("l_quantity"), 1).alias("total_qty"),
        )
        .orderBy("discount")
    )


@query(
    "supplier_lag_consistency",
    oracle="""
WITH g AS (
  SELECT l_suppkey,
         date_diff('day', o_orderdate, l_shipdate)::BIGINT AS lag
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
a AS (
  SELECT l_suppkey, count(*)::BIGINT AS n,
         sum(lag)::BIGINT AS s, sum(lag * lag)::BIGINT AS ss
  FROM g GROUP BY 1
)
SELECT l_suppkey, n,
       ((2000 * s + n) // (2 * n)) / 1000.0 AS mean_lag_days,
       round(sqrt((n * ss - s * s) / (n * (n - 1.0))), 3) AS stddev_lag_days
FROM a WHERE n >= 2 ORDER BY l_suppkey
""",
)
def supplier_lag_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment-lag mean AND spread per supplier with EXACT integer
    sufficient statistics: day gaps, their sum, and their sum of squares
    all stay longs (order-independent), so mean and sample stddev come
    out of two deterministic float steps instead of a running-variance
    aggregate whose partial-merge order differs between engines. The
    numerically-careful form for any integer-valued spread metric."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    g = orders.join(li, F.col("o_orderkey") == F.col("l_orderkey")).select(
        "l_suppkey",
        F.datediff("l_shipdate", "o_orderdate").cast("long").alias("lag"),
    )
    a = g.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lag").alias("s"),
        F.sum(F.col("lag") * F.col("lag")).alias("ss"),
    )
    return (
        a.filter(F.col("n") >= 2)
        .select(
            "l_suppkey",
            "n",
            # exact half-up at 3 dp via integer division: round(s/n, 3)
            # of a RATIONAL quotient can land exactly on a half
            # (64.6625 observed), where Spark's decimal HALF_UP and
            # DuckDB's binary-double rounding disagree — (2000s+n) DIV 2n
            # is the unambiguous integer form of the same rounding
            (F.expr("(2000 * s + n) DIV (2 * n)") / 1000.0).alias(
                "mean_lag_days"
            ),
            F.round(
                F.sqrt(
                    (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
                    / (F.col("n") * (F.col("n") - 1.0))
                ),
                3,
            ).alias("stddev_lag_days"),
        )
        .orderBy("l_suppkey")
    )


@query(
    "nation_customer_balance_quartiles",
    oracle="""
SELECT n_name,
       count(*) AS n_customers,
       round(quantile_cont(c_acctbal, 0.25), 4) AS q1,
       round(quantile_cont(c_acctbal, 0.50), 4) AS median,
       round(quantile_cont(c_acctbal, 0.75), 4) AS q3
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1 ORDER BY 1
""",
)
def nation_customer_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account-balance quartiles per nation — the grouped exact-
    percentile pass (type-7 interpolation, engine-identical: the
    interpolation fractions are binary-exact powers of two) over a
    broadcast dim join."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    q = F.expr("percentile(c_acctbal, array(0.25, 0.5, 0.75))")
    return (
        cust.join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), q.alias("_q"))
        .select(
            "n_name",
            "n_customers",
            F.round(F.element_at("_q", 1), 4).alias("q1"),
            F.round(F.element_at("_q", 2), 4).alias("median"),
            F.round(F.element_at("_q", 3), 4).alias("q3"),
        )
        .orderBy("n_name")
    )


@query(
    "top_revenue_days",
    oracle="""
WITH d AS (
  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
         count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS revenue
  FROM orders GROUP BY 1
)
SELECT day, n_orders, revenue FROM d
ORDER BY revenue DESC, day LIMIT 10
""",
)
def top_revenue_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 revenue days — daily rollup + TakeOrdered on the rounded
    metric with the day string as tiebreak (no global sort)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("day"))
        .limit(10)
    )


@query(
    "lineitem_qty_price_covariance",
    oracle="""
SELECT l_returnflag,
       count(*) AS n,
       round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_cov,
       round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr
FROM lineitem GROUP BY 1 ORDER BY 1
""",
)
def lineitem_qty_price_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample covariance + correlation of quantity vs price per return
    flag — the two-variable aggregate pair (covar_samp joins corr in the
    aggregate family; both are single-pass mergeable states)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
                "qty_price_cov"
            ),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
                "qty_price_corr"
            ),
        )
        .orderBy("l_returnflag")
    )


@query(
    "customer_balance_spend_corr",
    oracle="""
WITH s AS (
  SELECT c.c_custkey, c.c_acctbal,
         coalesce(sum(o.o_totalprice), 0) AS spend
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
)
SELECT count(*) AS n_customers,
       round(corr(c_acctbal, spend), 6) AS balance_spend_corr
FROM s
""",
)
def customer_balance_spend_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does account balance predict lifetime spend? Correlation across
    a left join (zero-spend customers included via coalesce — dropping
    them would bias the estimate), aggregated per customer first so the
    corr runs on |customers| rows."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    s = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)).alias("spend"))
    )
    return s.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.corr("c_acctbal", "spend"), 6).alias("balance_spend_corr"),
    )


@query(
    "daily_order_cusum",
    oracle="""
WITH d AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         count(*) AS n
  FROM orders GROUP BY 1
),
t AS (SELECT sum(n)::BIGINT AS total, count(*)::BIGINT AS k FROM d),
c AS (
  SELECT day, n, sum(n) OVER (ORDER BY day) AS cum,
         row_number() OVER (ORDER BY day) AS rk
  FROM d
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       n::BIGINT AS n_orders,
       round(cum - rk * (total::DOUBLE / k), 4) AS cusum
FROM c, t ORDER BY day
""",
)
def daily_order_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint series on daily order volume: cumulative sum of
    deviations from the global daily mean — the classic shift detector
    (a sustained level change shows as a kink; the argmax |CUSUM| is the
    changepoint estimate). Counts keep every intermediate exact: the
    cumulative and the day rank are integer cumulatives from ONE
    range-partitioned two-pass pass (no global single-task window), the
    mean enters once as an IEEE-deterministic division broadcast via a
    1-row crossJoin, so the 4dp rounding cannot drift on summation
    order. Scale: the day grain is calendar-bounded; the only work on
    the fact table is the grouped count."""
    from ..operators.windows import range_partitioned_cumsum

    orders = load_table(spark, sf_dir, "orders")
    d = (
        orders.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("one", F.lit(1).cast("long"))
    )
    t = d.agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).alias("k"),
    )
    c = range_partitioned_cumsum(d, ["day"], ["n", "one"])
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n").cast("long").alias("n_orders"),
            F.round(
                F.col("cum_n")
                - F.col("cum_one") * (F.col("total").cast("double") / F.col("k")),
                4,
            ).alias("cusum"),
        )
        .orderBy("day")
    )


@query(
    "daily_revenue_autocorrelation",
    oracle="""
WITH d AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
p0 AS (
  SELECT a.day + r.lag::INTEGER AS match_day, r.lag AS lag, a.cents AS x
  FROM d a, range(1, 8) r(lag)
),
p AS (
  SELECT p0.lag, p0.x, b.cents AS y
  FROM p0 JOIN d b ON b.day = p0.match_day
),
m AS (
  SELECT lag, count(*)::HUGEINT AS n,
         sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
         sum(x::HUGEINT * x) AS sxx, sum(y::HUGEINT * y) AS syy,
         sum(x::HUGEINT * y) AS sxy
  FROM p GROUP BY 1
)
SELECT lag, n::BIGINT AS n_pairs,
       round((n * sxy - sx * sy)::DOUBLE
             / sqrt((n * sxx - sx * sx)::DOUBLE
                    * (n * syy - sy * sy)::DOUBLE), 6) AS acf
FROM m ORDER BY lag
""",
)
def daily_revenue_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of the daily revenue series — the
    time-series diagnostic behind seasonality detection (a weekly cycle
    shows as an acf peak at lag 7). Daily revenue sums EXACTLY as
    integer cents, every Pearson moment accumulates in
    decimal(38,0)/HUGEINT, and the single double conversion at the end
    is IEEE-deterministic — the 6dp hash cannot drift on summation
    order. Pairs come from a calendar join (day, day+lag), so missing
    days drop out of a lag's sample instead of silently misaligning a
    row-shifted series.

    Scale: the fact table contributes one grouped integer aggregate;
    the series join runs over the calendar-bounded day grain (x7 lag
    replication of the SERIES, never the fact), so cost is independent
    of fact size."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    lags = F.explode(F.array(*[F.lit(i) for i in range(1, 8)])).alias("lag")
    probe = d.select(F.col("day"), F.col("cents").alias("x"), lags).withColumn(
        "match_day", F.expr("date_add(day, lag)")
    )
    pairs = probe.join(
        d.select(F.col("day").alias("match_day"), F.col("cents").alias("y")),
        "match_day",
    )
    h = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(h("x")).alias("sx"),
        F.sum(h("y")).alias("sy"),
        F.sum(h("x") * h("x")).alias("sxx"),
        F.sum(h("y") * h("y")).alias("syy"),
        F.sum(h("x") * h("y")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return m.select(
        F.col("lag").cast("long").alias("lag"),
        F.col("n").cast("long").alias("n_pairs"),
        F.round(num / F.sqrt(dx * dy), 6).alias("acf"),
    ).orderBy("lag")


_PAGERANK_ORACLE = r"""
WITH li AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
  FROM lineitem WHERE l_quantity >= 30
),
e AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
),
ed AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v AS src, u AS dst FROM e),
deg AS (SELECT src, count(*)::DOUBLE AS outdeg FROM ed GROUP BY 1),
n AS (SELECT count(*)::DOUBLE AS n FROM deg),
p0 AS (SELECT src AS node, 1.0 / n.n AS rank FROM deg, n),
p1 AS (
  SELECT ed.dst AS node,
         (SELECT (1 - 0.85) / n.n FROM n)
           + 0.85 * sum(p0.rank / deg.outdeg) AS rank
  FROM ed JOIN deg USING (src) JOIN p0 ON p0.node = ed.src
  GROUP BY ed.dst
),
p2 AS (
  SELECT ed.dst AS node,
         (SELECT (1 - 0.85) / n.n FROM n)
           + 0.85 * sum(p1.rank / deg.outdeg) AS rank
  FROM ed JOIN deg USING (src) JOIN p1 ON p1.node = ed.src
  GROUP BY ed.dst
),
p3 AS (
  SELECT ed.dst AS node,
         (SELECT (1 - 0.85) / n.n FROM n)
           + 0.85 * sum(p2.rank / deg.outdeg) AS rank
  FROM ed JOIN deg USING (src) JOIN p2 ON p2.node = ed.src
  GROUP BY ed.dst
),
p4 AS (
  SELECT ed.dst AS node,
         (SELECT (1 - 0.85) / n.n FROM n)
           + 0.85 * sum(p3.rank / deg.outdeg) AS rank
  FROM ed JOIN deg USING (src) JOIN p3 ON p3.node = ed.src
  GROUP BY ed.dst
),
p5 AS (
  SELECT ed.dst AS node,
         (SELECT (1 - 0.85) / n.n FROM n)
           + 0.85 * sum(p4.rank / deg.outdeg) AS rank
  FROM ed JOIN deg USING (src) JOIN p4 ON p4.node = ed.src
  GROUP BY ed.dst
),
p6 AS (
  SELECT ed.dst AS node,
         (SELECT (1 - 0.85) / n.n FROM n)
           + 0.85 * sum(p5.rank / deg.outdeg) AS rank
  FROM ed JOIN deg USING (src) JOIN p5 ON p5.node = ed.src
  GROUP BY ed.dst
),
p7 AS (
  SELECT ed.dst AS node,
         (SELECT (1 - 0.85) / n.n FROM n)
           + 0.85 * sum(p6.rank / deg.outdeg) AS rank
  FROM ed JOIN deg USING (src) JOIN p6 ON p6.node = ed.src
  GROUP BY ed.dst
),
p8 AS (
  SELECT ed.dst AS node,
         (SELECT (1 - 0.85) / n.n FROM n)
           + 0.85 * sum(p7.rank / deg.outdeg) AS rank
  FROM ed JOIN deg USING (src) JOIN p7 ON p7.node = ed.src
  GROUP BY ed.dst
),
p9 AS (
  SELECT ed.dst AS node,
         (SELECT (1 - 0.85) / n.n FROM n)
           + 0.85 * sum(p8.rank / deg.outdeg) AS rank
  FROM ed JOIN deg USING (src) JOIN p8 ON p8.node = ed.src
  GROUP BY ed.dst
),
p10 AS (
  SELECT ed.dst AS node,
         (SELECT (1 - 0.85) / n.n FROM n)
           + 0.85 * sum(p9.rank / deg.outdeg) AS rank
  FROM ed JOIN deg USING (src) JOIN p9 ON p9.node = ed.src
  GROUP BY ed.dst
)
SELECT node AS p_partkey, round(rank * 1000000, 4) AS rank_ppm
FROM p10 ORDER BY rank_ppm DESC, p_partkey LIMIT 20
"""


@query("copurchase_pagerank_top20", oracle=_PAGERANK_ORACLE)
def copurchase_pagerank_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by PageRank over the same co-purchase graph as the
    triangle census — iterative graph centrality, ORACLE-REPLAYED: the
    10 synchronous power iterations are unrolled as ten DuckDB CTEs, so
    the driver hash checks the ITERATIVE computation, not just a
    spot-value ("iterative algorithms" are the contract's canonical
    rows-only exemption — this one doesn't need it). Ranks are reported
    in parts-per-million rounded to 4dp (the engines' per-node
    contribution sums associate differently; ~1e-15 relative noise is
    buried well under the rounding grain)."""
    e = _copurchase_edges(spark, sf_dir)
    from ..operators.graphs import pagerank

    ranks = pagerank(
        e, iterations=10, damping=0.85, key=("copurchase_edges", sf_dir)
    )
    return (
        ranks.select(
            F.col("node").alias("p_partkey"),
            F.round(F.col("rank") * 1_000_000, 4).alias("rank_ppm"),
        )
        .orderBy(F.desc("rank_ppm"), F.asc("p_partkey"))
        .limit(20)
    )


@query(
    "copurchase_triangle_count",
    oracle="""
WITH li AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
  FROM lineitem WHERE l_quantity >= 30
),
e AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
),
deg AS (
  SELECT node, count(*)::BIGINT AS d
  FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
  GROUP BY 1
),
o AS (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS ddst
  FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
),
cand AS (
  SELECT least(o1.dst, o2.dst) AS u, greatest(o1.dst, o2.dst) AS v
  FROM o o1 JOIN o o2
    ON o1.src = o2.src AND (o1.ddst, o1.dst) < (o2.ddst, o2.dst)
),
tri AS (
  SELECT count(*)::BIGINT AS n_triangles
  FROM cand JOIN e ON e.u = cand.u AND e.v = cand.v
),
agg AS (
  SELECT count(*)::BIGINT AS n_nodes,
         sum(d * (d - 1) // 2)::BIGINT AS n_wedges
  FROM deg
)
SELECT agg.n_nodes,
       (SELECT count(*) FROM e)::BIGINT AS n_edges,
       agg.n_wedges,
       tri.n_triangles,
       round(3.0 * tri.n_triangles / agg.n_wedges, 6) AS transitivity
FROM agg, tri
""",
)
def copurchase_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph (parts joined by
    appearing in the same order with quantity >= 30): node/edge/wedge
    counts, the exact triangle count, and the global transitivity
    3T/W. Counting uses DEGREE-ORDERED edge orientation (each edge
    points from its (degree, id)-smaller endpoint): every triangle then
    has exactly one node with two out-edges, so the wedge self-join
    emits each triangle exactly once and its total work is bounded by
    sum(outdeg^2) = O(E^1.5) instead of the hub-quadratic naive wedge
    join — the standard distributed triangle-counting discipline, and
    the reason this survives power-law degree skew at 100 TB. All
    counts are exact integers; the one double (transitivity) is a
    single IEEE division.

    The co-purchase edge list itself derives from a per-order self-join
    on the order key after a quantity filter and DISTINCT projection —
    the fact table never joins itself unfiltered (pooled: r11 shares
    the built edge frame across the whole graph family)."""
    e = _copurchase_edges(spark, sf_dir)
    from ..operators.graphs import triangle_census

    return triangle_census(e)


@query(
    "seasonal_naive_mape",
    oracle="""
WITH d AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
p AS (
  SELECT a.cents AS actual, b.cents AS forecast
  FROM d a JOIN d b ON a.day = b.day + 7
),
ape AS (SELECT abs(actual - forecast)::DOUBLE / forecast AS e FROM p)
SELECT count(*)::BIGINT AS n_days,
       round(avg(e), 6) AS mean_ape,
       round(quantile_cont(e, 0.5), 6) AS median_ape,
       round(quantile_cont(e, 0.9), 6) AS p90_ape
FROM ape
""",
)
def seasonal_naive_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy floor: the seasonal-naive baseline (predict
    today = same weekday last week) scored by absolute percentage error
    over the daily revenue series — the benchmark every real
    forecasting model must beat, and the denominator of the MASE
    family. Daily revenue is exact integer cents, each APE is ONE
    division of two exact integers (IEEE-identical across engines), and
    the mean/median/p90 fold over the calendar-bounded day frame.

    Scale: the fact contributes one grouped integer aggregate; the
    7-day self-join and error quantiles run on the day-grain series,
    independent of fact size."""
    from ..operators.aggregates import percentile_expr

    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    a = d.select(F.col("day"), F.col("cents").alias("actual"))
    b = d.select(F.expr("date_add(day, 7)").alias("day"), F.col("cents").alias("forecast"))
    p = a.join(b, "day")
    ape = p.select(
        (
            F.abs(F.col("actual") - F.col("forecast")).cast("double")
            / F.col("forecast")
        ).alias("e")
    )
    return ape.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.avg("e"), 6).alias("mean_ape"),
        F.round(percentile_expr("e", 0.5), 6).alias("median_ape"),
        F.round(percentile_expr("e", 0.9), 6).alias("p90_ape"),
    )


@query(
    "cohort_ltv_curve",
    oracle="""
WITH f AS (
  SELECT o_custkey,
         CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS cm
  FROM orders GROUP BY 1
),
base AS (
  SELECT f.o_custkey, strftime(f.cm, '%Y-%m') AS cohort_month,
         (year(o.o_orderdate) * 12 + month(o.o_orderdate))
           - (year(f.cm) * 12 + month(f.cm)) AS age,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN f ON o.o_custkey = f.o_custkey
  WHERE f.cm < DATE '1995-07-01'
),
sz AS (
  SELECT cohort_month, count(DISTINCT o_custkey)::BIGINT AS n_customers
  FROM base GROUP BY 1
),
pa AS (
  SELECT cohort_month, age, sum(cents) AS cents
  FROM base WHERE age <= 5 GROUP BY 1, 2
),
cum AS (
  SELECT cohort_month, age,
         sum(cents) OVER (PARTITION BY cohort_month ORDER BY age
                          ROWS UNBOUNDED PRECEDING) AS cum_cents
  FROM pa
)
SELECT c.cohort_month, c.age::BIGINT AS age_months, sz.n_customers,
       round(c.cum_cents / 100.0 / sz.n_customers, 2)
         AS cum_revenue_per_customer
FROM cum c JOIN sz USING (cohort_month)
ORDER BY cohort_month, age_months
""",
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: for each 1995-H1 acquisition cohort
    (first-order month), cumulative revenue PER COHORT MEMBER through
    the first six months of life — the revenue companion of
    weekly_cohort_retention (retention says who came back; LTV says
    what they were worth). Revenue folds as exact integer cents; the
    cumulative runs inside each cohort partition over the <=6-row age
    axis; the per-customer normalization divides by the cohort's
    distinct-member count once.

    Scale: two grouped passes over the fact (first-order month, then
    cohort/age cells) plus a cohort-partitioned window over the
    month-grain aggregate — the curve's size is cohorts x ages regardless
    of fact size."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    f = orders.groupBy("o_custkey").agg(
        F.to_date(F.date_trunc("month", F.min("o_orderdate"))).alias("cm")
    )
    base = (
        orders.join(f, "o_custkey")
        .filter(F.col("cm") < F.lit("1995-07-01").cast("date"))
        .select(
            "o_custkey",
            F.date_format("cm", "yyyy-MM").alias("cohort_month"),
            (
                (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
                - (F.year("cm") * 12 + F.month("cm"))
            ).alias("age"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    from ..plans.materialize import pinned

    base = pinned(base, "ltv_base")  # consumed by sizes + age cells
    sz = base.groupBy("cohort_month").agg(
        F.count_distinct("o_custkey").alias("n_customers")
    )
    pa = (
        base.filter(F.col("age") <= 5)
        .groupBy("cohort_month", "age")
        .agg(F.sum("cents").alias("cents"))
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = pa.select(
        "cohort_month", "age", F.sum("cents").over(w).alias("cum_cents")
    )
    return (
        cum.join(F.broadcast(sz), "cohort_month")
        .select(
            "cohort_month",
            F.col("age").cast("long").alias("age_months"),
            "n_customers",
            F.round(
                F.col("cum_cents") / 100.0 / F.col("n_customers"), 2
            ).alias("cum_revenue_per_customer"),
        )
        .orderBy("cohort_month", "age_months")
    )


@query(
    "theil_sen_revenue_trend",
    oracle="""
WITH d0 AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
d AS (
  SELECT day - (SELECT min(day) FROM d0) AS x, cents AS y FROM d0
),
p AS (
  SELECT (b.y - a.y)::DOUBLE / (b.x - a.x) AS slope
  FROM d a JOIN d b ON a.x < b.x
),
m AS (
  SELECT count(*)::BIGINT AS n_pairs,
         quantile_cont(slope, 0.5) AS med_slope
  FROM p
),
ols AS (
  SELECT count(*)::HUGEINT AS n,
         sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
         sum(x::HUGEINT * x) AS sxx, sum(x::HUGEINT * y) AS sxy
  FROM d
)
SELECT (SELECT count(*) FROM d)::BIGINT AS n_days,
       m.n_pairs,
       round(m.med_slope / 100.0, 4) AS theil_sen_slope,
       round((ols.n * ols.sxy - ols.sx * ols.sy)::DOUBLE
             / (ols.n * ols.sxx - ols.sx * ols.sx)::DOUBLE / 100.0, 4)
         AS ols_slope
FROM m, ols
""",
)
def theil_sen_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily revenue (median of all pairwise
    slopes, in dollars/day) next to the OLS slope it robustifies — the
    estimator that shrugs off the outlier days that drag least-squares
    around (29.3% breakdown point vs OLS's zero). Every pairwise slope
    is ONE division of exact integer differences (identical doubles on
    both engines); the median comes through the BUFFER-FREE distributed
    percentile path over the slope domain; the OLS comparison folds
    from exact decimal/HUGEINT moments.

    Scale: the pairwise join is DAY-grain quadratic (bounded by the
    calendar — ~3M pairs for 8 years — never fact-sized); at larger
    spans you subsample pairs with the portable hash. The fact
    contributes one grouped integer aggregate."""
    from ..operators.aggregates import exact_percentiles_distributed
    from ..plans.materialize import pinned

    orders = load_table(spark, sf_dir, "orders")
    d0 = orders.groupBy(
        F.to_date(F.date_trunc("day", "o_orderdate")).alias("day")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    mn = d0.agg(F.min("day").alias("mnd"))
    d = pinned(
        d0.crossJoin(F.broadcast(mn)).select(
            F.datediff("day", "mnd").alias("x"), F.col("cents").alias("y")
        ),
        "theil_sen_days",
    )
    a = d.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = d.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    # try_divide: the a.x < b.x join guard makes the denominator >= 1
    # on every surviving row, but ANSI mode still rejects the plain
    # division when codegen evaluates the projection speculatively
    p = a.join(b, F.col("xa") < F.col("xb")).select(
        F.try_divide(
            (F.col("yb") - F.col("ya")).cast("double"),
            (F.col("xb") - F.col("xa")),
        ).alias("slope")
    )
    # compress_values=False (r12): the ~C(n_days,2) slopes are ratios
    # of distinct day pairs — nearly all unique — so the percentile's
    # value-compression groupBy was a full extra exchange over the pair
    # frame that compressed nothing (guide §2.4).
    med = exact_percentiles_distributed(
        p, "slope", [0.5], compress_values=False
    ).select(F.col("value").alias("med_slope"))
    h = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    ols = d.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(h("x")).alias("sx"),
        F.sum(h("y")).alias("sy"),
        F.sum(h("x") * h("x")).alias("sxx"),
        F.sum(h("x") * h("y")).alias("sxy"),
    )
    n_days = d.agg(F.count(F.lit(1)).alias("n_days"))
    return (
        # n_pairs = C(n_days, 2) EXACTLY: the pair join's xa < xb guard
        # over one row per distinct day admits each unordered pair once,
        # so counting it with a second full evaluation of the day-grain
        # quadratic join (the pre-r11 plan) bought nothing — the closed
        # form is the identical long (guide §1.2: don't recompute what
        # a bounded frame already determines).
        n_days.withColumn(
            "n_pairs", F.expr("n_days * (n_days - 1) div 2")
        )
        .crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(ols))
        .select(
            "n_days",
            "n_pairs",
            F.round(F.col("med_slope") / F.lit(100.0), 4).alias(
                "theil_sen_slope"
            ),
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                    "double"
                )
                / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
                / F.lit(100.0),
                4,
            ).alias("ols_slope"),
        )
    )


@query(
    "mann_kendall_trend_test",
    oracle="""
WITH d0 AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
d AS (
  SELECT day - (SELECT min(day) FROM d0) AS x, cents AS y FROM d0
),
p AS (
  SELECT sum(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1
             ELSE 0 END)::BIGINT AS s
  FROM d a JOIN d b ON a.x < b.x
),
ties AS (
  SELECT coalesce(sum(t::HUGEINT * (t - 1) * (2 * t + 5)), 0)::DOUBLE AS tt
  FROM (SELECT count(*)::BIGINT AS t FROM d GROUP BY y HAVING count(*) > 1)
),
nn AS (SELECT count(*)::BIGINT AS n FROM d)
SELECT nn.n AS n_days, p.s AS s_stat,
       round((nn.n::DOUBLE * (nn.n - 1) * (2 * nn.n + 5) - ties.tt) / 18.0,
             4) AS variance,
       round((p.s - CASE WHEN p.s > 0 THEN 1 WHEN p.s < 0 THEN -1
                    ELSE 0 END)
             / sqrt((nn.n::DOUBLE * (nn.n - 1) * (2 * nn.n + 5) - ties.tt)
                    / 18.0), 6) AS z_stat
FROM p, ties, nn
""",
)
def mann_kendall_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test on daily revenue — the
    significance companion of theil_sen_revenue_trend (Theil-Sen says
    how steep; Mann-Kendall says whether a monotonic trend exists at
    all, with no distributional assumption): S = sum of pairwise signs
    (an exact integer), the tie-corrected variance from exact tie
    multiplicities, and the continuity-corrected z. Nothing floats
    until the single variance division and sqrt.

    Scale: reuses the same day-grain pair join as Theil-Sen (bounded by
    the calendar, never fact-sized); the tie term is one grouped count
    over the day frame."""
    from ..plans.materialize import pinned

    orders = load_table(spark, sf_dir, "orders")
    d0 = orders.groupBy(
        F.to_date(F.date_trunc("day", "o_orderdate")).alias("day")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    mn = d0.agg(F.min("day").alias("mnd"))
    d = pinned(
        d0.crossJoin(F.broadcast(mn)).select(
            F.datediff("day", "mnd").alias("x"), F.col("cents").alias("y")
        ),
        "mann_kendall_days",
    )
    a = d.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = d.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    p = a.join(b, F.col("xa") < F.col("xb")).agg(
        F.sum(
            F.when(F.col("yb") > F.col("ya"), 1)
            .when(F.col("yb") < F.col("ya"), -1)
            .otherwise(0)
        ).alias("s")
    )
    h = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    ties = (
        d.groupBy("y")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(h("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0).cast("decimal(38,0)"),
            )
            .cast("double")
            .alias("tt")
        )
    )
    nn = d.agg(F.count(F.lit(1)).alias("n"))
    var = (
        F.col("n").cast("double")
        * (F.col("n") - 1)
        * (2 * F.col("n") + 5)
        - F.col("tt")
    ) / F.lit(18.0)
    cc = (
        F.when(F.col("s") > 0, 1).when(F.col("s") < 0, -1).otherwise(0)
    )
    return (
        p.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("n").alias("n_days"),
            F.col("s").alias("s_stat"),
            F.round(var, 4).alias("variance"),
            F.round((F.col("s") - cc) / F.sqrt(var), 6).alias("z_stat"),
        )
    )


@query(
    "grubbs_outlier_test",
    oracle="""
WITH d AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
m AS (
  SELECT count(*)::HUGEINT AS n, sum(cents::HUGEINT) AS s1,
         sum(cents::HUGEINT * cents) AS s2
  FROM d
),
dev AS (
  SELECT day, abs(cents::HUGEINT * m.n - m.s1) AS devn FROM d, m
),
mx AS (SELECT max(devn) AS mxd FROM dev),
pick AS (SELECT min(day) AS oday FROM dev, mx WHERE devn = mx.mxd)
SELECT m.n::BIGINT AS n_days,
       strftime(pick.oday, '%Y-%m-%d') AS outlier_day,
       round((mx.mxd::DOUBLE / m.n::DOUBLE) / 100.0, 2)
         AS max_abs_dev_dollars,
       round((mx.mxd::DOUBLE / m.n::DOUBLE)
             / sqrt((m.s2::DOUBLE - m.s1::DOUBLE * m.s1::DOUBLE / m.n::DOUBLE)
                    / (m.n::DOUBLE - 1.0)), 6) AS g_stat
FROM m, mx, pick
""",
)
def grubbs_outlier_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs maximum-studentized-deviate test on daily revenue — the
    formalized single-outlier detector (g = max|x - mean|/sd; compare
    to the t-based critical value for the alarm): the candidate day is
    selected by EXACT integer deviation (|cents*n - sum| in HUGEINT, no
    float argmax ties), ties break to the earliest day, and g folds
    from exact moments with one division chain.

    Scale: one grouped integer aggregate over the fact, moments to one
    row, the deviation scan over the calendar-bounded day frame."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(
        F.to_date(F.date_trunc("day", "o_orderdate")).alias("day")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    h = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = d.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(h("cents")).alias("s1"),
        F.sum(h("cents") * h("cents")).alias("s2"),
    )
    dev = d.crossJoin(F.broadcast(m)).select(
        "day", F.abs(h("cents") * F.col("n") - F.col("s1")).alias("devn")
    )
    from ..plans.materialize import pinned

    dev = pinned(dev, "grubbs_dev")  # consumed by max + argmin pick
    mx = dev.agg(F.max("devn").alias("mxd"))
    pick = (
        dev.crossJoin(F.broadcast(mx))
        .filter(F.col("devn") == F.col("mxd"))
        .agg(F.min("day").alias("oday"))
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    g = (dd("mxd") / dd("n")) / F.sqrt(
        (dd("s2") - dd("s1") * dd("s1") / dd("n")) / (dd("n") - F.lit(1.0))
    )
    return (
        m.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(pick))
        .select(
            F.col("n").cast("long").alias("n_days"),
            F.date_format("oday", "yyyy-MM-dd").alias("outlier_day"),
            F.round((dd("mxd") / dd("n")) / F.lit(100.0), 2).alias(
                "max_abs_dev_dollars"
            ),
            F.round(g, 6).alias("g_stat"),
        )
    )


# --------------------------------------------------------------------------
# Round-5 additions: residual diagnostics + graph-shape fit.
# --------------------------------------------------------------------------


@query(
    "durbin_watson_daily_revenue",
    oracle=r"""
WITH d AS (
  SELECT o_orderdate AS day, sum(round(o_totalprice * 100)::BIGINT) AS cents
  FROM orders GROUP BY 1
),
mn AS (SELECT min(day) AS mnd FROM d),
xy AS (
  SELECT datediff('day', mn.mnd, d.day)::DOUBLE AS x, d.cents::DOUBLE AS y,
         row_number() OVER (ORDER BY d.day) AS t
  FROM d, mn
),
s AS (
  SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM xy
),
b AS (
  SELECT n, (sxy - sx * sy / n) / (sxx - sx * sx / n) AS slope,
         sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * (sx / n) AS icept
  FROM s
),
e AS (
  SELECT xy.t, xy.y - (b.icept + b.slope * xy.x) AS res FROM xy, b
),
dw AS (
  SELECT sum((a.res - p.res) * (a.res - p.res)) AS num
  FROM e a JOIN e p ON p.t = a.t - 1
),
den AS (SELECT sum(res * res) AS den, count(*)::BIGINT AS n_days FROM e)
SELECT den.n_days, round(dw.num / den.den, 6) AS durbin_watson
FROM dw, den
""",
)
def durbin_watson_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson first-order residual-autocorrelation statistic for
    the daily-revenue-vs-time OLS: DW = Σ(e_t − e_{t−1})²/Σe_t² (≈2 ⇒
    uncorrelated; →0 positive, →4 negative autocorrelation) — the
    diagnostic that says whether the trend fit's errors are independent
    (and so whether its standard errors mean anything). The OLS is the
    closed-form centered fit on exact cents; adjacency is series order
    (rank over the day-grain aggregate — the self-join on t−1 is an
    equi-join, parallel, never a partitionless window).

    Scale: day-grain everything (the fact contributes one grouped
    integer aggregate); the residual join carries |days| rows."""
    from ..operators.windows import range_partitioned_rank

    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    mn = d.agg(F.min("day").alias("mnd"))
    xy = range_partitioned_rank(
        d.crossJoin(F.broadcast(mn)).select(
            F.datediff("day", "mnd").cast("double").alias("x"),
            F.col("cents").cast("double").alias("y"),
            "day",
        ),
        ["day"],
        out="t",
    ).drop("day")
    s = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    b = s.select(
        "n",
        slope.alias("slope"),
        (F.col("sy") / F.col("n") - slope * (F.col("sx") / F.col("n"))).alias(
            "icept"
        ),
    )
    e = xy.crossJoin(F.broadcast(b)).select(
        "t", (F.col("y") - (F.col("icept") + F.col("slope") * F.col("x"))).alias("res")
    )
    p = e.select((F.col("t") + 1).alias("t"), F.col("res").alias("prev"))
    num = e.join(p, "t").agg(
        F.sum((F.col("res") - F.col("prev")) * (F.col("res") - F.col("prev"))).alias(
            "num"
        )
    )
    den = e.agg(
        F.sum(F.col("res") * F.col("res")).alias("den"),
        F.count(F.lit(1)).alias("n_days"),
    )
    return num.crossJoin(F.broadcast(den)).select(
        F.col("n_days").cast("long").alias("n_days"),
        F.round(F.col("num") / F.col("den"), 6).alias("durbin_watson"),
    )


@query(
    "copurchase_degree_powerlaw",
    oracle=r"""
WITH li AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
  FROM lineitem WHERE l_quantity >= 30
),
e AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
),
deg AS (
  SELECT node, count(*)::BIGINT AS d
  FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
  GROUP BY 1
),
h AS (SELECT d, count(*)::BIGINT AS cnt FROM deg GROUP BY d),
xy AS (SELECT ln(d::DOUBLE) AS x, ln(cnt::DOUBLE) AS y FROM h),
s AS (
  SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM xy
)
SELECT (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
       n::BIGINT AS n_degree_levels,
       round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS loglog_slope,
       round(sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * (sx / n), 6)
         AS loglog_intercept,
       round(((sxy - sx * sy / n) * (sxy - sx * sy / n))
             / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) AS r2
FROM s
""",
)
def copurchase_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution power-law fit of the co-purchase graph:
    log-log OLS of (ln degree, ln frequency) over the degree histogram —
    the scale-free-network diagnostic (slope ≈ −γ). The slope tells you
    whether the graph has heavy-tailed hubs, i.e. whether graph joins
    need skew handling BEFORE they fall over; same closed-form centered
    OLS as the trend queries, over a |distinct degrees|-row frame.

    Scale: edges aggregate to per-node degrees (one shuffle), degrees to
    a histogram (bounded by max degree), the fit to one row."""
    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    h = deg.groupBy("d").agg(F.count(F.lit(1)).alias("cnt"))
    xy = h.select(
        F.log(F.col("d").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    cx = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    vy = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    return s.crossJoin(F.broadcast(nn)).select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n").cast("long").alias("n_degree_levels"),
        F.round(cx / vx, 6).alias("loglog_slope"),
        F.round(
            F.col("sy") / F.col("n") - cx / vx * (F.col("sx") / F.col("n")), 6
        ).alias("loglog_intercept"),
        F.round((cx * cx) / (vx * vy), 6).alias("r2"),
    )


@query(
    "lineitem_ols_diagnostics",
    oracle=r"""
WITH s AS (
  SELECT l_returnflag,
         count(*)::BIGINT AS n,
         sum(l_quantity) AS s1, sum(l_discount) AS s2,
         sum(l_extendedprice) AS sy,
         sum(l_quantity * l_quantity) AS s11,
         sum(l_discount * l_discount) AS s22,
         sum(l_quantity * l_discount) AS s12,
         sum(l_quantity * l_extendedprice) AS s1y,
         sum(l_discount * l_extendedprice) AS s2y,
         sum(l_extendedprice * l_extendedprice) AS syy
  FROM lineitem GROUP BY 1
),
c AS (
  SELECT l_returnflag, n,
         s11 - s1 * s1 / n AS c11, s22 - s2 * s2 / n AS c22,
         s12 - s1 * s2 / n AS c12, s1y - s1 * sy / n AS c1y,
         s2y - s2 * sy / n AS c2y, syy - sy * sy / n AS cyy
  FROM s
),
b AS (
  SELECT l_returnflag, n, c1y, c2y, cyy,
         (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b1,
         (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b2
  FROM c
),
r AS (SELECT l_returnflag, n, (b1 * c1y + b2 * c2y) / cyy AS r2 FROM b)
SELECT l_returnflag, n,
       round(r2, 6) AS r2,
       round(1 - (1 - r2) * (n - 1) / (n - 2 - 1), 6) AS adj_r2,
       round((r2 / 2) / ((1 - r2) / (n - 2 - 1)), 6) AS f_stat,
       2::BIGINT AS df_model, (n - 3)::BIGINT AS df_resid
FROM r ORDER BY l_returnflag
""",
)
def lineitem_ols_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model diagnostics for the per-group two-predictor OLS
    (``lineitem_two_var_ols``): R², the sample-size-honest adjusted R²,
    and the overall F statistic (R²/p)/((1−R²)/(n−p−1)) — the readouts
    that say whether a fitted trend is signal or overfit noise, straight
    from the same ten sufficient statistics (no second pass, no
    residual materialization).

    Scale: identical to the fit — one hash aggregate over the fact,
    k output rows."""
    li = load_table(spark, sf_dir, "lineitem")
    x1, x2, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x1).alias("s1"),
        F.sum(x2).alias("s2"),
        F.sum(y).alias("sy"),
        F.sum(x1 * x1).alias("s11"),
        F.sum(x2 * x2).alias("s22"),
        F.sum(x1 * x2).alias("s12"),
        F.sum(x1 * y).alias("s1y"),
        F.sum(x2 * y).alias("s2y"),
        F.sum(y * y).alias("syy"),
    )
    n = F.col("n")
    c = s.select(
        "l_returnflag",
        "n",
        (F.col("s11") - F.col("s1") * F.col("s1") / n).alias("c11"),
        (F.col("s22") - F.col("s2") * F.col("s2") / n).alias("c22"),
        (F.col("s12") - F.col("s1") * F.col("s2") / n).alias("c12"),
        (F.col("s1y") - F.col("s1") * F.col("sy") / n).alias("c1y"),
        (F.col("s2y") - F.col("s2") * F.col("sy") / n).alias("c2y"),
        (F.col("syy") - F.col("sy") * F.col("sy") / n).alias("cyy"),
    )
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    b = c.select(
        "l_returnflag",
        "n",
        "c1y",
        "c2y",
        "cyy",
        ((F.col("c22") * F.col("c1y") - F.col("c12") * F.col("c2y")) / det).alias("b1"),
        ((F.col("c11") * F.col("c2y") - F.col("c12") * F.col("c1y")) / det).alias("b2"),
    )
    r2 = (F.col("b1") * F.col("c1y") + F.col("b2") * F.col("c2y")) / F.col("cyy")
    r = b.select("l_returnflag", "n", r2.alias("r2"))
    return r.select(
        "l_returnflag",
        "n",
        F.round("r2", 6).alias("r2"),
        F.round(
            1 - (1 - F.col("r2")) * (F.col("n") - 1) / (F.col("n") - 2 - 1), 6
        ).alias("adj_r2"),
        F.round(
            (F.col("r2") / 2) / ((1 - F.col("r2")) / (F.col("n") - 2 - 1)), 6
        ).alias("f_stat"),
        F.lit(2).cast("long").alias("df_model"),
        (F.col("n") - 3).cast("long").alias("df_resid"),
    ).orderBy("l_returnflag")


@query(
    "revenue_changepoint_binseg",
    oracle="""
WITH d AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
tot AS (
  SELECT count(*)::HUGEINT AS n, sum(cents::HUGEINT) AS s,
         sum(cents::HUGEINT * cents::HUGEINT) AS q
  FROM d
),
c AS (
  SELECT day,
         sum(cents::HUGEINT) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1,
         row_number() OVER (ORDER BY day)::HUGEINT AS n1
  FROM d
),
f AS (
  SELECT day, n1, s1,
         (s1 * s1 * (tot.n - n1) + (tot.s - s1) * (tot.s - s1) * n1)::DOUBLE
           / (n1 * (tot.n - n1))::DOUBLE AS val
  FROM c, tot WHERE n1 < tot.n
),
b AS (SELECT max(val) AS bv FROM f),
sel AS (
  SELECT f.* FROM f, b WHERE f.val = b.bv ORDER BY day LIMIT 1
)
SELECT strftime(sel.day, '%Y-%m-%d') AS split_day,
       sel.n1::BIGINT AS n_left,
       (tot.n - sel.n1)::BIGINT AS n_right,
       round(sel.s1::DOUBLE / sel.n1::DOUBLE / 100, 2) AS mean_left,
       round((tot.s - sel.s1)::DOUBLE / (tot.n - sel.n1)::DOUBLE / 100, 2)
         AS mean_right,
       round((sel.val - (tot.s * tot.s)::DOUBLE / tot.n::DOUBLE)
             / (tot.q::DOUBLE - (tot.s * tot.s)::DOUBLE / tot.n::DOUBLE),
             6) AS var_explained
FROM sel, tot
""",
)
def revenue_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-split changepoint detection on the daily revenue series
    (the first step of binary segmentation / CUSUM-style monitoring):
    the split day maximizing the between-segment sum-of-squares
    reduction gain(τ) = S1²/n1 + S2²/n2 − S²/n. The comparator is the
    τ-dependent part (S1²·n2 + S2²·n1)/(n1·n2): numerator and
    denominator are EXACT decimal(38,0) integers in cents, and the one
    double division is correctly rounded identically on both engines, so
    the argmax is deterministic (ties broken to the earliest day). A
    plain integer cross-multiplied form is NOT usable here: multiplying
    gain by the τ-dependent n1·n2 changes the argmax (caught by the
    brute-force unit test in tests/test_round5_ops.py).

    Scale: one grouped integer aggregate over the fact, then the prefix
    sums run on the bounded day-grain series via the range-partitioned
    two-pass cumsum (no global single-task window); the argmax is a
    1-row broadcast self-join."""
    from ..operators.windows import range_partitioned_cumsum

    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    ).withColumn("one", F.lit(1).cast("long"))
    h = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    tot = d.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(h("cents")).alias("s"),
        F.sum(h("cents") * h("cents")).alias("q"),
    )
    cum = range_partitioned_cumsum(d, ["day"], ["cents", "one"]).select(
        "day",
        F.col("cum_cents").cast("decimal(38,0)").alias("s1"),
        F.col("cum_one").cast("decimal(38,0)").alias("n1"),
    )
    n, s, q = F.col("n"), F.col("s"), F.col("q")
    n1, s1 = F.col("n1"), F.col("s1")
    # The division lives INSIDE when(n1 < n, ...): Catalyst infers
    # isnotnull(val) from the argmax equi-join and pushes it into the
    # cross-join condition AHEAD of the n1 < n conjunct, so a bare
    # division would be evaluated on the n1 = n row — fine with ANSI
    # off (null, dropped) but a DIVIDE_BY_ZERO throw for a library user
    # running spark.sql.ansi.enabled=true. The guard makes evaluation
    # lazy without changing any kept value.
    fdf = (
        cum.crossJoin(F.broadcast(tot))
        .withColumn(
            "val",
            F.when(
                n1 < n,
                (s1 * s1 * (n - n1) + (s - s1) * (s - s1) * n1).cast(
                    "double"
                )
                / (n1 * (n - n1)).cast("double"),
            ),
        )
        .filter(n1 < n)
    )
    b = fdf.agg(F.max("val").alias("bv"))
    sel = (
        fdf.join(F.broadcast(b), F.col("val") == F.col("bv"))
        .orderBy("day")
        .limit(1)
    )
    ss_over_n = (s * s).cast("double") / n.cast("double")
    return sel.select(
        F.date_format("day", "yyyy-MM-dd").alias("split_day"),
        n1.cast("long").alias("n_left"),
        (n - n1).cast("long").alias("n_right"),
        F.round(s1.cast("double") / n1.cast("double") / 100, 2).alias(
            "mean_left"
        ),
        F.round(
            (s - s1).cast("double") / (n - n1).cast("double") / 100, 2
        ).alias("mean_right"),
        F.round(
            (F.col("val") - ss_over_n) / (q.cast("double") - ss_over_n),
            6,
        ).alias("var_explained"),
    )


@query(
    "revenue_periodicity_folding",
    oracle="""
WITH d AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
m AS (SELECT min(day) AS d0 FROM d),
t AS (SELECT (day - m.d0) AS tt, cents FROM d, m),
tot AS (
  SELECT count(*)::DOUBLE AS n, sum(cents::HUGEINT)::DOUBLE AS s,
         sum(cents::HUGEINT * cents::HUGEINT)::DOUBLE AS q
  FROM d
),
ph AS (
  SELECT p.p AS period, tt % p.p AS phase,
         count(*)::DOUBLE AS m, sum(cents::HUGEINT)::DOUBLE AS sp
  FROM t, range(2, 11) p(p)
  GROUP BY 1, 2
),
btw AS (SELECT period, sum(sp * sp / m) AS bss FROM ph GROUP BY 1)
SELECT period::BIGINT AS period,
       round((bss - s * s / n) / (q - s * s / n), 6) AS eta2
FROM btw, tot ORDER BY period
""",
)
def revenue_periodicity_folding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodicity scan by epoch folding: for each candidate period p in
    2..10 days, fold the daily revenue series on ``t mod p`` and report
    the between-phase variance share (eta² — the one-way-ANOVA effect
    size across phases). A weekly cycle shows as the eta² peak at
    period 7; this is the trig-free alternative to a DFT periodogram
    (no libm cos/sin, so no cross-engine ulp surface beyond ordinary
    aggregate sums, which the 6dp round absorbs).

    Scale: one grouped integer aggregate over the fact; the fold
    replicates only the bounded day-grain series (x9 periods) and each
    (period, phase) group aggregates exactly — cost independent of fact
    size."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    h = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = d.agg(F.min("day").alias("d0"))
    t = d.crossJoin(F.broadcast(m)).select(
        F.datediff("day", "d0").alias("tt"), "cents"
    )
    tot = d.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(h("cents")).cast("double").alias("s"),
        F.sum(h("cents") * h("cents")).cast("double").alias("q"),
    )
    periods = F.explode(
        F.array(*[F.lit(p) for p in range(2, 11)])
    ).alias("period")
    ph = (
        t.select("tt", "cents", periods)
        .groupBy("period", (F.col("tt") % F.col("period")).alias("phase"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("m"),
            F.sum(h("cents")).cast("double").alias("sp"),
        )
    )
    btw = ph.groupBy("period").agg(
        F.sum(F.col("sp") * F.col("sp") / F.col("m")).alias("bss")
    )
    n, s, q = F.col("n"), F.col("s"), F.col("q")
    return (
        btw.crossJoin(F.broadcast(tot))
        .select(
            F.col("period").cast("long").alias("period"),
            F.round((F.col("bss") - s * s / n) / (q - s * s / n), 6).alias(
                "eta2"
            ),
        )
        .orderBy("period")
    )


@query(
    "holt_linear_daily_revenue",
    oracle="""
WITH RECURSIVE d AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
idx AS (
  SELECT row_number() OVER (ORDER BY day) AS t, cents::DOUBLE AS x FROM d
),
nn AS (SELECT max(t) AS n FROM idx),
r AS (
  SELECT 1 AS t,
         (SELECT x FROM idx WHERE t = 1) AS s,
         (SELECT x FROM idx WHERE t = 2) - (SELECT x FROM idx WHERE t = 1) AS b,
         CAST(0.0 AS DOUBLE) AS sse
  UNION ALL
  SELECT r.t + 1,
         0.3 * i.x + 0.7 * (r.s + r.b),
         0.2 * (0.3 * i.x + 0.7 * (r.s + r.b) - r.s) + 0.8 * r.b,
         r.sse + (i.x - (r.s + r.b)) * (i.x - (r.s + r.b))
  FROM r JOIN idx i ON i.t = r.t + 1
)
SELECT nn.n::BIGINT AS n_days,
       round(r.s / 100, 4) AS level,
       round(r.b / 100, 4) AS trend,
       round((r.s + 7 * r.b) / 100, 4) AS forecast_7d,
       round(sqrt(r.sse / (nn.n - 1)) / 100, 4) AS rmse_1step
FROM r, nn WHERE r.t = nn.n
""",
)
def holt_linear_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing (alpha=0.3, beta=0.2)
    over the daily revenue series, with the one-step-ahead SSE
    accumulated alongside — level/trend/7-day-ahead forecast/RMSE. The
    recurrence is ITERATION-EXACT like the PageRank/power-iteration
    family: Spark runs it as a left fold (``aggregate``) over the
    day-sorted array, DuckDB as a recursive CTE, and both evaluate the
    identical IEEE expression per step in the identical order, so the
    result is the same double bit pattern before the 4dp round.

    Scale: the fact collapses to the bounded day-grain series first
    (one grouped integer aggregate, map-side combined); only that
    ~|days| array is folded on a single executor — a few thousand
    elements regardless of fact size. The sequential fold is inherent
    to exponential smoothing (each state depends on the previous); the
    scalable variant for MANY series is the same fold per key via
    groupBy(series).agg(aggregate(...)), which this plan shape is."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    arr = d.agg(
        F.sort_array(F.collect_list(F.struct("day", "cents"))).alias("a")
    ).select(
        F.expr("transform(a, z -> cast(z.cents as double))").alias("xs")
    )
    st = arr.select(
        F.size("xs").alias("n"),
        F.expr(
            """
aggregate(
  slice(xs, 2, size(xs) - 1),
  named_struct('s', xs[0], 'b', xs[1] - xs[0],
               'sse', cast(0.0 as double)),
  (st, x) -> named_struct(
     's', 0.3 * x + 0.7 * (st.s + st.b),
     'b', 0.2 * (0.3 * x + 0.7 * (st.s + st.b) - st.s) + 0.8 * st.b,
     'sse', st.sse + (x - (st.s + st.b)) * (x - (st.s + st.b))),
  st -> st)
"""
        ).alias("h"),
    )
    return st.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(F.col("h.s") / 100, 4).alias("level"),
        F.round(F.col("h.b") / 100, 4).alias("trend"),
        F.round((F.col("h.s") + 7 * F.col("h.b")) / 100, 4).alias(
            "forecast_7d"
        ),
        F.round(
            F.sqrt(F.col("h.sse") / (F.col("n") - 1)) / 100, 4
        ).alias("rmse_1step"),
    )


# --------------------------------------------------------------------------
# Poisson GLM (log link) on the daily order-count series — the second
# member of the iteration-exact GLM family (see carprice_logit_irls_exact
# for the logistic member): K unrolled Newton/IRLS steps, each one
# distributed aggregate of the gradient/Hessian sums + a 3x3 Cramer
# update, generated identically for the DuckDB oracle. Newton's
# contraction at the fixed point quenches exp()'s cross-engine ulp noise
# far below the 6dp round.
# --------------------------------------------------------------------------

_POIS_ITERS = 12

_POIS_BASE_SQL = """
WITH dd AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         count(*)::DOUBLE AS y
  FROM orders GROUP BY 1
),
m AS (SELECT min(day) AS d0 FROM dd),
base AS (
  SELECT (day - m.d0)::DOUBLE / 1000 AS x1,
         CASE WHEN isodow(day) IN (6, 7) THEN CAST(1 AS DOUBLE)
              ELSE CAST(0 AS DOUBLE) END AS x2,
         y
  FROM dd, m
),
b0 AS (SELECT CAST(0 AS DOUBLE) AS p0, CAST(0 AS DOUBLE) AS p1,
 CAST(0 AS DOUBLE) AS p2),"""


def _pois_sql_step(prev: str, k: int) -> list[str]:
    mu = "exp(p0 + p1*x1 + p2*x2)"
    r = f"(y - {mu})"
    agg = (
        f"ag{k} AS (SELECT p0, p1, p2, "
        f"sum({r}) AS g0, sum({r}*x1) AS g1, sum({r}*x2) AS g2, "
        f"sum({mu}) AS ha, sum({mu}*x1) AS hb, sum({mu}*x2) AS hc, "
        f"sum({mu}*x1*x1) AS hd, sum({mu}*x1*x2) AS he, "
        f"sum({mu}*x2*x2) AS hf "
        f"FROM base, {prev} GROUP BY p0, p1, p2),"
    )
    det = "(ha*(hd*hf-he*he) - hb*(hb*hf-hc*he) + hc*(hb*he-hc*hd))"
    d0 = "(g0*(hd*hf-he*he) - hb*(g1*hf-he*g2) + hc*(g1*he-hd*g2))"
    d1 = "(ha*(g1*hf-he*g2) - g0*(hb*hf-he*hc) + hc*(hb*g2-g1*hc))"
    d2 = "(ha*(hd*g2-g1*he) - hb*(hb*g2-g1*hc) + g0*(hb*he-hd*hc))"
    nxt = (
        f"b{k} AS (SELECT p0 + {d0}/{det} AS p0, "
        f"p1 + {d1}/{det} AS p1, p2 + {d2}/{det} AS p2 FROM ag{k}),"
    )
    return [agg, nxt]


def _pois_exact_oracle() -> str:
    parts = [_POIS_BASE_SQL]
    for k in range(1, _POIS_ITERS + 1):
        parts += _pois_sql_step(f"b{k-1}", k)
    parts[-1] = parts[-1].rstrip(",")
    last = f"b{_POIS_ITERS}"
    finals = [
        f"SELECT '(intercept)' AS feature, round(p0, 6) AS coefficient"
        f" FROM {last}",
        f"SELECT 'day_index_per_1000', round(p1, 6) FROM {last}",
        f"SELECT 'is_weekend', round(p2, 6) FROM {last}",
    ]
    return "\n".join(parts) + "\n" + "\nUNION ALL ".join(finals)


def _pois_solve(row: dict, p: list[float]) -> list[float]:
    """Cramer step mirroring the generated SQL term for term (identical
    to the logistic solver's expressions — same index spec)."""
    g0, g1, g2 = row["g0"], row["g1"], row["g2"]
    ha, hb, hc = row["ha"], row["hb"], row["hc"]
    hd, he, hf = row["hd"], row["he"], row["hf"]
    det = ha * (hd * hf - he * he) - hb * (hb * hf - hc * he) + hc * (
        hb * he - hc * hd
    )
    d0 = g0 * (hd * hf - he * he) - hb * (g1 * hf - he * g2) + hc * (
        g1 * he - hd * g2
    )
    d1 = ha * (g1 * hf - he * g2) - g0 * (hb * hf - he * hc) + hc * (
        hb * g2 - g1 * hc
    )
    d2 = ha * (hd * g2 - g1 * he) - hb * (hb * g2 - g1 * hc) + g0 * (
        hb * he - hd * hc
    )
    return [p[0] + d0 / det, p[1] + d1 / det, p[2] + d2 / det]


@query("poisson_glm_daily_orders", oracle=_pois_exact_oracle())
def poisson_glm_daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson regression (log link) of daily order counts on a scaled
    day index + weekend indicator — 12 unrolled IRLS/Newton steps, each
    one map-side-combined aggregate of the 9 gradient/Hessian sums over
    the bounded day-grain series and a closed-form 3x3 Cramer update,
    replayed by the generated DuckDB CTE chain. Answers "is order
    volume trending, and is there a weekend effect?" with a GLM instead
    of eyeballing.

    Scale: the fact collapses to the day grain first; each Newton step
    then aggregates ~|days| rows — 12 cheap passes whatever the fact
    size, state is 3 doubles."""
    dd = load_table(spark, sf_dir, "orders").groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    m = dd.agg(F.min("day").alias("d0"))
    base = dd.crossJoin(F.broadcast(m)).select(
        (F.datediff("day", "d0").cast("double") / 1000).alias("x1"),
        F.when(F.dayofweek("day").isin(1, 7), 1.0).otherwise(0.0).alias("x2"),
        "y",
    ).localCheckpoint()
    beta = [0.0, 0.0, 0.0]
    for _ in range(_POIS_ITERS):
        mu = F.exp(
            F.lit(beta[0])
            + F.lit(beta[1]) * F.col("x1")
            + F.lit(beta[2]) * F.col("x2")
        )
        r = F.col("y") - mu
        row = base.agg(
            F.sum(r).alias("g0"),
            F.sum(r * F.col("x1")).alias("g1"),
            F.sum(r * F.col("x2")).alias("g2"),
            F.sum(mu).alias("ha"),
            F.sum(mu * F.col("x1")).alias("hb"),
            F.sum(mu * F.col("x2")).alias("hc"),
            F.sum(mu * F.col("x1") * F.col("x1")).alias("hd"),
            F.sum(mu * F.col("x1") * F.col("x2")).alias("he"),
            F.sum(mu * F.col("x2") * F.col("x2")).alias("hf"),
        ).collect()[0].asDict()
        beta = _pois_solve(row, beta)
    out = spark.createDataFrame(
        [
            ("(intercept)", beta[0]),
            ("day_index_per_1000", beta[1]),
            ("is_weekend", beta[2]),
        ],
        "feature string, coefficient double",
    )
    return out.select(
        "feature", F.round("coefficient", 6).alias("coefficient")
    )


@query(
    "weekly_seasonal_decomposition",
    oracle="""
WITH d AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
tr AS (
  SELECT a.day, a.cents,
         sum(b.cents::HUGEINT)::DOUBLE / count(*)::DOUBLE AS trend
  FROM d a JOIN d b ON b.day BETWEEN a.day - 3 AND a.day + 3
  GROUP BY a.day, a.cents
),
dt AS (
  SELECT isodow(day) AS dow, cents, cents::DOUBLE - trend AS detr FROM tr
)
SELECT dow::BIGINT AS dow,
       count(*) AS n_days,
       round(avg(cents::DOUBLE) / 100, 2) AS mean_revenue,
       round(avg(detr) / 100, 2) AS seasonal
FROM dt GROUP BY 1 ORDER BY 1
""",
)
def weekly_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite weekly decomposition of daily revenue: trend = centered
    7-day moving average via a CALENDAR self-join of the day-grain
    series (present-day count as the divisor, so edges and gaps average
    over what exists instead of zero-filling), seasonal = mean detrended
    value per ISO weekday. The trend division has exact integer-cent
    operands (deterministic double on both engines); the per-dow means
    round at 2dp, far above summation-order noise.

    Scale: one grouped integer aggregate collapses the fact; the ±3-day
    band join replicates only the bounded day-grain series (x7) — the
    windowless moving average (no partitionless WindowExec)."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    b = d.select(F.col("day").alias("bday"), F.col("cents").alias("bcents"))
    tr = (
        d.join(
            b,
            (F.col("bday") >= F.date_sub("day", 3))
            & (F.col("bday") <= F.date_add("day", 3)),
        )
        .groupBy("day", "cents")
        .agg(
            (
                F.sum(F.col("bcents").cast("decimal(38,0)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("trend")
        )
    )
    dt = tr.select(
        F.expr("((dayofweek(day) + 5) % 7) + 1").cast("long").alias("dow"),
        "cents",
        (F.col("cents").cast("double") - F.col("trend")).alias("detr"),
    )
    return (
        dt.groupBy("dow")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.avg(F.col("cents").cast("double")) / 100, 2).alias(
                "mean_revenue"
            ),
            F.round(F.avg("detr") / 100, 2).alias("seasonal"),
        )
        .orderBy("dow")
    )


@query(
    "yule_walker_ar2_daily_revenue",
    oracle="""
WITH d AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
tot AS (
  SELECT count(*)::HUGEINT AS n, sum(cents::HUGEINT) AS sx FROM d
),
dev AS (
  SELECT day, tot.n * cents::HUGEINT - tot.sx AS dv FROM d, tot
),
den AS (SELECT sum(dv * dv) AS den FROM dev),
pr AS (
  SELECT r.lag AS lag, sum(a.dv * b.dv) AS num
  FROM dev a, range(1, 3) r(lag)
  JOIN dev b ON b.day = a.day + r.lag::INTEGER
  GROUP BY 1
),
rh AS (
  SELECT
    max(CASE WHEN lag = 1 THEN num::DOUBLE / den.den::DOUBLE END) AS r1,
    max(CASE WHEN lag = 2 THEN num::DOUBLE / den.den::DOUBLE END) AS r2
  FROM pr, den
)
SELECT tot.n::BIGINT AS n_days,
       round(r1, 6) AS rho_1,
       round(r2, 6) AS rho_2,
       round(r1 * (1 - r2) / (1 - r1 * r1), 6) AS phi_1,
       round((r2 - r1 * r1) / (1 - r1 * r1), 6) AS phi_2,
       round(1 - r1 * (1 - r2) / (1 - r1 * r1) * r1
               - (r2 - r1 * r1) / (1 - r1 * r1) * r2, 6)
         AS innovation_variance_ratio
FROM rh, tot
""",
)
def yule_walker_ar2_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule-Walker AR(2) fit to daily revenue: solve the 2x2 Toeplitz
    system from the classical acf at lags 1-2 in closed form —
    phi1 = rho1(1-rho2)/(1-rho1^2), phi2 = (rho2-rho1^2)/(1-rho1^2) —
    plus the innovation-variance ratio sigma^2_e/gamma_0 =
    1 - phi1*rho1 - phi2*rho2 (how much of the day-to-day variance the
    autoregression explains). The forecasting counterpart to Ljung-Box:
    that query asks "is there structure?", this one FITS the structure.

    Exactness: same machinery as ``ljung_box_daily_revenue`` — exact
    decimal mean-centering (n*x - sx), integer autocovariance sums, one
    shared denominator; doubles only in the final rho ratios and the
    fixed-association phi expressions mirrored on both engines.

    Scale: one grouped integer aggregate over the fact table, then a
    day-grain x2 lag equi-join. AR state is two doubles."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    h = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    tot = d.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(h(F.col("cents"))).alias("sx"),
    )
    dev = d.crossJoin(F.broadcast(tot)).select(
        "day", "n", (F.col("n") * h(F.col("cents")) - F.col("sx")).alias("dv")
    )
    den = dev.agg(F.sum(F.col("dv") * F.col("dv")).alias("den"))
    lags = F.explode(F.array(F.lit(1), F.lit(2))).alias("lag")
    probe = dev.select(F.col("day"), F.col("dv").alias("adv"), lags).withColumn(
        "match_day", F.expr("date_add(day, lag)")
    )
    pr = (
        probe.join(
            dev.select(F.col("day").alias("match_day"), F.col("dv").alias("bdv")),
            "match_day",
        )
        .groupBy("lag")
        .agg(F.sum(F.col("adv") * F.col("bdv")).alias("num"))
    )
    rh = pr.crossJoin(F.broadcast(den)).agg(
        F.max(
            F.when(
                F.col("lag") == 1,
                F.col("num").cast("double") / F.col("den").cast("double"),
            )
        ).alias("r1"),
        F.max(
            F.when(
                F.col("lag") == 2,
                F.col("num").cast("double") / F.col("den").cast("double"),
            )
        ).alias("r2"),
    )
    r1, r2 = F.col("r1"), F.col("r2")
    phi1 = r1 * (1 - r2) / (1 - r1 * r1)
    phi2 = (r2 - r1 * r1) / (1 - r1 * r1)
    return rh.crossJoin(F.broadcast(tot)).select(
        F.col("n").cast("long").alias("n_days"),
        F.round(r1, 6).alias("rho_1"),
        F.round(r2, 6).alias("rho_2"),
        F.round(phi1, 6).alias("phi_1"),
        F.round(phi2, 6).alias("phi_2"),
        F.round(1 - phi1 * r1 - phi2 * r2, 6).alias(
            "innovation_variance_ratio"
        ),
    )


@query(
    "chow_break_test_daily_revenue",
    oracle="""
WITH d AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
sp AS (
  SELECT min(day) AS mnd,
         min(day) + CAST(datediff('day', min(day), max(day)) // 2
                         AS INTEGER) AS mid
  FROM d
),
xy AS (
  SELECT CASE WHEN day <= sp.mid THEN 1 ELSE 2 END AS seg,
         CAST(datediff('day', sp.mnd, day) AS DOUBLE) AS x,
         cents::DOUBLE AS y
  FROM d, sp
),
st AS (
  SELECT seg, count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM xy GROUP BY seg
),
ssr AS (
  SELECT seg, n,
         (syy - sy * sy / n)
           - (sxy - sx * sy / n) * (sxy - sx * sy / n) / (sxx - sx * sx / n)
           AS ssr
  FROM st
),
pool AS (
  SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM xy
),
psr AS (
  SELECT n,
         (syy - sy * sy / n)
           - (sxy - sx * sy / n) * (sxy - sx * sy / n) / (sxx - sx * sx / n)
           AS ssr
  FROM pool
),
seg AS (
  SELECT sum(CASE WHEN seg = 1 THEN n END) AS n1,
         sum(CASE WHEN seg = 2 THEN n END) AS n2,
         sum(ssr) AS ssr_split
  FROM ssr
)
SELECT seg.n1::BIGINT AS n_days_pre,
       seg.n2::BIGINT AS n_days_post,
       strftime(sp.mid, '%Y-%m-%d') AS break_day,
       round((psr.ssr - seg.ssr_split) / 2
             / (seg.ssr_split / (psr.n - 4)), 6) AS chow_f,
       round(1 - seg.ssr_split / psr.ssr, 6) AS ssr_reduction
FROM seg, psr, sp
""",
)
def chow_break_test_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break test for the daily-revenue trend at the
    calendar midpoint: fit the y~t OLS pooled and separately on each
    half, F = ((SSR_pool - SSR1 - SSR2)/k) / ((SSR1+SSR2)/(n-2k)) with
    k=2 — "did the trend line's level or slope change?", the parametric
    sibling of ``revenue_changepoint_binseg`` (which SEARCHES for the
    split; this one TESTS a hypothesized split).

    Exactness: per-segment sufficient statistics (six sums) from exact
    integer cents; SSR via the centered closed form with identical
    association on both engines; seg boundary from integer FLOOR
    division on both engines (DuckDB ``//``, Spark ``div``) — a
    double-divide CAST would round half-to-even in DuckDB but truncate
    in Spark whenever datediff % 4 == 3 (round-5 ADVICE fix).

    Scale: one grouped integer aggregate to day grain, then two
    aggregates over |days| rows — no row-level residual pass; the
    sufficient-statistics trick keeps it a 6-double fold per segment."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    sp = d.agg(
        F.min("day").alias("mnd"),
        F.expr(
            "date_add(min(day),"
            " CAST(datediff(max(day), min(day)) div 2 AS INT))"
        ).alias("mid"),
    )
    xy = d.crossJoin(F.broadcast(sp)).select(
        F.when(F.col("day") <= F.col("mid"), 1).otherwise(2).alias("seg"),
        F.datediff("day", "mnd").cast("double").alias("x"),
        F.col("cents").cast("double").alias("y"),
    )

    def sums(gdf, keys):
        return gdf.agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )

    ssr_expr = (
        F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    ) - (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) * (
        F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    ) / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
    st = sums(xy.groupBy("seg"), ["seg"]).select("seg", "n", ssr_expr.alias("ssr"))
    seg = st.agg(
        F.sum(F.when(F.col("seg") == 1, F.col("n"))).alias("n1"),
        F.sum(F.when(F.col("seg") == 2, F.col("n"))).alias("n2"),
        F.sum("ssr").alias("ssr_split"),
    )
    psr = sums(xy.groupBy(), []).select("n", ssr_expr.alias("ssr"))
    return (
        seg.crossJoin(F.broadcast(psr.withColumnRenamed("ssr", "pssr")))
        .crossJoin(F.broadcast(sp.select("mid")))
        .select(
            F.col("n1").cast("long").alias("n_days_pre"),
            F.col("n2").cast("long").alias("n_days_post"),
            F.date_format("mid", "yyyy-MM-dd").alias("break_day"),
            F.round(
                (F.col("pssr") - F.col("ssr_split"))
                / 2
                / (F.col("ssr_split") / (F.col("n") - 4)),
                6,
            ).alias("chow_f"),
            F.round(1 - F.col("ssr_split") / F.col("pssr"), 6).alias(
                "ssr_reduction"
            ),
        )
    )


@query(
    "daily_orders_overdispersion",
    oracle="""
WITH c AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         count(*)::BIGINT AS cnt
  FROM orders GROUP BY 1
),
s AS (
  SELECT count(*)::DOUBLE AS n, sum(cnt)::DOUBLE AS sc,
         sum(cnt * cnt)::DOUBLE AS scc
  FROM c
),
m AS (
  SELECT n, sc / n AS mean_c,
         (scc - sc * sc / n) / (n - 1) AS var_c
  FROM s
)
SELECT n::BIGINT AS n_days,
       round(mean_c, 6) AS mean_daily_orders,
       round(var_c, 6) AS var_daily_orders,
       round(var_c / mean_c, 6) AS dispersion_index,
       round((n - 1) * var_c / mean_c, 4) AS poisson_chi2,
       round(CASE WHEN var_c > mean_c
                  THEN mean_c * mean_c / (var_c - mean_c)
                  ELSE -1 END, 6) AS nb_r_moments,
       round(CASE WHEN var_c > mean_c THEN mean_c / var_c
                  ELSE -1 END, 6) AS nb_p_moments
FROM m
""",
)
def daily_orders_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson overdispersion check on daily order counts: dispersion
    index s^2/mean (=1 under Poisson), the (n-1)s^2/mean chi-square
    dispersion statistic, and — when overdispersed — the negative-
    binomial method-of-moments parameters r = mean^2/(s^2-mean),
    p = mean/s^2. The model-choice gate before ``poisson_glm_daily_
    orders``: if this says NB, the Poisson GLM's standard errors are
    too tight. Not-overdispersed encodes as the -1 sentinel (identical
    on both engines) rather than NULL so the value hash is total.

    Exactness: count moments are exact integers; one division order
    shared by both engines. Scale: one grouped count + one 3-sum fold."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    s = c.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("cnt").cast("double").alias("sc"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("double").alias("scc"),
    )
    m = s.select(
        "n",
        (F.col("sc") / F.col("n")).alias("mean_c"),
        ((F.col("scc") - F.col("sc") * F.col("sc") / F.col("n")) / (F.col("n") - 1)).alias(
            "var_c"
        ),
    )
    over = F.col("var_c") > F.col("mean_c")
    return m.select(
        F.col("n").cast("long").alias("n_days"),
        F.round("mean_c", 6).alias("mean_daily_orders"),
        F.round("var_c", 6).alias("var_daily_orders"),
        F.round(F.col("var_c") / F.col("mean_c"), 6).alias("dispersion_index"),
        F.round((F.col("n") - 1) * F.col("var_c") / F.col("mean_c"), 4).alias(
            "poisson_chi2"
        ),
        F.round(
            F.when(
                over,
                F.col("mean_c") * F.col("mean_c") / (F.col("var_c") - F.col("mean_c")),
            ).otherwise(-1.0),
            6,
        ).alias("nb_r_moments"),
        F.round(
            F.when(over, F.col("mean_c") / F.col("var_c")).otherwise(-1.0), 6
        ).alias("nb_p_moments"),
    )


@query(
    "cooks_distance_top_days",
    oracle="""
WITH d AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
mn AS (SELECT min(day) AS mnd FROM d),
xy AS (
  SELECT day, CAST(datediff('day', mn.mnd, day) AS DOUBLE) AS x,
         cents::DOUBLE AS y
  FROM d, mn
),
s AS (
  SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM xy
),
b AS (
  SELECT n, sx / n AS xbar, sxx - sx * sx / n AS cxx,
         (sxy - sx * sy / n) / (sxx - sx * sx / n) AS slope,
         sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * (sx / n)
           AS icept,
         ((syy - sy * sy / n)
          - (sxy - sx * sy / n) * (sxy - sx * sy / n) / (sxx - sx * sx / n))
           / (n - 2) AS s2
  FROM s
),
inf AS (
  SELECT xy.day,
         xy.y - (b.icept + b.slope * xy.x) AS e,
         1 / b.n + (xy.x - b.xbar) * (xy.x - b.xbar) / b.cxx AS h,
         b.s2 AS s2
  FROM xy, b
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       round(e * e * h / (2 * s2 * (1 - h) * (1 - h)), 6) AS cooks_d,
       round(h, 6) AS leverage,
       round(e / 100, 2) AS residual_revenue
FROM inf
ORDER BY round(e * e * h / (2 * s2 * (1 - h) * (1 - h)), 6) DESC, day
LIMIT 5
""",
)
def cooks_distance_top_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most influential days for the daily-revenue trend fit by
    Cook's distance D_i = e_i^2 h_i / (p s^2 (1-h_i)^2), p=2, with
    closed-form leverage h_i = 1/n + (x_i-xbar)^2/Sxx — regression
    influence diagnostics (which days, if dropped, would move the
    trend line most). Complements ``grubbs_outlier_test`` (univariate
    outlier) with the MODEL-relative notion of extreme.

    Exactness: one 6-sum sufficient-statistics fold (exact cents),
    leverage/residual per day from broadcast scalars with identical
    association; ranking on the ROUNDED distance with a day tiebreak so
    both engines cut the same top-5.

    Scale: day-grain throughout; the per-row work is a broadcast-join
    projection, ordering is a bounded top-k (TakeOrdered, no sort)."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    mn = d.agg(F.min("day").alias("mnd"))
    xy = d.crossJoin(F.broadcast(mn)).select(
        "day",
        F.datediff("day", "mnd").cast("double").alias("x"),
        F.col("cents").cast("double").alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    sxy_c = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    sxx_c = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    syy_c = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    b = s.select(
        "n",
        (F.col("sx") / F.col("n")).alias("xbar"),
        sxx_c.alias("cxx"),
        (sxy_c / sxx_c).alias("slope"),
        (F.col("sy") / F.col("n") - (sxy_c / sxx_c) * (F.col("sx") / F.col("n"))).alias(
            "icept"
        ),
        ((syy_c - sxy_c * sxy_c / sxx_c) / (F.col("n") - 2)).alias("s2"),
    )
    inf = xy.crossJoin(F.broadcast(b)).select(
        "day",
        (F.col("y") - (F.col("icept") + F.col("slope") * F.col("x"))).alias("e"),
        (
            1 / F.col("n")
            + (F.col("x") - F.col("xbar")) * (F.col("x") - F.col("xbar")) / F.col("cxx")
        ).alias("h"),
        "s2",
    )
    cooks = F.round(
        F.col("e")
        * F.col("e")
        * F.col("h")
        / (2 * F.col("s2") * (1 - F.col("h")) * (1 - F.col("h"))),
        6,
    )
    return (
        inf.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            cooks.alias("cooks_d"),
            F.round("h", 6).alias("leverage"),
            F.round(F.col("e") / 100, 2).alias("residual_revenue"),
        )
        .orderBy(F.desc("cooks_d"), F.asc("day"))
        .limit(5)
    )


@query(
    "mad_anomaly_days",
    oracle="""
WITH d AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
md AS (SELECT quantile_cont(cents::DOUBLE, 0.5) AS med FROM d),
dv AS (
  SELECT day, cents, abs(cents::DOUBLE - md.med) AS adev, md.med AS med
  FROM d, md
),
mad AS (SELECT quantile_cont(adev, 0.5) AS mad FROM dv)
SELECT strftime(day, '%Y-%m-%d') AS day,
       round(cents::DOUBLE / 100, 2) AS revenue,
       round(0.6745 * (cents::DOUBLE - dv.med) / mad.mad, 6) AS robust_z
FROM dv, mad
ORDER BY round(abs(0.6745 * (cents::DOUBLE - dv.med) / mad.mad), 6) DESC, day
LIMIT 5
""",
)
def mad_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 anomalous revenue days by the median/MAD robust z-score
    0.6745(x - med)/MAD — the outlier detector that, unlike
    ``grubbs_outlier_test``'s mean/sd form, is immune to the outliers
    it hunts (50% breakdown point). The workhorse anomaly gate for
    monitoring pipelines where one bad day must not move the baseline.

    Exactness: both medians are Spark's exact ``percentile`` aggregate,
    which equals DuckDB's quantile_cont type-7 exactly; ranking on the
    rounded |z| with a day tiebreak.

    Scale: one grouped integer aggregate to day grain; the medians run
    on the DAY-GRAIN frame, whose cardinality is bounded by the
    calendar (|days| never grows with corpus size), so the single-
    buffer percentile aggregate is O(bounded) state at any SF — the
    buffer-free distributed path stays reserved for unbounded columns
    (see ``fd_histogram_order_values``). Top-k is a TakeOrdered."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    med = d.agg(
        F.expr("percentile(CAST(cents AS DOUBLE), 0.5)").alias("med")
    )
    dv = d.crossJoin(F.broadcast(med)).select(
        "day",
        "cents",
        "med",
        F.abs(F.col("cents").cast("double") - F.col("med")).alias("adev"),
    )
    mad = dv.agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    z = 0.6745 * (F.col("cents").cast("double") - F.col("med")) / F.col("mad")
    return (
        dv.crossJoin(F.broadcast(mad))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round(F.col("cents").cast("double") / 100, 2).alias("revenue"),
            F.round(z, 6).alias("robust_z"),
            F.round(F.abs(z), 6).alias("_az"),
        )
        .orderBy(F.desc("_az"), F.asc("day"))
        .limit(5)
        .drop("_az")
    )


_HUBER_ITERS = 6


def _huber_oracle() -> str:
    head = """
WITH d AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
mn AS (SELECT min(day) AS mnd FROM d),
xy AS (
  SELECT CAST(datediff('day', mn.mnd, d.day) AS DOUBLE) AS x,
         cents::DOUBLE / 100 AS y
  FROM d, mn
),
s0 AS (
  SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM xy
),
b0 AS (
  SELECT (sxy - sx * sy / n) / (sxx - sx * sx / n) AS slope,
         sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * (sx / n)
           AS icept
  FROM s0
),
sg AS (
  SELECT quantile_cont(abs(xy.y - (b0.icept + b0.slope * xy.x)), 0.5)
           / 0.6745 * 1.345 AS c
  FROM xy, b0
),"""
    parts = [head]
    for k in range(1, _HUBER_ITERS + 1):
        r = f"abs(xy.y - (b{k-1}.icept + b{k-1}.slope * xy.x))"
        parts.append(
            f"""
w{k} AS (
  SELECT xy.x, xy.y,
         CASE WHEN {r} <= sg.c THEN 1.0 ELSE sg.c / {r} END AS w
  FROM xy, b{k-1}, sg
),
s{k} AS (
  SELECT sum(w) AS sw, sum(w * x) AS swx, sum(w * y) AS swy,
         sum(w * x * x) AS swxx, sum(w * x * y) AS swxy
  FROM w{k}
),
b{k} AS (
  SELECT (swxy - swx * swy / sw) / (swxx - swx * swx / sw) AS slope,
         swy / sw - (swxy - swx * swy / sw) / (swxx - swx * swx / sw)
           * (swx / sw) AS icept
  FROM s{k}
),"""
        )
    kf = _HUBER_ITERS
    parts.append(
        f"""
dn AS (
  SELECT sum(CASE WHEN abs(xy.y - (b{kf}.icept + b{kf}.slope * xy.x)) > sg.c
                  THEN 1 ELSE 0 END)::BIGINT AS n_downweighted,
         count(*)::BIGINT AS n_days
  FROM xy, b{kf}, sg
)
SELECT dn.n_days, dn.n_downweighted,
       round(sg.c, 4) AS huber_c,
       round(b{kf}.slope, 4) AS huber_slope,
       round(b{kf}.icept, 4) AS huber_icept,
       round(b0.slope, 4) AS ols_slope
FROM dn, sg, b{kf}, b0"""
    )
    return "".join(parts)


@query("huber_regression_daily_revenue", oracle=_huber_oracle())
def huber_regression_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber M-estimator for the daily-revenue trend, iteration-exact:
    OLS start, robust scale c = 1.345 * MAD/0.6745 of the OLS residuals
    (95% Gaussian efficiency tuning), then 6 unrolled IRLS steps with
    the Huber weight w = min(1, c/|r|) — each step ONE 5-sum weighted
    aggregate and a closed-form weighted-least-squares update replayed
    term-for-term by the generated DuckDB CTE chain. Sits between the
    OLS (efficient, fragile) and Theil-Sen (robust, quadratic pairs)
    trend fits: full robustness against vertical outliers at one
    aggregate per iteration. Reports the OLS slope next to the Huber
    slope so the outlier pull is visible.

    Exactness: the scale is Spark's exact percentile over the
    calendar-bounded day-grain residuals (== quantile_cont); every iteration's weight expression and
    normal-equation solve use one shared association order; the Huber
    psi is CONTINUOUS at |r|=c, so ulp-level sum differences cannot
    flip a weight discontinuously and IRLS contraction absorbs them.

    Scale: day-grain; each iteration is one aggregate, state is two
    doubles — the same loop shape runs on any corpus at any SF."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    mn = d.agg(F.min("day").alias("mnd"))
    xy = (
        d.crossJoin(F.broadcast(mn))
        .select(
            F.datediff("day", "mnd").cast("double").alias("x"),
            (F.col("cents").cast("double") / 100).alias("y"),
        )
        .localCheckpoint()
    )
    s0 = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    ).collect()[0]
    slope = (s0.sxy - s0.sx * s0.sy / s0.n) / (s0.sxx - s0.sx * s0.sx / s0.n)
    icept = s0.sy / s0.n - slope * (s0.sx / s0.n)
    ols_slope = slope
    r0 = xy.select(
        F.abs(F.col("y") - (F.lit(icept) + F.lit(slope) * F.col("x"))).alias("r")
    )
    # day-grain residual frame: calendar-bounded, so the single-buffer
    # exact percentile (== quantile_cont) is O(bounded) at any SF
    mad = r0.agg(F.expr("percentile(r, 0.5)").alias("v")).collect()[0]["v"]
    c = mad / 0.6745 * 1.345
    for _ in range(_HUBER_ITERS):
        r = F.abs(F.col("y") - (F.lit(icept) + F.lit(slope) * F.col("x")))
        w = F.when(r <= F.lit(c), 1.0).otherwise(F.lit(c) / r)
        sk = xy.select("x", "y", w.alias("w")).agg(
            F.sum("w").alias("sw"),
            F.sum(F.col("w") * F.col("x")).alias("swx"),
            F.sum(F.col("w") * F.col("y")).alias("swy"),
            F.sum(F.col("w") * F.col("x") * F.col("x")).alias("swxx"),
            F.sum(F.col("w") * F.col("x") * F.col("y")).alias("swxy"),
        ).collect()[0]
        slope = (sk.swxy - sk.swx * sk.swy / sk.sw) / (
            sk.swxx - sk.swx * sk.swx / sk.sw
        )
        icept = sk.swy / sk.sw - slope * (sk.swx / sk.sw)
    rf = F.abs(F.col("y") - (F.lit(icept) + F.lit(slope) * F.col("x")))
    dn = xy.agg(
        F.sum(F.when(rf > F.lit(c), 1).otherwise(0)).alias("n_downweighted"),
        F.count(F.lit(1)).alias("n_days"),
    )
    return dn.select(
        F.col("n_days").cast("long").alias("n_days"),
        F.col("n_downweighted").cast("long").alias("n_downweighted"),
        F.round(F.lit(c), 4).alias("huber_c"),
        F.round(F.lit(slope), 4).alias("huber_slope"),
        F.round(F.lit(icept), 4).alias("huber_icept"),
        F.round(F.lit(ols_slope), 4).alias("ols_slope"),
    )


@query(
    "newey_west_trend_se",
    oracle="""
WITH d AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
mn AS (SELECT min(day) AS mnd FROM d),
xy AS (
  SELECT day, CAST(datediff('day', mn.mnd, d.day) AS DOUBLE) AS x,
         cents::DOUBLE / 100 AS y
  FROM d, mn
),
s AS (
  SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM xy
),
b AS (
  SELECT n, sx / n AS xbar, sxx - sx * sx / n AS cxx,
         (sxy - sx * sy / n) / (sxx - sx * sx / n) AS slope,
         sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * (sx / n)
           AS icept,
         ((syy - sy * sy / n)
          - (sxy - sx * sy / n) * (sxy - sx * sy / n) / (sxx - sx * sx / n))
           / (n - 2) AS s2
  FROM s
),
u AS (
  SELECT xy.day,
         (xy.x - b.xbar) * (xy.y - (b.icept + b.slope * xy.x)) AS u
  FROM xy, b
),
g0 AS (SELECT sum(u * u) AS g FROM u),
gl AS (
  SELECT r.lag AS lag, sum(a.u * p.u) AS g
  FROM u a, range(1, 8) r(lag)
  JOIN u p ON a.day = p.day + r.lag::INTEGER
  GROUP BY 1
),
hac AS (
  SELECT g0.g
         + sum(2 * (1 - gl.lag / 8.0) * gl.g) AS s_hac
  FROM g0, gl GROUP BY g0.g
)
SELECT b.n::BIGINT AS n_days,
       round(b.slope, 6) AS slope,
       round(sqrt(b.s2 / b.cxx), 6) AS ols_se,
       round(sqrt(hac.s_hac) / b.cxx, 6) AS hac_se,
       round(sqrt(hac.s_hac) / b.cxx / sqrt(b.s2 / b.cxx), 6) AS se_ratio
FROM b, hac
""",
)
def newey_west_trend_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newey-West (HAC, Bartlett kernel, L=7) standard error for the
    daily-revenue trend slope: Gamma_0 + sum_l 2(1 - l/(L+1)) Gamma_l
    over the score series u_t = (x_t - xbar) e_t, sandwiched by Sxx —
    the autocorrelation-robust SE that stays honest when Durbin-Watson
    (whose statistic lives two queries up) says the residuals are
    serially correlated; se_ratio > 1 quantifies how much the naive
    OLS SE understates uncertainty. Lag adjacency is calendar (t-l
    days), so calendar gaps drop terms rather than misalign the series,
    consistent with the Ljung-Box convention.

    Scale: one 6-sum fold, a broadcast residual projection, and a
    day-grain x7 lag equi-join — all bounded by |days|."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    mn = d.agg(F.min("day").alias("mnd"))
    xy = d.crossJoin(F.broadcast(mn)).select(
        "day",
        F.datediff("day", "mnd").cast("double").alias("x"),
        (F.col("cents").cast("double") / 100).alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    sxy_c = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    sxx_c = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    syy_c = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    b = s.select(
        "n",
        (F.col("sx") / F.col("n")).alias("xbar"),
        sxx_c.alias("cxx"),
        (sxy_c / sxx_c).alias("slope"),
        (F.col("sy") / F.col("n") - (sxy_c / sxx_c) * (F.col("sx") / F.col("n"))).alias(
            "icept"
        ),
        ((syy_c - sxy_c * sxy_c / sxx_c) / (F.col("n") - 2)).alias("s2"),
    )
    u = xy.crossJoin(F.broadcast(b)).select(
        "day",
        (
            (F.col("x") - F.col("xbar"))
            * (F.col("y") - (F.col("icept") + F.col("slope") * F.col("x")))
        ).alias("u"),
    )
    g0 = u.agg(F.sum(F.col("u") * F.col("u")).alias("g"))
    lags = F.explode(F.array(*[F.lit(i) for i in range(1, 8)])).alias("lag")
    probe = u.select(F.col("day"), F.col("u").alias("au"), lags).withColumn(
        "match_day", F.expr("date_sub(day, lag)")
    )
    gl = (
        probe.join(
            u.select(F.col("day").alias("match_day"), F.col("u").alias("pu")),
            "match_day",
        )
        .groupBy("lag")
        .agg(F.sum(F.col("au") * F.col("pu")).alias("g"))
    )
    hac = gl.crossJoin(F.broadcast(g0.withColumnRenamed("g", "g0"))).agg(
        F.max("g0").alias("g0v"),
        F.sum(2 * (1 - F.col("lag") / 8.0) * F.col("g")).alias("gsum"),
    ).select((F.col("g0v") + F.col("gsum")).alias("s_hac"))
    ols_se = F.sqrt(F.col("s2") / F.col("cxx"))
    hac_se = F.sqrt(F.col("s_hac")) / F.col("cxx")
    return b.crossJoin(F.broadcast(hac)).select(
        F.col("n").cast("long").alias("n_days"),
        F.round("slope", 6).alias("slope"),
        F.round(ols_se, 6).alias("ols_se"),
        F.round(hac_se, 6).alias("hac_se"),
        F.round(hac_se / ols_se, 6).alias("se_ratio"),
    )


@query(
    "kfold_slope_stability",
    oracle="""
WITH o AS (
  SELECT o_orderdate, o_totalprice,
         CASE WHEN substr(md5('fold:' || o_orderkey), 1, 1) < '4' THEN 0
              WHEN substr(md5('fold:' || o_orderkey), 1, 1) < '8' THEN 1
              WHEN substr(md5('fold:' || o_orderkey), 1, 1) < 'c' THEN 2
              ELSE 3 END AS fold
  FROM orders
),
d AS (
  SELECT fold, CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM o GROUP BY 1, 2
),
mn AS (SELECT min(day) AS mnd FROM d),
xy AS (
  SELECT fold, CAST(datediff('day', mn.mnd, d.day) AS DOUBLE) AS x,
         cents::DOUBLE / 100 AS y
  FROM d, mn
),
s AS (
  SELECT fold, count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM xy GROUP BY fold
)
SELECT fold::BIGINT AS fold, n::BIGINT AS n_days,
       round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS slope
FROM s ORDER BY fold
""",
)
def kfold_slope_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coefficient stability across k=4 deterministic hash folds: each
    order lands in a fold by its md5 hex leading char (engine-identical
    quartering), the daily-revenue-vs-time slope is fit per fold from
    sufficient statistics, and the spread across folds is the
    sampling-variability readout — the cross-validation half of model
    assessment (the Newey-West query is the analytic half; this one is
    assumption-free). Per-fold day grain means each fold sees its OWN
    daily aggregate of a quarter of the orders.

    Scale: the fold column is a projection; everything after is the
    usual grouped integer aggregate + per-fold 5-sum fold."""
    orders = load_table(spark, sf_dir, "orders")
    h = F.substring(
        F.md5(
            F.encode(
                F.concat(F.lit("fold:"), F.col("o_orderkey").cast("string")),
                "UTF-8",
            )
        ),
        1,
        1,
    )
    o = orders.select(
        "o_orderdate",
        "o_totalprice",
        F.when(h < "4", 0).when(h < "8", 1).when(h < "c", 2).otherwise(3).alias(
            "fold"
        ),
    )
    d = o.groupBy("fold", F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    mn = d.agg(F.min("day").alias("mnd"))
    xy = d.crossJoin(F.broadcast(mn)).select(
        "fold",
        F.datediff("day", "mnd").cast("double").alias("x"),
        (F.col("cents").cast("double") / 100).alias("y"),
    )
    s = xy.groupBy("fold").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return s.select(
        F.col("fold").cast("long").alias("fold"),
        F.col("n").cast("long").alias("n_days"),
        F.round(
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")),
            6,
        ).alias("slope"),
    ).orderBy("fold")


@query(
    "hill_tail_index_order_values",
    oracle="""
WITH top AS (
  SELECT o_totalprice::DOUBLE AS x
  FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 101
),
thr AS (SELECT min(x) AS t FROM top)
SELECT 100::BIGINT AS k,
       round(thr.t, 2) AS threshold,
       round(sum(ln(top.x / thr.t)) / 100, 6) AS hill_inv_alpha,
       round(100 / sum(ln(top.x / thr.t)), 4) AS hill_alpha
FROM top, thr GROUP BY thr.t
""",
)
def hill_tail_index_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the order-value tail index over the top k=100
    order statistics: 1/alpha = mean of ln(x_(i)/x_(k+1)) — the
    heavy-tail exponent that says whether extreme orders have finite
    variance (alpha > 2) and how hard whale-driven skew will bite
    aggregates. Complements ``copurchase_degree_powerlaw`` (discrete
    log-log fit) with the order-statistics estimator.

    The k+1 frame is a TakeOrdered top-101 (per-partition heaps, no
    global sort); the threshold row contributes ln(1)=0, so the k-term
    mean is one aggregate over the whole frame — no rank column needed.

    Exactness: the cut is on (value desc, key asc); ln and the fold are
    engine-shared; one division each for the two outputs."""
    orders = load_table(spark, sf_dir, "orders")
    top = (
        orders.select(
            F.col("o_totalprice").cast("double").alias("x"), "o_orderkey"
        )
        .orderBy(F.desc("x"), F.asc("o_orderkey"))
        .limit(101)
        .drop("o_orderkey")
        # 101 rows, consumed by both the threshold and the log-sum —
        # unmaterialized, each branch re-ran the TakeOrdered fact scan
        # (r11, guide §1.2); checkpointing 101 rows is free.
        .localCheckpoint()
    )
    thr = top.agg(F.min("x").alias("t"))
    return (
        top.crossJoin(F.broadcast(thr))
        .groupBy("t")
        .agg(F.sum(F.log(F.col("x") / F.col("t"))).alias("sumln"))
        .select(
            F.lit(100).cast("long").alias("k"),
            F.round(F.col("t"), 2).alias("threshold"),
            F.round(F.col("sumln") / 100, 6).alias("hill_inv_alpha"),
            F.round(100 / F.col("sumln"), 4).alias("hill_alpha"),
        )
    )


@query(
    "copurchase_component_sizes",
    oracle="""
WITH RECURSIVE li AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
  FROM lineitem WHERE l_quantity >= 49
),
pairs AS (
  SELECT a.p AS a, b.p AS b
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
),
pe AS (SELECT DISTINCT a, b FROM pairs),
e2 AS (SELECT a, b FROM pe UNION SELECT b AS a, a AS b FROM pe),
nodes AS (SELECT DISTINCT a AS node FROM e2),
conn(x, y) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT c.x, e.b FROM conn c JOIN e2 e ON c.y = e.a
),
comp AS (SELECT x AS node, min(y) AS component FROM conn GROUP BY x),
sz AS (SELECT component, count(*)::BIGINT AS size FROM comp GROUP BY component)
SELECT size AS component_size,
       count(*)::BIGINT AS n_components,
       (size * count(*))::BIGINT AS n_parts
FROM sz GROUP BY size ORDER BY size
""",
)
def copurchase_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component size histogram of the high-quantity
    co-purchase graph (parts sharing an order at quantity >= 49):
    "does bulk co-buying form isolated pairs or merchandise families?"
    — the component structure that drives assortment bundling and is
    the graph-shape sibling of ``copurchase_degree_powerlaw`` (degree
    tells you hubs; components tell you reach).

    Components run through ``llm/dedup.connected_components`` — the
    SAME adaptive operator the near-dup canonicalizer uses (union-find
    under the driver-heap threshold, pointer-jumping min-label
    propagation above it), exercised here on a product graph instead
    of a duplicate graph. The oracle replays the full transitive
    closure with a recursive CTE; the quantity floor keeps the closure
    frontier bounded at every benched SF (edge count probes: 189 at
    sf0.01, ~2k at sf0.1 — degree ~0.2, far below percolation).

    Scale: the edge build is two shuffles on order/part keys; the
    histogram is component-grain."""
    from ..llm.dedup import connected_components

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 49)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    b = li.select(F.col("o"), F.col("p").alias("pb"))
    edges = (
        li.join(b, "o")
        .filter(F.col("p") < F.col("pb"))
        .select(F.col("p").alias("a"), F.col("pb").alias("b"))
        .distinct()
    )
    comp = connected_components(edges)
    sz = comp.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    return (
        sz.groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_components"))
        .select(
            F.col("size").cast("long").alias("component_size"),
            F.col("n_components").cast("long").alias("n_components"),
            (F.col("size") * F.col("n_components")).cast("long").alias("n_parts"),
        )
        .orderBy("component_size")
    )


@query(
    "winsorized_correlation_qty_price",
    oracle="""
WITH v AS (
  SELECT l_quantity::DOUBLE AS q, l_extendedprice::DOUBLE AS p FROM lineitem
),
b AS (
  SELECT quantile_cont(q, 0.05) AS ql, quantile_cont(q, 0.95) AS qh,
         quantile_cont(p, 0.05) AS pl, quantile_cont(p, 0.95) AS ph
  FROM v
),
w AS (
  SELECT least(greatest(v.q, b.ql), b.qh) AS q,
         least(greatest(v.p, b.pl), b.ph) AS p
  FROM v, b
),
cr AS (
  SELECT corr(v.q, v.p) AS raw FROM v
),
cw AS (
  SELECT corr(q, p) AS wins, count(*)::BIGINT AS n FROM w
)
SELECT cw.n AS n_rows,
       round(cr.raw, 6) AS pearson_raw,
       round(cw.wins, 6) AS pearson_winsorized,
       round(cw.wins - cr.raw, 6) AS winsorization_effect
FROM cr, cw
""",
)
def winsorized_correlation_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (5/95) Pearson correlation of quantity vs extended
    price next to the raw correlation — the tail-robust association
    readout: when the two disagree, the raw correlation is being
    steered by the extremes, not the bulk. Clamping bounds come from
    the buffer-free distributed percentile path; both correlations are
    single corr() folds.

    Scale: two passes (quantile pass, corr pass) with a 1-row
    broadcast of the four clamp bounds between them."""
    from ..operators.aggregates import exact_percentiles_distributed_grouped

    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_quantity").cast("double").alias("q"),
        F.col("l_extendedprice").cast("double").alias("p"),
    )
    # BOTH variables' clamp bounds from ONE melted grouped-percentile
    # pass (r11b): the two single-column calls each built their own
    # value-compression aggregate + range-partitioned cumulative +
    # order-statistic probe (the event log showed the pair of pipelines
    # at ~49 driver jobs per run); melting (var, value) and running the
    # grouped operator computes the identical type-7 order statistics —
    # same counts, same cumulative, same interpolation arithmetic — in
    # one pipeline (guide §1.2/§2.4). The 2-row group-offset frame
    # broadcasts, so the intra-group cumulative adds no extra shuffle.
    melted = v.select(
        F.explode(
            F.array(
                F.struct(F.lit("q").alias("g"), F.col("q").alias("v")),
                F.struct(F.lit("p").alias("g"), F.col("p").alias("v")),
            )
        ).alias("s")
    ).select("s.g", "s.v")
    b = exact_percentiles_distributed_grouped(melted, "v", "g", [0.05, 0.95])
    pick = lambda g, pr: F.first(  # noqa: E731
        F.when((F.col("g") == g) & (F.col("p") == pr), F.col("value")),
        ignorenulls=True,
    )
    bounds = b.agg(
        pick("q", 0.05).alias("ql"),
        pick("q", 0.95).alias("qh"),
        pick("p", 0.05).alias("pl"),
        pick("p", 0.95).alias("ph"),
    )
    # ONE corr pass computes both correlations (r11): the raw and the
    # clamped series come off the same scan with identical partition
    # layout, so fusing the two aggregates halves the lineitem passes
    # (guide §2.3 — aggregate once, not per-metric) and the per-partition
    # merge order (hence every double) is unchanged.
    w = v.crossJoin(F.broadcast(bounds)).select(
        "q",
        "p",
        F.least(F.greatest(F.col("q"), F.col("ql")), F.col("qh")).alias("qw"),
        F.least(F.greatest(F.col("p"), F.col("pl")), F.col("ph")).alias("pw"),
    )
    cw = w.agg(
        F.corr("qw", "pw").alias("wins"),
        F.corr("q", "p").alias("raw"),
        F.count(F.lit(1)).alias("n"),
    )
    return cw.select(
        F.col("n").cast("long").alias("n_rows"),
        F.round("raw", 6).alias("pearson_raw"),
        F.round("wins", 6).alias("pearson_winsorized"),
        F.round(F.col("wins") - F.col("raw"), 6).alias("winsorization_effect"),
    )


@query(
    "mean_excess_over_thresholds",
    oracle="""
WITH v AS (SELECT o_totalprice::DOUBLE AS x FROM orders),
q AS (
  SELECT quantile_cont(x, 0.90) AS q90, quantile_cont(x, 0.95) AS q95,
         quantile_cont(x, 0.99) AS q99
  FROM v
),
u AS (
  SELECT 0.90 AS p, q90 AS thr FROM q
  UNION ALL SELECT 0.95, q95 FROM q
  UNION ALL SELECT 0.99, q99 FROM q
),
me AS (
  SELECT u.p, u.thr,
         count(*)::BIGINT AS n_exceed,
         avg(v.x - u.thr) AS mean_excess
  FROM v JOIN u ON v.x > u.thr
  GROUP BY u.p, u.thr
)
SELECT p AS prob,
       round(thr, 2) AS threshold,
       n_exceed,
       round(mean_excess, 4) AS mean_excess
FROM me ORDER BY p
""",
)
def mean_excess_over_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold mean-excess function at the p90/p95/p99
    thresholds: E[X - u | X > u] — the EVT diagnostic that pairs with
    ``hill_tail_index_order_values`` (a mean excess that GROWS with the
    threshold is the generalized-Pareto heavy-tail signature; flat ~
    exponential tail). The number that prices 'how bad is bad' for
    reserve sizing and anomaly budgets.

    Scale: thresholds via the buffer-free distributed percentile path;
    the excess pass is one broadcast theta-join of the 3-row threshold
    frame against the fact (a map-side filter per threshold)."""
    from ..operators.aggregates import exact_percentiles_distributed

    orders = load_table(spark, sf_dir, "orders")
    v = orders.select(F.col("o_totalprice").cast("double").alias("x"))
    u = exact_percentiles_distributed(v, "x", [0.90, 0.95, 0.99]).select(
        F.col("p"), F.col("value").alias("thr")
    )
    me = (
        v.join(F.broadcast(u), v.x > F.col("thr"))
        .groupBy("p", "thr")
        .agg(
            F.count(F.lit(1)).alias("n_exceed"),
            F.avg(F.col("x") - F.col("thr")).alias("mean_excess"),
        )
    )
    return me.select(
        F.col("p").alias("prob"),
        F.round("thr", 2).alias("threshold"),
        F.col("n_exceed").cast("long").alias("n_exceed"),
        F.round("mean_excess", 4).alias("mean_excess"),
    ).orderBy("prob")


@query(
    "seasonal_naive_backtest",
    oracle="""
WITH d AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
mx AS (SELECT max(day) AS mxd FROM d),
bt AS (
  SELECT a.day, a.cents::DOUBLE / 100 AS actual,
         p.cents::DOUBLE / 100 AS forecast
  FROM d a
  JOIN d p ON p.day = a.day - 7, mx
  WHERE a.day > mx.mxd - 28
),
e AS (
  SELECT count(*)::BIGINT AS n_days,
         avg(abs(actual - forecast) / actual) AS mape,
         sqrt(avg((actual - forecast) * (actual - forecast))) AS rmse,
         avg(abs(actual - forecast)) AS mae
  FROM bt
),
nv AS (
  SELECT sqrt(avg((a.cents::DOUBLE / 100 - p.cents::DOUBLE / 100)
              * (a.cents::DOUBLE / 100 - p.cents::DOUBLE / 100))) AS rmse1
  FROM d a JOIN d p ON p.day = a.day - 1, mx
  WHERE a.day > mx.mxd - 28
)
SELECT e.n_days,
       round(e.mape, 6) AS mape,
       round(e.rmse, 4) AS rmse,
       round(e.mae, 4) AS mae,
       round(e.rmse / nv.rmse1, 6) AS rmse_vs_naive1
FROM e, nv
""",
)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest over the last 28 days: forecast
    revenue(t) = revenue(t-7), scored with MAPE/RMSE/MAE, plus the RMSE
    ratio against the lag-1 naive — the baseline gauntlet every real
    forecasting model (Holt two queries up) must beat before it ships;
    a ratio < 1 confirms the weekly cycle carries signal beyond
    persistence.

    Scale: day-grain; the forecast is a calendar equi-join (t-7 / t-1),
    never a window; the backtest horizon is a constant slice."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    mx = d.agg(F.max("day").alias("mxd"))

    def joined(lag):
        p = d.select(
            F.expr(f"date_add(day, {lag})").alias("day"),
            (F.col("cents").cast("double") / 100).alias("forecast"),
        )
        return (
            d.select("day", (F.col("cents").cast("double") / 100).alias("actual"))
            .join(p, "day")
            .crossJoin(F.broadcast(mx))
            .filter(F.col("day") > F.date_sub("mxd", 28))
        )
    bt = joined(7)
    e = bt.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.avg(F.abs(F.col("actual") - F.col("forecast")) / F.col("actual")).alias(
            "mape"
        ),
        F.sqrt(
            F.avg(
                (F.col("actual") - F.col("forecast"))
                * (F.col("actual") - F.col("forecast"))
            )
        ).alias("rmse"),
        F.avg(F.abs(F.col("actual") - F.col("forecast"))).alias("mae"),
    )
    nv = joined(1).agg(
        F.sqrt(
            F.avg(
                (F.col("actual") - F.col("forecast"))
                * (F.col("actual") - F.col("forecast"))
            )
        ).alias("rmse1")
    )
    return e.crossJoin(F.broadcast(nv)).select(
        F.col("n_days").cast("long").alias("n_days"),
        F.round("mape", 6).alias("mape"),
        F.round("rmse", 4).alias("rmse"),
        F.round("mae", 4).alias("mae"),
        F.round(F.col("rmse") / F.col("rmse1"), 6).alias("rmse_vs_naive1"),
    )


_KCORE_K = 3
_KCORE_ROUNDS = 6

# Per-round CTEs are MATERIALIZED: each a{r} is referenced twice by
# round r+1, so DuckDB's default CTE inlining re-expands the whole
# chain ~2^rounds times (measured 96s at sf0.01; materialized: <1s).
_KCORE_ORACLE = (
    """
WITH li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
  FROM lineitem WHERE l_quantity >= 30
),
e AS MATERIALIZED (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
),
sym AS MATERIALIZED (SELECT u AS node, v AS other FROM e UNION ALL SELECT v AS node, u AS other FROM e),
a0 AS (SELECT DISTINCT node FROM sym)"""
    + "".join(
        f""",
d{r} AS (
  SELECT s.node, count(*) AS deg
  FROM sym s JOIN a{r - 1} x ON s.node = x.node
             JOIN a{r - 1} y ON s.other = y.node
  GROUP BY s.node
),
a{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE deg >= {_KCORE_K}),
er{r} AS (
  SELECT count(*)::BIGINT AS c
  FROM e JOIN a{r} x ON e.u = x.node JOIN a{r} y ON e.v = y.node
)"""
        for r in range(1, _KCORE_ROUNDS + 1)
    )
    + """
SELECT 0::BIGINT AS round,
       (SELECT count(*) FROM a0)::BIGINT AS n_nodes,
       (SELECT count(*) FROM e)::BIGINT AS n_edges
"""
    + "".join(
        f"""UNION ALL
SELECT {r}::BIGINT, (SELECT count(*) FROM a{r})::BIGINT, (SELECT c FROM er{r})
"""
        for r in range(1, _KCORE_ROUNDS + 1)
    )
    + "ORDER BY round"
)


@query("copurchase_kcore_peel_trace", oracle=_KCORE_ORACLE)
def copurchase_kcore_peel_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3) of the part co-purchase graph by
    synchronous peeling, ORACLE-REPLAYED per round: each of the 6
    rounds' (alive nodes, alive edges) counts are hash-checked against
    the same peel unrolled as DuckDB CTEs — the iterative computation
    itself is the check, like ``copurchase_pagerank_top20``. The k-core
    is the standard dense-subgraph/community-seed primitive next to
    triangles and components in the graph family.

    Scale: one degree aggregate (two leftsemi joins) per round, all
    hash-partitioned on the node key; alive/degree frames are
    localCheckpoint-truncated per round (O(nodes)); exact integers end
    to end."""
    e = _copurchase_edges(spark, sf_dir)
    from ..operators.graphs import kcore_peel_trace

    trace = kcore_peel_trace(
        e, k=_KCORE_K, rounds=_KCORE_ROUNDS, key=("copurchase_edges", sf_dir)
    )
    return spark.createDataFrame(
        trace, "round long, n_nodes long, n_edges long"
    ).orderBy("round")


_BFS_HOPS = 4
_BFS_SEED_MOD = 101

_BFS_ORACLE = (
    f"""
WITH li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
  FROM lineitem WHERE l_quantity >= 30
),
e AS MATERIALIZED (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
),
sym AS MATERIALIZED (SELECT u AS node, v AS other FROM e UNION ALL SELECT v AS node, u AS other FROM e),
f0 AS MATERIALIZED (SELECT DISTINCT node FROM sym WHERE node % {_BFS_SEED_MOD} = 0),
r0 AS MATERIALIZED (SELECT node FROM f0)"""
    + "".join(
        f""",
f{h} AS MATERIALIZED (
  SELECT s.other AS node FROM sym s JOIN f{h - 1} p ON s.node = p.node
  EXCEPT SELECT node FROM r{h - 1}
),
r{h} AS MATERIALIZED (SELECT node FROM r{h - 1} UNION SELECT node FROM f{h})"""
        for h in range(1, _BFS_HOPS + 1)
    )
    + """
SELECT 0::BIGINT AS hop, (SELECT count(*) FROM f0)::BIGINT AS n_new
"""
    + "".join(
        f"""UNION ALL
SELECT {h}::BIGINT, (SELECT count(*) FROM f{h})::BIGINT
"""
        for h in range(1, _BFS_HOPS + 1)
    )
    + "ORDER BY hop"
)


@query("copurchase_bfs_hop_histogram", oracle=_BFS_ORACLE)
def copurchase_bfs_hop_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS reachability histogram over the part co-purchase
    graph: seeds are the graph nodes with partkey % 101 == 0, and each of
    the 4 hops' newly-reached node count is hash-checked against the same
    expansion unrolled as MATERIALIZED DuckDB CTEs (frontier = neighbors
    EXCEPT visited). The traversal primitive next to pagerank / triangles
    / components / k-core in the graph family — hop histograms are the
    standard "how far is the catalog from the promoted SKUs" probe.

    Scale: per hop one leftsemi frontier expansion + one left_anti
    against visited, hash-partitioned on the node key; frontier/visited
    are localCheckpoint-truncated single-column frames
    (operators/graphs.py::bfs_hop_counts). Exact integers end to end."""
    e = _copurchase_edges(spark, sf_dir)
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .distinct()
    )
    seeds = nodes.filter(F.col("node") % _BFS_SEED_MOD == 0)
    from ..operators.graphs import bfs_hop_counts

    trace = bfs_hop_counts(
        e, seeds, hops=_BFS_HOPS, key=("copurchase_edges", sf_dir)
    )
    return spark.createDataFrame(trace, "hop long, n_new long").orderBy("hop")


@query(
    "copurchase_clustering_coeff_hist",
    oracle="""
WITH li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
  FROM lineitem WHERE l_quantity >= 30
),
e AS MATERIALIZED (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
),
sym AS MATERIALIZED (
  SELECT u AS node, v AS other FROM e
  UNION ALL SELECT v AS node, u AS other FROM e
),
deg AS (SELECT node, count(*)::BIGINT AS deg FROM sym GROUP BY node),
tri AS (
  SELECT a.node, count(*)::BIGINT AS n_tri
  FROM sym a JOIN sym b ON a.node = b.node AND a.other < b.other
       JOIN e ON e.u = a.other AND e.v = b.other
  GROUP BY a.node
),
cc AS (
  SELECT d.node, d.deg,
         coalesce(t.n_tri, 0)::DOUBLE / (d.deg * (d.deg - 1) / 2.0) AS c
  FROM deg d LEFT JOIN tri t ON d.node = t.node
  WHERE d.deg >= 2
),
b AS (
  SELECT CASE WHEN c = 0 THEN '0'
              WHEN c < 0.25 THEN '(0,0.25)'
              WHEN c < 0.5  THEN '[0.25,0.5)'
              WHEN c < 0.75 THEN '[0.5,0.75)'
              WHEN c < 1.0  THEN '[0.75,1)'
              ELSE '1' END AS bin,
         c
  FROM cc
)
SELECT bin,
       count(*) AS n_nodes,
       round(avg(c), 6) AS avg_coeff
FROM b GROUP BY bin ORDER BY bin
""",
)
def copurchase_clustering_coeff_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL CLUSTERING COEFFICIENT distribution of the part co-purchase
    graph: per node with degree >= 2, c = closed wedges / possible
    wedges, bucketed into six fixed bins — the per-node companion of the
    global triangle count (how clique-ish is each neighborhood, the
    community-structure readout). Wedge enumeration is the standard
    sym-join-sym with the (other < other') half-filter, closed by an
    equi-join against the canonical edge list — cost O(sum deg^2), the
    same budget as copurchase_triangle_count; at 100 TB degree-cap or
    sample wedges per node.

    Exactness: wedge/triangle/degree counts are exact integers; c is a
    single integer-ratio double, bin edges are exact binary fractions
    (0.25/0.5/0.75), one rounded average per bin."""
    e = _copurchase_edges(spark, sf_dir)
    sym = e.select(F.col("u").alias("node"), F.col("v").alias("other")).unionAll(
        e.select(F.col("v").alias("node"), F.col("u").alias("other"))
    )
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    wa, wb = sym.alias("wa"), sym.alias("wb")
    tri = (
        wa.join(
            wb,
            (F.col("wa.node") == F.col("wb.node"))
            & (F.col("wa.other") < F.col("wb.other")),
        )
        .join(
            e,
            (F.col("u") == F.col("wa.other")) & (F.col("v") == F.col("wb.other")),
        )
        .groupBy(F.col("wa.node").alias("node"))
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    cc = (
        deg.filter(F.col("deg") >= 2)
        .join(tri, "node", "left")
        .select(
            "node",
            (
                F.coalesce("n_tri", F.lit(0)).cast("double")
                / (F.col("deg") * (F.col("deg") - 1) / 2.0)
            ).alias("c"),
        )
    )
    bin_ = (
        F.when(F.col("c") == 0, "0")
        .when(F.col("c") < 0.25, "(0,0.25)")
        .when(F.col("c") < 0.5, "[0.25,0.5)")
        .when(F.col("c") < 0.75, "[0.5,0.75)")
        .when(F.col("c") < 1.0, "[0.75,1)")
        .otherwise("1")
    )
    return (
        cc.groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.round(F.avg("c"), 6).alias("avg_coeff"),
        )
        .orderBy("bin")
    )


@query(
    "holt_winters_weekly_daily_revenue",
    oracle="""
WITH RECURSIVE d AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
idx AS (
  SELECT row_number() OVER (ORDER BY day) AS t, cents::DOUBLE AS x FROM d
),
nn AS (SELECT max(t) AS n FROM idx),
xl AS (SELECT list(x ORDER BY t) AS xs FROM idx),
r AS (
  SELECT 7 AS t,
         list_sum(xs[1:7]) / 7 AS l,
         (list_sum(xs[8:14]) / 7 - list_sum(xs[1:7]) / 7) / 7 AS b,
         list_transform(xs[1:7], v -> v - list_sum(xs[1:7]) / 7) AS seas,
         CAST(0.0 AS DOUBLE) AS sse
  FROM xl
  UNION ALL
  SELECT r.t + 1,
         0.3 * (i.x - r.seas[1]) + 0.7 * (r.l + r.b),
         0.1 * ((0.3 * (i.x - r.seas[1]) + 0.7 * (r.l + r.b)) - r.l)
           + 0.9 * r.b,
         list_append(r.seas[2:7],
             0.2 * (i.x - (0.3 * (i.x - r.seas[1]) + 0.7 * (r.l + r.b)))
               + 0.8 * r.seas[1]),
         r.sse + (i.x - (r.l + r.b + r.seas[1]))
               * (i.x - (r.l + r.b + r.seas[1]))
  FROM r JOIN idx i ON i.t = r.t + 1
)
SELECT nn.n::BIGINT AS n_days,
       round(r.l / 100, 4) AS level,
       round(r.b / 100, 4) AS trend,
       round(r.seas[1] / 100, 4) AS next_seasonal,
       round((r.l + r.b + r.seas[1]) / 100, 4) AS forecast_next,
       round(sqrt(r.sse / (nn.n - 7)) / 100, 4) AS rmse_1step
FROM r, nn WHERE r.t = nn.n
""",
)
def holt_winters_weekly_daily_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ADDITIVE HOLT-WINTERS (alpha=0.3, beta=0.1, gamma=0.2, m=7) over
    the daily revenue series — the seasonal member completing the
    exponential-smoothing family next to Holt's linear trend. State is
    (level, trend, 7 seasonal offsets); init is the standard first-week
    mean level, week2-vs-week1 trend, first-week seasonal deviations;
    the one-step-ahead SSE accumulates alongside. ITERATION-EXACT like
    holt_linear_daily_revenue: Spark folds the day-sorted array with
    ``aggregate`` carrying the seasonal ARRAY in the state struct,
    DuckDB runs the identical arithmetic as a recursive CTE carrying a
    LIST column — every step's expressions are written in the same
    literal operand order, so the doubles agree bitwise before the 4dp
    round.

    Scale: the fact collapses to the bounded day-grain series first;
    only that ~|days| array is folded. For MANY series, the same fold
    runs per key via groupBy(series).agg(aggregate(...))."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    arr = d.agg(
        F.sort_array(F.collect_list(F.struct("day", "cents"))).alias("a")
    ).select(F.expr("transform(a, z -> cast(z.cents as double))").alias("xs"))
    sum7 = "aggregate(slice(xs, {o}, 7), cast(0.0 as double), (a, v) -> a + v)"
    l0 = sum7.format(o=1) + " / 7"
    b0 = f"({sum7.format(o=8)} / 7 - {sum7.format(o=1)} / 7) / 7"
    st = arr.select(
        F.size("xs").alias("n"),
        F.expr(
            f"""
aggregate(
  slice(xs, 8, size(xs) - 7),
  named_struct(
    'l', {l0},
    'b', {b0},
    'seas', transform(slice(xs, 1, 7), v -> v - {l0}),
    'sse', cast(0.0 as double)),
  (st, x) -> named_struct(
    'l', 0.3 * (x - st.seas[0]) + 0.7 * (st.l + st.b),
    'b', 0.1 * ((0.3 * (x - st.seas[0]) + 0.7 * (st.l + st.b)) - st.l)
           + 0.9 * st.b,
    'seas', concat(slice(st.seas, 2, 6),
        array(0.2 * (x - (0.3 * (x - st.seas[0]) + 0.7 * (st.l + st.b)))
                + 0.8 * st.seas[0])),
    'sse', st.sse + (x - (st.l + st.b + st.seas[0]))
                  * (x - (st.l + st.b + st.seas[0]))),
  st -> st)
"""
        ).alias("h"),
    )
    return st.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(F.col("h.l") / 100, 4).alias("level"),
        F.round(F.col("h.b") / 100, 4).alias("trend"),
        F.round(F.expr("h.seas[0]") / 100, 4).alias("next_seasonal"),
        F.round(
            (F.col("h.l") + F.col("h.b") + F.expr("h.seas[0]")) / 100, 4
        ).alias("forecast_next"),
        F.round(
            F.sqrt(F.col("h.sse") / (F.col("n") - 7)) / 100, 4
        ).alias("rmse_1step"),
    )
