"""Statistical-test queries (SURVEY.md §2.7).

Two tiers per test:
- ``*_components`` — the SQL-expressible part (group stats → statistic,
  df) computed fully inside Spark SQL expressions, with a DuckDB oracle.
- ``hypothesis_suite`` — the full operator outputs including p-values
  (driver-side special-function math; no SQL equivalent → rows-only
  check; unit tests pin the p-values against published table values).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import stats
from ..plans.materialize import local_frame
from ..registry import query
from ..sources.readers import load_table


@query(
    "welch_t_components",
    oracle="""
WITH g AS (
  SELECT o_orderpriority AS grp, avg(o_totalprice) AS m,
         var_samp(o_totalprice) AS v, count(*) AS n
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
  GROUP BY 1
)
SELECT a.grp AS group1, b.grp AS group2,
       round(a.m - b.m, 4) AS mean_diff,
       round((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 6) AS t_stat,
       round(pow(a.v / a.n + b.v / b.n, 2)
             / (pow(a.v / a.n, 2) / (a.n - 1) + pow(b.v / b.n, 2) / (b.n - 1)),
             2) AS welch_df
FROM g a JOIN g b ON a.grp = '1-URGENT' AND b.grp = '5-LOW'
""",
)
def welch_t_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    g = stats.group_stats(
        orders.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW")),
        "o_totalprice",
        "o_orderpriority",
    )
    a = g.filter(F.col("o_orderpriority") == "1-URGENT").alias("a")
    b = g.filter(F.col("o_orderpriority") == "5-LOW").alias("b")
    se2 = F.col("a.var") / F.col("a.n") + F.col("b.var") / F.col("b.n")
    return a.crossJoin(b).select(
        F.col("a.o_orderpriority").alias("group1"),
        F.col("b.o_orderpriority").alias("group2"),
        F.round(F.col("a.mean") - F.col("b.mean"), 4).alias("mean_diff"),
        F.round((F.col("a.mean") - F.col("b.mean")) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(
            F.pow(se2, 2)
            / (
                F.pow(F.col("a.var") / F.col("a.n"), 2) / (F.col("a.n") - 1)
                + F.pow(F.col("b.var") / F.col("b.n"), 2) / (F.col("b.n") - 1)
            ),
            2,
        ).alias("welch_df"),
    )


@query(
    "anova_f_components",
    oracle="""
WITH g AS (
  SELECT o_orderpriority AS grp, avg(o_totalprice) AS m,
         var_samp(o_totalprice) AS v, count(*) AS n
  FROM orders GROUP BY 1
),
tot AS (
  SELECT count(*) AS k, sum(n) AS n, sum(n * m) / sum(n) AS grand FROM g
),
comp AS (
  SELECT tot.k, tot.n,
         sum(g.n * pow(g.m - tot.grand, 2)) AS ssb,
         sum((g.n - 1) * g.v) AS ssw
  FROM g, tot GROUP BY tot.k, tot.n
)
SELECT k, n::BIGINT AS n,
       round(ssb / 1e6, 2) AS ss_between_m,
       round(ssw / 1e6, 2) AS ss_within_m,
       round((ssb / (k - 1)) / (ssw / (n - k)), 6) AS f_stat
FROM comp
""",
)
def anova_f_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    g = stats.group_stats(orders, "o_totalprice", "o_orderpriority")
    tot = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n_total"),
        (F.sum(F.col("n") * F.col("mean")) / F.sum("n")).alias("grand"),
    )
    comp = g.crossJoin(F.broadcast(tot)).groupBy("k", "n_total").agg(
        F.sum(F.col("n") * F.pow(F.col("mean") - F.col("grand"), 2)).alias("ssb"),
        F.sum((F.col("n") - 1) * F.col("var")).alias("ssw"),
    )
    # sums-of-squares are ~1e14 at bench SF: summation-order noise across
    # engines exceeds a 0.01 rounding quantum on the raw value, so emit
    # them in millions (noise ~1e-8 of the scaled value) — magnitude-safe
    # on both sides; f_stat is scale-free and unaffected
    return comp.select(
        "k",
        F.col("n_total").alias("n"),
        F.round(F.col("ssb") / F.lit(1e6), 2).alias("ss_between_m"),
        F.round(F.col("ssw") / F.lit(1e6), 2).alias("ss_within_m"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("n_total") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )


@query(
    "tukey_pairwise_components",
    oracle="""
WITH g AS (
  SELECT o_orderpriority AS grp, avg(o_totalprice) AS m,
         var_samp(o_totalprice) AS v, count(*) AS n
  FROM orders GROUP BY 1
),
msw AS (
  SELECT sum((n - 1) * v) / (sum(n) - count(*)) AS msw FROM g
)
SELECT a.grp AS group1, b.grp AS group2,
       round(b.m - a.m, 4) AS diff,
       round(sqrt(msw.msw / 2 * (1.0 / a.n + 1.0 / b.n)), 6) AS se,
       round(abs(b.m - a.m) / sqrt(msw.msw / 2 * (1.0 / a.n + 1.0 / b.n)), 6) AS q_stat
FROM g a JOIN g b ON a.grp < b.grp, msw
ORDER BY group1, group2
""",
)
def tukey_pairwise_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    g = stats.group_stats(orders, "o_totalprice", "o_orderpriority")
    msw = g.agg(
        (
            F.sum((F.col("n") - 1) * F.col("var"))
            / (F.sum("n") - F.count(F.lit(1)))
        ).alias("msw")
    )
    a = g.select(
        F.col("o_orderpriority").alias("group1"),
        F.col("mean").alias("m1"),
        F.col("n").alias("n1"),
    )
    b = g.select(
        F.col("o_orderpriority").alias("group2"),
        F.col("mean").alias("m2"),
        F.col("n").alias("n2"),
    )
    se = F.sqrt(F.col("msw") / 2 * (1.0 / F.col("n1") + 1.0 / F.col("n2")))
    return (
        a.join(b, F.col("group1") < F.col("group2"))
        .crossJoin(F.broadcast(msw))
        .select(
            "group1",
            "group2",
            F.round(F.col("m2") - F.col("m1"), 4).alias("diff"),
            F.round(se, 6).alias("se"),
            F.round(F.abs(F.col("m2") - F.col("m1")) / se, 6).alias("q_stat"),
        )
        .orderBy("group1", "group2")
    )


@query(
    "pearson_r_components",
    oracle="""
SELECT round(corr(l_quantity, l_extendedprice), 6) AS r,
       count(*) AS n,
       round(corr(l_quantity, l_extendedprice)
             * sqrt((count(*) - 2)
                    / (1 - pow(corr(l_quantity, l_extendedprice), 2))), 6) AS t_stat
FROM lineitem
""",
)
def pearson_r_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    r = F.corr("l_quantity", "l_extendedprice")
    n = F.count(F.lit(1))
    return li.agg(
        F.round(r, 6).alias("r"),
        n.alias("n"),
        F.round(r * F.sqrt((n - 2) / (1 - F.pow(r, 2))), 6).alias("t_stat"),
    )


@query(
    "chi2_independence_components",
    oracle="""
WITH obs AS (
  SELECT l_returnflag AS a, l_linestatus AS b, count(*)::DOUBLE AS n
  FROM lineitem GROUP BY 1, 2
),
tot AS (SELECT sum(n) AS n FROM obs),
rt AS (SELECT a, sum(n) AS rn FROM obs GROUP BY a),
ct AS (SELECT b, sum(n) AS cn FROM obs GROUP BY b),
cells AS (
  SELECT rt.a, ct.b, rt.rn * ct.cn / tot.n AS expected,
         coalesce(obs.n, 0) AS observed
  FROM rt CROSS JOIN ct CROSS JOIN tot
  LEFT JOIN obs ON obs.a = rt.a AND obs.b = ct.b
)
SELECT round(sum(pow(observed - expected, 2) / expected), 6) AS chi2,
       (count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS df
FROM cells
""",
)
def chi2_independence_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    obs = li.groupBy(
        F.col("l_returnflag").alias("a"), F.col("l_linestatus").alias("b")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    tot = obs.agg(F.sum("n").alias("tot"))
    rt = obs.groupBy("a").agg(F.sum("n").alias("rn"))
    ct = obs.groupBy("b").agg(F.sum("n").alias("cn"))
    cells = (
        rt.crossJoin(ct)
        .crossJoin(F.broadcast(tot))
        .join(obs, ["a", "b"], "left")
        .select(
            "a",
            "b",
            (F.col("rn") * F.col("cn") / F.col("tot")).alias("expected"),
            F.coalesce(F.col("n"), F.lit(0.0)).alias("observed"),
        )
    )
    return cells.agg(
        F.round(
            F.sum(F.pow(F.col("observed") - F.col("expected"), 2) / F.col("expected")), 6
        ).alias("chi2"),
        (
            (F.countDistinct("a") - 1) * (F.countDistinct("b") - 1)
        ).alias("df"),
    )


# ---------------------------------------------------------------------------
# Full hypothesis suite with p-values (rows-only: special functions are not
# SQL-expressible). Mirrors the reference's H1-H4 battery on the corpus.
# ---------------------------------------------------------------------------


@query("hypothesis_suite")
def hypothesis_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    welch = stats.welch_ttest(orders, "o_totalprice", "o_orderpriority", "1-URGENT", "5-LOW")
    anova = stats.oneway_anova(orders, "o_totalprice", "o_orderpriority")
    pearson = stats.pearson_corr_test(li, "l_quantity", "l_extendedprice")
    chi2 = stats.chi2_independence(li, "l_returnflag", "l_linestatus")
    # bind each result Row ONCE — .first() re-runs the whole Spark job
    rw, ra, rp, rc = welch.first(), anova.first(), pearson.first(), chi2.first()
    rows = [
        ("welch_t_totalprice_urgent_vs_low", rw["t_stat"], rw["p_value"]),
        ("anova_totalprice_by_priority", ra["f_stat"], ra["p_value"]),
        ("pearson_qty_extendedprice", rp["t_stat"], rp["p_value"]),
        ("chi2_returnflag_linestatus", rc["chi2"], rc["p_value"]),
    ]
    return local_frame(
        spark,
        [(n, float(s), float(p), bool(p < 0.05)) for n, s, p in rows],
        "test string, statistic double, p_value double, reject_at_5pct boolean",
    )


@query("tukey_hsd_priority")
def tukey_hsd_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return stats.tukey_hsd(orders, "o_totalprice", "o_orderpriority")


@query(
    "mann_whitney_components",
    oracle="""
WITH s AS (
  SELECT o_totalprice AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS in1
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
),
by_v AS (
  SELECT v, count(*) AS t, sum(in1) AS t1 FROM s GROUP BY v
),
ranked AS (
  SELECT v, t, t1,
         sum(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - t AS below,
         (2 * (sum(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - t) + t + 1)
           / 2.0 AS midrank
  FROM by_v
),
agg AS (
  SELECT sum(t1 * midrank) AS r1,
         sum(t1) AS n1,
         sum(t - t1) AS n2,
         sum(t * t * t - t) AS tie_term,
         sum(t) AS n
  FROM ranked
)
SELECT n1::BIGINT AS n1, n2::BIGINT AS n2,
       round(r1, 2) AS rank_sum_1,
       round(r1 - n1 * (n1 + 1) / 2.0, 2) AS u1,
       round(n1 * n2 - (r1 - n1 * (n1 + 1) / 2.0), 2) AS u2,
       round(n1 * n2 / 2.0, 2) AS mu_u,
       round(sqrt(n1 * n2 / 12.0 * ((n + 1) - tie_term / (n * (n - 1.0)))), 6)
         AS sigma_u
FROM agg
""",
)
def mann_whitney_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) components — the nonparametric
    dual of welch_t_components on the same URGENT-vs-LOW contrast.
    Mid-ranks are computed from per-VALUE counts (group by value first,
    cumulative count, midrank = below + (ties+1)/2), so tied values get
    identical ranks in both engines regardless of intra-tie row order;
    sigma carries the tie correction. z = (U - mu_u)/sigma_u; the
    normal-approx p-value is driver-side math like the other H-family
    tests (components are the oracle-checked part).

    Scale: one filter-scan, one groupBy(value), then the cumulative rank
    over the VALUE-COMPRESSED domain runs as a range-partitioned
    two-pass prefix sum (parallel local cumsums + broadcast partition
    offsets) — no global single-task window anywhere, ranks never
    materialize per input row."""
    from ..operators.windows import range_partitioned_cumsum

    orders = load_table(spark, sf_dir, "orders")
    s = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.col("o_totalprice").alias("v"),
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("in1"),
    )
    by_v = s.groupBy("v").agg(
        F.count(F.lit(1)).alias("t"), F.sum("in1").alias("t1")
    )
    ranked = range_partitioned_cumsum(by_v, ["v"], ["t"]).withColumnRenamed(
        "cum_t", "cum"
    ).select(
        "v",
        "t",
        "t1",
        ((2 * (F.col("cum") - F.col("t")) + F.col("t") + 1) / 2.0).alias("midrank"),
    )
    agg = ranked.agg(
        F.sum(F.col("t1") * F.col("midrank")).alias("r1"),
        F.sum("t1").alias("n1"),
        F.sum(F.col("t") - F.col("t1")).alias("n2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie_term"),
        F.sum("t").alias("n"),
    )
    u1 = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2.0
    return agg.select(
        "n1",
        "n2",
        F.round("r1", 2).alias("rank_sum_1"),
        F.round(u1, 2).alias("u1"),
        F.round(F.col("n1") * F.col("n2") - u1, 2).alias("u2"),
        F.round(F.col("n1") * F.col("n2") / 2.0, 2).alias("mu_u"),
        F.round(
            F.sqrt(
                F.col("n1")
                * F.col("n2")
                / 12.0
                * (
                    (F.col("n") + 1)
                    - F.col("tie_term") / (F.col("n") * (F.col("n") - 1.0))
                )
            ),
            6,
        ).alias("sigma_u"),
    )


@query(
    "ks_statistic_priority",
    oracle="""
WITH s AS (
  SELECT o_totalprice AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS in1
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
),
by_v AS (
  SELECT v, sum(in1) AS t1, count(*) - sum(in1) AS t2 FROM s GROUP BY v
),
c AS (
  SELECT v,
         sum(t1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
           / (SELECT sum(t1) FROM by_v) AS f1,
         sum(t2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
           / (SELECT sum(t2) FROM by_v) AS f2
  FROM by_v
)
SELECT (SELECT sum(t1) FROM by_v)::BIGINT AS n1,
       (SELECT sum(t2) FROM by_v)::BIGINT AS n2,
       round(max(abs(f1 - f2)), 6) AS ks_d
FROM c
""",
)
def ks_statistic_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic (URGENT vs LOW order
    values): D = sup|F1 − F2| over the pooled distinct values. ECDFs
    are cumulative per-VALUE counts, so ties contribute one step on
    both engines.

    Scale: groupBy(value), then the ECDF cumulatives over the
    value-compressed domain run as a range-partitioned two-pass prefix
    sum — no global single-task window, no driver-side eager job: the
    totals stay in-plan via a broadcast crossJoin of the 1-row
    aggregate, so the whole query is one lazy plan and n1/n2 are stable
    bigints at any scale (empty input yields one all-null row on both
    engines)."""
    from ..operators.windows import range_partitioned_cumsum

    orders = load_table(spark, sf_dir, "orders")
    s = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.col("o_totalprice").alias("v"),
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("in1"),
    )
    by_v = s.groupBy("v").agg(
        F.sum("in1").alias("t1"),
        (F.count(F.lit(1)) - F.sum("in1")).alias("t2"),
    )
    c0, part = range_partitioned_cumsum(
        by_v, ["v"], ["t1", "t2"], with_part=True
    )
    # group totals = one flat aggregate over the PINNED partitioned
    # counts — the separate ``by_v.agg`` was a full second evaluation
    # of the fact scan + groupBy (r11, guide §1.2). Identical sums.
    tot = part.agg(
        F.sum("t1").cast("long").alias("n1"),
        F.sum("t2").cast("long").alias("n2"),
    )
    c = c0.crossJoin(F.broadcast(tot))
    return c.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.round(
            F.max(
                F.abs(
                    F.col("cum_t1") / F.col("n1") - F.col("cum_t2") / F.col("n2")
                )
            ),
            6,
        ).alias("ks_d"),
    )


@query(
    "event_value_mad_by_type",
    oracle="""
WITH e AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med FROM e GROUP BY 1
)
SELECT e.event_type,
       round(m.med, 6) AS median_value,
       round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad,
       count(*) AS n
FROM e JOIN med m USING (event_type)
GROUP BY e.event_type, m.med
ORDER BY e.event_type
""",
)
def event_value_mad_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per event type — the robust dispersion
    companion to the IQR/winsorized families (MAD survives the heavy
    tails that wreck stddev-based outlier fences). Two exact-percentile
    passes: per-group median (type-7 interpolation ≡ DuckDB
    quantile_cont), broadcast back, then median of |x − med| per group.
    Scale: each pass is one grouped aggregate; the k-row median frame
    broadcasts, so there is no re-shuffle of the fact between passes."""
    from ..operators.aggregates import percentile_expr

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    med = ev.groupBy("event_type").agg(
        percentile_expr("value", 0.5).alias("med")
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .withColumn("adev", F.abs(F.col("value") - F.col("med")))
        .groupBy("event_type", "med")
        .agg(
            percentile_expr("adev", 0.5).alias("mad_raw"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "event_type",
            F.round("med", 6).alias("median_value"),
            F.round("mad_raw", 6).alias("mad"),
            "n",
        )
        .orderBy("event_type")
    )


@query(
    "qty_price_spearman",
    oracle="""
WITH li AS (SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem),
bx AS (SELECT x, count(*) AS c FROM li GROUP BY 1),
cx AS (SELECT x, c, sum(c) OVER (ORDER BY x) AS cum FROM bx),
ux AS (SELECT x, (2 * cum - c + 1)::BIGINT AS u FROM cx),
by_ AS (SELECT y, count(*) AS c FROM li GROUP BY 1),
cy AS (SELECT y, c, sum(c) OVER (ORDER BY y) AS cum FROM by_),
uy AS (SELECT y, (2 * cum - c + 1)::BIGINT AS w FROM cy),
r AS (SELECT u, w FROM li JOIN ux USING (x) JOIN uy USING (y)),
s AS (
  SELECT count(*)::HUGEINT AS n,
         sum(u::HUGEINT) AS su, sum(w::HUGEINT) AS sw,
         sum(u::HUGEINT * u) AS suu, sum(w::HUGEINT * w) AS sww,
         sum(u::HUGEINT * w) AS suw
  FROM r
)
SELECT n::BIGINT AS n,
       round((n * suw - su * sw)::DOUBLE
             / sqrt((n * suu - su * su)::DOUBLE
                    * (n * sww - sw * sw)::DOUBLE), 6) AS rho_spearman
FROM s
""",
)
def qty_price_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and extended price —
    rank statistics at scale. Fractional average ranks are DOUBLED so
    every rank is an integer (avg rank of a tie group = cnt_less +
    (cnt_eq+1)/2 ⇒ 2r = 2·cum − c + 1 on the inclusive cumulative), and
    every moment (Σu, Σu², Σuw) accumulates in exact integer arithmetic
    (decimal(38,0) here, HUGEINT in DuckDB) — both engines reduce to
    the IDENTICAL integers, and the single double conversion at the end
    is IEEE-deterministic, so the 6dp hash cannot drift on summation
    order (doubling is affine, so Pearson-on-2r ≡ Pearson-on-r).

    Scale: the quantity rank table comes from a grouped count plus the
    range-partitioned two-pass cumulative and broadcasts (few distinct
    values); the price side (r12) never joins ranks back onto the fact
    at all — the moments are REGROUPED at the price grain: one grouped
    pass over the fact (u attached by the broadcast) accumulates
    (c, Σu, Σu²) per distinct price, the price rank w comes from the
    cumulative over that same table, and every moment folds from the
    per-price partials (Σw = Σc·w, Σw² = Σc·w², Σuw = Σw·Σu|_y — sums
    of the SAME integers regrouped, so the decimals are identical).
    This removes the fact-sized rank shuffle + sort-merge join the old
    plan paid (guide §2.4)."""
    from ..operators.windows import range_partitioned_cumsum

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731

    by_x = li.groupBy("x").agg(F.count(F.lit(1)).alias("c"))
    cum_x = range_partitioned_cumsum(by_x, ["x"], ["c"])
    ux = cum_x.select("x", (2 * F.col("cum_c") - F.col("c") + 1).alias("u"))

    per_y = (
        li.join(F.broadcast(ux), "x")
        .groupBy("y")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(d("u")).alias("su_y"),
            F.sum(d("u") * d("u")).alias("suu_y"),
        )
    )
    cum_y = range_partitioned_cumsum(per_y, ["y"], ["c"])
    m = cum_y.select(
        "c",
        "su_y",
        "suu_y",
        (2 * F.col("cum_c") - F.col("c") + 1).alias("w"),
    )
    s = m.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("decimal(38,0)").alias("n"),
        F.sum("su_y").alias("su"),
        F.sum(d("c") * d("w")).alias("sw"),
        F.sum("suu_y").alias("suu"),
        F.sum(d("c") * d("w") * d("w")).alias("sww"),
        F.sum(F.col("su_y") * d("w")).alias("suw"),
    )
    num = (F.col("n") * F.col("suw") - F.col("su") * F.col("sw")).cast("double")
    dx = (F.col("n") * F.col("suu") - F.col("su") * F.col("su")).cast("double")
    dy = (F.col("n") * F.col("sww") - F.col("sw") * F.col("sw")).cast("double")
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.round(num / F.sqrt(dx * dy), 6).alias("rho_spearman"),
    )


@query(
    "lineitem_two_var_ols",
    oracle="""
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
         s11 - s1 * s1 / n AS c11,
         s22 - s2 * s2 / n AS c22,
         s12 - s1 * s2 / n AS c12,
         s1y - s1 * sy / n AS c1y,
         s2y - s2 * sy / n AS c2y,
         syy - sy * sy / n AS cyy,
         s1 / n AS m1, s2 / n AS m2, sy / n AS my
  FROM s
),
b AS (
  SELECT l_returnflag, n, m1, m2, my, c1y, c2y, cyy,
         (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b1,
         (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b2
  FROM c
)
SELECT l_returnflag, n,
       round(my - b1 * m1 - b2 * m2, 6) AS intercept,
       round(b1, 6) AS beta_quantity,
       round(b2, 6) AS beta_discount,
       round((b1 * c1y + b2 * c2y) / cyy, 6) AS r2
FROM b ORDER BY l_returnflag
""",
)
def lineitem_two_var_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form TWO-predictor OLS per group (extendedprice ~ quantity
    + discount, by return flag) — multivariate regression as ONE
    distributed aggregate, no MLlib iteration, no driver fit: the ten
    sufficient statistics reduce map-side, the 2x2 normal equations
    solve in covariance form (centered via Sxy − SxSy/n, so the
    determinant is well-conditioned), and every expression is written
    with the oracle's exact operand order so both engines produce the
    same doubles before the 6dp round. The regression ratios are
    scale-free — reassociation noise in the raw sums (~1e-16 relative)
    stays ~1e-15 in the coefficients, far inside 6dp.

    Scale: one hash aggregate over the fact, k output rows; this is how
    you fit millions of per-group regressions at 100 TB (groupBy key =
    model id), where per-group MLlib fits would be a driver loop."""
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
        (F.col("s1") / n).alias("m1"),
        (F.col("s2") / n).alias("m2"),
        (F.col("sy") / n).alias("my"),
    )
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    b = c.select(
        "l_returnflag",
        "n",
        "m1",
        "m2",
        "my",
        "c1y",
        "c2y",
        "cyy",
        ((F.col("c22") * F.col("c1y") - F.col("c12") * F.col("c2y")) / det).alias(
            "b1"
        ),
        ((F.col("c11") * F.col("c2y") - F.col("c12") * F.col("c1y")) / det).alias(
            "b2"
        ),
    )
    return b.select(
        "l_returnflag",
        "n",
        F.round(
            F.col("my") - F.col("b1") * F.col("m1") - F.col("b2") * F.col("m2"),
            6,
        ).alias("intercept"),
        F.round("b1", 6).alias("beta_quantity"),
        F.round("b2", 6).alias("beta_discount"),
        F.round(
            (F.col("b1") * F.col("c1y") + F.col("b2") * F.col("c2y"))
            / F.col("cyy"),
            6,
        ).alias("r2"),
    ).orderBy("l_returnflag")


@query(
    "flag_status_mutual_information",
    oracle="""
WITH j AS (
  SELECT l_returnflag AS a, l_linestatus AS b, count(*)::BIGINT AS c
  FROM lineitem GROUP BY 1, 2
),
tot AS (SELECT sum(c)::BIGINT AS n FROM j),
ma AS (SELECT a, sum(c)::BIGINT AS ca FROM j GROUP BY 1),
mb AS (SELECT b, sum(c)::BIGINT AS cb FROM j GROUP BY 1),
mi AS (
  SELECT n,
         round(sum((c::DOUBLE / n)
                   * ln((c::DOUBLE / n)
                        / ((ca::DOUBLE / n) * (cb::DOUBLE / n)))), 6) AS mi_nats
  FROM j JOIN ma USING (a) JOIN mb USING (b), tot
  GROUP BY n
),
ha AS (SELECT round(-sum((ca::DOUBLE / n) * ln(ca::DOUBLE / n)), 6)
         AS h_returnflag FROM ma, tot),
hb AS (SELECT round(-sum((cb::DOUBLE / n) * ln(cb::DOUBLE / n)), 6)
         AS h_linestatus FROM mb, tot)
SELECT n, mi_nats, h_returnflag, h_linestatus FROM mi, ha, hb
""",
)
def flag_status_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between two categoricals (return flag x line
    status) with the marginal entropies — the dependence measure that
    sees what chi-squared's linear statistic can't. Every probability
    is a ratio of exact integer counts (identical in both engines), the
    per-cell log terms are IEEE-deterministic, and the sums are
    ``math.fsum`` over ≤|A|x|B| cells — correctly rounded, so a sum
    and its 6dp rounding do not depend on cell order. Marginal entropies fold
    from the marginal counts (never a DISTINCT over joined terms, which
    would silently collapse coincidentally-equal probabilities).

    Scale: one hash aggregate to the contingency cells (map-side
    combined); the cells are collected under a row cap and finished on
    the driver, and the one-row result is a local relation rounded by
    Spark. The marginals come from the cells, never from a second pass
    over the fact."""
    # imported per call: the scale gate in tests/test_plans.py patches
    # collect_small to see the plans of the frames it collects
    from ..plans.materialize import collect_small

    li = load_table(spark, sf_dir, "lineitem")
    cells = collect_small(
        li.groupBy(
            F.col("l_returnflag").alias("a"), F.col("l_linestatus").alias("b")
        ).agg(F.count(F.lit(1)).alias("c")),
        cap=4096,
    )
    out = local_frame(
        spark,
        _mutual_information([(r["a"], r["b"], r["c"]) for r in cells]),
        "n long, mi_nats double, h_returnflag double, h_linestatus double",
    )
    return out.select(
        "n", *[F.round(c, 6).alias(c) for c in out.columns[1:]]
    )


def _mutual_information(cells: list[tuple]) -> list[tuple]:
    """``[(n, mi, h_a, h_b)]`` in nats from ``(a, b, count)`` cells, or
    ``[]`` when no cell has two non-NULL keys. The oracle's SQL shape
    is kept: NULL keys count in ``n`` and in their marginal entropy but
    join no marginal in the MI sum, and the MI row is a ``GROUP BY n``
    over the joined cells, so it has no row when none joined."""
    ca: dict = {}
    cb: dict = {}
    for a, b, c in cells:
        ca[a] = ca.get(a, 0) + c
        cb[b] = cb.get(b, 0) + c
    joined = [(a, b, c) for a, b, c in cells if a is not None and b is not None]
    if not joined:
        return []
    n = sum(ca.values())
    fn = float(n)
    mi = math.fsum(
        (c / fn) * math.log((c / fn) / ((ca[a] / fn) * (cb[b] / fn)))
        for a, b, c in joined
    )
    h_a = -math.fsum((v / fn) * math.log(v / fn) for v in ca.values())
    h_b = -math.fsum((v / fn) * math.log(v / fn) for v in cb.values())
    return [(n, mi, h_a, h_b)]


@query(
    "kruskal_wallis_components",
    oracle="""
WITH s AS (SELECT o_totalprice AS v, o_orderpriority AS g FROM orders),
vg AS (SELECT v, g, count(*) AS tg FROM s GROUP BY 1, 2),
bv AS (SELECT v, sum(tg) AS t FROM vg GROUP BY 1),
cv AS (
  SELECT v, t, sum(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
  FROM bv
),
uv AS (SELECT v, (2 * cum - t + 1)::HUGEINT AS u FROM cv),
rg AS (
  SELECT g, sum(tg::HUGEINT * u) AS r2, sum(tg)::HUGEINT AS nj
  FROM vg JOIN uv USING (v) GROUP BY 1
),
tot AS (
  SELECT count(*)::BIGINT AS k, sum(nj)::BIGINT AS n,
         sum((r2::DOUBLE * r2::DOUBLE) / (4.0 * nj::DOUBLE)) AS s2
  FROM rg
),
ties AS (SELECT sum(t::HUGEINT * t * t - t)::DOUBLE AS tie FROM bv)
SELECT k, n,
       round(12.0 * s2 / (n::DOUBLE * (n + 1)) - 3.0 * (n + 1), 6) AS h_stat,
       round((12.0 * s2 / (n::DOUBLE * (n + 1)) - 3.0 * (n + 1))
             / (1.0 - tie / (n::DOUBLE * n * n - n)), 6) AS h_tie_corrected
FROM tot, ties
""",
)
def kruskal_wallis_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H components (order value ranked across ALL five
    priorities) — the k-group nonparametric companion to
    mann_whitney_components (reference analogue: the H-family tests,
    BigDataProject.R:178-265). Mid-ranks are DOUBLED so every rank is
    an integer (2r = 2*cum - t + 1 on the inclusive per-value
    cumulative), doubled rank sums per group accumulate exactly in
    decimal(38,0)/HUGEINT, and H folds from k exact integers with the
    identical double expression on both engines (R_j^2/n_j =
    (2R_j)^2/(4 n_j)); the tie term corrects H for the per-value tie
    mass.

    Scale: groupBy(value, group) compresses the fact once; ranks come
    from the range-partitioned two-pass cumulative over the
    value-compressed domain (no global single-task window); the rank
    join shuffles on the value key and the final fold is k rows."""
    from ..operators.windows import range_partitioned_cumsum

    orders = load_table(spark, sf_dir, "orders")
    s = orders.select(
        F.col("o_totalprice").alias("v"), F.col("o_orderpriority").alias("g")
    )
    from ..plans.materialize import pinned_lru

    # pinned (r11): vg feeds both the per-value totals (rank cumulative)
    # and the per-group rank join — unpinned, the fact groupBy ran twice
    # (guide §1.2). Distinct-(value,group) rows, LRU-bounded.
    vg = pinned_lru(
        s.groupBy("v", "g").agg(F.count(F.lit(1)).alias("tg")),
        "kruskal_vg",
        keep=2,
        eager=False,  # lazy: the cumulative materializes the cache in-pass
    )
    bv = vg.groupBy("v").agg(F.sum("tg").alias("t"))
    uv = range_partitioned_cumsum(bv, ["v"], ["t"]).select(
        "v", (2 * F.col("cum_t") - F.col("t") + 1).alias("u")
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    rg = (
        vg.join(uv, "v")
        .groupBy("g")
        .agg(
            F.sum(d("tg") * d("u")).alias("r2"),
            F.sum("tg").cast("decimal(38,0)").alias("nj"),
        )
    )
    tot = rg.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("nj").cast("long").alias("n"),
        F.sum(
            (F.col("r2").cast("double") * F.col("r2").cast("double"))
            / (F.lit(4.0) * F.col("nj").cast("double"))
        ).alias("s2"),
    )
    ties = bv.agg(
        F.sum(d("t") * d("t") * d("t") - d("t")).cast("double").alias("tie")
    )
    nD = F.col("n").cast("double")
    h = F.lit(12.0) * F.col("s2") / (nD * (F.col("n") + 1)) - F.lit(3.0) * (
        F.col("n") + 1
    )
    return tot.crossJoin(F.broadcast(ties)).select(
        "k",
        "n",
        F.round(h, 6).alias("h_stat"),
        F.round(
            h / (F.lit(1.0) - F.col("tie") / (nD * F.col("n") * F.col("n") - F.col("n"))),
            6,
        ).alias("h_tie_corrected"),
    )


@query(
    "levene_brown_forsythe_components",
    oracle="""
WITH x AS (SELECT o_orderpriority AS g, o_totalprice AS v FROM orders),
med AS (SELECT g, quantile_cont(v, 0.5) AS md FROM x GROUP BY 1),
z AS (SELECT x.g, abs(x.v - med.md) AS z FROM x JOIN med USING (g)),
gs AS (
  SELECT g, count(*) AS n, avg(z) AS m, var_samp(z) AS v FROM z GROUP BY 1
),
tot AS (SELECT count(*) AS k, sum(n) AS n, sum(n * m) / sum(n) AS grand FROM gs),
comp AS (
  SELECT tot.k, tot.n,
         sum(gs.n * pow(gs.m - tot.grand, 2)) AS ssb,
         sum((gs.n - 1) * gs.v) AS ssw
  FROM gs, tot GROUP BY tot.k, tot.n
)
SELECT k, n::BIGINT AS n,
       round(ssb / 1e6, 2) AS ss_between_m,
       round(ssw / 1e6, 2) AS ss_within_m,
       round((ssb / (k - 1)) / (ssw / (n - k)), 6) AS w_stat
FROM comp
""",
)
def levene_brown_forsythe_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-centered Levene) variance-homogeneity test
    components: the ANOVA F machinery applied to z = |x - group
    median| — the assumption check that should precede
    anova_f_components (reference analogue: the aov preconditions,
    BigDataProject.R:242-265). Group medians are exact type-7
    percentiles (== DuckDB quantile_cont), broadcast back to the fact;
    the z-ANOVA mirrors anova_f_components expression-for-expression,
    with sums-of-squares emitted in millions for the same
    magnitude-safety reason.

    Scale: one grouped exact-percentile pass, one broadcast join (k-row
    median frame), one grouped moment pass — no re-shuffle of the fact
    between passes, no global window."""
    from ..operators.aggregates import percentile_expr
    from ..operators.stats import group_stats

    orders = load_table(spark, sf_dir, "orders")
    x = orders.select(
        F.col("o_orderpriority").alias("g"), F.col("o_totalprice").alias("v")
    )
    med = x.groupBy("g").agg(percentile_expr("v", 0.5).alias("md"))
    z = x.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("v") - F.col("md")).alias("z")
    )
    gs = group_stats(z, "z", "g")
    tot = gs.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n_total"),
        (F.sum(F.col("n") * F.col("mean")) / F.sum("n")).alias("grand"),
    )
    comp = gs.crossJoin(F.broadcast(tot)).groupBy("k", "n_total").agg(
        F.sum(F.col("n") * F.pow(F.col("mean") - F.col("grand"), 2)).alias("ssb"),
        F.sum((F.col("n") - 1) * F.col("var")).alias("ssw"),
    )
    return comp.select(
        "k",
        F.col("n_total").alias("n"),
        F.round(F.col("ssb") / F.lit(1e6), 2).alias("ss_between_m"),
        F.round(F.col("ssw") / F.lit(1e6), 2).alias("ss_within_m"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("n_total") - F.col("k"))),
            6,
        ).alias("w_stat"),
    )


@query(
    "brand_rank_kendall_tau",
    oracle="""
WITH m AS (
  SELECT p_brand,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS rev_cents,
         sum(CAST(round(l_quantity) AS BIGINT)) AS qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1
),
p AS (
  SELECT a.p_brand AS ba, b.p_brand AS bb,
         CASE WHEN (a.rev_cents - b.rev_cents) * (a.qty - b.qty) > 0
              THEN 1 ELSE 0 END AS conc,
         CASE WHEN (a.rev_cents - b.rev_cents) * (a.qty - b.qty) < 0
              THEN 1 ELSE 0 END AS disc,
         CASE WHEN a.rev_cents = b.rev_cents THEN 1 ELSE 0 END AS tie_x,
         CASE WHEN a.qty = b.qty THEN 1 ELSE 0 END AS tie_y
  FROM m a JOIN m b ON a.p_brand < b.p_brand
),
s AS (
  SELECT count(*)::BIGINT AS n_pairs,
         sum(conc)::BIGINT AS concordant, sum(disc)::BIGINT AS discordant,
         sum(tie_x)::BIGINT AS ties_x, sum(tie_y)::BIGINT AS ties_y
  FROM p
)
SELECT (SELECT count(*) FROM m)::BIGINT AS n_brands,
       concordant, discordant,
       round((concordant - discordant)::DOUBLE
             / sqrt((n_pairs - ties_x)::DOUBLE * (n_pairs - ties_y)::DOUBLE),
             6) AS kendall_tau_b
FROM s
""",
)
def brand_rank_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between two brand rankings (revenue vs unit
    volume) — completes the correlation family (Pearson A13, Spearman,
    now the pairwise-concordance rank measure that survives any
    monotone transform and handles ties via the tau-b denominator).
    Both metrics reduce to exact integers (cents / units), so every
    concordance decision is an exact sign test and the single double
    division rounds identically on both engines.

    Scale: the pairwise O(k^2) comparison runs on the AGGREGATED brand
    frame (k = 25 brands → 300 pairs), never the fact; the fact
    contributes one grouped integer aggregate behind a broadcast dim
    join. For large k, tau degrades to the Spearman path (rank join +
    moment fold) — pairwise tau on a million-key ranking is the wrong
    algorithm at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    m = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "rev_cents"
            ),
            F.sum(F.round(F.col("l_quantity")).cast("long")).alias("qty"),
        )
    )
    a, b = m.alias("a"), m.alias("b")
    dx = F.col("a.rev_cents") - F.col("b.rev_cents")
    dy = F.col("a.qty") - F.col("b.qty")
    p = a.join(
        F.broadcast(b), F.col("a.p_brand") < F.col("b.p_brand")
    ).select(
        F.when(dx * dy > 0, 1).otherwise(0).alias("conc"),
        F.when(dx * dy < 0, 1).otherwise(0).alias("disc"),
        F.when(dx == 0, 1).otherwise(0).alias("tie_x"),
        F.when(dy == 0, 1).otherwise(0).alias("tie_y"),
    )
    s = p.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("conc").alias("concordant"),
        F.sum("disc").alias("discordant"),
        F.sum("tie_x").alias("ties_x"),
        F.sum("tie_y").alias("ties_y"),
    )
    nb = m.agg(F.count(F.lit(1)).alias("n_brands"))
    return s.crossJoin(F.broadcast(nb)).select(
        "n_brands",
        "concordant",
        "discordant",
        F.round(
            (F.col("concordant") - F.col("discordant")).cast("double")
            / F.sqrt(
                (F.col("n_pairs") - F.col("ties_x")).cast("double")
                * (F.col("n_pairs") - F.col("ties_y")).cast("double")
            ),
            6,
        ).alias("kendall_tau_b"),
    )


@query(
    "order_value_psi_drift",
    oracle="""
WITH o AS (
  SELECT o_totalprice AS v,
         CASE WHEN o_orderkey % 2 = 0 THEN 'ref' ELSE 'cur' END AS half
  FROM orders
),
edges AS (
  SELECT quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS e
  FROM o WHERE half = 'ref'
),
binned AS (
  SELECT half,
         1 + len(list_filter(edges.e, x -> x < v)) AS bin
  FROM o, edges
),
c AS (
  SELECT bin,
         sum(CASE WHEN half = 'ref' THEN 1 ELSE 0 END)::BIGINT AS n_ref,
         sum(CASE WHEN half = 'cur' THEN 1 ELSE 0 END)::BIGINT AS n_cur
  FROM binned GROUP BY 1
),
t AS (SELECT sum(n_ref)::DOUBLE AS tr, sum(n_cur)::DOUBLE AS tc FROM c)
SELECT bin, n_ref, n_cur,
       CASE WHEN n_ref > 0 AND n_cur > 0 THEN
         round((n_cur / tc - n_ref / tr)
               * ln((n_cur / tc) / (n_ref / tr)), 8)
       ELSE NULL END AS psi_term
FROM c, t ORDER BY bin
""",
)
def order_value_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index decomposition — the distribution-drift
    monitor between a reference population (even order keys) and a
    current one (odd keys): decile edges come from the REFERENCE's
    exact percentiles, both populations bin against those fixed edges
    (strict lower edges: bin = 1 + #edges below v), and each bin emits
    its signed PSI term (p_cur - p_ref) * ln(p_cur/p_ref); the sum >
    0.2 is the conventional retrain alarm. Emitting per-bin terms makes
    the drift ATTRIBUTABLE (which deciles moved), and every probability
    is a ratio of exact integer counts. A bin empty on either half has
    an undefined PSI term (ln of 0 or a 0 factor) — guarded to NULL
    IDENTICALLY on both engines (Spark's log(<=0) is silently NULL,
    DuckDB's ln errors; without the guard the engines diverge on
    degenerate data instead of agreeing loudly).

    Scale: one exact-percentile pass over the reference, then a single
    scan bins both halves against the 9 broadcast edges via a when
    ladder — no sort, no shuffle beyond the 10-row aggregate; the
    monitoring query you schedule hourly at 100 TB."""
    from ..operators.aggregates import percentile_expr

    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        F.col("o_totalprice").alias("v"),
        F.when(F.col("o_orderkey") % 2 == 0, "ref").otherwise("cur").alias("half"),
    )
    probs = [i / 10 for i in range(1, 10)]
    edges = o.filter(F.col("half") == "ref").agg(
        percentile_expr("v", probs).alias("e")
    )
    binned = o.crossJoin(F.broadcast(edges)).select(
        "half",
        (
            1
            + F.size(F.filter(F.col("e"), lambda x: x < F.col("v")))
        ).cast("long").alias("bin"),
    )
    c = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == "ref", 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("half") == "cur", 1).otherwise(0)).alias("n_cur"),
    )
    t = c.agg(
        F.sum("n_ref").cast("double").alias("tr"),
        F.sum("n_cur").cast("double").alias("tc"),
    )
    pr = F.col("n_ref") / F.col("tr")
    pc = F.col("n_cur") / F.col("tc")
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "bin",
            "n_ref",
            "n_cur",
            F.when(
                (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
                F.round((pc - pr) * F.log(pc / pr), 8),
            ).alias("psi_term"),
        )
        .orderBy("bin")
    )


@query(
    "jackknife_mean_se",
    oracle="""
WITH r AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         ('0x' || substr(md5('jk:' || o_orderkey), 1, 15))::BIGINT % 32 AS blk
  FROM orders
),
b AS (
  SELECT blk, count(*)::HUGEINT AS n, sum(cents::HUGEINT) AS s FROM r GROUP BY 1
),
tot AS (SELECT count(*)::BIGINT AS g, sum(n)::HUGEINT AS n, sum(s) AS s FROM b),
theta AS (
  SELECT b.blk,
         ((tot.s - b.s)::DOUBLE / (tot.n - b.n)::DOUBLE) / 100.0 AS t,
         (tot.s::DOUBLE / tot.n::DOUBLE) / 100.0 AS full_mean,
         tot.g
  FROM b, tot
)
SELECT max(g)::BIGINT AS n_blocks,
       round(max(full_mean), 4) AS mean_order_value,
       round(sqrt((max(g) - 1.0) / max(g)
                  * sum((t - full_mean) * (t - full_mean))), 6)
         AS jackknife_se,
       round(avg(t), 4) AS mean_of_leave_one_out
FROM theta
""",
)
def jackknife_mean_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-BLOCK jackknife standard error of the mean order
    value — the distributed uncertainty estimate that needs no
    resampling pass: rows hash into 32 blocks (engine-portable md5), a
    single grouped pass yields per-block (count, exact-cent sum), and
    every leave-one-out mean folds from the 32-row aggregate by
    subtraction. All moments are exact integers until one IEEE
    division per block; SE = sqrt((g-1)/g * sum((theta_i - theta)^2)).
    This is the grouped-jackknife variance machinery behind big-data
    A/B platforms (delete-a-bucket over user hash buckets).

    Scale: one map-side-combined aggregate over the fact to g rows;
    everything after is arithmetic on the block frame. The block count
    trades bias (g small) vs overhead (g large) and 32 matches the
    bucket counts used elsewhere in the engine."""
    orders = load_table(spark, sf_dir, "orders")
    from ..llm.text import portable_hash60

    r = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (
            portable_hash60(
                F.concat(F.lit("jk:"), F.col("o_orderkey").cast("string"))
            )
            % 32
        ).alias("blk"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    b = r.groupBy("blk").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(d("cents")).alias("s"),
    )
    tot = b.agg(
        F.count(F.lit(1)).cast("long").alias("g"),
        F.sum("n").alias("tn"),
        F.sum("s").alias("ts"),
    )
    theta = b.crossJoin(F.broadcast(tot)).select(
        (
            (F.col("ts") - F.col("s")).cast("double")
            / (F.col("tn") - F.col("n")).cast("double")
            / F.lit(100.0)
        ).alias("t"),
        (
            F.col("ts").cast("double") / F.col("tn").cast("double") / F.lit(100.0)
        ).alias("full_mean"),
        "g",
    )
    dev = F.col("t") - F.col("full_mean")
    return theta.agg(
        F.max("g").alias("n_blocks"),
        F.round(F.max("full_mean"), 4).alias("mean_order_value"),
        F.round(
            F.sqrt(
                (F.max("g") - F.lit(1.0)) / F.max("g") * F.sum(dev * dev)
            ),
            6,
        ).alias("jackknife_se"),
        F.round(F.avg("t"), 4).alias("mean_of_leave_one_out"),
    )


@query(
    "ratio_metric_delta_se",
    oracle="""
WITH per_cust AS (
  SELECT c.c_mktsegment AS segment, o.o_custkey,
         sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS x_cents,
         count(*)::BIGINT AS y_orders
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
m AS (
  SELECT segment,
         count(*)::HUGEINT AS n,
         sum(x_cents::HUGEINT) AS sx, sum(y_orders::HUGEINT) AS sy,
         sum(x_cents::HUGEINT * x_cents) AS sxx,
         sum(y_orders::HUGEINT * y_orders) AS syy,
         sum(x_cents::HUGEINT * y_orders) AS sxy
  FROM per_cust GROUP BY 1
),
d AS (
  SELECT segment, n::BIGINT AS n_customers,
         (sx::DOUBLE / sy::DOUBLE) / 100.0 AS r,
         (sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE)
           / (n::DOUBLE - 1.0) AS vx,
         (syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n::DOUBLE)
           / (n::DOUBLE - 1.0) AS vy,
         (sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n::DOUBLE)
           / (n::DOUBLE - 1.0) AS vxy,
         sy::DOUBLE / n::DOUBLE AS ybar,
         sx::DOUBLE / n::DOUBLE AS xbar,
         n::DOUBLE AS nd
  FROM m
)
SELECT segment, n_customers,
       round(r, 4) AS revenue_per_order,
       round(sqrt((vx / 10000.0
                   + (r * r) * vy
                   - (2.0 * r) * (vxy / 100.0))
                  / (ybar * ybar) / nd), 6) AS delta_se
FROM d ORDER BY segment
""",
)
def ratio_metric_delta_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method standard error for a RATIO metric (revenue per
    order, per market segment) with customer-level clustering — the
    estimator experimentation platforms use when the randomization unit
    (customer) differs from the analysis unit (order): R = sum(x)/
    sum(y) over per-customer totals, Var(R) ~ (vx + R^2 vy - 2R vxy) /
    (ybar^2 n). Every moment accumulates exactly in decimal/HUGEINT
    from integer cents and counts; the delta fold is a fixed expression
    over the k-segment frame with cent->dollar scaling applied inside
    the variance terms (vx/100^2, vxy/100) so both engines compute the
    identical doubles.

    Scale: one grouped aggregate to the customer grain (the shuffle you
    already pay for any per-entity metric), one k-row fold. The naive
    alternative — treating orders as IID — understates the SE whenever
    per-customer order counts vary; this form is the correct one and
    costs the same single pass."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    per_cust = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "x_cents"
            ),
            F.count(F.lit(1)).alias("y_orders"),
        )
    )
    h = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = per_cust.groupBy("segment").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(h("x_cents")).alias("sx"),
        F.sum(h("y_orders")).alias("sy"),
        F.sum(h("x_cents") * h("x_cents")).alias("sxx"),
        F.sum(h("y_orders") * h("y_orders")).alias("syy"),
        F.sum(h("x_cents") * h("y_orders")).alias("sxy"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    nd = dd("n")
    d = m.select(
        "segment",
        F.col("n").cast("long").alias("n_customers"),
        ((dd("sx") / dd("sy")) / F.lit(100.0)).alias("r"),
        ((dd("sxx") - dd("sx") * dd("sx") / nd) / (nd - F.lit(1.0))).alias("vx"),
        ((dd("syy") - dd("sy") * dd("sy") / nd) / (nd - F.lit(1.0))).alias("vy"),
        ((dd("sxy") - dd("sx") * dd("sy") / nd) / (nd - F.lit(1.0))).alias("vxy"),
        (dd("sy") / nd).alias("ybar"),
        (dd("sx") / nd).alias("xbar"),
        nd.alias("nd"),
    )
    return d.select(
        "segment",
        "n_customers",
        F.round("r", 4).alias("revenue_per_order"),
        F.round(
            F.sqrt(
                (
                    F.col("vx") / F.lit(10000.0)
                    + (F.col("r") * F.col("r")) * F.col("vy")
                    - (F.lit(2.0) * F.col("r")) * (F.col("vxy") / F.lit(100.0))
                )
                / (F.col("ybar") * F.col("ybar"))
                / F.col("nd")
            ),
            6,
        ).alias("delta_se"),
    ).orderBy("segment")


@query(
    "two_proportion_ztest_components",
    oracle="""
WITH s AS (
  SELECT c.c_mktsegment AS seg,
         count(*)::BIGINT AS n,
         sum(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT
           AS x
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
  GROUP BY 1
),
w AS (
  SELECT max(CASE WHEN seg = 'BUILDING' THEN x END) AS x1,
         max(CASE WHEN seg = 'BUILDING' THEN n END) AS n1,
         max(CASE WHEN seg = 'MACHINERY' THEN x END) AS x2,
         max(CASE WHEN seg = 'MACHINERY' THEN n END) AS n2
  FROM s
)
SELECT n1, n2,
       round(x1::DOUBLE / n1, 6) AS p1,
       round(x2::DOUBLE / n2, 6) AS p2,
       round((x1::DOUBLE / n1 - x2::DOUBLE / n2)
             / sqrt(((x1 + x2)::DOUBLE / (n1 + n2))
                    * (1.0 - (x1 + x2)::DOUBLE / (n1 + n2))
                    * (1.0 / n1 + 1.0 / n2)), 6) AS z_stat
FROM w
""",
)
def two_proportion_ztest_components(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-proportion z-test components (urgent-order rate, BUILDING vs
    MACHINERY customers) — the proportions member of the H-family
    (reference analogue: the categorical contrasts around
    BigDataProject.R:264): pooled-variance z from four exact integer
    counts, every probability one division, the z a single fixed
    expression — nothing in the fold can drift between engines at 6dp.

    Scale: one broadcast dim join, one grouped count to 2 rows, then
    scalar arithmetic; the canonical conversion-rate A/B readout."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    s = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("x"),
        )
    )
    w = s.agg(
        F.max(F.when(F.col("seg") == "BUILDING", F.col("x"))).alias("x1"),
        F.max(F.when(F.col("seg") == "BUILDING", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("seg") == "MACHINERY", F.col("x"))).alias("x2"),
        F.max(F.when(F.col("seg") == "MACHINERY", F.col("n"))).alias("n2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    pp = (F.col("x1") + F.col("x2")).cast("double") / (F.col("n1") + F.col("n2"))
    return w.select(
        "n1",
        "n2",
        F.round(d("x1") / F.col("n1"), 6).alias("p1"),
        F.round(d("x2") / F.col("n2"), 6).alias("p2"),
        F.round(
            (d("x1") / F.col("n1") - d("x2") / F.col("n2"))
            / F.sqrt(
                pp
                * (F.lit(1.0) - pp)
                * (F.lit(1.0) / F.col("n1") + F.lit(1.0) / F.col("n2"))
            ),
            6,
        ).alias("z_stat"),
    )


@query(
    "kaplan_meier_second_order",
    oracle="""
WITH r AS (
  SELECT o_custkey, CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
),
mx AS (SELECT max(CAST(date_trunc('day', o_orderdate) AS DATE)) AS mxd
       FROM orders),
subj AS (
  SELECT f.o_custkey,
         CASE WHEN s.d IS NOT NULL THEN s.d - f.d
              ELSE mx.mxd - f.d END AS dur,
         CASE WHEN s.d IS NOT NULL THEN 1 ELSE 0 END AS event
  FROM (SELECT o_custkey, d FROM r WHERE rn = 1) f
  LEFT JOIN (SELECT o_custkey, d FROM r WHERE rn = 2) s USING (o_custkey)
  CROSS JOIN mx
),
byd AS (
  SELECT dur, count(*)::BIGINT AS c, sum(event)::BIGINT AS deaths
  FROM subj GROUP BY 1
),
tot AS (SELECT sum(c)::BIGINT AS n FROM byd),
risk AS (
  SELECT dur, deaths,
         tot.n - (sum(c) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) - c)
           AS n_risk
  FROM byd, tot
),
f AS (
  SELECT dur, ln(1.0 - deaths::DOUBLE / n_risk) AS lnf
  FROM risk WHERE deaths > 0 AND deaths < n_risk
),
h AS (SELECT unnest([7, 14, 30, 60, 90]) AS horizon)
SELECT h.horizon::BIGINT AS horizon_days,
       (SELECT sum(CASE WHEN dur >= h.horizon THEN c ELSE 0 END)
        FROM byd)::BIGINT AS n_at_risk,
       round(exp(coalesce((SELECT sum(lnf) FROM f WHERE dur <= h.horizon),
                          0.0)), 6) AS survival
FROM h ORDER BY horizon_days
""",
)
def kaplan_meier_second_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate for time-to-REPEAT-order: each
    customer enters at their first order; the event is the second order
    (gap in days), censored at the corpus's last order date for
    one-order customers — the right-censoring machinery a plain
    quantile of observed gaps gets wrong (it ignores customers who
    simply haven't repeated YET). S(t) = prod over event times <= t of
    (1 - d_i/n_i), evaluated at 7/14/30/60/90-day horizons with the
    at-risk count alongside. Durations are exact integer days; each
    factor is ln of a ratio of exact counts; the per-horizon fold is
    one aggregate sum of k doubles (reassociation noise ~1e-15,
    invisible at 6dp) and one exp.

    Scale: the subject table comes from a (customer)-partitioned
    rank window; the risk table from grouped counts plus the
    range-partitioned cumulative over the distinct-duration domain
    (calendar-bounded); horizons fold via conditional aggregates —
    no per-subject expansion beyond the one rank pass."""
    from pyspark.sql import Window

    from ..operators.windows import range_partitioned_cumsum

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    r = orders.select(
        "o_custkey",
        F.to_date(F.date_trunc("day", "o_orderdate")).alias("d"),
        F.row_number().over(w).alias("rn"),
    )
    mx = orders.agg(
        F.max(F.to_date(F.date_trunc("day", "o_orderdate"))).alias("mxd")
    )
    # ONE window pass: filtering ``r`` twice (rn=1 / rn=2) and joining
    # the halves would evaluate the rank window twice plus a join. A
    # groupBy on the window's
    # own partition key folds both dates out of one pass and reuses the
    # window's exchange outright: fd = d at rn=1 (exactly one row per
    # customer), sd = d at rn=2 (at most one row — min(when) IS the
    # left join's NULL-when-absent semantics).
    per_cust = (
        r.filter(F.col("rn") <= 2)
        .groupBy("o_custkey")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("d"))).alias("fd"),
            F.min(F.when(F.col("rn") == 2, F.col("d"))).alias("sd"),
        )
    )
    subj = per_cust.crossJoin(F.broadcast(mx)).select(
        F.when(
            F.col("sd").isNotNull(), F.datediff("sd", "fd")
        )
        .otherwise(F.datediff("mxd", "fd"))
        .alias("dur"),
        F.when(F.col("sd").isNotNull(), 1).otherwise(0).alias("event"),
    )
    byd = subj.groupBy("dur").agg(
        F.count(F.lit(1)).alias("c"), F.sum("event").alias("deaths")
    )
    from ..plans.materialize import pinned

    byd = pinned(byd, "km_byd")  # consumed by risk, horizons, total
    tot = byd.agg(F.sum("c").cast("long").alias("n"))
    risk = (
        range_partitioned_cumsum(byd, ["dur"], ["c"])
        .crossJoin(F.broadcast(tot))
        .select(
            "dur",
            "deaths",
            (F.col("n") - (F.col("cum_c") - F.col("c"))).alias("n_risk"),
        )
    )
    f = risk.filter(
        (F.col("deaths") > 0) & (F.col("deaths") < F.col("n_risk"))
    ).select(
        "dur",
        F.log(
            F.lit(1.0) - F.col("deaths").cast("double") / F.col("n_risk")
        ).alias("lnf"),
    )
    horizons = local_frame(
        spark,
        [(h,) for h in (7, 14, 30, 60, 90)], "horizon long"
    )
    at_risk = horizons.join(F.broadcast(byd)).groupBy("horizon").agg(
        F.sum(
            F.when(F.col("dur") >= F.col("horizon"), F.col("c")).otherwise(0)
        ).alias("n_at_risk")
    )
    surv = horizons.join(F.broadcast(f)).groupBy("horizon").agg(
        F.round(
            F.exp(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("dur") <= F.col("horizon"), F.col("lnf")
                        )
                    ),
                    F.lit(0.0),
                )
            ),
            6,
        ).alias("survival")
    )
    return (
        at_risk.join(surv, "horizon")
        .select(
            F.col("horizon").alias("horizon_days"),
            "n_at_risk",
            "survival",
        )
        .orderBy("horizon_days")
    )


@query(
    "logrank_test_components",
    oracle="""
WITH r AS (
  SELECT o.o_custkey, CAST(date_trunc('day', o.o_orderdate) AS DATE) AS d,
         row_number() OVER (PARTITION BY o.o_custkey
                            ORDER BY o.o_orderdate, o.o_orderkey) AS rn,
         CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g1
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
mx AS (SELECT max(d) AS mxd FROM r),
subj AS (
  SELECT f.g1,
         CASE WHEN s.d IS NOT NULL THEN s.d - f.d ELSE mx.mxd - f.d END AS dur,
         CASE WHEN s.d IS NOT NULL THEN 1 ELSE 0 END AS event
  FROM (SELECT o_custkey, d, g1 FROM r WHERE rn = 1) f
  LEFT JOIN (SELECT o_custkey, d FROM r WHERE rn = 2) s USING (o_custkey)
  CROSS JOIN mx
),
byd AS (
  SELECT dur,
         sum(g1)::BIGINT AS c1, sum(1 - g1)::BIGINT AS c2,
         sum(g1 * event)::BIGINT AS d1, sum((1 - g1) * event)::BIGINT AS d2
  FROM subj GROUP BY 1
),
tot AS (SELECT sum(c1)::BIGINT AS n1tot, sum(c2)::BIGINT AS n2tot FROM byd),
risk AS (
  SELECT dur, d1, d2,
         tot.n1tot - (sum(c1) OVER w - c1) AS n1,
         tot.n2tot - (sum(c2) OVER w - c2) AS n2
  FROM byd, tot
  WINDOW w AS (ORDER BY dur ROWS UNBOUNDED PRECEDING)
),
terms AS (
  SELECT d1, d2, n1, n2, d1 + d2 AS dt, n1 + n2 AS nt
  FROM risk WHERE d1 + d2 > 0
),
s AS (
  SELECT sum(d1 - dt * (n1::DOUBLE / nt)) AS o_minus_e,
         sum(CASE WHEN nt > 1 THEN
               dt * (n1::DOUBLE / nt) * (1.0 - n1::DOUBLE / nt)
                  * (nt - dt) / (nt - 1.0)
             ELSE 0.0 END) AS v
  FROM terms
)
SELECT tot.n1tot AS n1, tot.n2tot AS n2,
       round(s.o_minus_e, 4) AS o_minus_e,
       round(s.v, 4) AS variance,
       round(s.o_minus_e / sqrt(s.v), 6) AS z_stat
FROM s, tot
""",
)
def logrank_test_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test components comparing time-to-repeat-
    order between BUILDING customers and everyone else — the hypothesis
    test that belongs with kaplan_meier_second_order (comparing raw gap
    means ignores censoring; the log-rank weighs each event time by its
    at-risk composition). At every event time: observed group-1 deaths
    minus expected under the null (d_t * n1_t/n_t), and the
    hypergeometric variance term; z = (O-E)/sqrt(V). Counts are exact
    integers throughout; each term is a fixed double expression; the
    folds run over the distinct-duration domain.

    Scale: one ranked pass per customer (partitioned window), grouped
    counts to the duration grain, the per-group at-risk table from ONE
    range-partitioned cumulative carrying both group columns, then a
    k-row fold."""
    from pyspark.sql import Window

    from ..operators.windows import range_partitioned_cumsum

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    r = j.select(
        "o_custkey",
        F.to_date(F.date_trunc("day", "o_orderdate")).alias("d"),
        F.row_number().over(w).alias("rn"),
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("g1"),
    )
    # mxd never needed the rank — aggregate the joined scan directly
    # (the windowed form paid a full window pass for one max; the join
    # preserves the row multiset, so max(d) is identical) (r12).
    mx = j.agg(
        F.max(F.to_date(F.date_trunc("day", "o_orderdate"))).alias("mxd")
    )
    # r12: ONE window pass — same fusion as kaplan_meier_second_order
    # (two rn-filters + join → groupBy on the window's partition key;
    # g1 is constant per customer, so reading it off the rn=1 row is
    # exactly the old first-half projection).
    per_cust = (
        r.filter(F.col("rn") <= 2)
        .groupBy("o_custkey")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("d"))).alias("fd"),
            F.min(F.when(F.col("rn") == 2, F.col("d"))).alias("sd"),
            F.min(F.when(F.col("rn") == 1, F.col("g1"))).alias("g1"),
        )
    )
    subj = per_cust.crossJoin(F.broadcast(mx)).select(
        "g1",
        F.when(F.col("sd").isNotNull(), F.datediff("sd", "fd"))
        .otherwise(F.datediff("mxd", "fd"))
        .alias("dur"),
        F.when(F.col("sd").isNotNull(), 1).otherwise(0).alias("event"),
    )
    byd = subj.groupBy("dur").agg(
        F.sum("g1").alias("c1"),
        F.sum(1 - F.col("g1")).alias("c2"),
        F.sum(F.col("g1") * F.col("event")).alias("d1"),
        F.sum((1 - F.col("g1")) * F.col("event")).alias("d2"),
    )
    cum0, part = range_partitioned_cumsum(
        byd, ["dur"], ["c1", "c2"], with_part=True
    )
    # arm totals = one flat aggregate over the PINNED partitioned
    # counts: the separate ``byd.agg`` re-ran the whole subject
    # derivation (rank window + join) a second time (guide §1.2).
    tot = part.agg(
        F.sum("c1").cast("long").alias("n1tot"),
        F.sum("c2").cast("long").alias("n2tot"),
    )
    risk = (
        cum0
        .crossJoin(F.broadcast(tot))
        .select(
            "d1",
            "d2",
            (F.col("n1tot") - (F.col("cum_c1") - F.col("c1"))).alias("n1"),
            (F.col("n2tot") - (F.col("cum_c2") - F.col("c2"))).alias("n2"),
        )
    )
    terms = risk.filter(F.col("d1") + F.col("d2") > 0).select(
        "d1",
        (F.col("d1") + F.col("d2")).alias("dt"),
        (F.col("n1") + F.col("n2")).alias("nt"),
        "n1",
    )
    p1 = F.col("n1").cast("double") / F.col("nt")
    s = terms.agg(
        F.sum(F.col("d1") - F.col("dt") * p1).alias("o_minus_e"),
        F.sum(
            F.when(
                F.col("nt") > 1,
                F.col("dt")
                * p1
                * (F.lit(1.0) - p1)
                * (F.col("nt") - F.col("dt"))
                / (F.col("nt") - F.lit(1.0)),
            ).otherwise(0.0)
        ).alias("v"),
    )
    return s.crossJoin(F.broadcast(tot)).select(
        F.col("n1tot").alias("n1"),
        F.col("n2tot").alias("n2"),
        F.round("o_minus_e", 4).alias("o_minus_e"),
        F.round("v", 4).alias("variance"),
        F.round(F.col("o_minus_e") / F.sqrt("v"), 6).alias("z_stat"),
    )


@query(
    "anderson_darling_k_sample",
    oracle="""
WITH s AS (SELECT o_totalprice AS v, o_orderpriority AS g FROM orders),
vg AS (SELECT v, g, count(*)::BIGINT AS f FROM s GROUP BY 1, 2),
bv AS (SELECT v, sum(f)::BIGINT AS l FROM vg GROUP BY 1),
cumv AS (
  SELECT v, l,
         2 * sum(l) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - l AS b2
  FROM bv
),
grps AS (SELECT g, sum(f)::BIGINT AS ni FROM vg GROUP BY 1),
grid AS (
  SELECT cumv.v, cumv.l, cumv.b2, grps.g, grps.ni,
         coalesce(vg.f, 0) AS f
  FROM cumv CROSS JOIN grps
  LEFT JOIN vg ON vg.v = cumv.v AND vg.g = grps.g
),
mg AS (
  SELECT g, ni, l, b2,
         2 * sum(f) OVER (PARTITION BY g ORDER BY v
                          ROWS UNBOUNDED PRECEDING) - f AS m2
  FROM grid
),
tot AS (SELECT sum(l)::BIGINT AS n, count(*)::BIGINT AS ld FROM bv),
kk AS (SELECT count(*)::BIGINT AS k FROM grps),
terms AS (
  SELECT g, ni,
         l * (tot.n * m2 - ni * b2)::DOUBLE * (tot.n * m2 - ni * b2)
           / (b2::DOUBLE * (2 * tot.n - b2) - tot.n * l) AS t
  FROM mg, tot
  WHERE b2::DOUBLE * (2 * tot.n - b2) - tot.n * l > 0
),
per_g AS (SELECT g, sum(t) / max(ni) AS sg FROM terms GROUP BY 1)
SELECT kk.k, tot.n, tot.ld AS n_distinct,
       round((tot.n - 1.0) * (SELECT sum(sg) FROM per_g)
             / (tot.n::DOUBLE * tot.n), 6) AS a2_akn
FROM tot, kk
""",
)
def anderson_darling_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-adjusted k-sample Anderson-Darling statistic (order value
    across all five priorities) — the heavy-tail-sensitive companion of
    Kruskal-Wallis (AD weights the distribution TAILS where KW's rank
    sums are tail-blind). Scholz-Stephens midrank form: with doubled
    midranks m2 = 2*cumsum - f and b2 = 2*cum - l every intermediate is
    an exact integer (the doubled-rank /2s cancel between numerator and
    denominator, leaving one final /N^2); each term is one IEEE expression over exact operands and
    the per-group fold divides by n_i once.

    Scale: the dense (group x distinct-value) grid is k*L rows; the
    pooled cumulative runs over the value-compressed domain via
    range_partitioned_cumsum (no global single-task window — same route
    as kruskal_wallis_components), and the per-group cumulative (r12)
    runs as ONE global range-partitioned cumulative over (g, v) minus
    bounded per-group offsets — parallel across the value domain, no
    k-partition window for AQE to serialize."""
    from ..operators.windows import range_partitioned_cumsum

    orders = load_table(spark, sf_dir, "orders")
    s = orders.select(
        F.col("o_totalprice").alias("v"), F.col("o_orderpriority").alias("g")
    )
    from ..plans.materialize import pinned_lru

    # pinned (r11): vg feeds the value totals, the group sizes, AND the
    # (v,g) grid join — three evaluations of the fact groupBy before
    # (guide §1.2). Distinct-(value,group) rows, LRU-bounded.
    vg = pinned_lru(
        s.groupBy("v", "g").agg(F.count(F.lit(1)).alias("f")),
        "ad_vg",
        keep=2,
        eager=False,  # lazy: the first consumer materializes the cache in-pass
    )
    bv = vg.groupBy("v").agg(F.sum("f").alias("l"))
    cumv = range_partitioned_cumsum(bv, ["v"], ["l"]).select(
        "v", "l", (2 * F.col("cum_l") - F.col("l")).alias("b2")
    )
    grps = vg.groupBy("g").agg(F.sum("f").alias("ni"))
    grid = (
        cumv.crossJoin(F.broadcast(grps))
        .join(vg, ["v", "g"], "left")
        .select(
            "v", "l", "b2", "g", "ni", F.coalesce("f", F.lit(0)).alias("f")
        )
    )
    # r12 (guide §2.5): the per-group cumulative ran as a
    # ``Window.partitionBy(g)`` over the k*L grid — k=5 partitions, and
    # AQE's byte-based coalescing serialized the whole fold onto 1-3
    # tasks (the residual ~1.5 s single-task stage the r11 round
    # flagged). Same discipline as exact_percentiles_distributed_grouped:
    # ONE global range-partitioned cumulative over (g, v) order —
    # parallel across the value domain even inside one group — minus
    # each group's exclusive offset (sum of preceding groups' sizes,
    # a bounded k-row triangle broadcast). Identical exact integers:
    # intra-group cum(f) = global (g,v)-cum(f) − Σ ni of groups < g.
    gcum = range_partitioned_cumsum(grid, ["g", "v"], ["f"])
    gb = grps.select(F.col("g").alias("_g2"), F.col("ni").alias("_ni2"))
    off = (
        grps.join(F.broadcast(gb), F.col("_g2") < F.col("g"), "left")
        .groupBy("g")
        .agg(F.coalesce(F.sum("_ni2"), F.lit(0)).alias("_off"))
    )
    mg = gcum.join(F.broadcast(off), "g").select(
        "g",
        "ni",
        "l",
        "b2",
        (2 * (F.col("cum_f") - F.col("_off")) - F.col("f")).alias("m2"),
    )
    tot = bv.agg(
        F.sum("l").cast("long").alias("n"),
        F.count(F.lit(1)).alias("ld"),
    )
    kk = grps.agg(F.count(F.lit(1)).alias("k"))
    j = mg.crossJoin(F.broadcast(tot))
    num = (F.col("n") * F.col("m2") - F.col("ni") * F.col("b2")).cast("double")
    den = F.col("b2").cast("double") * (2 * F.col("n") - F.col("b2")) - F.col(
        "n"
    ) * F.col("l")
    terms = j.filter(den > 0).select(
        "g", "ni", (F.col("l") * num * num / den).alias("t")
    )
    per_g = terms.groupBy("g").agg(
        (F.sum("t") / F.max("ni")).alias("sg")
    )
    ssum = per_g.agg(F.sum("sg").alias("ssum"))
    return (
        tot.crossJoin(F.broadcast(kk))
        .crossJoin(F.broadcast(ssum))
        .select(
            "k",
            "n",
            F.col("ld").alias("n_distinct"),
            F.round(
                (F.col("n") - F.lit(1.0))
                * F.col("ssum")
                / (F.col("n").cast("double") * F.col("n")),
                6,
            ).alias("a2_akn"),
        )
    )


# --------------------------------------------------------------------------
# Round-5 additions: repeated-measures + association + model diagnostics.
# --------------------------------------------------------------------------


@query(
    "friedman_test_components",
    oracle=r"""
WITH d AS (
  SELECT date_trunc('week', o_orderdate) AS wk, dayofweek(o_orderdate) AS dow,
         sum(round(o_totalprice * 100)::BIGINT) AS cents
  FROM orders GROUP BY 1, 2
),
full_wk AS (
  SELECT wk FROM d GROUP BY wk HAVING count(*) = 7
),
r AS (
  SELECT d.wk, d.dow,
         row_number() OVER (PARTITION BY d.wk ORDER BY d.cents, d.dow) AS rk
  FROM d JOIN full_wk USING (wk)
),
rb AS (SELECT dow, avg(rk::DOUBLE) AS rbar, count(*)::BIGINT AS n_blocks FROM r GROUP BY dow),
q AS (
  SELECT max(n_blocks) AS n, 7::BIGINT AS k,
         sum((rbar - (7 + 1) / 2.0) * (rbar - (7 + 1) / 2.0)) AS ss
  FROM rb
)
SELECT n AS n_blocks, k AS n_treatments,
       round(12.0 * n / (k * (k + 1)) * ss, 6) AS q_stat,
       (k - 1)::BIGINT AS df
FROM q
""",
)
def friedman_test_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test (nonparametric repeated-measures ANOVA):
    blocks = complete ISO weeks, treatments = the 7 weekdays, response =
    daily revenue in exact cents. Ranks are per-block windows (partition
    key = week — bounded 7-row frames, embarrassingly parallel at any
    week count); Q = 12n/(k(k+1))·Σ(R̄_j − (k+1)/2)². Ties are broken by
    weekday on BOTH engines (cents collisions across the days of one
    week are measure-zero, and the deterministic tiebreak makes the
    rank assignment engine-identical regardless).

    Scale: one day-grain aggregate, one 7-row-per-block window, one
    k-row reduce — the repeated-measures test that replaces a driver
    loop over blocks at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(
        F.date_trunc("week", "o_orderdate").alias("wk"),
        F.dayofweek("o_orderdate").alias("dow"),
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    full_wk = d.groupBy("wk").count().filter(F.col("count") == 7).select("wk")
    from pyspark.sql import Window

    w = Window.partitionBy("wk").orderBy("cents", "dow")
    r = d.join(full_wk, "wk").withColumn("rk", F.row_number().over(w))
    rb = r.groupBy("dow").agg(
        F.avg(F.col("rk").cast("double")).alias("rbar"),
        F.count(F.lit(1)).alias("n_blocks"),
    )
    k = 7
    q = rb.agg(
        F.max("n_blocks").alias("n"),
        F.sum(
            (F.col("rbar") - (k + 1) / 2.0) * (F.col("rbar") - (k + 1) / 2.0)
        ).alias("ss"),
    )
    return q.select(
        F.col("n").alias("n_blocks"),
        F.lit(k).cast("long").alias("n_treatments"),
        F.round(12.0 * F.col("n") / (k * (k + 1)) * F.col("ss"), 6).alias("q_stat"),
        F.lit(k - 1).cast("long").alias("df"),
    )


@query(
    "urgent_highvalue_kappa",
    oracle=r"""
WITH med AS (SELECT quantile_cont(o_totalprice, 0.5) AS m FROM orders),
lab AS (
  SELECT (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS r1,
         (o_totalprice > med.m) AS r2
  FROM orders, med
),
c AS (
  SELECT count(*)::DOUBLE AS n,
         sum((r1 AND r2)::BIGINT)::DOUBLE AS a,
         sum((r1 AND NOT r2)::BIGINT)::DOUBLE AS b,
         sum((NOT r1 AND r2)::BIGINT)::DOUBLE AS c_,
         sum((NOT r1 AND NOT r2)::BIGINT)::DOUBLE AS d
  FROM lab
),
k AS (
  SELECT n, a, b, c_, d,
         (a + d) / n AS po,
         ((a + b) / n) * ((a + c_) / n) + ((c_ + d) / n) * ((b + d) / n) AS pe
  FROM c
)
SELECT n::BIGINT AS n_orders, a::BIGINT AS both_yes, d::BIGINT AS both_no,
       round(po, 6) AS observed_agreement,
       round(pe, 6) AS expected_agreement,
       round((po - pe) / (1 - pe), 6) AS cohens_kappa
FROM k
""",
)
def urgent_highvalue_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two binary labelers of the same orders —
    'is urgent/high priority' vs 'is above-median value' — the
    chance-corrected agreement measure behind every labeling-quality
    audit (two annotators, model-vs-heuristic, weak supervision). κ =
    (p_o − p_e)/(1 − p_e) from the exact 2×2 contingency counts; the
    median threshold comes from the type-7 distributed percentile both
    engines interpolate identically.

    Scale: one percentile pass + one 4-cell contingency aggregate."""
    from ..operators.aggregates import percentile_expr

    orders = load_table(spark, sf_dir, "orders")
    med = orders.agg(percentile_expr("o_totalprice", 0.5).alias("m"))
    lab = orders.crossJoin(F.broadcast(med)).select(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("r1"),
        (F.col("o_totalprice") > F.col("m")).alias("r2"),
    )
    c = lab.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum((F.col("r1") & F.col("r2")).cast("long")).cast("double").alias("a"),
        F.sum((F.col("r1") & ~F.col("r2")).cast("long")).cast("double").alias("b"),
        F.sum((~F.col("r1") & F.col("r2")).cast("long")).cast("double").alias("c_"),
        F.sum((~F.col("r1") & ~F.col("r2")).cast("long")).cast("double").alias("d"),
    )
    po = (F.col("a") + F.col("d")) / F.col("n")
    pe = ((F.col("a") + F.col("b")) / F.col("n")) * (
        (F.col("a") + F.col("c_")) / F.col("n")
    ) + ((F.col("c_") + F.col("d")) / F.col("n")) * (
        (F.col("b") + F.col("d")) / F.col("n")
    )
    return c.select(
        F.col("n").cast("long").alias("n_orders"),
        F.col("a").cast("long").alias("both_yes"),
        F.col("d").cast("long").alias("both_no"),
        F.round(po, 6).alias("observed_agreement"),
        F.round(pe, 6).alias("expected_agreement"),
        F.round((po - pe) / (1 - pe), 6).alias("cohens_kappa"),
    )


@query(
    "priority_status_cramers_v",
    oracle=r"""
WITH ct AS (
  SELECT o_orderpriority AS r, o_orderstatus AS c, count(*)::DOUBLE AS o
  FROM orders GROUP BY 1, 2
),
m AS (
  SELECT r, c, o,
         sum(o) OVER (PARTITION BY r) AS rt,
         sum(o) OVER (PARTITION BY c) AS ct_,
         sum(o) OVER () AS n
  FROM ct
),
chi AS (
  SELECT max(n) AS n, sum((o - rt * ct_ / n) * (o - rt * ct_ / n) / (rt * ct_ / n)) AS chi2,
         count(DISTINCT r)::BIGINT AS nr, count(DISTINCT c)::BIGINT AS nc
  FROM m
)
SELECT n::BIGINT AS n_orders, round(chi2, 6) AS chi2,
       ((nr - 1) * (nc - 1))::BIGINT AS dof,
       round(sqrt(chi2 / (n * (least(nr, nc) - 1))), 6) AS cramers_v
FROM chi
""",
)
def priority_status_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V — the [0, 1]-normalized effect size of the χ²
    independence test between order priority (5 levels) and order
    status (3 levels): V = √(χ²/(n·(min(r,c)−1))). The χ² itself folds
    from the k×m contingency cells exactly as
    ``chi2_independence_components`` does; V is what makes association
    strengths comparable ACROSS tables of different shape (the feature-
    selection readout, where raw χ² is dof-incomparable).

    Scale: one contingency aggregate (k×m cells), marginals by windows
    over the CELL table (bounded by cardinality product, never rows)."""
    orders = load_table(spark, sf_dir, "orders")
    ct = orders.groupBy(
        F.col("o_orderpriority").alias("r"), F.col("o_orderstatus").alias("c")
    ).agg(F.count(F.lit(1)).cast("double").alias("o"))
    from pyspark.sql import Window

    m = ct.select(
        "r",
        "c",
        "o",
        F.sum("o").over(Window.partitionBy("r")).alias("rt"),
        F.sum("o").over(Window.partitionBy("c")).alias("ct_"),
    )
    tot = ct.agg(F.sum("o").alias("n"))
    m = m.crossJoin(F.broadcast(tot))
    e = F.col("rt") * F.col("ct_") / F.col("n")
    chi = m.agg(
        F.max("n").alias("n"),
        F.sum((F.col("o") - e) * (F.col("o") - e) / e).alias("chi2"),
        F.count_distinct("r").alias("nr"),
        F.count_distinct("c").alias("nc"),
    )
    return chi.select(
        F.col("n").cast("long").alias("n_orders"),
        F.round("chi2", 6).alias("chi2"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
        F.round(
            F.sqrt(F.col("chi2") / (F.col("n") * (F.least("nr", "nc") - 1))), 6
        ).alias("cramers_v"),
    )


@query(
    "ab_srm_check",
    oracle=r"""
WITH u AS (
  SELECT DISTINCT user_id,
         ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2 AS arm
  FROM events
),
c AS (
  SELECT sum((arm = 0)::BIGINT)::DOUBLE AS na,
         sum((arm = 1)::BIGINT)::DOUBLE AS nb
  FROM u
)
SELECT na::BIGINT AS n_arm_a, nb::BIGINT AS n_arm_b,
       round((na - (na + nb) / 2) * (na - (na + nb) / 2) / ((na + nb) / 2)
           + (nb - (na + nb) / 2) * (nb - (na + nb) / 2) / ((na + nb) / 2),
           6) AS chi2,
       1::BIGINT AS df,
       ((na - (na + nb) / 2) * (na - (na + nb) / 2) / ((na + nb) / 2)
           + (nb - (na + nb) / 2) * (nb - (na + nb) / 2) / ((na + nb) / 2))
         < 3.841458820694124 AS srm_pass
FROM c
""",
)
def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for hash-based A/B assignment:
    users split 50/50 by the engine-portable md5 hash; the χ² of the
    observed split against the designed ratio (df=1, α=0.05 critical
    value 3.8415) is the first check every experimentation platform
    runs before reading ANY metric — a failed SRM means the assignment
    (or logging) is broken and all downstream stats are invalid. The
    assignment hash replays bit-for-bit in DuckDB, so the driver checks
    the actual production decision, not a simulation.

    Scale: one distinct-users aggregate; two counts."""
    ev = load_table(spark, sf_dir, "events")
    from ..llm.text import portable_hash60

    u = ev.select("user_id").distinct().select(
        (portable_hash60(F.col("user_id").cast("string")) % 2).alias("arm")
    )
    c = u.agg(
        F.sum((F.col("arm") == 0).cast("long")).cast("double").alias("na"),
        F.sum((F.col("arm") == 1).cast("long")).cast("double").alias("nb"),
    )
    half = (F.col("na") + F.col("nb")) / 2
    chi2 = (F.col("na") - half) * (F.col("na") - half) / half + (
        F.col("nb") - half
    ) * (F.col("nb") - half) / half
    return c.select(
        F.col("na").cast("long").alias("n_arm_a"),
        F.col("nb").cast("long").alias("n_arm_b"),
        F.round(chi2, 6).alias("chi2"),
        F.lit(1).cast("long").alias("df"),
        (chi2 < 3.841458820694124).alias("srm_pass"),
    )


@query(
    "cuped_variance_reduction",
    oracle=r"""
WITH pu AS (
  SELECT user_id,
         sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN value ELSE 0 END)
           AS pre,
         sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN value ELSE 0 END)
           AS post,
         ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2 AS arm
  FROM events GROUP BY user_id
),
o AS (
  SELECT count(*)::DOUBLE AS n, sum(pre) AS sp, sum(post) AS so,
         sum(pre * pre) AS spp, sum(pre * post) AS spo,
         sum(post * post) AS soo
  FROM pu
),
a AS (
  SELECT sum((arm = 0)::BIGINT)::DOUBLE AS na, sum((arm = 1)::BIGINT)::DOUBLE AS nb,
         sum(CASE WHEN arm = 0 THEN pre ELSE 0 END) AS spa,
         sum(CASE WHEN arm = 1 THEN pre ELSE 0 END) AS spb,
         sum(CASE WHEN arm = 0 THEN post ELSE 0 END) AS soa,
         sum(CASE WHEN arm = 1 THEN post ELSE 0 END) AS sob
  FROM pu
),
t AS (
  SELECT o.n, a.na, a.nb, a.spa, a.spb, a.soa, a.sob, o.sp,
         (o.spo - o.sp * o.so / o.n) / (o.spp - o.sp * o.sp / o.n) AS theta,
         (o.spo - o.sp * o.so / o.n) * (o.spo - o.sp * o.so / o.n)
           / ((o.spp - o.sp * o.sp / o.n) * (o.soo - o.so * o.so / o.n))
           AS vr
  FROM o, a
)
SELECT n::BIGINT AS n_users,
       round(theta, 6) AS theta,
       round(vr, 6) AS variance_reduction,
       round(sob / nb - soa / na, 6) AS diff_raw,
       round((sob / nb - theta * (spb / nb - sp / n))
           - (soa / na - theta * (spa / na - sp / n)), 6) AS diff_cuped
FROM t
""",
)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (controlled-experiment using pre-experiment data): adjust
    each user's post-period metric by θ·(pre − mean(pre)) with θ =
    cov(pre, post)/var(pre) — the industry-standard variance-reduction
    trick that shrinks experiment runtimes by the pre/post correlation
    squared (reported as ``variance_reduction``). Pre/post split at the
    corpus midpoint date; arms by the portable assignment hash (same
    decision ``ab_srm_check`` audits); the arm-mean difference is
    reported raw and CUPED-adjusted. All from one per-user aggregate +
    two bounded reduces — no second pass over events.

    Scale: events fold to one row per user (map-side combine), then
    five sufficient statistics; this is how CUPED runs on billions of
    events."""
    from ..llm.text import portable_hash60

    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    pu = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, F.col("value")).otherwise(0.0)).alias("pre"),
        F.sum(F.when(F.col("ts") >= cut, F.col("value")).otherwise(0.0)).alias(
            "post"
        ),
    ).select(
        "pre",
        "post",
        (portable_hash60(F.col("user_id").cast("string")) % 2).alias("arm"),
    )
    from ..plans.materialize import pinned

    pu = pinned(pu, "cuped_pu")  # consumed by both reduces
    o = pu.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("pre").alias("sp"),
        F.sum("post").alias("so"),
        F.sum(F.col("pre") * F.col("pre")).alias("spp"),
        F.sum(F.col("pre") * F.col("post")).alias("spo"),
        F.sum(F.col("post") * F.col("post")).alias("soo"),
    )
    a = pu.agg(
        F.sum((F.col("arm") == 0).cast("long")).cast("double").alias("na"),
        F.sum((F.col("arm") == 1).cast("long")).cast("double").alias("nb"),
        F.sum(F.when(F.col("arm") == 0, F.col("pre")).otherwise(0.0)).alias("spa"),
        F.sum(F.when(F.col("arm") == 1, F.col("pre")).otherwise(0.0)).alias("spb"),
        F.sum(F.when(F.col("arm") == 0, F.col("post")).otherwise(0.0)).alias("soa"),
        F.sum(F.when(F.col("arm") == 1, F.col("post")).otherwise(0.0)).alias("sob"),
    )
    t = o.crossJoin(F.broadcast(a))
    cov = F.col("spo") - F.col("sp") * F.col("so") / F.col("n")
    varp = F.col("spp") - F.col("sp") * F.col("sp") / F.col("n")
    varo = F.col("soo") - F.col("so") * F.col("so") / F.col("n")
    theta = cov / varp
    return t.select(
        F.col("n").cast("long").alias("n_users"),
        F.round(theta, 6).alias("theta"),
        F.round(cov * cov / (varp * varo), 6).alias("variance_reduction"),
        F.round(F.col("sob") / F.col("nb") - F.col("soa") / F.col("na"), 6).alias(
            "diff_raw"
        ),
        F.round(
            (
                F.col("sob") / F.col("nb")
                - theta * (F.col("spb") / F.col("nb") - F.col("sp") / F.col("n"))
            )
            - (
                F.col("soa") / F.col("na")
                - theta * (F.col("spa") / F.col("na") - F.col("sp") / F.col("n"))
            ),
            6,
        ).alias("diff_cuped"),
    )


@query(
    "nelson_aalen_cumulative_hazard",
    oracle="""
WITH r AS (
  SELECT o_custkey, CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
),
mx AS (SELECT max(CAST(date_trunc('day', o_orderdate) AS DATE)) AS mxd
       FROM orders),
subj AS (
  SELECT f.o_custkey,
         CASE WHEN s.d IS NOT NULL THEN s.d - f.d
              ELSE mx.mxd - f.d END AS dur,
         CASE WHEN s.d IS NOT NULL THEN 1 ELSE 0 END AS event
  FROM (SELECT o_custkey, d FROM r WHERE rn = 1) f
  LEFT JOIN (SELECT o_custkey, d FROM r WHERE rn = 2) s USING (o_custkey)
  CROSS JOIN mx
),
byd AS (
  SELECT dur, count(*)::BIGINT AS c, sum(event)::BIGINT AS deaths
  FROM subj GROUP BY 1
),
tot AS (SELECT sum(c)::BIGINT AS n FROM byd),
risk AS (
  SELECT dur, deaths,
         tot.n - (sum(c) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) - c)
           AS n_risk
  FROM byd, tot
),
f AS (
  SELECT dur, deaths::DOUBLE / n_risk AS hz
  FROM risk WHERE deaths > 0
),
h AS (SELECT unnest([7, 14, 30, 60, 90]) AS horizon)
SELECT h.horizon::BIGINT AS horizon_days,
       round(coalesce((SELECT sum(hz) FROM f WHERE dur <= h.horizon), 0.0), 6)
         AS cumulative_hazard,
       round(exp(-coalesce((SELECT sum(hz) FROM f WHERE dur <= h.horizon), 0.0)), 6)
         AS fleming_harrington_survival
FROM h ORDER BY horizon_days
""",
)
def nelson_aalen_cumulative_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative hazard H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ for the same
    time-to-repeat-order process as ``kaplan_meier_second_order``, with
    the Fleming–Harrington survival exp(−H) alongside — the estimator
    pair you want when hazard RATES (not just survival) drive decisions
    (repeat-purchase intensity, churn-hazard curves), and the numerics
    are one sum instead of a product. Same right-censored subject table,
    same range-partitioned risk-set cumulative; each hazard increment
    is a ratio of exact integers.

    Scale: identical shape to the KM query — subject rank pass, grouped
    counts, calendar-bounded cumulative, conditional-aggregate fold."""
    from pyspark.sql import Window

    from ..operators.windows import range_partitioned_cumsum
    from ..plans.materialize import pinned

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    r = orders.select(
        "o_custkey",
        F.to_date(F.date_trunc("day", "o_orderdate")).alias("d"),
        F.row_number().over(w).alias("rn"),
    )
    mx = orders.agg(
        F.max(F.to_date(F.date_trunc("day", "o_orderdate"))).alias("mxd")
    )
    # r12: ONE window pass — same fusion as kaplan_meier_second_order
    # (two rn-filters + join → groupBy on the window's partition key).
    per_cust = (
        r.filter(F.col("rn") <= 2)
        .groupBy("o_custkey")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("d"))).alias("fd"),
            F.min(F.when(F.col("rn") == 2, F.col("d"))).alias("sd"),
        )
    )
    subj = per_cust.crossJoin(F.broadcast(mx)).select(
        F.when(F.col("sd").isNotNull(), F.datediff("sd", "fd"))
        .otherwise(F.datediff("mxd", "fd"))
        .alias("dur"),
        F.when(F.col("sd").isNotNull(), 1).otherwise(0).alias("event"),
    )
    byd = subj.groupBy("dur").agg(
        F.count(F.lit(1)).alias("c"), F.sum("event").alias("deaths")
    )
    byd = pinned(byd, "na_byd")
    tot = byd.agg(F.sum("c").cast("long").alias("n"))
    cum = range_partitioned_cumsum(byd, ["dur"], ["c"])
    risk = cum.crossJoin(F.broadcast(tot)).select(
        "dur",
        "deaths",
        (F.col("n") - (F.col("cum_c") - F.col("c"))).alias("n_risk"),
    )
    f = risk.filter(F.col("deaths") > 0).select(
        "dur", (F.col("deaths").cast("double") / F.col("n_risk")).alias("hz")
    )
    horizons = [7, 14, 30, 60, 90]
    agg = f.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("dur") <= h, F.col("hz"))), F.lit(0.0)
            ).alias(f"h{h}")
            for h in horizons
        ]
    )
    rows = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(h).cast("long").alias("horizon_days"),
                        F.round(F.col(f"h{h}"), 6).alias("cumulative_hazard"),
                        F.round(F.exp(-F.col(f"h{h}")), 6).alias(
                            "fleming_harrington_survival"
                        ),
                    )
                    for h in horizons
                ]
            )
        ).alias("s")
    )
    return rows.select("s.*").orderBy("horizon_days")


# Poisson(1) inverse-CDF thresholds as CEILED 32-bit HEX strings: the
# uniform is an 8-hex-char md5 substring, and lowercase-hex lexicographic
# order IS numeric order, so the weight decision is one string compare
# per threshold — no base conversion, no division — and the SAME literal
# strings appear in the oracle SQL (u < c  <=>  h < ceil(c*2^32) in hex).
_POIS1_CDF = [
    0.367879441171442,
    0.735758882342885,
    0.919698602928606,
    0.980963858725512,
    0.996340153172656,
    0.999405815182418,
    0.999916758850712,
    0.999989750803325,
]
_POIS1_HEX = [format(math.ceil(c * 4294967296), "08x") for c in _POIS1_CDF]


def _pois_case_sql(h: str) -> str:
    branches = "".join(
        f" WHEN {h} < '{x}' THEN {k}" for k, x in enumerate(_POIS1_HEX)
    )
    return f"(CASE{branches} ELSE 8 END)"


def _pois_case_col(h: F.Column) -> F.Column:
    w = F.when(h < _POIS1_HEX[0], 0)
    for k in range(1, len(_POIS1_HEX)):
        w = w.when(h < _POIS1_HEX[k], k)
    return w.otherwise(8)


_BOOT_B = 32

# Each md5 digest feeds FOUR replicates (one 32-bit uniform per 8 hex
# chars) — 8 hashes per row instead of 32 (the hash was 4/5 of the
# query's cost at sf0.1); 32-bit resolution is ~2e-10, three orders
# finer than the tightest CDF threshold gap (~1e-5).
_BOOT_ORACLE = (
    "WITH w AS (\n  SELECT o_totalprice AS x,\n"
    + ",\n".join(
        "         "
        + _pois_case_sql(
            f"substr(md5({b // 4} || ':' || o_orderkey), {1 + 8 * (b % 4)}, 8)"
        )
        + f" AS w{b}"
        for b in range(_BOOT_B)
    )
    + "\n  FROM orders\n),\ns AS (\n  SELECT\n"
    + ",\n".join(
        f"         sum(w{b} * x) / sum(w{b}) AS m{b}" for b in range(_BOOT_B)
    )
    + ",\n         avg(x) AS mean_x, count(*)::BIGINT AS n\n  FROM w\n),\n"
    + "m AS (\n  SELECT n, mean_x,\n         ("
    + " + ".join(f"m{b}" for b in range(_BOOT_B))
    + f") / {_BOOT_B}.0 AS mbar,\n         ("
    + " + ".join(f"m{b} * m{b}" for b in range(_BOOT_B))
    + f") AS msq\n  FROM s\n)\n"
    + f"""SELECT n AS n_orders, round(mean_x, 6) AS mean_order_value,
       {_BOOT_B}::BIGINT AS n_replicates,
       round(sqrt((msq - {_BOOT_B}.0 * mbar * mbar) / ({_BOOT_B}.0 - 1)), 6)
         AS bootstrap_se
FROM m"""
)


@query("bootstrap_mean_se_order_value", oracle=_BOOT_ORACLE)
def bootstrap_mean_se_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online (Poisson) bootstrap standard error of the mean order value:
    each of B=32 replicates reweights every row by a DETERMINISTIC
    Poisson(1) draw — inverse-CDF on the portable 60-bit row hash of
    (replicate, key) — so the classic resample-with-replacement runs as
    ONE streaming aggregate (Σwx, Σw per replicate; no data movement, no
    per-replicate pass) and replays bit-for-bit in DuckDB. This is THE
    way to bootstrap at 100 TB: B extra aggregate columns instead of B
    shuffled copies of the data.

    SE = sample sd of the replicate means; the CDF thresholds are shared
    literals, so every weight decision is engine-identical.

    Plan-build note: the wide repetitive tree (8 digests → 32 CASE
    chains → 64 aggregates → two 32-term folds) is built as SQL STRINGS
    parsed JVM-side (selectExpr / F.expr), not as composed Column
    objects — the Column form cost ~3.3s of py4j round-trips PER CALL
    at plan-build time (measured round 7; execution itself is 0.06s).
    Same optimized plan, identical values."""
    orders = load_table(spark, sf_dir, "orders")

    # r11b (measured): the digest+weight aggregate ran on the SCAN's
    # 3 input splits (one 2.8 s stage = the whole query) — 8 md5s per
    # row is compute the input-split sizing knows nothing about.
    # Project the two needed columns and hash-repartition on the key
    # BEFORE the digests so the md5 work spreads across the cluster;
    # the exchange moves 16 bytes/row once. Every weight is a pure
    # function of (replicate, o_orderkey), so the reweighted sums are
    # the same MULTISET regardless of partitioning; their float64
    # partial-sum MERGE ORDER does change vs the old scan-split plan,
    # and it is the final 6dp round that absorbs the ~1e-15
    # reassociation noise and makes the RESULT partitioning-insensitive
    # (same discipline winsorized_correlation documents; oracle MATCH
    # verified at sf0.01 — ADVICE r11).
    orders = orders.select("o_totalprice", "o_orderkey").repartition(
        spark.sparkContext.defaultParallelism, "o_orderkey"
    )

    # materialize the digests as their OWN projection so each md5 runs
    # once per (row, group) — Catalyst does not reliably CSE the four
    # substring consumers of one digest expression
    dig = orders.selectExpr(
        "o_totalprice AS x",
        *[
            f"md5(concat('{g}:', CAST(o_orderkey AS STRING))) AS d{g}"
            for g in range(_BOOT_B // 4)
        ],
    )
    w = dig.selectExpr(
        "x",
        *[
            _pois_case_sql(f"substring(d{b // 4}, {1 + 8 * (b % 4)}, 8)")
            + f" AS w{b}"
            for b in range(_BOOT_B)
        ],
    )
    s = w.agg(
        *[F.expr(f"sum(w{b} * x) / sum(w{b})").alias(f"m{b}") for b in range(_BOOT_B)],
        F.expr("avg(x)").alias("mean_x"),
        F.expr("count(*)").alias("n"),
    )
    mbar = "(" + " + ".join(f"m{b}" for b in range(_BOOT_B)) + f") / {_BOOT_B}.0"
    msq = "(" + " + ".join(f"m{b} * m{b}" for b in range(_BOOT_B)) + ")"
    m = s.selectExpr("n", "mean_x", f"{mbar} AS mbar", f"{msq} AS msq")
    return m.selectExpr(
        "n AS n_orders",
        "round(mean_x, 6) AS mean_order_value",
        f"CAST({_BOOT_B} AS BIGINT) AS n_replicates",
        f"round(sqrt((msq - {_BOOT_B}.0 * mbar * mbar) / ({_BOOT_B}.0 - 1)), 6)"
        " AS bootstrap_se",
    )


_AMS_REPS = 8

_AMS_ORACLE = (
    """WITH f AS (
  SELECT l_partkey AS p, count(*)::BIGINT AS c FROM lineitem GROUP BY 1
),
e AS (
  SELECT
"""
    + ",\n".join(
        "         sum(CASE WHEN ('0x' || substr(md5('"
        + str(r)
        + ":' || p), 1, 15))::BIGINT & 1 = 1 THEN c ELSE -c END) AS z"
        + str(r)
        for r in range(_AMS_REPS)
    )
    + ",\n         sum(c * c)::BIGINT AS f2_exact, count(*)::BIGINT AS n_keys\n  FROM f\n)\n"
    + "SELECT n_keys, f2_exact,\n"
    + "       round(quantile_cont(est, 0.5), 6) AS f2_sketch_median,\n"
    + "       round(abs(quantile_cont(est, 0.5) - f2_exact) / f2_exact, 6)\n"
    + "         AS rel_error\n"
    + "FROM (\n  SELECT n_keys, f2_exact, unnest(["
    + ", ".join(f"(z{r} * z{r})::DOUBLE" for r in range(_AMS_REPS))
    + "]) AS est\n  FROM e\n)\nGROUP BY n_keys, f2_exact"
)


@query("ams_f2_sketch_check", oracle=_AMS_ORACLE)
def ams_f2_sketch_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS (Alon–Matias–Szegedy) second-frequency-moment sketch,
    mechanism-exact: 8 independent ±1 sign hashes (md5 parity — the
    portable Rademacher trick again) give estimates (Σ s(p)·f_p)² whose
    median estimates F2 = Σ f_p² — the self-join-size / skew estimator
    that runs in O(reps) memory where the exact answer needs the full
    frequency table. Reported against the EXACT F2 from the same
    grouped pass with the relative error — a sketch-calibration gate
    like ``minhash_estimate_calibration``, fully replayed by DuckDB
    (integer counts, integer signed sums, type-7 median of 8 exact
    squares).

    Scale: one hash aggregate to |keys| rows, then an 8-column fold."""
    li = load_table(spark, sf_dir, "lineitem")
    from ..llm.text import portable_hash60

    f = li.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).alias("c")
    )
    signs = [
        F.when(
            portable_hash60(
                F.concat(F.lit(f"{r}:"), F.col("p").cast("string"))
            ).bitwiseAND(F.lit(1))
            == 1,
            F.col("c"),
        )
        .otherwise(-F.col("c"))
        .alias(f"s{r}")
        for r in range(_AMS_REPS)
    ]
    e = f.select(*signs, "c").agg(
        *[F.sum(f"s{r}").alias(f"z{r}") for r in range(_AMS_REPS)],
        F.sum(F.col("c") * F.col("c")).cast("long").alias("f2_exact"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    ests = e.select(
        "n_keys",
        "f2_exact",
        F.explode(
            F.array(
                *[
                    (F.col(f"z{r}") * F.col(f"z{r}")).cast("double")
                    for r in range(_AMS_REPS)
                ]
            )
        ).alias("est"),
    )
    from ..operators.aggregates import percentile_expr

    med = ests.groupBy("n_keys", "f2_exact").agg(
        percentile_expr("est", 0.5).alias("med")
    )
    return med.select(
        "n_keys",
        "f2_exact",
        F.round("med", 6).alias("f2_sketch_median"),
        F.round(
            F.abs(F.col("med") - F.col("f2_exact")) / F.col("f2_exact"), 6
        ).alias("rel_error"),
    )


# ---- HyperLogLog (Flajolet et al. 2007), mechanism-exact and
# engine-portable: p=8 → m=256 registers over the shared 60-bit md5
# hash. bucket = top 8 bits; rho = leading-zero count of the remaining
# 52 bits + 1, computed EXACTLY via the minimal-width binary string
# (Spark bin == DuckDB bin — no floating log2). The register fold keeps
# the harmonic sum as an INTEGER: sum(2^(53-M_b)) + absent·2^53 (each
# term ≤ 2^53, 256 terms < 2^62 — no float order-of-addition hazard);
# only the final alpha·m²·2^53/S division and the small-range
# m·ln(m/V) correction touch doubles, identically on both sides.
_HLL_MASK = (1 << 52) - 1  # 4503599627370495
_HLL_2_53 = 1 << 53  # 9007199254740992


def _hll_oracle_block(i: int, expr: str, raw: str, label: str) -> str:
    return f"""h_{i} AS (
  SELECT ('0x' || substr(md5('hll:' || {expr}), 1, 15))::BIGINT AS h
  FROM orders
),
r_{i} AS (
  SELECT h >> 52 AS b,
         max(CASE WHEN (h & {_HLL_MASK}) = 0 THEN 53
                  ELSE 53 - length(bin(h & {_HLL_MASK})) END) AS m
  FROM h_{i} GROUP BY 1
),
s_{i} AS (
  SELECT (sum(1::BIGINT << (53 - m)) + (256 - count(*)) * {_HLL_2_53})::BIGINT AS s,
         (256 - count(*))::BIGINT AS v
  FROM r_{i}
),
x_{i} AS (SELECT count(DISTINCT {raw})::BIGINT AS exact FROM orders),
e_{i} AS (
  SELECT '{label}' AS key, x.exact AS exact_distinct,
         (256 - s.v)::BIGINT AS registers_hit,
         round(CASE WHEN 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
                         * {_HLL_2_53}.0 / CAST(s.s AS DOUBLE) <= 640.0
                         AND s.v > 0
                    THEN 256.0 * ln(256.0 / CAST(s.v AS DOUBLE))
                    ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
                         * {_HLL_2_53}.0 / CAST(s.s AS DOUBLE) END,
               4) AS hll_estimate
  FROM s_{i} s, x_{i} x
)"""


_HLL_KEYS = [
    ("o_orderkey::VARCHAR", "o_orderkey", "orderkey"),
    ("o_custkey::VARCHAR", "o_custkey", "custkey"),
    ("o_orderpriority", "o_orderpriority", "orderpriority"),
]

_HLL_ORACLE = (
    "WITH "
    + ",\n".join(
        _hll_oracle_block(i, expr, raw, label)
        for i, (expr, raw, label) in enumerate(_HLL_KEYS)
    )
    + "\nSELECT key, exact_distinct, registers_hit, hll_estimate,\n"
    + "       round(abs(hll_estimate - exact_distinct)"
    + " / CAST(exact_distinct AS DOUBLE), 4) AS rel_error\n"
    + "FROM (SELECT * FROM e_0 UNION ALL SELECT * FROM e_1"
    + " UNION ALL SELECT * FROM e_2)"
)


@query("hll_distinct_calibration", oracle=_HLL_ORACLE)
def hll_distinct_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog count-distinct sketch (Flajolet–Fuchs–Gandouet–Meunier
    2007), mechanism-exact over three orders keys spanning both regimes:
    orderkey (raw-estimate path), custkey (mid cardinality) and
    orderpriority (5 distinct — exercises the V>0 small-range linear
    counting correction). Registers fold to ONE integer harmonic sum so
    the estimate is bit-identical across engines; reported against the
    exact distinct count with relative error — the sketch-calibration
    gate pattern of ``ams_f2_sketch_check``/``minhash_estimate_calibration``.

    Scale: the whole sketch is a 256-row state per key — at 100 TB this
    is the count-distinct that replaces a full-key shuffle (and unlike
    ``approx_count_distinct`` it is engine-replayable, so the estimate
    itself is auditable)."""
    from ..llm.text import portable_hash60

    orders = load_table(spark, sf_dir, "orders")

    def one(expr: F.Column, raw: str, label: str) -> DataFrame:
        h = portable_hash60(F.concat(F.lit("hll:"), expr))
        rem = F.col("h").bitwiseAND(F.lit(_HLL_MASK))
        regs = (
            orders.select(h.alias("h"))
            .select(
                F.shiftright("h", 52).alias("b"),
                F.when(rem == 0, F.lit(53))
                .otherwise(F.lit(53) - F.length(F.bin(rem)))
                .alias("rho"),
            )
            .groupBy("b")
            .agg(F.max("rho").alias("m"))
        )
        s = regs.agg(
            (
                F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - m)"))
                + (F.lit(256) - F.count(F.lit(1))) * F.lit(_HLL_2_53)
            )
            .cast("long")
            .alias("s"),
            (F.lit(256) - F.count(F.lit(1))).cast("long").alias("v"),
        )
        x = orders.agg(F.countDistinct(raw).cast("long").alias("exact"))
        e = s.crossJoin(x)  # both sides are single rows
        rawest = (
            F.lit(0.7213)
            / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0))
            * F.lit(65536.0)
            * F.lit(float(_HLL_2_53))
            / F.col("s").cast("double")
        )
        est = F.round(
            F.when(
                (rawest <= 640.0) & (F.col("v") > 0),
                F.lit(256.0) * F.log(F.lit(256.0) / F.col("v").cast("double")),
            ).otherwise(rawest),
            4,
        )
        return e.select(
            F.lit(label).alias("key"),
            F.col("exact").alias("exact_distinct"),
            (F.lit(256) - F.col("v")).cast("long").alias("registers_hit"),
            est.alias("hll_estimate"),
        )

    parts = [
        one(F.col(raw).cast("string"), raw, label)
        for _expr, raw, label in _HLL_KEYS
    ]
    u = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return u.select(
        "key",
        "exact_distinct",
        "registers_hit",
        "hll_estimate",
        F.round(
            F.abs(F.col("hll_estimate") - F.col("exact_distinct"))
            / F.col("exact_distinct").cast("double"),
            4,
        ).alias("rel_error"),
    )


# ---- Count-Min sketch (Cormode–Muthukrishnan 2005), mechanism-exact:
# d=4 independent md5-salted hash rows × w=256 buckets; every cell is an
# exact integer row count, the point estimate is the min over the 4
# cells a key lands in (always ≥ the true count). Calibrated against
# the exact top-10 heavy hitters from the same frequency table.
_CM_D, _CM_W = 4, 256


def _cm_bucket_sql(r: int, key: str) -> str:
    return f"('0x' || substr(md5('cm{r}:' || {key}), 1, 15))::BIGINT & {_CM_W - 1}"


_CM_ORACLE = (
    "WITH cells AS (\n"
    "  SELECT r, b, count(*)::BIGINT AS c FROM (\n"
    f"    SELECT unnest([{', '.join(str(r) for r in range(_CM_D))}]) AS r,\n"
    "           unnest(["
    + ", ".join(_cm_bucket_sql(r, "l_partkey::VARCHAR") for r in range(_CM_D))
    + "]) AS b\n    FROM lineitem\n  ) GROUP BY 1, 2\n"
    "),\n"
    "top AS (\n"
    "  SELECT l_partkey AS k, count(*)::BIGINT AS exact FROM lineitem\n"
    "  GROUP BY 1 ORDER BY exact DESC, k ASC LIMIT 10\n"
    "),\n"
    "tq AS (\n"
    f"  SELECT k, exact, unnest([{', '.join(str(r) for r in range(_CM_D))}]) AS r,\n"
    "         unnest(["
    + ", ".join(_cm_bucket_sql(r, "k::VARCHAR") for r in range(_CM_D))
    + "]) AS b\n  FROM top\n)\n"
    "SELECT tq.k AS l_partkey, tq.exact AS exact_count,\n"
    "       min(c.c)::BIGINT AS cm_estimate,\n"
    "       (min(c.c) - tq.exact)::BIGINT AS overestimate\n"
    "FROM tq JOIN cells c ON c.r = tq.r AND c.b = tq.b\n"
    "GROUP BY 1, 2"
)


@query("countmin_heavy_hitters_check", oracle=_CM_ORACLE)
def countmin_heavy_hitters_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode–Muthukrishnan 2005) frequency estimates
    for the exact top-10 part keys: d=4 salted portable hashes × w=256
    buckets, estimate = min over the key's 4 cells. All-integer, so the
    driver hash pins the sketch mechanism bit-exactly (the overestimate
    column shows the one-sided collision error the ε=e/w bound promises).

    Scale: the sketch is a FIXED 1024-cell state built by one map-side
    partial aggregate — at 100 TB this answers point-frequency /
    heavy-hitter queries without materializing the full key frequency
    table (the exact side here is only the calibration ground truth).

    r11: the cells fold from the KEY-FREQUENCY table the calibration
    side already builds — cell(r, b) = Σ over keys hashing to b of
    their exact counts, the identical integers as counting raw rows —
    so the 4 salted md5s run once per DISTINCT key instead of once per
    fact row (|keys| ≪ |rows|; guide §2.3 "aggregate before you
    shuffle" applied to the hash work itself), and the fact table is
    scanned once, not twice. The frequency table is lazily pinned: the
    cells pass materializes it in-pass, the top-10 side reads cache."""
    from ..llm.text import portable_hash60
    from ..plans.materialize import pinned_lru

    li = load_table(spark, sf_dir, "lineitem")

    def buckets(key: F.Column) -> F.Column:
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        portable_hash60(
                            F.concat(F.lit(f"cm{r}:"), key.cast("string"))
                        )
                        .bitwiseAND(F.lit(_CM_W - 1))
                        .alias("b"),
                    )
                    for r in range(_CM_D)
                ]
            )
        )

    freq = pinned_lru(
        li.groupBy(F.col("l_partkey").alias("k")).agg(
            F.count(F.lit(1)).alias("exact")
        ),
        "cm_key_freq",
        eager=False,  # lazy: the cells pass materializes the cache in-pass
    )
    cells = (
        freq.select(buckets(F.col("k")).alias("rb"), F.col("exact"))
        .select("rb.r", "rb.b", "exact")
        .groupBy("r", "b")
        .agg(F.sum("exact").alias("c"))
    )
    top = freq.orderBy(F.desc("exact"), F.asc("k")).limit(10)
    tq = top.select("k", "exact", buckets(F.col("k")).alias("rb")).select(
        "k", "exact", "rb.r", "rb.b"
    )
    # tq is 40 rows — broadcast it against the 1024-cell sketch
    joined = F.broadcast(tq).join(cells, ["r", "b"])
    return (
        joined.groupBy("k", "exact")
        .agg(F.min("c").alias("cm_estimate"))
        .select(
            F.col("k").alias("l_partkey"),
            F.col("exact").alias("exact_count"),
            "cm_estimate",
            (F.col("cm_estimate") - F.col("exact")).alias("overestimate"),
        )
    )


@query(
    "yuen_trimmed_t_components",
    oracle=r"""
WITH v AS (
  SELECT o_orderpriority AS grp, o_totalprice AS x,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS rk,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
),
g AS (SELECT grp, n, (n // 10)::BIGINT AS tr FROM v GROUP BY grp, n),
b AS (
  SELECT v.grp, v.x, v.rk, g.n, g.tr,
         CASE WHEN v.rk <= g.tr THEN 'lo'
              WHEN v.rk > g.n - g.tr THEN 'hi' ELSE 'mid' END AS zone
  FROM v JOIN g ON v.grp = g.grp
),
bounds AS (
  SELECT grp,
         min(CASE WHEN zone = 'mid' THEN x END) AS lo_x,
         max(CASE WHEN zone = 'mid' THEN x END) AS hi_x
  FROM b GROUP BY grp
),
wz AS (
  SELECT b.grp, b.n, b.tr,
         CASE WHEN b.zone = 'lo' THEN bounds.lo_x
              WHEN b.zone = 'hi' THEN bounds.hi_x ELSE b.x END AS wx,
         CASE WHEN b.zone = 'mid' THEN b.x END AS tx
  FROM b JOIN bounds ON b.grp = bounds.grp
),
s AS (
  SELECT grp, max(n) AS n, max(tr) AS tr,
         (max(n) - 2 * max(tr))::DOUBLE AS h,
         avg(tx) AS tmean,
         sum(wx * wx) AS sww, sum(wx) AS sw, count(*)::DOUBLE AS cnt
  FROM wz GROUP BY grp
),
d AS (
  SELECT grp, n, tr, h, tmean,
         (sww - sw * sw / cnt) / (cnt - 1) AS wvar,
         (sww - sw * sw / cnt) / (cnt - 1) * (cnt - 1) / (h * (h - 1)) AS dcomp
  FROM s
)
SELECT a.n::BIGINT AS n_urgent, b.n::BIGINT AS n_low,
       a.tr::BIGINT AS trimmed_each_side_urgent, b.tr::BIGINT AS trimmed_each_side_low,
       round(a.tmean, 6) AS trimmed_mean_urgent,
       round(b.tmean, 6) AS trimmed_mean_low,
       round((a.tmean - b.tmean) / sqrt(a.dcomp + b.dcomp), 6) AS yuen_t
FROM (SELECT * FROM d WHERE grp = '1-URGENT') a,
     (SELECT * FROM d WHERE grp = '5-LOW') b
""",
)
def yuen_trimmed_t_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yuen's trimmed-means t (robust Welch): trim g = ⌊n/10⌋
    observations from each tail per group (rank order-statistic
    trimming, deterministic orderkey tiebreak), compare 10%-trimmed
    means with the winsorized-variance denominator d_i =
    s²_w(n−1)/(h(h−1)), h = n−2g — the two-sample test that keeps its
    nominal error rate under heavy tails where Welch's t degrades. Ranks
    come from per-group windows (partition key = group); winsorizing
    clamps to the boundary order statistics observed in the kept zone.

    Scale: one rank window per group + grouped conditional aggregates —
    no sort beyond the per-group window, no driver math."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    cnt_w = Window.partitionBy("o_orderpriority")
    v = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("x"),
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(cnt_w).alias("n"),
    )
    b = v.withColumn("tr", F.floor(F.col("n") / 10).cast("long")).withColumn(
        "zone",
        F.when(F.col("rk") <= F.col("tr"), "lo")
        .when(F.col("rk") > F.col("n") - F.col("tr"), "hi")
        .otherwise("mid"),
    )
    bounds = b.groupBy("grp").agg(
        F.min(F.when(F.col("zone") == "mid", F.col("x"))).alias("lo_x"),
        F.max(F.when(F.col("zone") == "mid", F.col("x"))).alias("hi_x"),
    )
    wz = b.join(F.broadcast(bounds), "grp").select(
        "grp",
        "n",
        "tr",
        F.when(F.col("zone") == "lo", F.col("lo_x"))
        .when(F.col("zone") == "hi", F.col("hi_x"))
        .otherwise(F.col("x"))
        .alias("wx"),
        F.when(F.col("zone") == "mid", F.col("x")).alias("tx"),
    )
    s = wz.groupBy("grp").agg(
        F.max("n").alias("n"),
        F.max("tr").alias("tr"),
        (F.max("n") - 2 * F.max("tr")).cast("double").alias("h"),
        F.avg("tx").alias("tmean"),
        F.sum(F.col("wx") * F.col("wx")).alias("sww"),
        F.sum("wx").alias("sw"),
        F.count(F.lit(1)).cast("double").alias("cnt"),
    )
    wvar = (F.col("sww") - F.col("sw") * F.col("sw") / F.col("cnt")) / (
        F.col("cnt") - 1
    )
    d = s.select(
        "grp",
        "n",
        "tr",
        "tmean",
        (
            wvar * (F.col("cnt") - 1) / (F.col("h") * (F.col("h") - 1))
        ).alias("dcomp"),
    )
    a = d.filter(F.col("grp") == "1-URGENT").select(
        F.col("n").alias("na"),
        F.col("tr").alias("tra"),
        F.col("tmean").alias("tma"),
        F.col("dcomp").alias("da"),
    )
    bb = d.filter(F.col("grp") == "5-LOW").select(
        F.col("n").alias("nb"),
        F.col("tr").alias("trb"),
        F.col("tmean").alias("tmb"),
        F.col("dcomp").alias("db"),
    )
    return a.crossJoin(F.broadcast(bb)).select(
        F.col("na").cast("long").alias("n_urgent"),
        F.col("nb").cast("long").alias("n_low"),
        F.col("tra").cast("long").alias("trimmed_each_side_urgent"),
        F.col("trb").cast("long").alias("trimmed_each_side_low"),
        F.round("tma", 6).alias("trimmed_mean_urgent"),
        F.round("tmb", 6).alias("trimmed_mean_low"),
        F.round(
            (F.col("tma") - F.col("tmb")) / F.sqrt(F.col("da") + F.col("db")), 6
        ).alias("yuen_t"),
    )


@query(
    "cohens_d_priority_extremes",
    oracle=r"""
WITH g AS (
  SELECT o_orderpriority AS grp, avg(o_totalprice) AS m,
         var_samp(o_totalprice) AS v, count(*)::DOUBLE AS n
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
  GROUP BY 1
)
SELECT a.n::BIGINT AS n_urgent, b.n::BIGINT AS n_low,
       round((a.m - b.m)
             / sqrt(((a.n - 1) * a.v + (b.n - 1) * b.v) / (a.n + b.n - 2)),
             6) AS cohens_d,
       round((a.m - b.m)
             / sqrt(((a.n - 1) * a.v + (b.n - 1) * b.v) / (a.n + b.n - 2))
             * (1 - 3 / (4 * (a.n + b.n) - 9)), 6) AS hedges_g
FROM (SELECT * FROM g WHERE grp = '1-URGENT') a,
     (SELECT * FROM g WHERE grp = '5-LOW') b
""",
)
def cohens_d_priority_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect size for the urgent-vs-low comparison the
    Welch query tests: Cohen's d on the pooled sd, plus the small-sample
    bias-corrected Hedges' g — the numbers that say whether a
    'significant' difference is actually LARGE (p-values scale with n;
    d does not). Same one-pass group moments as ``welch_t_components``.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    g = orders.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.avg("o_totalprice").alias("m"),
        F.var_samp("o_totalprice").alias("v"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    a = g.filter(F.col("grp") == "1-URGENT").select(
        F.col("m").alias("ma"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    b = g.filter(F.col("grp") == "5-LOW").select(
        F.col("m").alias("mb"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    t = a.crossJoin(F.broadcast(b))
    pooled = F.sqrt(
        (
            (F.col("na") - 1) * F.col("va") + (F.col("nb") - 1) * F.col("vb")
        )
        / (F.col("na") + F.col("nb") - 2)
    )
    d = (F.col("ma") - F.col("mb")) / pooled
    return t.select(
        F.col("na").cast("long").alias("n_urgent"),
        F.col("nb").cast("long").alias("n_low"),
        F.round(d, 6).alias("cohens_d"),
        F.round(
            d * (1 - 3 / (4 * (F.col("na") + F.col("nb")) - 9)), 6
        ).alias("hedges_g"),
    )


@query(
    "ljung_box_daily_revenue",
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
  SELECT r.lag AS lag, sum(a.dv * b.dv) AS num, count(*)::DOUBLE AS m
  FROM dev a, range(1, 8) r(lag)
  JOIN dev b ON b.day = a.day + r.lag::INTEGER
  GROUP BY 1
),
rh AS (
  SELECT lag, m, num::DOUBLE / den.den::DOUBLE AS rho FROM pr, den
),
pv AS (
  SELECT
    max(CASE WHEN lag = 1 THEN rho END) AS r1,
    max(CASE WHEN lag = 7 THEN rho END) AS r7,
    max(CASE WHEN lag = 1 THEN rho * rho / m END) AS t1,
    max(CASE WHEN lag = 2 THEN rho * rho / m END) AS t2,
    max(CASE WHEN lag = 3 THEN rho * rho / m END) AS t3,
    max(CASE WHEN lag = 4 THEN rho * rho / m END) AS t4,
    max(CASE WHEN lag = 5 THEN rho * rho / m END) AS t5,
    max(CASE WHEN lag = 6 THEN rho * rho / m END) AS t6,
    max(CASE WHEN lag = 7 THEN rho * rho / m END) AS t7
  FROM rh
)
SELECT tot.n::BIGINT AS n_days,
       round(r1, 6) AS rho_1,
       round(r7, 6) AS rho_7,
       round(tot.n::DOUBLE * (tot.n::DOUBLE + 2)
             * (t1 + t2 + t3 + t4 + t5 + t6 + t7), 4) AS lb_q7
FROM pv, tot
""",
)
def ljung_box_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau statistic (lags 1-7) on the daily revenue
    series — the whiteness test behind "is there autocorrelation left
    after my forecast model?". Complements
    ``daily_revenue_autocorrelation`` (per-lag Pearson on pairs) with
    the CLASSICAL acf: deviations from the one global mean, one shared
    denominator.

    Exactness: revenue sums as integer cents; the deviation ``n*x - sx``
    is an exact decimal(38,0) integer (mean-centering without division),
    so every autocovariance moment accumulates order-independently and
    the only doubles are the final rho ratios and the 7-term Q
    combination written as one fixed left-associated expression on both
    engines. Per-lag pair counts (not n-k) appear in the Q weights so
    calendar gaps shrink a lag's weight instead of misaligning the
    series.

    Scale: one grouped integer aggregate over the fact table; the lag
    join replicates only the bounded day-grain series (x7)."""
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
    lags = F.explode(F.array(*[F.lit(i) for i in range(1, 8)])).alias("lag")
    probe = dev.select(F.col("day"), F.col("dv").alias("adv"), lags).withColumn(
        "match_day", F.expr("date_add(day, lag)")
    )
    pairs = probe.join(
        dev.select(F.col("day").alias("match_day"), F.col("dv").alias("bdv")),
        "match_day",
    )
    pr = pairs.groupBy("lag").agg(
        F.sum(F.col("adv") * F.col("bdv")).alias("num"),
        F.count(F.lit(1)).cast("double").alias("m"),
    )
    rh = pr.crossJoin(F.broadcast(den)).select(
        "lag", "m", (F.col("num").cast("double") / F.col("den").cast("double")).alias("rho")
    )
    pv = rh.agg(
        F.max(F.when(F.col("lag") == 1, F.col("rho"))).alias("r1"),
        F.max(F.when(F.col("lag") == 7, F.col("rho"))).alias("r7"),
        *[
            F.max(
                F.when(F.col("lag") == k, F.col("rho") * F.col("rho") / F.col("m"))
            ).alias(f"t{k}")
            for k in range(1, 8)
        ],
    )
    nd = F.col("n").cast("double")
    qsum = F.col("t1")
    for k in range(2, 8):
        qsum = qsum + F.col(f"t{k}")
    return pv.crossJoin(F.broadcast(tot)).select(
        F.col("n").cast("long").alias("n_days"),
        F.round("r1", 6).alias("rho_1"),
        F.round("r7", 6).alias("rho_7"),
        F.round(nd * (nd + 2) * qsum, 4).alias("lb_q7"),
    )


@query(
    "jarque_bera_order_values",
    oracle="""
WITH m AS (
  SELECT count(*)::DOUBLE AS n, avg(ln(o_totalprice)) AS mu FROM orders
),
s AS (
  SELECT m.n AS n,
         sum((ln(o_totalprice) - m.mu) * (ln(o_totalprice) - m.mu)) AS s2,
         sum((ln(o_totalprice) - m.mu) * (ln(o_totalprice) - m.mu)
             * (ln(o_totalprice) - m.mu)) AS s3,
         sum((ln(o_totalprice) - m.mu) * (ln(o_totalprice) - m.mu)
             * (ln(o_totalprice) - m.mu) * (ln(o_totalprice) - m.mu)) AS s4
  FROM orders, m GROUP BY 1
)
SELECT n::BIGINT AS n_orders,
       round((s3 / n) / ((s2 / n) * sqrt(s2 / n)), 6) AS skewness,
       round((s4 / n) / ((s2 / n) * (s2 / n)), 6) AS kurtosis,
       round(n / 6 * ((s3 / n) / ((s2 / n) * sqrt(s2 / n))
                      * ((s3 / n) / ((s2 / n) * sqrt(s2 / n)))
                      + ((s4 / n) / ((s2 / n) * (s2 / n)) - 3)
                        * ((s4 / n) / ((s2 / n) * (s2 / n)) - 3) / 4), 4)
         AS jb_stat
FROM s
""",
)
def jarque_bera_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test on ln(order value) — the
    moment-based omnibus check (skewness + excess kurtosis) a pipeline
    runs before trusting t/F machinery on a metric. Two-pass central
    moments: pass 1 the mean, pass 2 the 2nd/3rd/4th powers of exact
    ``x - mu`` differences (O(1)-magnitude on the log scale, no
    catastrophic cancellation), with pow() avoided in favor of explicit
    products/sqrt so both engines evaluate the identical IEEE
    expression tree over their sums. Summation-order ulp noise sits
    ~1e-12 relative, far under the 6dp/4dp rounds.

    Scale: two map-side-combined full-table aggregates, no shuffle
    beyond the 1-row totals."""
    orders = load_table(spark, sf_dir, "orders")
    m = orders.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg(F.log("o_totalprice")).alias("mu"),
    )
    dv = F.log("o_totalprice") - F.col("mu")
    s = (
        orders.crossJoin(F.broadcast(m))
        .groupBy("n")
        .agg(
            F.sum(dv * dv).alias("s2"),
            F.sum(dv * dv * dv).alias("s3"),
            F.sum(dv * dv * dv * dv).alias("s4"),
        )
    )
    n = F.col("n")
    v = F.col("s2") / n
    skew = (F.col("s3") / n) / (v * F.sqrt(v))
    kurt = (F.col("s4") / n) / (v * v)
    return s.select(
        n.cast("long").alias("n_orders"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("kurtosis"),
        F.round(n / 6 * (skew * skew + (kurt - 3) * (kurt - 3) / 4), 4).alias(
            "jb_stat"
        ),
    )


# --------------------------------------------------------------------------
# 2-component Gaussian mixture on ln(order value) by UNROLLED EM — the
# unsupervised member of the iteration-exact family (lm/Cholesky, PCA
# power iteration, logistic/Poisson IRLS, PageRank). Each of the 12 EM
# rounds is one distributed aggregate (E-step responsibilities inside
# the sums, M-step in closed form) and both engines evaluate the same
# expression trees; EM's linear contraction keeps per-round exp() ulp
# noise from amplifying, so the 6dp round is stable cross-engine.
# --------------------------------------------------------------------------

_EM_ITERS = 12

_EM_BASE_SQL = """
WITH base AS (
  SELECT ln(o_totalprice) AS x FROM orders
),
st AS (
  SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(x*x) AS sxx FROM base
),
b0 AS (
  SELECT CAST(0.5 AS DOUBLE) AS pw,
         sx/n - sqrt((sxx - sx*sx/n)/n)/2 AS m1,
         (sxx - sx*sx/n)/n AS v1,
         sx/n + sqrt((sxx - sx*sx/n)/n)/2 AS m2,
         (sxx - sx*sx/n)/n AS v2
  FROM st
),"""


def _em_sql_step(prev: str, k: int) -> list[str]:
    p1 = "pw * exp(-(x-m1)*(x-m1)/(2*v1)) / sqrt(v1)"
    p2 = "(1-pw) * exp(-(x-m2)*(x-m2)/(2*v2)) / sqrt(v2)"
    r = f"({p1}) / (({p1}) + ({p2}))"
    agg = (
        f"ag{k} AS (SELECT count(*)::DOUBLE AS n, sum(x) AS sx,"
        f" sum(x*x) AS sxx, sum({r}) AS sr, sum(({r})*x) AS srx,"
        f" sum(({r})*x*x) AS srxx"
        f" FROM base, {prev} GROUP BY pw, m1, v1, m2, v2),"
    )
    nxt = (
        f"b{k} AS (SELECT sr/n AS pw, srx/sr AS m1,"
        f" srxx/sr - (srx/sr)*(srx/sr) AS v1,"
        f" (sx-srx)/(n-sr) AS m2,"
        f" (sxx-srxx)/(n-sr) - ((sx-srx)/(n-sr))*((sx-srx)/(n-sr)) AS v2"
        f" FROM ag{k}),"
    )
    return [agg, nxt]


def _em_exact_oracle() -> str:
    parts = [_EM_BASE_SQL]
    for k in range(1, _EM_ITERS + 1):
        parts += _em_sql_step(f"b{k-1}", k)
    parts[-1] = parts[-1].rstrip(",")
    last = f"b{_EM_ITERS}"
    return (
        "\n".join(parts)
        + f"""
SELECT round(pw, 6) AS weight_1, round(m1, 6) AS mean_1,
       round(v1, 6) AS var_1, round(m2, 6) AS mean_2,
       round(v2, 6) AS var_2
FROM {last}"""
    )


@query("gaussian_mixture_em_order_values", oracle=_em_exact_oracle())
def gaussian_mixture_em_order_values(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """2-component Gaussian mixture over ln(order value), fit by 12
    unrolled EM rounds (see block comment): per round ONE map-side-
    combined aggregate carries the E-step responsibilities inside six
    sums, and the M-step is closed-form algebra on that 6-double row.
    Init is deterministic moment-splitting (mean ± sd/2, equal
    weights/variances) computed from the same sums on both engines.

    Scale: state is 5 doubles; each round is a full-scan aggregate —
    the canonical distributed-EM shape (12 in-memory passes once the
    projected column is cached)."""
    import math

    base = (
        load_table(spark, sf_dir, "orders")
        .select(F.log("o_totalprice").alias("x"))
        .localCheckpoint()
    )
    st = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    ).collect()[0]
    n, sx, sxx = st["n"], st["sx"], st["sxx"]
    v0 = (sxx - sx * sx / n) / n
    theta = [
        0.5,
        sx / n - math.sqrt(v0) / 2,
        v0,
        sx / n + math.sqrt(v0) / 2,
        v0,
    ]
    for _ in range(_EM_ITERS):
        pw, m1, v1, m2, v2 = (F.lit(t) for t in theta)
        x = F.col("x")
        p1 = pw * F.exp(-(x - m1) * (x - m1) / (2 * v1)) / F.sqrt(v1)
        p2 = (1 - pw) * F.exp(-(x - m2) * (x - m2) / (2 * v2)) / F.sqrt(v2)
        r = p1 / (p1 + p2)
        row = base.agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(x).alias("sx"),
            F.sum(x * x).alias("sxx"),
            F.sum(r).alias("sr"),
            F.sum(r * x).alias("srx"),
            F.sum(r * x * x).alias("srxx"),
        ).collect()[0].asDict()
        nn, sx_, sxx_ = row["n"], row["sx"], row["sxx"]
        sr, srx, srxx = row["sr"], row["srx"], row["srxx"]
        theta = [
            sr / nn,
            srx / sr,
            srxx / sr - (srx / sr) * (srx / sr),
            (sx_ - srx) / (nn - sr),
            (sxx_ - srxx) / (nn - sr)
            - ((sx_ - srx) / (nn - sr)) * ((sx_ - srx) / (nn - sr)),
        ]
    out = local_frame(
        spark,
        [tuple(theta)],
        "weight_1 double, mean_1 double, var_1 double,"
        " mean_2 double, var_2 double",
    )
    return out.select(
        *[F.round(c, 6).alias(c) for c in out.columns]
    )


_PERM_B = 32

# One md5 digest per row feeds all 32 replicates: hex char b (< '8' ⇒
# group A) is a fair deterministic coin, and both engines compare the
# same lowercase-hex substring, so every reassignment replays exactly.
_PERM_ORACLE = (
    "WITH w AS (\n"
    "  SELECT o_totalprice AS x,\n"
    "         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS gu,\n"
    "         md5('perm:' || o_orderkey) AS d\n"
    "  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')\n"
    "),\ns AS (\n  SELECT\n"
    + ",\n".join(
        f"         sum(CASE WHEN substr(d, {b + 1}, 1) < '8' THEN x ELSE 0 END)"
        f" AS s{b},\n"
        f"         sum(CASE WHEN substr(d, {b + 1}, 1) < '8' THEN 1 ELSE 0 END)"
        f"::DOUBLE AS c{b}"
        for b in range(_PERM_B)
    )
    + ",\n         sum(CASE WHEN gu = 1 THEN x ELSE 0 END) AS su,\n"
    "         sum(gu)::DOUBLE AS cu,\n"
    "         sum(x) AS st, count(*)::DOUBLE AS n\n  FROM w\n),\nd AS (\n"
    "  SELECT n, cu, su / cu - (st - su) / (n - cu) AS obs,\n"
    + ",\n".join(
        f"         s{b} / c{b} - (st - s{b}) / (n - c{b}) AS d{b}"
        for b in range(_PERM_B)
    )
    + "\n  FROM s\n),\nm AS (\n  SELECT n, cu, obs,\n         ("
    + " + ".join(f"d{b}" for b in range(_PERM_B))
    + f") / {_PERM_B}.0 AS mbar,\n         ("
    + " + ".join(f"d{b} * d{b}" for b in range(_PERM_B))
    + ") AS msq,\n         ("
    + " + ".join(
        f"CASE WHEN abs(d{b}) >= abs(obs) THEN 1 ELSE 0 END"
        for b in range(_PERM_B)
    )
    + ") AS n_extreme\n  FROM d\n)\n"
    + f"""SELECT n::BIGINT AS n_rows, cu::BIGINT AS n_urgent,
       {_PERM_B}::BIGINT AS n_replicates,
       round(obs, 6) AS observed_diff,
       round(mbar, 6) AS null_mean,
       round(sqrt((msq - {_PERM_B}.0 * mbar * mbar) / ({_PERM_B}.0 - 1)), 6)
         AS null_sd,
       round((obs - mbar)
             / sqrt((msq - {_PERM_B}.0 * mbar * mbar) / ({_PERM_B}.0 - 1)), 4)
         AS z_score,
       n_extreme::BIGINT AS n_null_as_extreme
FROM m"""
)


@query("randomization_test_priority_diff", oracle=_PERM_ORACLE)
def randomization_test_priority_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization (permutation-style) test of the urgent-vs-low mean
    order-value difference: B=32 deterministic label reassignments —
    hex char b of the row's md5 digest is a fair coin — rebuild the
    null distribution of the mean difference as ONE streaming aggregate
    (2 extra conditional sums per replicate, no data copies), exactly
    like the Poisson bootstrap next door but for HYPOTHESIS TESTING:
    observed diff vs null mean/sd, a z-score, and the count of null
    replicates at least as extreme (the exact-test numerator). The
    assumption-free companion to ``welch_t_components``: no normality,
    no variance model — just the data re-labeled.

    Exactness: every coin is an engine-identical substring compare on
    the shared digest; the 32-term null moments are one fixed
    left-associated chain on both sides.

    Scale: one pass, 67 conditional sums, a 1-row result — the
    resample-free way to permutation-test at 100 TB (B label copies of
    the fact table would be the naive plan)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    w = orders.select(
        F.col("o_totalprice").alias("x"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("gu"),
        F.md5(
            F.encode(
                F.concat(F.lit("perm:"), F.col("o_orderkey").cast("string")),
                "UTF-8",
            )
        ).alias("d"),
    )
    # The 32-replicate tree is built as JVM-parsed SQL strings (r11):
    # the composed-Column form cost ~2s of py4j round-trips per plan
    # BUILD (event-log profile: 0.4s of jobs inside a 2.6s wall) —
    # identical expressions and values, two orders fewer JVM calls
    # (same discipline as minhash_signatures). No ELSE on the s{b}
    # CASE: sum skips NULLs, so the accumulator keeps the exact DECIMAL
    # type of o_totalprice (round-5 ADVICE fix preserved).
    aggs = []
    for b in range(_PERM_B):
        bit = f"substring(d, {b + 1}, 1) < '8'"
        aggs.append(f"sum(CASE WHEN {bit} THEN x END) AS s{b}")
        aggs.append(
            f"CAST(sum(CASE WHEN {bit} THEN 1 ELSE 0 END) AS DOUBLE) AS c{b}"
        )
    aggs += [
        "sum(CASE WHEN gu = 1 THEN x END) AS su",
        "CAST(sum(gu) AS DOUBLE) AS cu",
        "sum(x) AS st",
        "CAST(count(1) AS DOUBLE) AS n",
    ]
    s = w.groupBy().agg(*[F.expr(a) for a in aggs])
    diff_sql = (  # noqa: E731
        lambda sb, cb: f"{sb} / {cb} - (st - {sb}) / (n - {cb})"
    )
    d = s.selectExpr(
        "n",
        "cu",
        diff_sql("su", "cu") + " AS obs",
        *[diff_sql(f"s{b}", f"c{b}") + f" AS d{b}" for b in range(_PERM_B)],
    )
    bf = repr(float(_PERM_B))
    mbar = "(" + " + ".join(f"d{b}" for b in range(_PERM_B)) + f") / {bf}"
    msq = " + ".join(f"d{b} * d{b}" for b in range(_PERM_B))
    n_ext = " + ".join(
        f"CASE WHEN abs(d{b}) >= abs(obs) THEN 1 ELSE 0 END"
        for b in range(_PERM_B)
    )
    m = d.selectExpr(
        "n",
        "cu",
        "obs",
        f"{mbar} AS mbar",
        f"({msq}) AS msq",
        f"({n_ext}) AS n_extreme",
    )
    sd = F.sqrt(
        (F.col("msq") - float(_PERM_B) * F.col("mbar") * F.col("mbar"))
        / (float(_PERM_B) - 1)
    )
    return m.select(
        F.col("n").cast("long").alias("n_rows"),
        F.col("cu").cast("long").alias("n_urgent"),
        F.lit(_PERM_B).cast("long").alias("n_replicates"),
        F.round("obs", 6).alias("observed_diff"),
        F.round("mbar", 6).alias("null_mean"),
        F.round(sd, 6).alias("null_sd"),
        F.round((F.col("obs") - F.col("mbar")) / sd, 4).alias("z_score"),
        F.col("n_extreme").cast("long").alias("n_null_as_extreme"),
    )


@query(
    "loo_target_encoding_stats",
    oracle="""
WITH g AS (
  SELECT o_orderpriority AS grp, count(*)::DOUBLE AS n,
         sum(o_totalprice) AS s
  FROM orders GROUP BY 1
),
r AS (
  SELECT o.o_orderpriority AS grp, o.o_totalprice AS x,
         (g.s - o.o_totalprice) / (g.n - 1) AS enc
  FROM orders o JOIN g ON o.o_orderpriority = g.grp
),
per AS (
  SELECT grp, count(*)::BIGINT AS n_rows,
         round(avg(enc), 6) AS mean_encoding,
         round(stddev_samp(enc), 6) AS sd_encoding
  FROM r GROUP BY grp
),
pool AS (
  SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(enc) AS se,
         sum(x * x) AS sxx, sum(x * enc) AS sxe, sum(enc * enc) AS see
  FROM r
),
corr AS (
  SELECT round((sxe - sx * se / n)
               / sqrt((sxx - sx * sx / n) * (see - se * se / n)), 6) AS c
  FROM pool
)
SELECT per.grp, per.n_rows, per.mean_encoding, per.sd_encoding,
       corr.c AS pooled_corr_target_encoding
FROM per, corr ORDER BY per.grp
""",
)
def loo_target_encoding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of order priority against order
    value — enc_i = (S_g - x_i)/(n_g - 1), the leakage-safe form of
    mean encoding (each row's own target is excluded, so the encoder
    can't memorize the row) — with the per-group encoding mean/sd and
    the pooled target-encoding correlation, which is the feature's
    usable signal. sd_encoding >> between-group spread warns the
    encoder is mostly noise for that group.

    Scale: one grouped 2-sum pass builds the per-group sufficient
    statistics; the encode itself is a broadcast-joined projection
    (|groups| is tiny); the audit is one more fold. No row-level state,
    no per-row model — the exact shape target encoding takes in a
    100 TB feature pipeline.

    Exactness: group sums are deterministic doubles folded once; every
    ratio is a single shared-association division."""
    orders = load_table(spark, sf_dir, "orders")
    g = orders.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("o_totalprice").alias("s"),
    )
    r = (
        orders.select(
            F.col("o_orderpriority").alias("grp"),
            F.col("o_totalprice").alias("x"),
        )
        .join(F.broadcast(g), "grp")
        .select(
            "grp",
            "x",
            ((F.col("s") - F.col("x")) / (F.col("n") - 1)).alias("enc"),
        )
    )
    per = r.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.avg("enc"), 6).alias("mean_encoding"),
        F.round(F.stddev_samp("enc"), 6).alias("sd_encoding"),
    )
    pool = r.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("enc").alias("se"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("enc")).alias("sxe"),
        F.sum(F.col("enc") * F.col("enc")).alias("see"),
    )
    corr = pool.select(
        F.round(
            (F.col("sxe") - F.col("sx") * F.col("se") / F.col("n"))
            / F.sqrt(
                (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
                * (F.col("see") - F.col("se") * F.col("se") / F.col("n"))
            ),
            6,
        ).alias("pooled_corr_target_encoding")
    )
    return (
        per.crossJoin(F.broadcast(corr))
        .select(
            "grp",
            F.col("n_rows").cast("long").alias("n_rows"),
            "mean_encoding",
            "sd_encoding",
            "pooled_corr_target_encoding",
        )
        .orderBy("grp")
    )


@query(
    "diff_in_diff_building_vs_auto",
    oracle="""
WITH sp AS (
  SELECT CAST(min(o_orderdate) AS DATE)
           + CAST(datediff('day', min(o_orderdate),
               max(o_orderdate)) // 2 AS INTEGER) AS mid
  FROM orders
),
cell AS (
  SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS treated,
         CASE WHEN CAST(o.o_orderdate AS DATE) > sp.mid
              THEN 1 ELSE 0 END AS post,
         count(*)::DOUBLE AS n,
         avg(o.o_totalprice) AS m,
         var_samp(o.o_totalprice) AS v
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey, sp
  WHERE c.c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
  GROUP BY 1, 2
),
w AS (
  SELECT
    max(CASE WHEN treated = 1 AND post = 1 THEN m END) AS t1,
    max(CASE WHEN treated = 1 AND post = 0 THEN m END) AS t0,
    max(CASE WHEN treated = 0 AND post = 1 THEN m END) AS c1,
    max(CASE WHEN treated = 0 AND post = 0 THEN m END) AS c0,
    max(CASE WHEN treated = 1 AND post = 1 THEN v / n END) AS s1,
    max(CASE WHEN treated = 1 AND post = 0 THEN v / n END) AS s0,
    max(CASE WHEN treated = 0 AND post = 1 THEN v / n END) AS u1,
    max(CASE WHEN treated = 0 AND post = 0 THEN v / n END) AS u0,
    sum(n)::BIGINT AS n_total
  FROM cell
)
SELECT n_total,
       round(t0, 4) AS treated_pre, round(t1, 4) AS treated_post,
       round(c0, 4) AS control_pre, round(c1, 4) AS control_post,
       round((t1 - t0) - (c1 - c0), 4) AS did_estimate,
       round(sqrt(s1 + s0 + u1 + u0), 4) AS did_se
FROM w
""",
)
def diff_in_diff_building_vs_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: BUILDING-segment (treated) vs
    AUTOMOBILE-segment (control) mean order value, before vs after the
    calendar midpoint — DiD = (T_post - T_pre) - (C_post - C_pre), the
    parallel-trends causal estimator, with the four-cell variance-sum
    SE. The observational-causal workhorse every experimentation stack
    keeps next to its A/B tests for launches that couldn't be
    randomized.

    Scale: one fact-dim equi-join and ONE grouped pass produce all four
    cells (2x2 conditional aggregation); everything after is a 1-row
    fold. Exactness: cell moments are single-pass; one shared
    association order for the estimate and SE."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    # Midpoint via integer FLOOR division on both engines (DuckDB //,
    # Spark div): a double-divide CAST rounds half-to-even in DuckDB but
    # truncates in Spark when datediff % 4 == 3 (round-5 ADVICE fix).
    sp = orders.agg(
        F.expr(
            "date_add(min(o_orderdate),"
            " CAST(datediff(max(o_orderdate), min(o_orderdate)) div 2 AS INT))"
        ).alias("mid")
    )
    j = (
        orders.join(
            customer.filter(
                F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
            ).select("c_custkey", "c_mktsegment"),
            orders.o_custkey == F.col("c_custkey"),
        )
        .crossJoin(F.broadcast(sp))
        .select(
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias(
                "treated"
            ),
            F.when(F.col("o_orderdate") > F.col("mid"), 1).otherwise(0).alias(
                "post"
            ),
            "o_totalprice",
        )
    )
    cell = j.groupBy("treated", "post").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("o_totalprice").alias("m"),
        F.var_samp("o_totalprice").alias("v"),
    )
    pick = lambda t, p, e: F.max(  # noqa: E731
        F.when((F.col("treated") == t) & (F.col("post") == p), e)
    )
    w = cell.agg(
        pick(1, 1, F.col("m")).alias("t1"),
        pick(1, 0, F.col("m")).alias("t0"),
        pick(0, 1, F.col("m")).alias("c1"),
        pick(0, 0, F.col("m")).alias("c0"),
        pick(1, 1, F.col("v") / F.col("n")).alias("s1"),
        pick(1, 0, F.col("v") / F.col("n")).alias("s0"),
        pick(0, 1, F.col("v") / F.col("n")).alias("u1"),
        pick(0, 0, F.col("v") / F.col("n")).alias("u0"),
        F.sum("n").cast("long").alias("n_total"),
    )
    return w.select(
        "n_total",
        F.round("t0", 4).alias("treated_pre"),
        F.round("t1", 4).alias("treated_post"),
        F.round("c0", 4).alias("control_pre"),
        F.round("c1", 4).alias("control_post"),
        F.round(
            (F.col("t1") - F.col("t0")) - (F.col("c1") - F.col("c0")), 4
        ).alias("did_estimate"),
        F.round(
            F.sqrt(F.col("s1") + F.col("s0") + F.col("u1") + F.col("u0")), 4
        ).alias("did_se"),
    )


@query(
    "standardized_urgent_rate_by_segment",
    oracle="""
WITH j AS (
  SELECT c.c_mktsegment AS seg, c.c_nationkey AS stratum,
         CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
st AS (
  SELECT stratum, count(*)::DOUBLE AS w FROM j GROUP BY stratum
),
tot AS (SELECT sum(w) AS tw FROM st),
cm AS (
  SELECT seg, stratum, avg(y) AS m, count(*)::BIGINT AS n
  FROM j GROUP BY seg, stratum
),
crude AS (SELECT seg, avg(y) AS crude_rate FROM j GROUP BY seg)
SELECT cm.seg,
       sum(cm.n)::BIGINT AS n_orders,
       round(max(crude.crude_rate), 6) AS crude_urgent_rate,
       round(sum(cm.m * st.w / tot.tw), 6) AS standardized_urgent_rate
FROM cm
JOIN st ON cm.stratum = st.stratum
JOIN crude ON crude.seg = cm.seg
CROSS JOIN tot
GROUP BY cm.seg ORDER BY cm.seg
""",
)
def standardized_urgent_rate_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct standardization: each segment's urgent-order rate
    reweighted to the POOLED nation distribution — the confounding
    adjustment that makes segments comparable when their customers
    cluster in different nations (crude vs standardized disagreement IS
    the confounding signal; epidemiology's age-adjustment, rebuilt for
    business strata).

    Caveat stated honestly: a segment absent from some stratum simply
    contributes no term for it (its standardized rate renormalizes over
    covered strata only) — visible because covered-strata weights then
    sum below 1; at this corpus every segment covers every nation.

    Scale: one fact-dim join, two grouped passes (stratum weights, per
    segment-stratum cell means), and a weighted fold — no per-row
    weights materialized."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    j = orders.join(
        customer.select("c_custkey", "c_mktsegment", "c_nationkey"),
        orders.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("stratum"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1.0)
        .otherwise(0.0)
        .alias("y"),
    )
    st = j.groupBy("stratum").agg(F.count(F.lit(1)).cast("double").alias("w"))
    tot = st.agg(F.sum("w").alias("tw"))
    cm = j.groupBy("seg", "stratum").agg(
        F.avg("y").alias("m"), F.count(F.lit(1)).alias("n")
    )
    crude = j.groupBy("seg").agg(F.avg("y").alias("crude_rate"))
    return (
        cm.join(st, "stratum")
        .join(crude, "seg")
        .crossJoin(F.broadcast(tot))
        .groupBy("seg")
        .agg(
            F.sum("n").cast("long").alias("n_orders"),
            F.round(F.max("crude_rate"), 6).alias("crude_urgent_rate"),
            F.round(
                F.sum(F.col("m") * F.col("w") / F.col("tw")), 6
            ).alias("standardized_urgent_rate"),
        )
        .orderBy("seg")
    )


@query(
    "nn_matching_att_urgent_lag",
    oracle="""
WITH lag_out AS (
  SELECT o.o_orderkey,
         avg(datediff('day', o.o_orderdate, l.l_shipdate)) AS ship_lag
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_orderkey
),
f AS (
  SELECT date_trunc('month', o.o_orderdate) AS mon,
         o.o_totalprice AS price,
         o.o_orderkey AS k,
         o.o_orderpriority = '1-URGENT' AS treated,
         g.ship_lag
  FROM orders o JOIN lag_out g ON o.o_orderkey = g.o_orderkey
  WHERE o.o_orderpriority IN ('1-URGENT', '5-LOW')
),
w AS (
  SELECT *,
         last_value(CASE WHEN NOT treated THEN price END IGNORE NULLS)
           OVER (PARTITION BY mon ORDER BY price, k
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pp,
         last_value(CASE WHEN NOT treated THEN ship_lag END IGNORE NULLS)
           OVER (PARTITION BY mon ORDER BY price, k
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS po,
         first_value(CASE WHEN NOT treated THEN price END IGNORE NULLS)
           OVER (PARTITION BY mon ORDER BY price, k
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS np,
         first_value(CASE WHEN NOT treated THEN ship_lag END IGNORE NULLS)
           OVER (PARTITION BY mon ORDER BY price, k
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS no_
  FROM f
),
m AS (
  SELECT treated, ship_lag,
         CASE WHEN pp IS NULL AND np IS NULL THEN NULL
              WHEN np IS NULL THEN price - pp
              WHEN pp IS NULL THEN np - price
              WHEN price - pp <= np - price THEN price - pp
              ELSE np - price END AS gap,
         CASE WHEN pp IS NULL AND np IS NULL THEN NULL
              WHEN np IS NULL THEN po
              WHEN pp IS NULL THEN no_
              WHEN price - pp <= np - price THEN po
              ELSE no_ END AS m_out
  FROM w WHERE treated
)
SELECT count(*) AS n_treated,
       count(*) FILTER (gap IS NOT NULL AND gap <= 500.0) AS n_matched,
       round(avg(ship_lag - m_out)
             FILTER (gap IS NOT NULL AND gap <= 500.0), 6) AS att_ship_lag_days,
       round(avg(gap) FILTER (gap IS NOT NULL AND gap <= 500.0), 4)
         AS avg_price_gap
FROM m
""",
)
def nn_matching_att_urgent_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-NEIGHBOR MATCHING estimator (the propensity-matching
    primitive, with the order's total price as the scalar matching
    score): every URGENT order is matched, within its order-month block,
    to the nearest 5-LOW order by total price (with replacement, caliper
    500), and the ATT on the order's mean ship lag is the matched-pair
    mean difference. Completes the causal family next to
    diff_in_diff_building_vs_auto, cuped_variance_reduction, and
    standardized_urgent_rate_by_segment.

    The matching join is NOT all-pairs: within each month block the rows
    are sorted by (price, orderkey) and each treated row's nearest
    control is provably one of (last control before, first control
    after) — two IGNORE-NULLS window lookups, the sorted-merge shape of
    asof_join_backward. At 100 TB the month block is the partition key;
    no task ever sees more than a month.

    Both lookups run as O(n) RUNNING frames: "first control after" is
    expressed as "last control before" under the REVERSED (price, k)
    sort — bit-identical by total-order complement (k is unique) — NOT
    as a ``1 FOLLOWING → UNBOUNDED FOLLOWING`` frame, whose moving
    frame-start makes Spark's first(ignorenulls) processor rescan
    forward per row: O(n²) per partition, measured 11.6s vs 0.93s for
    the running frame on a 10x month block (BENCH_SCALE_r07 probe, the
    4.8x-at-10x defect this rewrite fixes). Cost: a second sort of the
    (already tiny) urgent+low frame instead of a quadratic scan.

    Exactness: prices are the same parquet doubles, so gap arithmetic
    and the <= tie-break (prefer the earlier neighbor) are
    bit-deterministic; ship lags are integer day averages; one rounded
    mean per output."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lag_out = (
        orders.select("o_orderkey", "o_orderdate")
        .join(li.select("l_orderkey", "l_shipdate"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(F.avg(F.datediff("l_shipdate", "o_orderdate")).alias("ship_lag"))
    )
    f = (
        orders.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .join(lag_out, "o_orderkey")
        .select(
            F.date_trunc("month", "o_orderdate").alias("mon"),
            F.col("o_totalprice").alias("price"),
            F.col("o_orderkey").alias("k"),
            (F.col("o_orderpriority") == "1-URGENT").alias("treated"),
            "ship_lag",
        )
    )
    wb = Window.partitionBy("mon").orderBy("price", "k")
    before = wb.rowsBetween(Window.unboundedPreceding, -1)
    # reversed total order: "strictly after me in ASC (price, k)" ==
    # "strictly before me in DESC (price, k)" — a running frame again
    before_rev = (
        Window.partitionBy("mon")
        .orderBy(F.desc("price"), F.desc("k"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ctrl = ~F.col("treated")
    w = f.select(
        "treated",
        "price",
        "ship_lag",
        F.last(F.when(ctrl, F.col("price")), ignorenulls=True)
        .over(before)
        .alias("pp"),
        F.last(F.when(ctrl, F.col("ship_lag")), ignorenulls=True)
        .over(before)
        .alias("po"),
        F.last(F.when(ctrl, F.col("price")), ignorenulls=True)
        .over(before_rev)
        .alias("np"),
        F.last(F.when(ctrl, F.col("ship_lag")), ignorenulls=True)
        .over(before_rev)
        .alias("no"),
    ).filter("treated")
    take_prev = (F.col("np").isNull()) | (
        F.col("pp").isNotNull()
        & (F.col("price") - F.col("pp") <= F.col("np") - F.col("price"))
    )
    gap = (
        F.when(F.col("pp").isNull() & F.col("np").isNull(), F.lit(None))
        .when(take_prev, F.col("price") - F.col("pp"))
        .otherwise(F.col("np") - F.col("price"))
    )
    m_out = (
        F.when(F.col("pp").isNull() & F.col("np").isNull(), F.lit(None))
        .when(take_prev, F.col("po"))
        .otherwise(F.col("no"))
    )
    m = w.select("ship_lag", gap.alias("gap"), m_out.alias("m_out"))
    ok = F.col("gap").isNotNull() & (F.col("gap") <= 500.0)
    return m.agg(
        F.count(F.lit(1)).alias("n_treated"),
        F.sum(ok.cast("long")).alias("n_matched"),
        F.round(
            F.avg(F.when(ok, F.col("ship_lag") - F.col("m_out"))), 6
        ).alias("att_ship_lag_days"),
        F.round(F.avg(F.when(ok, F.col("gap"))), 4).alias("avg_price_gap"),
    )


# ---- KMV (k-minimum-values) distinct sketch (Bar-Yossef et al. 2002;
# Beyer et al. 2007), mechanism-exact and engine-portable: the sketch of
# a set is its k smallest DISTINCT 60-bit md5 hash values; the unbiased
# estimator is (k-1) / u_k with u_k = h_k / 2^60 (the k-th order
# statistic of uniform hashes), degenerating to the exact count when the
# set holds fewer than k distinct values. Unlike register sketches (HLL)
# the KMV sketch supports LOSSLESS set algebra: the union sketch is the
# k smallest of the merged hash multiset — which is exactly how the
# 'ALL' scope below is built.

_KMV_K = 64
_KMV_2_60 = 1152921504606846976.0

_KMV_ORACLE = r"""
WITH n AS (
  SELECT source, trim(regexp_replace(regexp_replace(lower(text),
         '[^a-z0-9_\s]', ' ', 'g'), '\s+', ' ', 'g')) AS t
  FROM documents
),
tk AS (SELECT source, string_split(t, ' ') AS toks FROM n),
g AS (
  SELECT source,
         unnest(list_distinct(list_transform(
             range(1, greatest(len(toks) - 2, 1) + 1),
             i -> array_to_string(toks[i:i+2], ' ')))) AS gram
  FROM tk
),
hs AS (
  SELECT DISTINCT source, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS h
  FROM g
),
u AS (
  SELECT source, h FROM hs
  UNION
  SELECT 'ALL' AS source, h FROM hs
),
r AS (
  SELECT source, h,
         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM u
),
ex AS (SELECT source, count(*)::BIGINT AS n_exact FROM u GROUP BY source),
sk AS (
  SELECT source, count(*)::BIGINT AS nk,
         max(CASE WHEN rn = 64 THEN h END) AS hk
  FROM r WHERE rn <= 64 GROUP BY source
),
e AS (
  SELECT ex.source AS scope, ex.n_exact,
         CASE WHEN sk.nk < 64 THEN sk.nk::DOUBLE
              ELSE 63.0 * 1152921504606846976.0 / sk.hk END AS est
  FROM ex JOIN sk ON ex.source = sk.source
)
SELECT scope, n_exact,
       round(est, 4) AS kmv_estimate,
       round(abs(est - n_exact) / n_exact * 100.0, 4) AS rel_error_pct
FROM e ORDER BY scope
"""


@query("kmv_distinct_union_calibration", oracle=_KMV_ORACLE)
def kmv_distinct_union_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch calibration over the
    per-source shingle vocabularies, PLUS the union scope that register
    sketches can only approximate by merging: the 'ALL' row's sketch is
    the k smallest hashes of the merged per-source hash sets — KMV's
    lossless union merge — so the same estimator formula prices the
    corpus-wide distinct-shingle count without rescanning raw text. One
    row per source plus 'ALL': exact distinct count, sketch estimate,
    relative error (expected ~1/sqrt(k-2) ≈ 12.7% at k=64). Sources
    whose vocabulary is smaller than k degenerate to the exact count —
    the small-set regime is part of the contract and the replay.

    Mechanism-exact: hashes are the shared 60-bit md5, the k-th order
    statistic is an integer, and the only doubles are the final
    (k−1)·2^60/h_k division and the error ratio, computed in the same
    operation order on both engines.

    Scale: the sketch is mergeable (min-k of a union of min-k sets is
    the min-k of the union), so at 100 TB each partition keeps a local
    k-heap and the combine is an array merge — never a global sort. The
    local[32] form uses one (scope)-partitioned rank window over the
    DISTINCT (scope, hash) table, which is already ≪ corpus grain. The
    shingle arrays come from the POOLED corpus-wide tokenize prefix
    (``queries/llmdata.py::_doc_shingles``) — the regex+tokenize scan
    is the dominant cost of every shingle consumer and the inputs are
    immutable, so the sketch shares it instead of re-paying it; the
    doc-grain source lookup is a broadcast join."""
    from pyspark.sql import Window

    from ..llm import text as TX
    from .llmdata import _doc_shingles

    docs = load_table(spark, sf_dir, "documents")
    src = docs.select("doc_id", "source")
    hs = (
        _doc_shingles(spark, sf_dir)
        .join(F.broadcast(src), "doc_id")
        .select("source", F.explode("_sh").alias("gram"))
        .select("source", TX.portable_hash60(F.col("gram")).alias("h"))
        .distinct()
    )
    u = hs.unionByName(
        hs.select(F.lit("ALL").alias("source"), "h").distinct()
    )
    w = Window.partitionBy("source").orderBy("h")
    r = u.withColumn("rn", F.row_number().over(w))
    ex = u.groupBy("source").agg(F.count(F.lit(1)).alias("n_exact"))
    sk = (
        r.filter(F.col("rn") <= _KMV_K)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("nk"),
            F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("hk"),
        )
    )
    est = F.when(F.col("nk") < _KMV_K, F.col("nk").cast("double")).otherwise(
        F.lit((_KMV_K - 1) * _KMV_2_60) / F.col("hk").cast("double")
    )
    return (
        ex.join(sk, "source")
        .select(
            F.col("source").alias("scope"),
            F.col("n_exact").cast("long").alias("n_exact"),
            F.round(est, 4).alias("kmv_estimate"),
            F.round(
                F.abs(est - F.col("n_exact")) / F.col("n_exact") * 100.0, 4
            ).alias("rel_error_pct"),
        )
        .orderBy("scope")
    )
