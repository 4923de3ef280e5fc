"""Statistical-test operators (SURVEY.md §2.7 H1-H5).

Design: each test = ONE Spark aggregation producing per-group sufficient
statistics (n, mean, sample variance — the heavy, distributed pass), then
closed-form scalar math + p-values on the collected k-row result
(stats_math, driver side). This mirrors how the reference computes them
(R also reduces to group stats) while scaling the reduction to any data
size: the collect is O(#groups), never O(rows).

Reference sites: t.test (BigDataProject.R:168-190), aov (:197-206 etc.),
TukeyHSD (:203-206), cor.test (:224-233), chisq via interestMeasure
(associationRules.R:201-207).
"""

from __future__ import annotations

import math
from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.materialize import local_frame
from . import stats_math as sm


def group_stats(df: DataFrame, value: str, group: str) -> DataFrame:
    """A12: per-group (n, mean, sample variance) — the shared heavy pass."""
    return df.groupBy(group).agg(
        F.count(value).alias("n"),
        F.avg(value).alias("mean"),
        F.var_samp(value).alias("var"),
    )


def welch_ttest(
    df: DataFrame, value: str, group: str, g1: str, g2: str, alpha: float = 0.05
) -> DataFrame:
    """H1: Welch two-sample t-test (t.test default, BigDataProject.R:178)."""
    spark = df.sparkSession
    rows = {
        r[group]: r
        for r in group_stats(
            df.filter(F.col(group).isin(g1, g2)), value, group
        ).collect()
    }
    a, b = rows[g1], rows[g2]
    se2a, se2b = a["var"] / a["n"], b["var"] / b["n"]
    t = (a["mean"] - b["mean"]) / math.sqrt(se2a + se2b)
    dof = (se2a + se2b) ** 2 / (
        se2a**2 / (a["n"] - 1) + se2b**2 / (b["n"] - 1)
    )  # Welch–Satterthwaite
    p = sm.t_test_p_two_sided(t, dof)
    return local_frame(
        spark,
        [
            (
                g1,
                g2,
                int(a["n"]),
                int(b["n"]),
                float(a["mean"]),
                float(b["mean"]),
                float(t),
                float(dof),
                float(p),
                bool(p < alpha),
            )
        ],
        "group1 string, group2 string, n1 long, n2 long, mean1 double, "
        "mean2 double, t_stat double, df double, p_value double, reject_null boolean",
    )


def oneway_anova(df: DataFrame, value: str, group: str) -> DataFrame:
    """H2: one-way ANOVA F-test (aov, BigDataProject.R:197-206)."""
    spark = df.sparkSession
    stats = group_stats(df, value, group).collect()
    k = len(stats)
    n = sum(r["n"] for r in stats)
    grand = sum(r["n"] * r["mean"] for r in stats) / n
    ssb = sum(r["n"] * (r["mean"] - grand) ** 2 for r in stats)
    ssw = sum((r["n"] - 1) * r["var"] for r in stats)
    df1, df2 = k - 1, n - k
    f = (ssb / df1) / (ssw / df2)
    p = sm.f_sf(f, df1, df2)
    return local_frame(
        spark,
        [(k, n, float(ssb), float(ssw), df1, df2, float(f), float(p))],
        "k long, n long, ss_between double, ss_within double, df1 long, "
        "df2 long, f_stat double, p_value double",
    )


def oneway_anova_multi(
    df: DataFrame, values: list[str], group: str
) -> DataFrame:
    """H2 vectorized: one-way ANOVA of EVERY ``values`` column against
    the same grouping in a SINGLE distributed pass — one melt (explode of
    (feature, value) structs, a narrow projection) + one groupBy(feature,
    group) producing all sufficient statistics; the per-feature
    closed-form F/p math runs on the collected k·|values| rows.

    Replaces the one-job-per-feature loop shape (8 sequential Spark jobs
    for 8 features) with one job — the shape that survives pointing at a
    big table."""
    spark = df.sparkSession
    melted = df.select(
        F.col(group).alias("_g"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("feature"), F.col(c).cast("double").alias("v")
                    )
                    for c in values
                ]
            )
        ).alias("fv"),
    ).select("_g", "fv.feature", "fv.v")
    stats = (
        melted.groupBy("feature", "_g")
        .agg(
            F.count("v").alias("n"),
            F.avg("v").alias("mean"),
            F.var_samp("v").alias("var"),
        )
        .collect()
    )
    by_feat: dict[str, list] = {}
    for r in stats:
        by_feat.setdefault(r["feature"], []).append(r)
    out = []
    for feat in values:  # preserve caller's feature order
        rows = by_feat[feat]
        k = len(rows)
        n = sum(r["n"] for r in rows)
        grand = sum(r["n"] * r["mean"] for r in rows) / n
        ssb = sum(r["n"] * (r["mean"] - grand) ** 2 for r in rows)
        ssw = sum((r["n"] - 1) * r["var"] for r in rows)
        df1, df2 = k - 1, n - k
        f = (ssb / df1) / (ssw / df2)
        out.append((feat, k, n, df1, df2, float(f), float(sm.f_sf(f, df1, df2))))
    return local_frame(
        spark,
        out,
        "feature string, k long, n long, df1 long, df2 long, "
        "f_stat double, p_value double",
    )


def tukey_hsd(df: DataFrame, value: str, group: str) -> DataFrame:
    """H3: Tukey HSD post-hoc — all pairwise mean diffs with studentized-
    range adjusted p-values (TukeyHSD, BigDataProject.R:203-206)."""
    spark = df.sparkSession
    stats = sorted(group_stats(df, value, group).collect(), key=lambda r: r[group])
    k = len(stats)
    n = sum(r["n"] for r in stats)
    dof = n - k
    msw = sum((r["n"] - 1) * r["var"] for r in stats) / dof
    out = []
    for a, b in combinations(stats, 2):
        diff = b["mean"] - a["mean"]
        se = math.sqrt(msw / 2.0 * (1.0 / a["n"] + 1.0 / b["n"]))
        q = abs(diff) / se
        p_adj = sm.tukey_p_adj(q, k, dof)
        out.append(
            (a[group], b[group], float(diff), float(se), float(q), float(p_adj))
        )
    return local_frame(
        spark,
        out,
        "group1 string, group2 string, diff double, se double, "
        "q_stat double, p_adj double",
    )


def pearson_corr_test(df: DataFrame, x: str, y: str) -> DataFrame:
    """H4: Pearson correlation test (cor.test, BigDataProject.R:224-233)."""
    spark = df.sparkSession
    r, n = df.agg(F.corr(x, y), F.count(F.lit(1))).first()
    t = r * math.sqrt((n - 2) / (1 - r * r))
    p = sm.t_test_p_two_sided(t, n - 2)
    return local_frame(
        spark,
        [(float(r), int(n), float(t), float(n - 2), float(p))],
        "r double, n long, t_stat double, df double, p_value double",
    )


def chi2_independence(df: DataFrame, a: str, b: str) -> DataFrame:
    """χ² test of independence over an a×b contingency (feeds H5's
    chiSquared interest measure, associationRules.R:201-207)."""
    spark = df.sparkSession
    counts = df.groupBy(a, b).agg(F.count(F.lit(1)).alias("n")).collect()
    row_tot: dict = {}
    col_tot: dict = {}
    n = 0
    for r in counts:
        row_tot[r[a]] = row_tot.get(r[a], 0) + r["n"]
        col_tot[r[b]] = col_tot.get(r[b], 0) + r["n"]
        n += r["n"]
    obs = {(r[a], r[b]): r["n"] for r in counts}
    chi2 = 0.0
    for ra, na in row_tot.items():
        for cb, nb in col_tot.items():
            exp = na * nb / n
            chi2 += (obs.get((ra, cb), 0) - exp) ** 2 / exp
    dof = (len(row_tot) - 1) * (len(col_tot) - 1)
    p = sm.chi2_sf(chi2, dof)
    cramers_v = math.sqrt(chi2 / (n * min(len(row_tot) - 1, len(col_tot) - 1)))
    return local_frame(
        spark,
        [(float(chi2), int(dof), float(p), float(cramers_v), int(n))],
        "chi2 double, df long, p_value double, cramers_v double, n long",
    )
