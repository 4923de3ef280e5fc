"""Statistical-test operators (SURVEY.md §2.7 H1-H5).

Each test reads its sufficient statistics with ONE Spark aggregation and
finishes on the driver, as the reference does (R also reduces to group
statistics). Two readers collect through ``materialize.collect_small``
under a row cap, so the collect is O(groups), never O(rows):

- :func:`group_moments` gives ``{group: (n, mean, var)}``;
- :func:`contingency_cells` gives ``(a, b, count)`` cells.

Each test has exactly one pure-Python finisher: :func:`welch`,
:func:`effect_size`, :func:`anova`, :func:`tukey_pairs`,
:func:`chi2_fold` and :func:`mutual_information`. Sums are ``math.fsum``,
so a result does not depend on the order the groups or cells come back
in. The operators at the bottom add p-values (``stats_math``) and return
local relations. The oracle-checked ``*_components`` queries in
``queries/statistics.py`` run the same finishers and round in Spark.
A finisher returns ``None`` where SQL gives NULL (no group, an undefined
variance, a zero denominator) and never raises on empty input.

Reference sites: t.test (BigDataProject.R:168-190), aov (:197-206 etc.),
TukeyHSD (:203-206), cor.test (:224-233), chisq via interestMeasure
(associationRules.R:201-207).
"""

from __future__ import annotations

import math
from collections.abc import Iterable
from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans import materialize
from ..plans.materialize import local_frame
from . import stats_math as sm

Moments = tuple  # (n, mean, sample variance); variance is None when n < 2


def group_moments(
    df: DataFrame, value: str, group: str | list[str], cap: int = 4096
) -> dict:
    """``{group: (n, mean, var)}``: count, mean and sample variance of
    ``value`` per group, from one grouped aggregate of at most ``cap``
    groups. With several group columns the key is a tuple."""
    keys = [group] if isinstance(group, str) else group
    rows = materialize.collect_small(
        df.groupBy(*keys).agg(F.count(value), F.avg(value), F.var_samp(value)),
        cap,
    )
    k = len(keys)
    return {(r[0] if k == 1 else tuple(r[:k])): tuple(r[k:]) for r in rows}


def pair_moments(
    df: DataFrame, value: str, group: str, g1: str, g2: str
) -> tuple[Moments, Moments] | None:
    """The moments of groups ``g1`` and ``g2``, or None if one is absent."""
    m = group_moments(df.filter(F.col(group).isin(g1, g2)), value, group)
    return (m[g1], m[g2]) if g1 in m and g2 in m else None


def contingency_cells(
    df: DataFrame, a: str, b: str, cap: int = 4096
) -> list[tuple]:
    """``(a, b, count)`` for each non-empty cell of the a×b contingency,
    from one grouped count of at most ``cap`` cells."""
    rows = materialize.collect_small(
        df.groupBy(a, b).agg(F.count(F.lit(1))), cap
    )
    return [tuple(r) for r in rows]


def _div(x, y):
    """``x / y``; None, as SQL's NULL, when either is None or ``y`` is 0."""
    return None if x is None or y is None or y == 0 else x / y


def welch(a: Moments, b: Moments) -> tuple:
    """``(t, df)`` of Welch's two-sample t-test of ``a`` against ``b``,
    df by Welch–Satterthwaite."""
    (na, ma, va), (nb, mb, vb) = a, b
    if va is None or vb is None:
        return None, None
    se2a, se2b = va / na, vb / nb
    se2 = se2a + se2b
    t = _div(ma - mb, math.sqrt(se2))
    dof = _div(se2 * se2, se2a * se2a / (na - 1) + se2b * se2b / (nb - 1))
    return t, dof


def effect_size(a: Moments, b: Moments) -> tuple:
    """``(d, g)``: Cohen's d of ``a`` against ``b`` on the pooled sd, and
    the small-sample bias-corrected Hedges' g."""
    (na, ma, va), (nb, mb, vb) = a, b
    if va is None or vb is None:
        return None, None
    pooled = math.sqrt(((na - 1) * va + (nb - 1) * vb) / (na + nb - 2))
    d = _div(ma - mb, pooled)
    return d, None if d is None else d * (1 - 3 / (4 * (na + nb) - 9))


def anova(moments: Iterable[Moments]) -> tuple | None:
    """``(k, n, ss_between, ss_within, df1, df2, f)`` of a one-way ANOVA
    over group moments, or None without a group."""
    ms = list(moments)
    if not ms:
        return None
    k = len(ms)
    n = sum(g[0] for g in ms)
    grand = math.fsum(ng * mg for ng, mg, _ in ms) / n
    ssb = math.fsum(ng * (mg - grand) ** 2 for ng, mg, _ in ms)
    ssw = math.fsum((ng - 1) * vg for ng, _, vg in ms if vg is not None)
    df1, df2 = k - 1, n - k
    return k, n, ssb, ssw, df1, df2, _div(_div(ssb, df1), _div(ssw, df2))


def tukey_pairs(moments: dict) -> tuple[int, int, list[tuple]]:
    """``(k, df, pairs)`` for Tukey's HSD: ``pairs`` holds
    ``(g1, g2, diff, se, q)`` for each pair of non-NULL groups
    ``g1 < g2`` in order, with ``diff`` the mean of ``g2`` minus that
    of ``g1`` and the within-group mean square pooled over all groups."""
    k = len(moments)
    dof = sum(g[0] for g in moments.values()) - k
    msw = _div(
        math.fsum((ng - 1) * vg for ng, _, vg in moments.values() if vg is not None),
        dof,
    )
    pairs = []
    for g1, g2 in combinations(sorted(g for g in moments if g is not None), 2):
        (n1, m1, _), (n2, m2, _) = moments[g1], moments[g2]
        diff = m2 - m1
        se = None if msw is None else math.sqrt(msw / 2.0 * (1.0 / n1 + 1.0 / n2))
        pairs.append((g1, g2, diff, se, _div(abs(diff), se)))
    return k, dof, pairs


def _margins(cells: list[tuple]) -> tuple[dict, dict]:
    """Row and column totals of ``(a, b, count)`` cells."""
    ca: dict = {}
    cb: dict = {}
    for a, b, c in cells:
        ca[a] = ca.get(a, 0) + c
        cb[b] = cb.get(b, 0) + c
    return ca, cb


def chi2_fold(cells: list[tuple]) -> tuple:
    """``(n, chi2, df, cramers_v)`` of the χ² independence test over
    ``(a, b, count)`` cells; a cell absent from ``cells`` observed 0.
    Without cells ``n``, ``chi2`` and V are None and df is
    ``(0 - 1) * (0 - 1)``, as in SQL."""
    ca, cb = _margins(cells)
    dof = (len(ca) - 1) * (len(cb) - 1)
    if not cells:
        return None, None, dof, None
    n = sum(ca.values())
    obs = {(a, b): c for a, b, c in cells}
    expected = (
        (obs.get((a, b), 0), ra * rb / float(n))
        for a, ra in ca.items()
        for b, rb in cb.items()
    )
    chi2 = math.fsum((o - e) ** 2 / e for o, e in expected)
    v2 = _div(chi2, n * (min(len(ca), len(cb)) - 1.0))
    return n, chi2, dof, None if v2 is None else math.sqrt(v2)


def mutual_information(cells: list[tuple]) -> list[tuple]:
    """``[(n, mi, h_a, h_b)]`` in nats from ``(a, b, count)`` cells, or
    ``[]`` when no cell has two non-NULL keys. NULL keys count in ``n``
    and in their marginal entropy but join no marginal in the MI sum,
    and the MI row is a ``GROUP BY n`` over the joined cells, so it has
    no row when none joined (the SQL shape of the oracle)."""
    ca, cb = _margins(cells)
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


def _p(sf, stat, *dof):
    """``sf(stat, *dof)``, or None when an argument is None."""
    return None if stat is None or None in dof else sf(stat, *dof)


def welch_ttest(
    df: DataFrame, value: str, group: str, g1: str, g2: str, alpha: float = 0.05
) -> DataFrame:
    """H1: Welch two-sample t-test (t.test default, BigDataProject.R:178)."""
    pair = pair_moments(df, value, group, g1, g2)
    rows = []
    if pair is not None:
        (n1, m1, _), (n2, m2, _) = pair
        t, dof = welch(*pair)
        p = _p(sm.t_test_p_two_sided, t, dof)
        rows.append((g1, g2, n1, n2, m1, m2, t, dof, p, None if p is None else p < alpha))
    return local_frame(
        df.sparkSession,
        rows,
        "group1 string, group2 string, n1 long, n2 long, mean1 double, "
        "mean2 double, t_stat double, df double, p_value double, reject_null boolean",
    )


def _anova_test(moments: Iterable[Moments]) -> tuple | None:
    r = anova(moments)
    return None if r is None else (*r, _p(sm.f_sf, r[6], r[4], r[5]))


def oneway_anova(df: DataFrame, value: str, group: str) -> DataFrame:
    """H2: one-way ANOVA F-test (aov, BigDataProject.R:197-206)."""
    r = _anova_test(group_moments(df, value, group).values())
    return local_frame(
        df.sparkSession,
        [] if r is None else [r],
        "k long, n long, ss_between double, ss_within double, df1 long, "
        "df2 long, f_stat double, p_value double",
    )


def oneway_anova_multi(
    df: DataFrame, values: list[str], group: str
) -> DataFrame:
    """H2 for every ``values`` column against the same grouping, in one
    Spark pass: a melt to (feature, value) structs and one
    groupBy(feature, group), so the job count does not grow with the
    number of features. Rows keep the order of ``values``."""
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
    by_feat: dict[str, list] = {}
    for (feat, _), m in group_moments(melted, "v", ["feature", "_g"]).items():
        by_feat.setdefault(feat, []).append(m)
    out = []
    for feat in values:
        r = _anova_test(by_feat.get(feat, []))
        if r is not None:
            k, n, _, _, df1, df2, f, p = r
            out.append((feat, k, n, df1, df2, f, p))
    return local_frame(
        df.sparkSession,
        out,
        "feature string, k long, n long, df1 long, df2 long, "
        "f_stat double, p_value double",
    )


def tukey_hsd(df: DataFrame, value: str, group: str) -> DataFrame:
    """H3: Tukey HSD post-hoc — all pairwise mean diffs with studentized-
    range adjusted p-values (TukeyHSD, BigDataProject.R:203-206)."""
    k, dof, pairs = tukey_pairs(group_moments(df, value, group))
    return local_frame(
        df.sparkSession,
        [(*pair, _p(sm.tukey_p_adj, pair[-1], k, dof)) for pair in pairs],
        "group1 string, group2 string, diff double, se double, "
        "q_stat double, p_adj double",
    )


def pearson_corr_test(df: DataFrame, x: str, y: str) -> DataFrame:
    """H4: Pearson correlation test (cor.test, BigDataProject.R:224-233)."""
    ((r, n),) = materialize.collect_small(df.agg(F.corr(x, y), F.count(F.lit(1))), 1)
    t = r * math.sqrt((n - 2) / (1 - r * r))
    p = sm.t_test_p_two_sided(t, n - 2)
    return local_frame(
        df.sparkSession,
        [(float(r), int(n), float(t), float(n - 2), float(p))],
        "r double, n long, t_stat double, df double, p_value double",
    )


def chi2_independence(df: DataFrame, a: str, b: str) -> DataFrame:
    """χ² test of independence over an a×b contingency (feeds H5's
    chiSquared interest measure, associationRules.R:201-207)."""
    n, chi2, dof, v = chi2_fold(contingency_cells(df, a, b))
    return local_frame(
        df.sparkSession,
        [(chi2, dof, _p(sm.chi2_sf, chi2, dof), v, n)],
        "chi2 double, df long, p_value double, cramers_v double, n long",
    )
