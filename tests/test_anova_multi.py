"""oneway_anova_multi (one melt+groupBy pass) and oneway_anova must
agree with a numpy hand computation of the one-way ANOVA, feature for
feature."""

from __future__ import annotations

import numpy as np
import pytest

from bigdata_carprice_assignment_spark.operators import stats
from bigdata_carprice_assignment_spark.operators import stats_math as sm
from bigdata_carprice_assignment_spark.sources.readers import load_table


@pytest.fixture(scope="module")
def orders(spark, sf_smoke):
    return load_table(spark, sf_smoke, "orders").limit(2000).cache()


def _hand_anova(groups: list[np.ndarray]) -> tuple[int, int, float, float]:
    """(k, n, F, p) of a one-way ANOVA, by hand with numpy."""
    k, n = len(groups), sum(len(g) for g in groups)
    grand = np.concatenate(groups).mean()
    ssb = sum(len(g) * (g.mean() - grand) ** 2 for g in groups)
    ssw = sum(((g - g.mean()) ** 2).sum() for g in groups)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    return k, n, f, sm.f_sf(f, k - 1, n - k)


def test_anova_paths_against_hand_computation(spark):
    rng = np.random.default_rng(11)
    sizes, centres = (40, 55, 70), (10.0, 10.5, 12.0)
    a = [rng.normal(c, 2.0, s) for c, s in zip(centres, sizes)]
    b = [rng.normal(100.0, 5.0 + i, s) for i, s in enumerate(sizes)]
    rows = [
        (f"g{i}", float(x), float(y))
        for i, (xs, ys) in enumerate(zip(a, b))
        for x, y in zip(xs, ys)
    ]
    df = spark.createDataFrame(rows, "g string, a double, b double")
    multi = {r["feature"]: r for r in stats.oneway_anova_multi(df, ["a", "b"], "g").collect()}
    for col, groups in (("a", a), ("b", b)):
        k, n, f, p = _hand_anova(groups)
        (single,) = stats.oneway_anova(df, col, "g").collect()
        for got in (multi[col], single):
            assert (got["k"], got["n"], got["df1"], got["df2"]) == (k, n, k - 1, n - k)
            assert got["f_stat"] == pytest.approx(f, rel=1e-9)
            assert got["p_value"] == pytest.approx(p, rel=1e-9, abs=1e-300)


def test_multi_preserves_feature_order(spark, orders):
    df = orders.selectExpr("o_orderpriority AS g", "o_totalprice AS z", "o_totalprice AS a")
    out = stats.oneway_anova_multi(df, ["z", "a"], "g")
    assert [r["feature"] for r in out.collect()] == ["z", "a"]
