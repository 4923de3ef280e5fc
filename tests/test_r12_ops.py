"""Round-12 operator-internals pins.

The r12 optimizations restructure HOW several operators execute —
uncompressed percentile input, survival-query window fusion, the
grouped range cumulative in Anderson-Darling, lazy-checkpoint Pregel
loops — without changing WHAT they compute. These tests pin the
equivalences the optimizations rely on.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_distributed_percentile_uncompressed_identical(spark):
    """compress_values=False must yield byte-identical percentiles to
    the compressed path on a tied, skewed value set (ties exercise the
    c=1-per-row vs c=k-per-value equivalence at the probe)."""
    from bigdata_carprice_assignment_spark.operators.aggregates import (
        exact_percentiles_distributed,
    )

    vals = [1.0, 1.0, 1.0, 2.5, 2.5, 3.0, 7.75, 7.75, 7.75, 7.75, 9.0, -4.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    probs = [0.0, 0.1, 0.25, 0.5, 0.733, 0.9, 1.0]
    a = exact_percentiles_distributed(df, "x", probs, with_n=True).collect()
    b = exact_percentiles_distributed(
        df, "x", probs, with_n=True, compress_values=False
    ).collect()
    assert a == b
    # and both match the single-buffer builtin exactly
    built = (
        df.agg(
            F.expr(
                "percentile(x, array({}))".format(
                    ",".join(str(p) for p in probs)
                )
            ).alias("ps")
        ).collect()[0]["ps"]
    )
    assert [r["value"] for r in a] == built


def test_survival_subject_fusion_matches_join_shape(spark):
    """The r12 survival-family fusion (one rank window + groupBy on the
    partition key) must produce the same (dur, event) multiset as the
    old two-filter + left-join shape, including the censored
    (no-second-event) rows."""
    from pyspark.sql import Window

    rows = [
        # (cust, day) — cust 1 has 3 orders, cust 2 has 1 (censored),
        # cust 3 has two orders on the SAME day (dur 0)
        (1, "2020-01-01"),
        (1, "2020-01-05"),
        (1, "2020-02-01"),
        (2, "2020-01-03"),
        (3, "2020-01-04"),
        (3, "2020-01-04"),
    ]
    df = spark.createDataFrame(rows, "c long, d string").select(
        "c", F.to_date("d").alias("d"), F.monotonically_increasing_id().alias("k")
    )
    w = Window.partitionBy("c").orderBy("d", "k")
    r = df.select("c", "d", F.row_number().over(w).alias("rn"))
    mx = df.agg(F.max("d").alias("mxd"))

    # old shape
    first = r.filter(F.col("rn") == 1).select("c", F.col("d").alias("fd"))
    second = r.filter(F.col("rn") == 2).select("c", F.col("d").alias("sd"))
    old = (
        first.join(second, "c", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            "c",
            F.when(F.col("sd").isNotNull(), F.datediff("sd", "fd"))
            .otherwise(F.datediff("mxd", "fd"))
            .alias("dur"),
            F.when(F.col("sd").isNotNull(), 1).otherwise(0).alias("event"),
        )
    )
    # r12 fused shape
    fused = (
        r.filter(F.col("rn") <= 2)
        .groupBy("c")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("d"))).alias("fd"),
            F.min(F.when(F.col("rn") == 2, F.col("d"))).alias("sd"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "c",
            F.when(F.col("sd").isNotNull(), F.datediff("sd", "fd"))
            .otherwise(F.datediff("mxd", "fd"))
            .alias("dur"),
            F.when(F.col("sd").isNotNull(), 1).otherwise(0).alias("event"),
        )
    )
    assert sorted(map(tuple, old.collect())) == sorted(map(tuple, fused.collect()))


def test_grouped_offset_cumsum_matches_window(spark):
    """The r12 Anderson-Darling grouped cumulative (global (g, v)
    range cumsum minus per-group exclusive offsets) must equal the
    per-group ordered window cumsum exactly."""
    from pyspark.sql import Window

    from bigdata_carprice_assignment_spark.operators.windows import (
        range_partitioned_cumsum,
    )

    rows = [
        (g, float(v), (ord(g) * 7 + v) % 3)
        for g in ("a", "b", "c")
        for v in range(1, 25)
    ]
    grid = spark.createDataFrame(rows, "g string, v double, f long")

    wg = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = grid.select(
        "g", "v", F.sum("f").over(wg).alias("cum")
    ).collect()

    gcum = range_partitioned_cumsum(grid, ["g", "v"], ["f"])
    grps = grid.groupBy("g").agg(F.sum("f").alias("ni"))
    gb = grps.select(F.col("g").alias("_g2"), F.col("ni").alias("_ni2"))
    off = (
        grps.join(F.broadcast(gb), F.col("_g2") < F.col("g"), "left")
        .groupBy("g")
        .agg(F.coalesce(F.sum("_ni2"), F.lit(0)).alias("_off"))
    )
    got = (
        gcum.join(F.broadcast(off), "g")
        .select("g", "v", (F.col("cum_f") - F.col("_off")).alias("cum"))
        .collect()
    )
    assert sorted(map(tuple, want)) == sorted(map(tuple, got))


def test_pagerank_lazy_checkpoint_loop_stable(spark):
    """pagerank (r12: lazy localCheckpoint + AQE-off loop) must return
    identical rows on repeated calls and restore the AQE conf."""
    from bigdata_carprice_assignment_spark.operators.graphs import pagerank

    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (2, 5), (5, 6)]
    e = spark.createDataFrame(edges, "u long, v long")
    before = spark.conf.get("spark.sql.adaptive.enabled")
    r1 = sorted(map(tuple, pagerank(e, iterations=5, key=("t12pr",)).collect()))
    r2 = sorted(map(tuple, pagerank(e, iterations=5, key=("t12pr",)).collect()))
    assert r1 == r2
    assert spark.conf.get("spark.sql.adaptive.enabled") == before
    # sanity: ranks sum to ~1
    total = sum(r[1] for r in r1)
    assert abs(total - 1.0) < 1e-9
