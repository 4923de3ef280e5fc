"""Aggregation operators (SURVEY.md §2.4 A1-A14) and the EDA data
reductions of §2.9 — all hash aggregations with automatic partial (map-
side) combine; nothing here collects data-sized results to the driver.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.materialize import local_frame


def group_count(df: DataFrame, *cols: str, sort: bool = True) -> DataFrame:
    """A1: ``count(brand, sort=TRUE)`` (BigDataProject.R:151-152)."""
    out = df.groupBy(*cols).count()
    if sort:
        out = out.orderBy(F.desc("count"), *[F.asc(c) for c in cols])
    return out


def group_means(df: DataFrame, group: str, cols: Sequence[str]) -> DataFrame:
    """A2: ``aggregate(. ~ cluster, FUN=mean)`` (BigDataProject.R:480-482)."""
    return df.groupBy(group).agg(*[F.avg(c).alias(c) for c in cols])


def na_counts(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """A4: ``colSums(is.na(df))`` — one row, one pass
    (BigDataProject.R:78)."""
    cols = list(cols or df.columns)
    return df.select(
        *[F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in cols]
    )


# Quantile accuracy for the approximate (100 TB) path: relative rank
# error ≤ 1/PERCENTILE_ACCURACY with the single-pass mergeable
# Greenwald-Khanna sketch behind `percentile_approx`.
PERCENTILE_ACCURACY = 10_000


def percentile_expr(col: str, probs: Sequence[float] | float, mode: str = "exact"):
    """A7 percentile expression with a code-level exact↔approx switch.

    ``mode='exact'``: Spark ``percentile`` — type-7 interpolation,
    bit-identical to R ``quantile`` and DuckDB ``quantile_cont`` (the
    oracle-parity default; buffers the column per group).
    ``mode='approx'``: ``percentile_approx`` — single-pass mergeable
    sketch, bounded memory per partition, the selectable 100 TB path
    (band-assignment agreement vs exact is measured by the
    ``approx_vs_exact_stats`` query and gated ≥99.9% in tests)."""
    scalar = not isinstance(probs, Sequence)
    arr = str(probs) if scalar else "array(" + ", ".join(str(p) for p in probs) + ")"
    if mode == "exact":
        return F.expr(f"percentile({col}, {arr})")
    if mode == "approx":
        return F.expr(f"percentile_approx({col}, {arr}, {PERCENTILE_ACCURACY})")
    raise ValueError(f"unknown percentile mode: {mode}")


def exact_percentiles(
    df: DataFrame, col: str, probs: Sequence[float], mode: str = "exact"
) -> list[float]:
    """A7: interpolating percentiles (R type-7 parity in exact mode)."""
    row = df.select(percentile_expr(col, probs, mode).alias("q")).first()
    return [float(v) for v in row["q"]]


def five_number_summary(
    df: DataFrame, group: str, col: str, mode: str = "exact"
) -> DataFrame:
    """§2.9 boxplot reduction: per-group min/Q1/median/Q3/max + IQR
    whisker bounds (BigDataProject.R:146-149)."""
    q = percentile_expr(col, [0.25, 0.5, 0.75], mode)
    return (
        df.groupBy(group)
        .agg(
            F.min(col).alias("lo"),
            q[0].alias("q1"),
            q[1].alias("median"),
            q[2].alias("q3"),
            F.max(col).alias("hi"),
        )
        .withColumn("whisker_lo", F.col("q1") - 1.5 * (F.col("q3") - F.col("q1")))
        .withColumn("whisker_hi", F.col("q3") + 1.5 * (F.col("q3") - F.col("q1")))
    )


def histogram(df: DataFrame, col: str, bins: int = 30) -> DataFrame:
    """§2.9 histogram reduction: equal-width bin counts
    (BigDataProject.R:135-138, bins=30). Two passes: min/max scalars, then
    one hash agg on ``floor((x-min)/w)`` with the max value clamped into
    the last bin (matching R/ggplot edge handling)."""
    lo, hi = df.agg(F.min(col), F.max(col)).first()
    lo, hi = float(lo), float(hi)
    width = (hi - lo) / bins or 1.0
    bin_col = F.least(
        F.floor((F.col(col) - F.lit(lo)) / F.lit(width)), F.lit(bins - 1)
    ).cast("long")
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(bin_col.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("bin_lo", F.round(F.lit(lo) + F.col("bin") * F.lit(width), 6))
        .orderBy("bin")
    )


def corr_matrix(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """A13: pairwise Pearson correlation matrix (BigDataProject.R:159-162).

    Decomposed into ONE aggregation pass computing all sufficient
    statistics (n, sum, sum-of-squares, cross-products) — O(d²) scalar
    aggregates, one shuffle-free reduce — then tiny driver-side arithmetic.
    Equivalent to ``pyspark.ml.stat.Correlation`` without the vector
    assembly detour; at 100 TB this is a single scan.
    """
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.sum(c).alias(f"_s_{c}"))
        aggs.append(F.sum(F.col(c) * F.col(c)).alias(f"_ss_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"_cp_{a}_{b}"))
    row = df.agg(*aggs).first()
    n = row["_n"]
    import math

    def corr(a: str, b: str) -> float:
        if a == b:
            return 1.0
        key = f"_cp_{a}_{b}" if f"_cp_{a}_{b}" in row.__fields__ else f"_cp_{b}_{a}"
        cov = row[key] - row[f"_s_{a}"] * row[f"_s_{b}"] / n
        va = row[f"_ss_{a}"] - row[f"_s_{a}"] ** 2 / n
        vb = row[f"_ss_{b}"] - row[f"_s_{b}"] ** 2 / n
        return cov / math.sqrt(va * vb)

    spark = df.sparkSession
    data = [(a, *[corr(a, b) for b in cols]) for a in cols]
    ddl = ", ".join(["`column` string", *[f"`{c}` double" for c in cols]])
    return local_frame(spark, data, ddl)


def crosstab_counts(df: DataFrame, row_col: str, col_col: str) -> DataFrame:
    """A14: confusion/contingency counts in long form
    (BigDataProject.R:363-364); pivot at the caller if wide form needed."""
    return df.groupBy(row_col, col_col).agg(F.count(F.lit(1)).alias("n"))


def item_frequency(df: DataFrame, items_col: str = "items") -> DataFrame:
    """A11: explode + count + pct (associationRules.R:93-98, 268-277)."""
    total = df.count()
    return (
        df.select(F.explode(items_col).alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("count"))
        .withColumn("pct", F.round(F.col("count") / F.lit(total), 6))
        .orderBy(F.desc("count"), F.asc("item"))
    )


def minmax(df: DataFrame, cols: Sequence[str]) -> dict[str, tuple[float, float]]:
    """A8: per-column min/max, one pass (BigDataProject.R:498-499)."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]
    row = df.agg(*aggs).first()
    return {c: (float(row[f"_mn_{c}"]), float(row[f"_mx_{c}"])) for c in cols}


def exact_percentiles_distributed(
    df: DataFrame,
    col: str,
    probs: Sequence[float],
    with_n: bool = False,
    compress_values: bool = True,
) -> DataFrame:
    """Type-7 exact percentiles WITHOUT the single-buffer aggregate:
    Spark's ``percentile`` (and DuckDB's ``quantile_cont``) buffer every
    value of the group in one aggregation buffer — fine at small SF,
    fatal for a global percentile over a 100 TB column. This form is
    fully distributed: value-compressed counts (one hash aggregate),
    a range-partitioned two-pass cumulative (no global single-task
    window), then each requested percentile reads its two order
    statistics with conditional mins and interpolates with Spark's own
    formula ``lower + (higher - lower) * frac``.

    Returns one row per prob: (p, value) — plus a constant ``n`` column
    (non-null value count, 0 when empty) when ``with_n=True``, so
    callers that also report the count don't re-evaluate the input with
    a separate ``count()`` plan (that sibling aggregate would be a full
    second evaluation of arbitrarily expensive upstreams, e.g. the
    Theil-Sen pair join).

    Matches ``percentile(col, p)`` exactly: identical order statistics,
    identical interpolation arithmetic (gated by the
    ``distributed_exact_quantiles_check`` oracle query and the
    equivalence test in tests/test_operators.py).

    ``compress_values=False`` skips the value-compression
    groupBy: callers whose value domain is ~unique (Theil-Sen's
    pairwise slopes — ratios of distinct integer pairs) pay a full
    hash-aggregate exchange that compresses nothing; the cumulative
    then runs over raw rows with c=1 each. Identical order statistics
    either way — the probe reads the i-th smallest value off the
    inclusive cumulative, which is the same multiset whether ties are
    pre-grouped (one row, c=k) or not (k rows, c=1); pinned by
    test_distributed_percentile_uncompressed_identical.
    """
    from .windows import range_partitioned_cumsum

    spark = df.sparkSession
    vals = df.select(F.col(col).alias("v")).filter(F.col("v").isNotNull())
    if compress_values:
        counts = vals.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    else:
        counts = vals.withColumn("c", F.lit(1).cast("long"))
    cum0, part = range_partitioned_cumsum(
        counts, ["v"], ["c"], with_part=True
    )
    cum = cum0.select("v", F.col("cum_c").alias("cum"))
    # n = one flat aggregate over the PINNED partitioned counts, not a
    # separate ``counts.agg(sum(c))`` plan that would re-evaluate the
    # whole upstream. Identical value and NULL-on-empty parity.
    n = part.agg(F.sum("c").cast("long").alias("n"))
    p_df = local_frame(spark, [(float(p),) for p in probs], "p double")
    # h = (n-1)*p in double, exactly as Percentile/quantile_cont compute
    idx = p_df.crossJoin(F.broadcast(n)).select(
        "p",
        ((F.col("n") - 1) * F.col("p")).alias("h"),
        "n",
    )
    idx = idx.select(
        "p",
        "h",
        (F.floor("h") + 1).alias("i_lo"),
        (F.ceil("h") + 1).alias("i_hi"),
        "n",
    )
    j = cum.crossJoin(F.broadcast(idx.drop("n")))
    per = j.groupBy("p", "h").agg(
        F.min(F.when(F.col("cum") >= F.col("i_lo"), F.col("v"))).alias("x_lo"),
        F.min(F.when(F.col("cum") >= F.col("i_hi"), F.col("v"))).alias("x_hi"),
    )
    # Degenerate-input parity: on an empty/all-null column ``cum`` is
    # empty, so the grouped probe yields NO rows — but ``percentile``/
    # ``quantile_cont`` return a NULL row per requested p. Left-join the
    # probe frame back onto the requested percentiles so each p always
    # yields exactly one row (value NULL when no data exists); composing
    # queries keep their row count instead of silently losing rows.
    frac = F.col("h") - F.floor("h")
    n_cols = (
        [F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n")]
        if with_n
        else []
    )
    return (
        idx.select("p", "h", "n")
        .join(per, ["p", "h"], "left")
        .select(
            "p",
            (
                F.col("x_lo") + (F.col("x_hi") - F.col("x_lo")) * frac
            ).alias("value"),
            *n_cols,
        )
        .orderBy("p")
    )


def exact_percentiles_distributed_grouped(
    df: DataFrame, col: str, group: str, probs: Sequence[float]
) -> DataFrame:
    """Per-GROUP type-7 exact percentiles without per-group value
    buffers OR per-group single-task windows — the grouped companion of
    ``exact_percentiles_distributed`` for high-cardinality or SKEWED
    groups. A ``Window.partitionBy(group)`` cumulative serializes each
    group into one task, so a 50%-of-rows group becomes a straggler
    (a skew probe measured 1.4× at sf0.1 with the window form; the
    ratio grows with data). Instead: one GLOBAL range-partitioned
    cumulative over (group, value) order — parallel WITHIN the big
    group — minus each group's exclusive offset (a second, bounded
    range cumulative over the per-group totals) gives the intra-group
    cumulative with no task ever owning a whole group. Returns
    (group, p, value)."""
    from ..plans.materialize import pinned_lru
    from .windows import range_partitioned_cumsum

    spark = df.sparkSession
    vals = df.select(
        F.col(group).alias("g"), F.col(col).alias("v")
    ).filter(F.col("v").isNotNull())
    # counts is consumed by TWO independent plans (the (g,v) cumulative
    # and the per-group totals) — pin it so the arbitrarily expensive
    # upstream is evaluated once, not twice. Memory is
    # bounded by the distinct-(group,value) domain — the same class the
    # cumulative's internal pin already holds; LRU keeps 4 generations.
    counts = pinned_lru(
        vals.groupBy("g", "v").agg(F.count(F.lit(1)).alias("c")),
        "pctl_grouped_counts",
        keep=4,
        eager=False,  # lazy: the (g,v) cumulative materializes the cache in-pass
    )
    gcum = range_partitioned_cumsum(counts, ["g", "v"], ["c"]).select(
        "g", "v", F.col("cum_c").alias("gcum")
    )
    gtot = counts.groupBy("g").agg(F.sum("c").alias("n"))
    # exclusive per-group offset = inclusive cumulative over group
    # totals minus the group's own total (bounded input: one row/group)
    off = range_partitioned_cumsum(gtot, ["g"], ["n"]).select(
        "g", "n", (F.col("cum_n") - F.col("n")).alias("off")
    )
    cum = gcum.join(off, "g").select(
        "g", "v", (F.col("gcum") - F.col("off")).alias("cum"), "n"
    )
    p_df = local_frame(spark, [(float(p),) for p in probs], "p double")
    j = cum.join(F.broadcast(p_df))
    h = (F.col("n") - 1) * F.col("p")
    j = j.select(
        "g",
        "v",
        "cum",
        "p",
        h.alias("h"),
        (F.floor(h) + 1).alias("i_lo"),
        (F.ceil(h) + 1).alias("i_hi"),
    )
    per = j.groupBy("g", "p", "h").agg(
        F.min(F.when(F.col("cum") >= F.col("i_lo"), F.col("v"))).alias("x_lo"),
        F.min(F.when(F.col("cum") >= F.col("i_hi"), F.col("v"))).alias("x_hi"),
    )
    frac = F.col("h") - F.floor("h")
    return per.select(
        F.col("g").alias(group),
        "p",
        (F.col("x_lo") + (F.col("x_hi") - F.col("x_lo")) * frac).alias("value"),
    ).orderBy(group, "p")
