"""Physical data layout for scan pruning at scale.

Parquet row-group (and file) skipping works off min/max column
statistics; it only bites when the data is CLUSTERED so each row group
covers a narrow value range. A single-column sort clusters one
dimension perfectly and leaves every other dimension unclustered; a
Z-order (Morton) sort interleaves the bits of several columns so ALL
participating dimensions get locality — the standard multi-dimensional
clustering trick (Delta Lake ZORDER BY, Databricks OPTIMIZE).

Implemented as pure Column expressions (bit shifts + masks, whole-stage
codegen) — no UDF, no driver pass; the sort is Spark's ordinary
range-partitioned sort, so the write scales like any global sort.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.materialize import local_frame


def _minmax_scaled(col: str, lo: float, hi: float, bits: int) -> Column:
    """Linear-scale the column into [0, 2^bits) given its min/max (one
    shared agg pass computes these — NOT a global-window rank, which
    would funnel the whole table through one task). Heavily skewed
    dimensions waste interleave bits under linear scaling; pre-transform
    them (log, bucketize) before z-ordering."""
    span = (hi - lo) or 1.0
    scaled = (F.col(col).cast("double") - F.lit(lo)) / F.lit(span) * (1 << bits)
    return F.least(
        F.greatest(F.floor(scaled).cast("long"), F.lit(0)),
        F.lit((1 << bits) - 1),
    )


def zorder_key(df: DataFrame, cols: list[str], bits: int = 16) -> Column:
    """Morton key over ``cols``: bit i of column j lands at position
    i·n_cols + j. Inputs are min/max-scaled to ``bits`` bits each (one
    agg job over ``df``); total key width bits·n_cols must fit a long
    (≤ 63)."""
    n = len(cols)
    if bits * n > 63:
        raise ValueError(f"zorder key would need {bits * n} bits (> 63)")
    bounds = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"_lo{j}") for j, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"_hi{j}") for j, c in enumerate(cols)],
    ).first()
    scaled = [
        _minmax_scaled(c, bounds[f"_lo{j}"], bounds[f"_hi{j}"], bits)
        for j, c in enumerate(cols)
    ]
    terms = [
        scaled[j].bitwiseAND(F.lit(1 << i)).cast("long")
        * F.lit(1 << (i * (n - 1) + j))  # shift bit i to i·n + j, minus the i it has
        for i in range(bits)
        for j in range(n)
    ]
    return reduce(lambda a, b: a + b, terms)


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    rows_per_group: int = 10_000,
) -> None:
    """Sort by the Morton key and write parquet with bounded row groups,
    so min/max stats on every ``cols`` member are narrow per group and
    a predicate on ANY of them prunes. ``repartitionByRange`` on the key
    keeps the sort distributed (no single-task global sort)."""
    keyed = df.withColumn("_zkey", zorder_key(df, cols, bits))
    (
        keyed.repartitionByRange(
            max(df.sparkSession.sparkContext.defaultParallelism, 8), "_zkey"
        )
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", rows_per_group)
        .parquet(path)
    )


def write_corpus_stats(df: DataFrame, path: str, vec_col: str) -> dict:
    """Record CATALOG STATISTICS next to an ingested corpus: row count
    and distinct-``vec_col`` count, one aggregate job, written as a
    one-row parquet at ``path``.

    This is the ingest half of the dedup-before-ANN switch: at 100 TB
    an ANN query must not pay a full-corpus ``distinct().count()`` job
    just to DECIDE its route — the duplication profile of an immutable
    corpus is a property of the data, computed once when the data
    lands (every table format does this: Delta/Iceberg column stats,
    Hive ANALYZE TABLE). ``llm.similarity.srp_knn_join`` accepts the
    two numbers as ``n_docs_stat`` / ``n_distinct_stat`` and skips both
    per-call count jobs."""
    row = (
        df.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(F.col(vec_col)).alias("n_distinct"),
        )
        .withColumn("vec_col", F.lit(vec_col))
        .first()
    )
    stats = {"n_docs": row["n_docs"], "n_distinct": row["n_distinct"]}
    local_frame(
        df.sparkSession,
        [(vec_col, stats["n_docs"], stats["n_distinct"])],
        "vec_col string, n_docs long, n_distinct long",
    ).coalesce(1).write.mode("overwrite").parquet(path)
    return stats


def read_corpus_stats(
    spark, path: str, vec_col: str | None = None
) -> dict | None:
    """Read stats written by :func:`write_corpus_stats`; None if absent
    (callers fall back to the count jobs).

    ``vec_col``, when given, is the vector column the CALLER is about
    to route on: stats recorded for a different column describe a
    different duplication profile, so a mismatch returns None (fall
    back to probing) instead of silently steering the ANN route and
    broadcast decisions with the wrong numbers (ADVICE r10). Only the
    path-missing case is swallowed — a corrupt file or a permissions
    error surfaces as the AnalysisException/IOError it is."""
    from pyspark.errors import AnalysisException

    try:
        row = spark.read.parquet(path).first()
    except AnalysisException as e:
        # PATH_NOT_FOUND / unable-to-infer-schema (empty dir) mean
        # "stats never written" — the documented fall-back case. Any
        # other analysis error (corrupt footer, schema clash) is real.
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "UNABLE_TO_INFER_SCHEMA" in msg:
            return None
        raise
    if row is None:
        return None
    if vec_col is not None and row["vec_col"] != vec_col:
        return None
    return {"n_docs": row["n_docs"], "n_distinct": row["n_distinct"]}
