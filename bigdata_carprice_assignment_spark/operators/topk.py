"""Sorts / limits / top-k (SURVEY.md §2.5 T1-T5).

Spark plans ``orderBy().limit(n)`` as TakeOrderedAndProject — each task
keeps a size-n heap, only n·partitions rows reach the driver-side merge;
no global sort. Per-group argmax shuffles once on the group key.
All orderings carry a deterministic tie-break (key ascending) so results
are stable across engines and partitionings — R's ``top_n`` keeps ties;
we document exact-n + tie-break instead (SURVEY.md §7 Phase 1 traps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def top_n_by_count(df: DataFrame, col: str, n: int) -> DataFrame:
    """T1: top-N groups by frequency (BigDataProject.R:151-153)."""
    return (
        df.groupBy(col)
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc(col))
        .limit(n)
    )


def argmax_per_group(
    df: DataFrame, group: str, order_col: str, tiebreak: str
) -> DataFrame:
    """T4: row with max ``order_col`` per group — the reference's only
    window-shaped computation (``which.max`` per segment,
    associationRules.R:334)."""
    w = Window.partitionBy(group).orderBy(F.desc(order_col), F.asc(tiebreak))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

