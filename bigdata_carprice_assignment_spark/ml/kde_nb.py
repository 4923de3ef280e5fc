"""Kernel-density Naive Bayes — the reference's ACTUAL M7 estimator
(``naiveBayes(..., usekernel = TRUE)`` at
/root/reference/BigDataProject.R:349-364 resolves to klaR-style NB whose
class-conditional densities are ``stats::density`` gaussian KDEs, not
gaussians). This closes the "gaussian NB in the kernel-NB slot" fidelity
delta that SURVEY §2.8 had planned as accuracy-level-only parity.

Faithful pieces of the R semantics:
- bandwidth = ``bw.nrd0``: 0.9 · min(sd, IQR/1.349) · n^(-1/5), with
  R's fallbacks when sd or IQR degenerate;
- densities evaluated on a 512-point grid spanning
  [min − cut·bw, max + cut·bw] with cut = 3 — exactly what
  ``stats::density`` computes (R's predict interpolates that grid via
  ``approx``, so a grid implementation is parity, not approximation);
- prediction interpolates the grid per feature, floors tiny/out-of-range
  densities at klaR's ``threshold`` (default 0.001), and combines
  log-prior + Σ log-density, argmax with alphabetical tie-break.

Spark-first shape (no training-data collect, no per-row Python in fit):
1. melt (class, feature, value) — one projection;
2. per-(class, feature) moments/quantiles — ONE grouped aggregate;
3. KDE at grid points from VALUE-COMPRESSED counts joined to the
   broadcast (class, feature, grid) frame — work is
   O(distinct values × grid), never O(rows × grid);
4. the fitted model is (classes × features × 512) scalars — driver-sized
   by construction; prediction is one Arrow-batched pandas_udf doing
   ``np.interp`` against the broadcast grids.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.materialize import local_frame


class KdeNaiveBayesModel:
    """Fitted kernel NB: broadcastable grids + priors.

    ``labels`` are the class labels in alphabetical order (matching the
    StringIndexer ``alphabetAsc`` convention the gaussian-NB pipeline
    uses, so confusion-matrix consumers treat both models identically).
    """

    def __init__(
        self,
        labels: list[str],
        features: list[str],
        log_priors: np.ndarray,
        grid_x: np.ndarray,
        grid_d: np.ndarray,
        threshold: float,
    ) -> None:
        self.labels = labels
        self.features = features
        self._log_priors = log_priors  # (C,)
        self._grid_x = grid_x  # (C, F, G)
        self._grid_d = grid_d  # (C, F, G)
        self._threshold = threshold

    def transform(self, df: DataFrame) -> DataFrame:
        labels = self.labels
        feats = self.features
        lp = self._log_priors
        gx, gd = self._grid_x, self._grid_d
        thr = self._threshold

        @F.pandas_udf("string")
        def predict(*cols: pd.Series) -> pd.Series:
            X = np.column_stack([c.to_numpy(dtype=np.float64) for c in cols])
            n = len(X)
            score = np.tile(lp, (n, 1))  # (n, C)
            for ci in range(len(labels)):
                for fi in range(len(feats)):
                    d = np.interp(X[:, fi], gx[ci, fi], gd[ci, fi], left=0.0, right=0.0)
                    score[:, ci] += np.log(np.maximum(d, thr))
            # argmax; ties break to the alphabetically-first class
            # (np.argmax returns the first maximal index; labels sorted)
            idx = np.argmax(score, axis=1)
            return pd.Series(np.asarray(labels, dtype=object)[idx])

        return df.withColumn("predicted", predict(*[F.col(c) for c in feats]))

    def confusion(self, test: DataFrame, label: str) -> DataFrame:
        """A14 long-form confusion counts, same shape as
        ``pipelines.confusion_matrix``."""
        return (
            self.transform(test)
            .groupBy(F.col(label).alias("actual"), "predicted")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("actual", "predicted")
        )


def _nrd0(n: float, sd: float | None, iqr: float | None, fallback: float) -> float:
    """R ``bw.nrd0``: 0.9·min(sd, IQR/1.349)·n^(-1/5) with R's
    degenerate-data fallbacks (sd→IQR→|x|→1)."""
    sd = float(sd or 0.0)
    iqr = float(iqr or 0.0)
    lo = min(sd, iqr / 1.349) if iqr > 0 else sd
    if lo <= 0:
        lo = sd if sd > 0 else (abs(fallback) if fallback else 1.0)
    if lo <= 0:
        lo = 1.0
    return 0.9 * lo * n ** (-0.2)


def fit_kde_naive_bayes(
    train: DataFrame,
    numeric: Sequence[str],
    label: str,
    grid_points: int = 512,
    cut: float = 3.0,
    threshold: float = 1e-3,
) -> KdeNaiveBayesModel:
    spark = train.sparkSession
    feats = list(numeric)
    # 1. melt to (class, feature, value) — one Expand projection
    stack_expr = ", ".join(f"'{c}', `{c}`" for c in feats)
    melted = train.select(
        F.col(label).alias("_cls"),
        F.expr(f"stack({len(feats)}, {stack_expr}) AS (_feat, _v)"),
    ).filter(F.col("_v").isNotNull())
    # 2. one grouped pass: n, sd, IQR, min, max, a fallback sample value
    stats = (
        melted.groupBy("_cls", "_feat")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.stddev_samp("_v").alias("sd"),
            F.expr("percentile(_v, 0.75) - percentile(_v, 0.25)").alias("iqr"),
            F.min("_v").alias("mn"),
            F.max("_v").alias("mx"),
            # deterministic bandwidth fallback for degenerate sd/IQR:
            # min(|v|) is partition-order-independent (F.first is not,
            # and would make the fitted bandwidth vary across runs),
            # mirroring R's abs(x[1]) intent
            F.min(F.abs("_v")).alias("fb"),
        )
        .collect()
    )
    meta = {
        (r["_cls"], r["_feat"]): (
            int(r["n"]),
            _nrd0(int(r["n"]), r["sd"], r["iqr"], float(r["fb"])),
            float(r["mn"]),
            float(r["mx"]),
        )
        for r in stats
    }
    # The class list comes from the PRIORS pass (every non-null label in
    # train), not from the melted stats: a class whose numeric features
    # are all NULL would otherwise appear in the priors but not here and
    # KeyError below; its density cells get a flat floor instead.
    pri = (
        train.filter(F.col(label).isNotNull())
        .groupBy(label)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    labels = sorted(r[label] for r in pri)
    # 3. broadcast (class, feature, grid index → grid x, bw, n) and
    #    reduce value-compressed counts against it
    grid_rows = []
    for (c, f_), (n, bw, mn, mx) in meta.items():
        lo, hi = mn - cut * bw, mx + cut * bw
        step = (hi - lo) / (grid_points - 1)
        grid_rows.append((c, f_, float(n), bw, lo, step))
    gmeta = local_frame(
        spark,
        grid_rows, "_cls string, _feat string, n double, bw double, lo double, step double"
    )
    counts = melted.groupBy("_cls", "_feat", "_v").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    g = counts.join(F.broadcast(gmeta), ["_cls", "_feat"]).select(
        "_cls",
        "_feat",
        "n",
        "bw",
        "lo",
        "step",
        "_v",
        "cnt",
        F.explode(F.sequence(F.lit(0), F.lit(grid_points - 1))).alias("gi"),
    )
    z = (F.col("lo") + F.col("gi") * F.col("step") - F.col("_v")) / F.col("bw")
    dens = (
        g.withColumn(
            "_k",
            F.col("cnt")
            * F.exp(-0.5 * z * z)
            / (F.col("bw") * F.col("n") * F.lit(math.sqrt(2.0 * math.pi))),
        )
        .groupBy("_cls", "_feat", "gi")
        .agg(F.sum("_k").alias("d"), F.first("lo").alias("lo"), F.first("step").alias("step"))
        .collect()
    )
    C, Fn, G = len(labels), len(feats), grid_points
    gx = np.zeros((C, Fn, G))
    gd = np.zeros((C, Fn, G))
    li = {c: i for i, c in enumerate(labels)}
    fi = {f_: i for i, f_ in enumerate(feats)}
    seen = np.zeros((C, Fn), dtype=bool)
    for r in dens:
        if r["_cls"] not in li:
            continue  # NULL-label rows never define a class
        ci, fj = li[r["_cls"]], fi[r["_feat"]]
        gx[ci, fj, r["gi"]] = r["lo"] + r["gi"] * r["step"]
        gd[ci, fj, r["gi"]] = r["d"]
        seen[ci, fj] = True
    # (class, feature) cells with no density grid (all values NULL for
    # that class) get a strictly-increasing dummy grid with zero density
    # — np.interp's behavior on a non-increasing grid is unspecified;
    # this way every lookup returns 0 and the klaR threshold floor
    # applies, i.e. the feature is uninformative for that class.
    for ci in range(C):
        for fj in range(Fn):
            if not seen[ci, fj]:
                gx[ci, fj] = np.arange(G, dtype=np.float64)
    tot = sum(r["n"] for r in pri)
    log_priors = np.full(C, -np.inf)
    for r in pri:
        log_priors[li[r[label]]] = math.log(r["n"] / tot)
    return KdeNaiveBayesModel(labels, feats, log_priors, gx, gd, threshold)
