"""ML-operator queries on the driver corpus (rows-only; model internals
are not SQL-expressible — metric bounds asserted in tests/test_ml.py).

Exercises the ML surface at data scale: feature engineering via joins +
aggregation, vector assembly from an ``array<float>`` parquet column
(embeddings), clustering/PCA on 64-dim vectors.
"""

from __future__ import annotations

from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm import text as TX
from ..ml import pipelines as mlp
from ..plans.materialize import local_frame
from ..registry import query
from ..sources.readers import load_table


def _order_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order features: lineitem aggregates + priority — one shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("l_quantity").alias("sum_qty"),
        F.avg("l_discount").alias("avg_discount"),
        F.avg("l_extendedprice").alias("avg_item_price"),
    )
    return orders.join(
        per_order, orders.o_orderkey == per_order.l_orderkey, "inner"
    ).withColumn("log_totalprice", F.log1p("o_totalprice"))


_ORDER_NUMERIC = ["n_items", "sum_qty", "avg_discount", "avg_item_price"]


@query("order_value_regression_metrics")
def order_value_regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3/M4 at scale: lm on engineered order features, $-scale metrics."""
    df = _order_features(spark, sf_dir)
    train, test = mlp.train_test_split(df, 0.8, seed=123)
    rows = []
    for kind in ("lm", "tree"):
        model = mlp.fit_regression(
            train, _ORDER_NUMERIC, ["o_orderpriority"], label="log_totalprice", kind=kind
        )
        m = mlp.regression_metrics_dollars(model, test, label="log_totalprice")
        rows.append((kind, round(m["rmse"], 2), round(m["r2"], 4), round(m["mae"], 2)))
    return local_frame(
        spark,
        rows, "model string, rmse_dollars double, r2 double, mae_dollars double"
    )


@query("tuned_nonlinear_regressor_metrics")
def tuned_nonlinear_regressor_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 at scale: CrossValidator + ParamGridBuilder (2×2 grid, 2-fold)
    over GBTRegressor on engineered order features — the Spark analogue
    of the reference's tune(svm, ranges=cost×gamma) 5th model
    (/root/reference/BigDataProject.R:366-382). Rows-only (CV model
    internals aren't SQL-expressible); metric-quality bounds are
    asserted in tests/test_ml.py.

    The GRID SEARCH runs on a deterministic hash-sample of the train
    split (≤4k orders): CV × grid × boosting rounds is folds·points·
    iters sequential tree fits, each several Spark jobs — at sf0.01
    that was 165s of per-job overhead for hyperparameters that a sample
    resolves identically (the standard tune-on-sample / refit-on-full
    split; metrics below are on the untouched test split)."""
    df = _order_features(spark, sf_dir)
    train, test = mlp.train_test_split(df, 0.8, seed=123)
    n_train = train.count()
    thr = min(10_000, int(10_000 * 4000 / max(n_train, 1)))
    tune = train.filter(
        (TX.portable_hash60(F.col("o_orderkey").cast("string")) % 10_000) < thr
    ).localCheckpoint()
    model = mlp.tuned_gbt(
        tune,
        _ORDER_NUMERIC,
        ["o_orderpriority"],
        label="log_totalprice",
        num_folds=2,
        max_iter=8,
    )
    m = mlp.regression_metrics_dollars(model, test, label="log_totalprice")
    gbt = model.stages[-1]
    return local_frame(
        spark,
        [
            (
                "tuned_gbt",
                int(gbt.getMaxDepth()),
                float(gbt.getStepSize()),
                round(m["rmse"], 2),
                round(m["r2"], 4),
                round(m["mae"], 2),
            )
        ],
        "model string, best_max_depth int, best_step_size double, "
        "rmse_dollars double, r2 double, mae_dollars double",
    )


def _embedding_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", "label", array_to_vector("embedding").alias("features")
    )


@query("embeddings_kmeans_sizes")
def embeddings_kmeans_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9/M10 on 64-dim embedding vectors: k=10 (the corpus has 10 true
    labels); cluster sizes — label-free distribution check."""
    from pyspark.ml.clustering import KMeans

    feats = _embedding_features(spark, sf_dir)
    model = KMeans(k=10, seed=123, featuresCol="features").fit(feats)
    return (
        model.transform(feats)
        .groupBy(F.col("prediction").alias("cluster"))
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy("cluster")
    )


@query("embeddings_kmeans_elbow")
def embeddings_kmeans_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9 elbow on embeddings, k ∈ {2,4,6,8,10,12}, cached features."""
    feats = _embedding_features(spark, sf_dir)
    wss = mlp.kmeans_elbow(feats, [2, 4, 6, 8, 10, 12], seed=123)
    return local_frame(spark, [(k, round(v, 4)) for k, v in wss], "k int, wss double")


@query("embeddings_pca_variance")
def embeddings_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12 at scale: PCA(k=4) explained variance over 64-dim embeddings."""
    from pyspark.ml.feature import PCA

    feats = _embedding_features(spark, sf_dir)
    model = PCA(k=4, inputCol="features", outputCol="pca").fit(feats)
    return local_frame(
        spark,
        [(i + 1, round(float(v), 6)) for i, v in enumerate(model.explainedVariance)],
        "component int, explained_variance double",
    )
