"""Reference-parity pipeline queries (rows-only: the CarPrice CSV is not
among the oracle's registered views; cell-level parity is asserted by the
Tier-2 golden tests in tests/test_carprice_golden.py instead).

These run the reference's actual workload end-to-end on its actual data —
a user of the reference can call these and get its outputs from Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ml import pipelines as mlp
from ..operators import rules as R
from ..pipelines import carprice as cp
from ..registry import query


def _cleaned(spark: SparkSession) -> DataFrame:
    # Catalyst's constraint propagation is exponential over the wide
    # clamp/bucket CASE-WHEN chains in clean() and OOMs inside ML fits;
    # disable it for whatever session runs these queries (the driver's
    # session doesn't use our factory), and cut lineage before the model
    # fits — 205 rows, so the checkpoint is free.
    #
    # Deliberately NOT restored on exit: optimization runs at ACTION
    # time, so the conf must still be set when the caller collects the
    # returned (lazy) DataFrame — a scoped set/restore around this
    # builder would re-enable the exponential rule before the plan ever
    # optimizes. Session-level engine requirement, documented here and
    # in __spark_entry__._with_safe_confs.
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    # Pooled per session (r11): clean() embeds the 16-column winsorize,
    # whose 1%/99% quantile bounds run as Spark jobs at BUILD time, plus
    # a very wide CASE-WHEN tree whose analysis alone costs ~seconds —
    # every carprice query paid that per call (2.5s warm for a 205-row
    # aggregate, pure plan overhead; guide §1.2). The checkpointed frame
    # is 205 rows; memo hands the same truncated-lineage frame to every
    # consumer in the session.
    from ..plans.materialize import memo

    return memo(
        spark,
        ("carprice_cleaned", cp.REFERENCE_CSV),
        lambda: cp.clean(cp.load_raw(spark)).localCheckpoint(),
    )


# DuckDB oracle for the full cleaned table: replays the reference pipeline
# (BigDataProject.R:41-130) in SQL on the reference CSV itself —
# trim-on-read (the typed CSV scan sets ignoreLeading/TrailingWhiteSpace,
# matching the committed golden), brand = first word, all 16 numeric
# columns winsorized at the type-7 1%/99% quantiles (quantile_cont IS
# type 7 — bit-identical interpolation to Spark percentile), R `cut`
# right-closed price-quartile buckets, log_price = ln(1+price).
# Imputation is a no-op on this dataset (zero NAs — asserted in
# tests/test_carprice_golden.py territory), so the SQL omits it.
_CLEANED_ORACLE = f"""
WITH raw AS (
  SELECT * FROM read_csv('{cp.REFERENCE_CSV}', header=true)
),
base AS (
  SELECT car_ID::DOUBLE AS car_id, symboling::DOUBLE AS symboling,
         trim(CarName) AS carname, fueltype, aspiration, doornumber, carbody,
         drivewheel, enginelocation, wheelbase::DOUBLE AS wheelbase,
         carlength::DOUBLE AS carlength, carwidth::DOUBLE AS carwidth,
         carheight::DOUBLE AS carheight, curbweight::DOUBLE AS curbweight,
         enginetype, cylindernumber, enginesize::DOUBLE AS enginesize,
         fuelsystem, boreratio::DOUBLE AS boreratio, stroke::DOUBLE AS stroke,
         compressionratio::DOUBLE AS compressionratio,
         horsepower::DOUBLE AS horsepower, peakrpm::DOUBLE AS peakrpm,
         citympg::DOUBLE AS citympg, highwaympg::DOUBLE AS highwaympg,
         price::DOUBLE AS price, split_part(trim(CarName), ' ', 1) AS brand
  FROM raw
),
q AS (
  SELECT quantile_cont(car_id, 0.01) AS car_id_lo, quantile_cont(car_id, 0.99) AS car_id_hi,
    quantile_cont(symboling, 0.01) AS symboling_lo, quantile_cont(symboling, 0.99) AS symboling_hi,
    quantile_cont(wheelbase, 0.01) AS wheelbase_lo, quantile_cont(wheelbase, 0.99) AS wheelbase_hi,
    quantile_cont(carlength, 0.01) AS carlength_lo, quantile_cont(carlength, 0.99) AS carlength_hi,
    quantile_cont(carwidth, 0.01) AS carwidth_lo, quantile_cont(carwidth, 0.99) AS carwidth_hi,
    quantile_cont(carheight, 0.01) AS carheight_lo, quantile_cont(carheight, 0.99) AS carheight_hi,
    quantile_cont(curbweight, 0.01) AS curbweight_lo, quantile_cont(curbweight, 0.99) AS curbweight_hi,
    quantile_cont(enginesize, 0.01) AS enginesize_lo, quantile_cont(enginesize, 0.99) AS enginesize_hi,
    quantile_cont(boreratio, 0.01) AS boreratio_lo, quantile_cont(boreratio, 0.99) AS boreratio_hi,
    quantile_cont(stroke, 0.01) AS stroke_lo, quantile_cont(stroke, 0.99) AS stroke_hi,
    quantile_cont(compressionratio, 0.01) AS compressionratio_lo, quantile_cont(compressionratio, 0.99) AS compressionratio_hi,
    quantile_cont(horsepower, 0.01) AS horsepower_lo, quantile_cont(horsepower, 0.99) AS horsepower_hi,
    quantile_cont(peakrpm, 0.01) AS peakrpm_lo, quantile_cont(peakrpm, 0.99) AS peakrpm_hi,
    quantile_cont(citympg, 0.01) AS citympg_lo, quantile_cont(citympg, 0.99) AS citympg_hi,
    quantile_cont(highwaympg, 0.01) AS highwaympg_lo, quantile_cont(highwaympg, 0.99) AS highwaympg_hi,
    quantile_cont(price, 0.01) AS price_lo, quantile_cont(price, 0.99) AS price_hi
  FROM base
),
w AS (
  SELECT greatest(least(b.car_id, q.car_id_hi), q.car_id_lo) AS car_id,
    greatest(least(b.symboling, q.symboling_hi), q.symboling_lo) AS symboling,
    greatest(least(b.wheelbase, q.wheelbase_hi), q.wheelbase_lo) AS wheelbase,
    greatest(least(b.carlength, q.carlength_hi), q.carlength_lo) AS carlength,
    greatest(least(b.carwidth, q.carwidth_hi), q.carwidth_lo) AS carwidth,
    greatest(least(b.carheight, q.carheight_hi), q.carheight_lo) AS carheight,
    greatest(least(b.curbweight, q.curbweight_hi), q.curbweight_lo) AS curbweight,
    greatest(least(b.enginesize, q.enginesize_hi), q.enginesize_lo) AS enginesize,
    greatest(least(b.boreratio, q.boreratio_hi), q.boreratio_lo) AS boreratio,
    greatest(least(b.stroke, q.stroke_hi), q.stroke_lo) AS stroke,
    greatest(least(b.compressionratio, q.compressionratio_hi), q.compressionratio_lo) AS compressionratio,
    greatest(least(b.horsepower, q.horsepower_hi), q.horsepower_lo) AS horsepower,
    greatest(least(b.peakrpm, q.peakrpm_hi), q.peakrpm_lo) AS peakrpm,
    greatest(least(b.citympg, q.citympg_hi), q.citympg_lo) AS citympg,
    greatest(least(b.highwaympg, q.highwaympg_hi), q.highwaympg_lo) AS highwaympg,
    greatest(least(b.price, q.price_hi), q.price_lo) AS price,
    b.carname, b.fueltype, b.aspiration, b.doornumber, b.carbody, b.drivewheel, b.enginelocation, b.enginetype, b.cylindernumber, b.fuelsystem, b.brand
  FROM base b, q
),
pq AS (
  SELECT quantile_cont(price, 0.00) AS p0, quantile_cont(price, 0.25) AS p25,
         quantile_cont(price, 0.50) AS p50, quantile_cont(price, 0.75) AS p75,
         quantile_cont(price, 1.00) AS p100
  FROM w
)
SELECT w.*,
  CASE WHEN w.price < pq.p0 THEN NULL
       WHEN w.price <= pq.p25 THEN 'Low'
       WHEN w.price <= pq.p50 THEN 'Medium'
       WHEN w.price <= pq.p75 THEN 'High'
       WHEN w.price <= pq.p100 THEN 'VeryHigh'
       ELSE NULL END AS price_bucket,
  ln(1 + w.price) AS log_price
FROM w, pq
"""

@query("carprice_cleaned", oracle=_CLEANED_ORACLE)
def carprice_cleaned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1 phases 1-5 (clean/impute/cap/bucket) — golden-parity table,
    hash-checked against the SQL replay of the same pipeline."""
    return _cleaned(spark)


# One-hot oracle: dummyVars(fullRank=TRUE) over the FIXED reference
# CSV's 28 distinct brands in R factor order (casefold, lowercase-first
# on case ties) with the first level (alfa-romero) dropped — the level
# set is data-dependent but the input is the immutable reference CSV,
# so enumerating it in SQL is exact. The messy data has both 'nissan'
# and 'Nissan' as distinct factor levels; DuckDB column names are
# case-INsensitive, so the uppercase variant's dummy is aliased
# brand_Nissan_uc on BOTH sides (golden naming lives in
# pipelines.carprice.ml_ready, which tests/test_carprice_golden.py
# checks cell-for-cell — this wrapper renames only the driver surface).
_ML_ORACLE = f"""
WITH raw AS (
  SELECT * FROM read_csv('{cp.REFERENCE_CSV}', header=true)
),
base AS (
  SELECT car_ID::DOUBLE AS car_id, symboling::DOUBLE AS symboling,
         trim(CarName) AS carname, fueltype, aspiration, doornumber, carbody,
         drivewheel, enginelocation, wheelbase::DOUBLE AS wheelbase,
         carlength::DOUBLE AS carlength, carwidth::DOUBLE AS carwidth,
         carheight::DOUBLE AS carheight, curbweight::DOUBLE AS curbweight,
         enginetype, cylindernumber, enginesize::DOUBLE AS enginesize,
         fuelsystem, boreratio::DOUBLE AS boreratio, stroke::DOUBLE AS stroke,
         compressionratio::DOUBLE AS compressionratio,
         horsepower::DOUBLE AS horsepower, peakrpm::DOUBLE AS peakrpm,
         citympg::DOUBLE AS citympg, highwaympg::DOUBLE AS highwaympg,
         price::DOUBLE AS price, split_part(trim(CarName), ' ', 1) AS brand
  FROM raw
),
q AS (
  SELECT quantile_cont(car_id, 0.01) AS car_id_lo, quantile_cont(car_id, 0.99) AS car_id_hi,
    quantile_cont(symboling, 0.01) AS symboling_lo, quantile_cont(symboling, 0.99) AS symboling_hi,
    quantile_cont(wheelbase, 0.01) AS wheelbase_lo, quantile_cont(wheelbase, 0.99) AS wheelbase_hi,
    quantile_cont(carlength, 0.01) AS carlength_lo, quantile_cont(carlength, 0.99) AS carlength_hi,
    quantile_cont(carwidth, 0.01) AS carwidth_lo, quantile_cont(carwidth, 0.99) AS carwidth_hi,
    quantile_cont(carheight, 0.01) AS carheight_lo, quantile_cont(carheight, 0.99) AS carheight_hi,
    quantile_cont(curbweight, 0.01) AS curbweight_lo, quantile_cont(curbweight, 0.99) AS curbweight_hi,
    quantile_cont(enginesize, 0.01) AS enginesize_lo, quantile_cont(enginesize, 0.99) AS enginesize_hi,
    quantile_cont(boreratio, 0.01) AS boreratio_lo, quantile_cont(boreratio, 0.99) AS boreratio_hi,
    quantile_cont(stroke, 0.01) AS stroke_lo, quantile_cont(stroke, 0.99) AS stroke_hi,
    quantile_cont(compressionratio, 0.01) AS compressionratio_lo, quantile_cont(compressionratio, 0.99) AS compressionratio_hi,
    quantile_cont(horsepower, 0.01) AS horsepower_lo, quantile_cont(horsepower, 0.99) AS horsepower_hi,
    quantile_cont(peakrpm, 0.01) AS peakrpm_lo, quantile_cont(peakrpm, 0.99) AS peakrpm_hi,
    quantile_cont(citympg, 0.01) AS citympg_lo, quantile_cont(citympg, 0.99) AS citympg_hi,
    quantile_cont(highwaympg, 0.01) AS highwaympg_lo, quantile_cont(highwaympg, 0.99) AS highwaympg_hi,
    quantile_cont(price, 0.01) AS price_lo, quantile_cont(price, 0.99) AS price_hi
  FROM base
),
w AS (
  SELECT greatest(least(b.car_id, q.car_id_hi), q.car_id_lo) AS car_id,
    greatest(least(b.symboling, q.symboling_hi), q.symboling_lo) AS symboling,
    greatest(least(b.wheelbase, q.wheelbase_hi), q.wheelbase_lo) AS wheelbase,
    greatest(least(b.carlength, q.carlength_hi), q.carlength_lo) AS carlength,
    greatest(least(b.carwidth, q.carwidth_hi), q.carwidth_lo) AS carwidth,
    greatest(least(b.carheight, q.carheight_hi), q.carheight_lo) AS carheight,
    greatest(least(b.curbweight, q.curbweight_hi), q.curbweight_lo) AS curbweight,
    greatest(least(b.enginesize, q.enginesize_hi), q.enginesize_lo) AS enginesize,
    greatest(least(b.boreratio, q.boreratio_hi), q.boreratio_lo) AS boreratio,
    greatest(least(b.stroke, q.stroke_hi), q.stroke_lo) AS stroke,
    greatest(least(b.compressionratio, q.compressionratio_hi), q.compressionratio_lo) AS compressionratio,
    greatest(least(b.horsepower, q.horsepower_hi), q.horsepower_lo) AS horsepower,
    greatest(least(b.peakrpm, q.peakrpm_hi), q.peakrpm_lo) AS peakrpm,
    greatest(least(b.citympg, q.citympg_hi), q.citympg_lo) AS citympg,
    greatest(least(b.highwaympg, q.highwaympg_hi), q.highwaympg_lo) AS highwaympg,
    greatest(least(b.price, q.price_hi), q.price_lo) AS price,
    b.carname, b.fueltype, b.aspiration, b.doornumber, b.carbody, b.drivewheel, b.enginelocation, b.enginetype, b.cylindernumber, b.fuelsystem, b.brand
  FROM base b, q
)
SELECT w.horsepower, w.enginesize, w.curbweight, w.citympg, w.highwaympg, w.carwidth, w.carlength,
  CASE WHEN brand = 'audi' THEN 1.0 ELSE 0.0 END AS "brand_audi",
  CASE WHEN brand = 'bmw' THEN 1.0 ELSE 0.0 END AS "brand_bmw",
  CASE WHEN brand = 'buick' THEN 1.0 ELSE 0.0 END AS "brand_buick",
  CASE WHEN brand = 'chevrolet' THEN 1.0 ELSE 0.0 END AS "brand_chevrolet",
  CASE WHEN brand = 'dodge' THEN 1.0 ELSE 0.0 END AS "brand_dodge",
  CASE WHEN brand = 'honda' THEN 1.0 ELSE 0.0 END AS "brand_honda",
  CASE WHEN brand = 'isuzu' THEN 1.0 ELSE 0.0 END AS "brand_isuzu",
  CASE WHEN brand = 'jaguar' THEN 1.0 ELSE 0.0 END AS "brand_jaguar",
  CASE WHEN brand = 'maxda' THEN 1.0 ELSE 0.0 END AS "brand_maxda",
  CASE WHEN brand = 'mazda' THEN 1.0 ELSE 0.0 END AS "brand_mazda",
  CASE WHEN brand = 'mercury' THEN 1.0 ELSE 0.0 END AS "brand_mercury",
  CASE WHEN brand = 'mitsubishi' THEN 1.0 ELSE 0.0 END AS "brand_mitsubishi",
  CASE WHEN brand = 'nissan' THEN 1.0 ELSE 0.0 END AS "brand_nissan",
  CASE WHEN brand = 'Nissan' THEN 1.0 ELSE 0.0 END AS "brand_Nissan_uc",
  CASE WHEN brand = 'peugeot' THEN 1.0 ELSE 0.0 END AS "brand_peugeot",
  CASE WHEN brand = 'plymouth' THEN 1.0 ELSE 0.0 END AS "brand_plymouth",
  CASE WHEN brand = 'porcshce' THEN 1.0 ELSE 0.0 END AS "brand_porcshce",
  CASE WHEN brand = 'porsche' THEN 1.0 ELSE 0.0 END AS "brand_porsche",
  CASE WHEN brand = 'renault' THEN 1.0 ELSE 0.0 END AS "brand_renault",
  CASE WHEN brand = 'saab' THEN 1.0 ELSE 0.0 END AS "brand_saab",
  CASE WHEN brand = 'subaru' THEN 1.0 ELSE 0.0 END AS "brand_subaru",
  CASE WHEN brand = 'toyota' THEN 1.0 ELSE 0.0 END AS "brand_toyota",
  CASE WHEN brand = 'toyouta' THEN 1.0 ELSE 0.0 END AS "brand_toyouta",
  CASE WHEN brand = 'vokswagen' THEN 1.0 ELSE 0.0 END AS "brand_vokswagen",
  CASE WHEN brand = 'volkswagen' THEN 1.0 ELSE 0.0 END AS "brand_volkswagen",
  CASE WHEN brand = 'volvo' THEN 1.0 ELSE 0.0 END AS "brand_volvo",
  CASE WHEN brand = 'vw' THEN 1.0 ELSE 0.0 END AS "brand_vw",
  w.price
FROM w
"""

@query("carprice_ml_matrix", oracle=_ML_ORACLE)
def carprice_ml_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase 8 one-hot ML matrix (golden: car_prices_ml_ready.csv),
    hash-checked against the SQL replay."""
    ml = cp.ml_ready(_cleaned(spark), target="price")
    # exact-string rename via toDF: withColumnRenamed resolves with the
    # session's case-INsensitive resolver and would rename brand_nissan too
    return ml.toDF(
        *[("brand_Nissan_uc" if c == "brand_Nissan" else c) for c in ml.columns]
    )


# F9 un-one-hot: flag-column → brand label mapping over the ML matrix's
# 27 dummy columns (fullRank drops 'alfa-romero', which the reverse maps
# to the 'Unknown' default — exactly associationRules.R:54-69's loop
# semantics). The uppercase 'Nissan' factor level rides the
# brand_Nissan_uc alias from carprice_ml_matrix on both sides.
_UNONEHOT_FLAGS: dict[str, str] = {
    **{
        f"brand_{b}": b
        for b in (
            "audi", "bmw", "buick", "chevrolet", "dodge", "honda", "isuzu",
            "jaguar", "maxda", "mazda", "mercury", "mitsubishi", "nissan",
            "peugeot", "plymouth", "porcshce", "porsche", "renault", "saab",
            "subaru", "toyota", "toyouta", "vokswagen", "volkswagen",
            "volvo", "vw",
        )
    },
    "brand_Nissan_uc": "Nissan",
}

_UNONEHOT_ORACLE = (
    "WITH ml AS (\n"
    + _ML_ORACLE
    + "\n),\nr AS (\n  SELECT CASE\n"
    + "\n".join(
        f"    WHEN \"{flag}\" = 1.0 THEN '{label}'"
        for flag, label in _UNONEHOT_FLAGS.items()
    )
    + "\n    ELSE 'Unknown' END AS brand_recovered, price\n  FROM ml\n)\n"
    + "SELECT brand_recovered, count(*)::BIGINT AS n_cars,\n"
    + "       round(avg(price), 4) AS avg_price\nFROM r GROUP BY 1"
)


@query("carprice_un_onehot_replay", oracle=_UNONEHOT_ORACLE)
def carprice_un_onehot_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 exact-form check: reverse the one-hot ML matrix back to the
    brand label with the single coalesce/when projection
    (``functions.scalars.un_onehot``, associationRules.R:54-69 — the
    reference does this with a per-row loop) and aggregate count +
    winsorized mean price per recovered brand. The oracle replays the
    same reverse over the same SQL one-hot replay, so the driver hash
    pins the full one-hot → un-one-hot round trip cell-exactly.

    Scale: one projection + one hash aggregate to |brands| rows."""
    from ..functions.scalars import un_onehot

    ml = carprice_ml_matrix(spark, sf_dir)
    rec = ml.select(un_onehot(_UNONEHOT_FLAGS).alias("brand_recovered"), "price")
    return rec.groupBy("brand_recovered").agg(
        F.count(F.lit(1)).alias("n_cars"),
        F.round(F.avg("price"), 4).alias("avg_price"),
    )


@query("carprice_model_metrics")
def carprice_model_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3-M6 regression battery: lm/tree/rf on log_price, metrics on the
    back-transformed $ scale (BigDataProject.R:305-347), seed=123."""
    df = _cleaned(spark)
    numeric = [c for c in cp.ML_VARS if c not in ("log_price", "brand")]
    train, test = mlp.train_test_split(df.dropna(), 0.8, seed=123)
    rows = []
    for kind in ("lm", "tree", "rf"):
        model = mlp.fit_regression(
            train, numeric, ["brand"], label="log_price", kind=kind
        )
        m = mlp.regression_metrics_dollars(model, test, label="log_price")
        rows.append((kind, round(m["rmse"], 2), round(m["r2"], 4), round(m["mae"], 2)))
    return spark.createDataFrame(
        rows, "model string, rmse_dollars double, r2 double, mae_dollars double"
    )


@query("carprice_nb_confusion")
def carprice_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7: gaussian NB price-bucket classifier + A14 confusion counts
    (BigDataProject.R:349-364)."""
    df = _cleaned(spark)
    numeric = ["horsepower", "enginesize", "curbweight", "citympg", "carwidth"]
    train, test = mlp.train_test_split(df, 0.8, seed=123)
    model = mlp.fit_naive_bayes(train, numeric, "price_bucket")
    return mlp.confusion_matrix(model, test, "price_bucket")


@query("carprice_kde_nb_confusion")
def carprice_kde_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 at FULL fidelity: kernel-density NB (the reference's actual
    ``naiveBayes(usekernel=TRUE)``, BigDataProject.R:349-364 — klaR-style
    per-(class,feature) gaussian KDE with bw.nrd0 bandwidths on a
    512-point grid) + A14 confusion counts on the same split as the
    gaussian variant. Closes the documented gaussian-for-kernel delta."""
    from ..ml.kde_nb import fit_kde_naive_bayes

    df = _cleaned(spark)
    numeric = ["horsepower", "enginesize", "curbweight", "citympg", "carwidth"]
    train, test = mlp.train_test_split(df, 0.8, seed=123)
    model = fit_kde_naive_bayes(train, numeric, "price_bucket")
    return model.confusion(test, "price_bucket")


@query("carprice_kmeans_profile")
def carprice_kmeans_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9-M11: k=3 k-means on standardized numeric features; cluster sizes
    + un-scaled centers (clustering.R:36-90)."""
    df = _cleaned(spark)
    numeric = ["horsepower", "enginesize", "curbweight", "citympg", "carwidth", "price"]
    model = mlp.fit_kmeans(df, numeric, k=3, seed=123)
    assigned = model.transform(df)
    sizes = assigned.groupBy(F.col("prediction").alias("cluster")).agg(
        F.count(F.lit(1)).alias("size")
    )
    centers = mlp.unscale_centers(model, numeric)
    spark_centers = spark.createDataFrame(
        [(c["cluster"], *[round(c[n], 4) for n in numeric]) for c in centers],
        f"cluster int, {', '.join(f'{n} double' for n in numeric)}",
    )
    return sizes.join(spark_centers, "cluster").orderBy("cluster")


@query("carprice_elbow_curve")
def carprice_elbow_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9 elbow: (k, WSS) over k=1..8 on cached standardized features
    (BigDataProject.R:397-416)."""
    df = _cleaned(spark)
    numeric = ["horsepower", "enginesize", "curbweight", "citympg", "carwidth", "price"]
    from pyspark.ml import Pipeline

    feats = Pipeline(stages=mlp.feature_stages(numeric, standardize=True)).fit(df).transform(df)
    wss = mlp.kmeans_elbow(feats, range(1, 9), seed=123)
    return spark.createDataFrame(
        [(k, round(v, 4)) for k, v in wss], "k int, wss double"
    )


@query("carprice_pca_variance")
def carprice_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12: 2-component PCA explained variance (BigDataProject.R:443-460)."""
    df = _cleaned(spark)
    numeric = ["horsepower", "enginesize", "curbweight", "citympg", "carwidth", "price"]
    _, _, explained = mlp.pca_project(df, numeric, k=2)
    return spark.createDataFrame(
        [(i + 1, round(v, 6)) for i, v in enumerate(explained)],
        "component int, explained_variance double",
    )


@query("carprice_lm_coefficients")
def carprice_lm_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 introspection: OLS coefficients of lm(log_price ~ .) on the
    full ml matrix (deterministic — normal-equation solver; pinned to
    numpy's lstsq in tests/test_ml.py::test_lm_coefficients_match_numpy)."""
    df = _cleaned(spark)
    numeric = [c for c in cp.ML_VARS if c not in ("log_price", "brand")]
    model = mlp.fit_regression(df.dropna(), numeric, ["brand"], "log_price", "lm")
    lr = model.stages[-1]
    rows = [("(intercept)", round(float(lr.intercept), 8))]
    rows += [
        (f"f{i}", round(float(c), 8)) for i, c in enumerate(lr.coefficients)
    ]
    return spark.createDataFrame(rows, "feature string, coefficient double")


@query("carprice_rf_feature_importances")
def carprice_rf_feature_importances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 introspection: randomForest importance()/varImpPlot analogue
    (BigDataProject.R:338-347) via .featureImportances, numeric features
    named, one-hot slots aggregated under 'brand'."""
    df = _cleaned(spark)
    numeric = [c for c in cp.ML_VARS if c not in ("log_price", "brand")]
    model = mlp.fit_regression(df.dropna(), numeric, ["brand"], "log_price", "rf")
    rf = model.stages[-1]
    imp = rf.featureImportances
    named = {c: float(imp[i]) for i, c in enumerate(numeric)}
    named["brand"] = float(sum(imp[i] for i in range(len(numeric), imp.size)))
    rows = sorted(
        ((k, round(v, 6)) for k, v in named.items()), key=lambda t: (-t[1], t[0])
    )
    return spark.createDataFrame(rows, "feature string, importance double")


@query("carprice_radar_profile")
def carprice_radar_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 radar reduction: per-cluster means min-max normalized to [0,1]
    (A2 + M13, BigDataProject.R:493-529)."""
    from ..operators.aggregates import group_means, minmax

    df = _cleaned(spark)
    numeric = ["horsepower", "enginesize", "curbweight", "citympg", "carwidth", "price"]
    model = mlp.fit_kmeans(df, numeric, k=3, seed=123)
    assigned = model.transform(df).withColumnRenamed("prediction", "cluster")
    means = group_means(assigned, "cluster", numeric)
    bounds = minmax(means, numeric)
    norm = means.select(
        "cluster",
        *[
            F.round(
                (F.col(c) - F.lit(bounds[c][0]))
                / F.lit(max(bounds[c][1] - bounds[c][0], 1e-12)),
                6,
            ).alias(c)
            for c in numeric
        ],
    )
    return norm.orderBy("cluster")


@query("carprice_cluster_anova")
def carprice_cluster_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP2 statistical self-validation (BigDataProject.R:531-537;
    clustering.R:210-215): one-way ANOVA of each feature across the k=3
    cluster assignment — the pipeline checking its own clustering for
    separation. Rows: feature, f_stat, p_value, significant."""
    from ..operators import stats

    df = _cleaned(spark)
    numeric = ["horsepower", "enginesize", "curbweight", "citympg", "carwidth", "price"]
    model = mlp.fit_kmeans(df, numeric, k=3, seed=123)
    assigned = model.transform(df).withColumn(
        "cluster", F.col("prediction").cast("string")
    )
    # all features in ONE melt+groupBy pass (not one Spark job each)
    multi = stats.oneway_anova_multi(assigned, numeric, "cluster").collect()
    rows = [
        (
            r["feature"],
            round(float(r["f_stat"]), 4),
            float(r["p_value"]),
            bool(r["p_value"] < 0.05),
        )
        for r in multi
    ]
    return spark.createDataFrame(
        rows, "feature string, f_stat double, p_value double, significant boolean"
    )


@query("carprice_rules_top_lift")
def carprice_rules_top_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase 11: apriori(supp=0.02, conf=0.6, minlen=2) over
    price_bucket/brand_top/carbody/fueltype, top-20 by lift
    (BigDataProject.R:554-563)."""
    df = _cleaned(spark)
    top10 = [
        r["brand"]
        for r in df.groupBy("brand")
        .count()
        .orderBy(F.desc("count"), F.asc("brand"))
        .limit(10)
        .collect()
    ]
    df = df.withColumn(
        "brand_top",
        F.when(F.col("brand").isin(top10), F.col("brand")).otherwise(F.lit("Other")),
    )
    tx = R.to_transactions(df, ["price_bucket", "brand_top", "carbody", "fueltype"])
    _, rules = R.mine_rules(tx, min_support=0.02, min_confidence=0.6, min_len=2, max_len=10)
    return (
        rules.select(
            F.concat_ws(",", F.sort_array("antecedent")).alias("antecedent"),
            F.concat_ws(",", "consequent").alias("consequent"),
            F.round("support", 6).alias("support"),
            F.round("confidence", 6).alias("confidence"),
            F.round("lift", 6).alias("lift"),
        )
        .orderBy(F.desc("lift"), "antecedent", "consequent")
        .limit(20)
    )


_LOESS_ORACLE = f"""
WITH c AS ({{cleaned}}
),
pts AS (
  SELECT horsepower AS x, price AS yv FROM c
  WHERE horsepower IS NOT NULL AND price IS NOT NULL
),
mm AS (SELECT min(x) AS lo, max(x) AS hi, count(*) AS n FROM pts),
grid AS (
  SELECT i.range AS i, mm.lo + (mm.hi - mm.lo) * i.range / 39 AS g
  FROM range(0, 40) i, mm
),
d AS (SELECT i, g, x, yv, abs(x - g) AS dist FROM grid, pts),
r AS (
  SELECT *, row_number() OVER (PARTITION BY i ORDER BY dist) AS rn FROM d
),
h AS (
  SELECT i, CASE WHEN dist = 0 THEN 1.0 ELSE dist END AS h
  FROM r, mm WHERE rn = greatest(2, ceil(0.75 * mm.n))
),
wt AS (
  SELECT d.i, d.g, d.x, d.yv,
         pow(greatest(1 - pow(d.dist / h.h, 3), 0), 3) AS w
  FROM d JOIN h USING (i)
),
ag AS (
  SELECT i, g, sum(w) AS sw, sum(w * x) AS swx, sum(w * yv) AS swy,
         sum(w * x * x) AS swxx, sum(w * x * yv) AS swxy
  FROM wt GROUP BY i, g
)
SELECT round(g, 4) AS horsepower,
       round(swy / sw + (CASE WHEN swxx - swx * swx / sw = 0 THEN 0
                              ELSE (swxy - swx * swy / sw)
                                   / (swxx - swx * swx / sw) END)
                        * (g - swx / sw), 2) AS smoothed_price
FROM ag ORDER BY horsepower
"""


@query("carprice_loess_smooth", oracle=_LOESS_ORACLE.format(cleaned=_CLEANED_ORACLE))
def carprice_loess_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loess curve for the price~horsepower scatter — the data behind
    geom_smooth(method="loess") (BigDataProject.R:140-144), the one
    reference output previously declared viz-out-of-scope. Tricube-
    weighted local LINEAR fits (degree 1; R's default is degree 2 —
    documented fidelity delta) at 40 evaluation points, span 0.75.
    Hash-checked: the DuckDB oracle replays the same grid, k-th-nearest
    bandwidth, tricube weights and raw-moment weighted-least-squares
    closed form (slope = Sxy_w/Sxx_w from five weighted sums), so both
    engines evaluate identical expressions; engine-ulp summation noise
    sits ~6 orders under the 2dp round.

    Scale: grid (40 rows) broadcast against the points, bandwidth via a
    per-gridpoint k-th-smallest window, one hash aggregate of five
    weighted sums per grid point — no driver-side data collect, no
    quadratic blowup (points × grid, grid is O(1))."""
    import math

    pts = _cleaned(spark).select("horsepower", "price").dropna()
    mm = pts.agg(
        F.min("horsepower").alias("lo"),
        F.max("horsepower").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    lo, hi, n = float(mm["lo"]), float(mm["hi"]), int(mm["n"])
    k = max(2, math.ceil(0.75 * n))
    grid = spark.createDataFrame(
        [(i, lo + (hi - lo) * i / 39) for i in range(40)], "i int, g double"
    )
    from pyspark.sql import Window

    d = pts.crossJoin(F.broadcast(grid)).withColumn(
        "dist", F.abs(F.col("horsepower") - F.col("g"))
    )
    w = Window.partitionBy("i").orderBy("dist")
    h = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == k)
        .select(
            "i",
            F.when(F.col("dist") == 0, F.lit(1.0))
            .otherwise(F.col("dist"))
            .alias("h"),
        )
    )
    wt = d.join(F.broadcast(h), "i").withColumn(
        "w",
        F.pow(
            F.greatest(
                F.lit(1.0) - F.pow(F.col("dist") / F.col("h"), F.lit(3.0)),
                F.lit(0.0),
            ),
            F.lit(3.0),
        ),
    )
    ag = wt.groupBy("i", "g").agg(
        F.sum("w").alias("sw"),
        F.sum(F.col("w") * F.col("horsepower")).alias("swx"),
        F.sum(F.col("w") * F.col("price")).alias("swy"),
        F.sum(F.col("w") * F.col("horsepower") * F.col("horsepower")).alias(
            "swxx"
        ),
        F.sum(F.col("w") * F.col("horsepower") * F.col("price")).alias("swxy"),
    )
    sxx = F.col("swxx") - F.col("swx") * F.col("swx") / F.col("sw")
    sxy = F.col("swxy") - F.col("swx") * F.col("swy") / F.col("sw")
    slope = F.when(sxx == 0, F.lit(0.0)).otherwise(sxy / sxx)
    return (
        ag.select(
            F.round("g", 4).alias("horsepower"),
            F.round(
                F.col("swy") / F.col("sw")
                + slope * (F.col("g") - F.col("swx") / F.col("sw")),
                2,
            ).alias("smoothed_price"),
        )
        .orderBy("horsepower")
    )


# --------------------------------------------------------------------------
# M3 exact half: lm(log_price ~ .) coefficients in CLOSED FORM.
#
# The MLlib fit behind ``carprice_lm_coefficients`` cannot hash-match a
# SQL engine (iterative solver, implementation-defined last ulps), but
# OLS itself is deterministic: one distributed aggregate collects the
# p(p+3)/2 + 3 sufficient statistics (sums, cross-products, responses)
# and the normal equations solve in correlation form via Cholesky — the
# exact algebra DuckDB replays below from SQL generated by the SAME
# index spec, term for term in the same association order, so both
# engines execute the identical IEEE expression tree on (bit-identical,
# carprice_ml_matrix is driver-hash-green) inputs. Correlation-form
# scaling keeps the 34x34 system well-conditioned (one-hot dummies +
# collinear mpg columns), so last-ulp sum differences stay far inside
# the 6dp round.
#
# Scale: this is the "normal equation" regression path (cf. Spark ML's
# WeightedLeastSquares 'normal' solver) — ONE pass over the fact table
# reduces to a p^2-sized aggregate; the O(p^3) solve is driver-side on
# ~700 doubles, never data-sized. At 100 TB this is how you fit an
# exact linear model without an iterative shuffle per epoch.
# Reference: BigDataProject.R:305 (lm(log_price ~ ., data=model_df)).
# --------------------------------------------------------------------------

_LM_PREDS: list[str] = [
    "horsepower", "enginesize", "curbweight", "citympg", "highwaympg",
    "carwidth", "carlength",
    "brand_audi", "brand_bmw", "brand_buick", "brand_chevrolet",
    "brand_dodge", "brand_honda", "brand_isuzu", "brand_jaguar",
    "brand_maxda", "brand_mazda", "brand_mercury", "brand_mitsubishi",
    "brand_nissan", "brand_Nissan_uc", "brand_peugeot", "brand_plymouth",
    "brand_porcshce", "brand_porsche", "brand_renault", "brand_saab",
    "brand_subaru", "brand_toyota", "brand_toyouta", "brand_vokswagen",
    "brand_volkswagen", "brand_volvo", "brand_vw",
]


def _cholesky_cte_parts(lam: float = 0.0) -> list[str]:
    """Shared CTE chain st→cv→cr→ch*→bk*→bt0→bt solving the
    correlation-form normal equations of lm(y ~ x0..x{p-1}) from a CTE
    named ``mlx`` — used by the coefficient oracles (mlx = full matrix)
    and the train/test metrics oracle (mlx = deterministic train
    split). Recurrences are emitted in the same term order as
    :func:`_lm_solve`, so both engines evaluate the same expression
    tree."""
    p = len(_LM_PREDS)
    x = [f"x{i}" for i in range(p)]
    parts: list[str] = []
    st = ["count(*)::DOUBLE AS n"]
    st += [f"sum({x[i]}) AS s{i}" for i in range(p)]
    st += [
        f"sum({x[i]}*{x[j]}) AS s{i}_{j}"
        for i in range(p)
        for j in range(i, p)
    ]
    st += [f"sum({x[i]}*y) AS sy{i}" for i in range(p)]
    st += ["sum(y) AS sy", "sum(y*y) AS syy"]
    parts.append(f"st AS (SELECT {', '.join(st)} FROM mlx),")
    cv = [
        f"s{i}_{j} - s{i}*s{j}/n AS c{i}_{j}"
        for i in range(p)
        for j in range(i, p)
    ]
    cv += [f"sy{i} - s{i}*sy/n AS cy{i}" for i in range(p)]
    cv += ["syy - sy*sy/n AS cyy"]
    parts.append(f"cv AS (SELECT *, {', '.join(cv)} FROM st),")
    cr = [
        f"c{i}_{j}/sqrt(c{i}_{i}*c{j}_{j}) AS r{i}_{j}"
        for i in range(p)
        for j in range(i, p)
    ]
    cr += [f"cy{i}/sqrt(c{i}_{i}*cyy) AS ry{i}" for i in range(p)]
    parts.append(f"cr AS (SELECT *, {', '.join(cr)} FROM cv),")
    prev = "cr"
    for k in range(p):
        cols: list[str] = []
        acc = " + ".join(f"l{k}_{m}*l{k}_{m}" for m in range(k))
        base = f"(r{k}_{k} + {lam!r})" if lam else f"r{k}_{k}"
        dkk = f"{base} - ({acc})" if acc else base
        cols.append(f"sqrt({dkk}) AS l{k}_{k}")
        for j in range(k + 1, p):
            accj = " + ".join(f"l{j}_{m}*l{k}_{m}" for m in range(k))
            num = f"r{k}_{j} - ({accj})" if accj else f"r{k}_{j}"
            cols.append(f"({num})/sqrt({dkk}) AS l{j}_{k}")
        accz = " + ".join(f"l{k}_{m}*z{m}" for m in range(k))
        numz = f"ry{k} - ({accz})" if accz else f"ry{k}"
        cols.append(f"({numz})/sqrt({dkk}) AS z{k}")
        parts.append(f"ch{k} AS (SELECT *, {', '.join(cols)} FROM {prev}),")
        prev = f"ch{k}"
    for k in range(p - 1, -1, -1):
        accb = " + ".join(f"l{m}_{k}*b{m}" for m in range(k + 1, p))
        numb = f"z{k} - ({accb})" if accb else f"z{k}"
        parts.append(
            f"bk{k} AS (SELECT *, ({numb})/l{k}_{k} AS b{k} FROM {prev}),"
        )
        prev = f"bk{k}"
    bt = [
        f"b{i}*sqrt(cyy)/sqrt(c{i}_{i}) AS beta{i}" for i in range(p)
    ]
    parts.append(f"bt0 AS (SELECT *, {', '.join(bt)} FROM {prev}),")
    icept = " + ".join(f"beta{i}*(s{i}/n)" for i in range(p))
    parts.append(f"bt AS (SELECT *, sy/n - ({icept}) AS icept FROM bt0)")
    return parts


def _lm_exact_oracle(lam: float = 0.0) -> str:
    """Generate the DuckDB oracle: the ml-matrix CTE + sufficient-stat
    aggregate + an UNROLLED correlation-form Cholesky solve (one CTE
    layer per elimination column, one per back-substitution step)."""
    p = len(_LM_PREDS)
    x = [f"x{i}" for i in range(p)]
    parts: list[str] = []
    parts.append(f"WITH ml AS ({_ML_ORACLE}\n),")
    sel = ", ".join(f'"{c}" AS {x[i]}' for i, c in enumerate(_LM_PREDS))
    parts.append(f"mlx AS (SELECT {sel}, ln(1 + price) AS y FROM ml),")
    parts += _cholesky_cte_parts(lam)
    finals = [
        "SELECT '(intercept)' AS feature, round(icept, 6) AS coefficient FROM bt"
    ]
    finals += [
        f"SELECT '{c}', round(beta{i}, 6) FROM bt"
        for i, c in enumerate(_LM_PREDS)
    ]
    return "\n".join(parts) + "\n" + "\nUNION ALL ".join(finals)


# Deterministic 80/20 split for the exact train/test metrics query:
# portable md5 hash of the (winsorized, floored) car id, salted so ALL
# 28 brand levels land in the train side — a salt where a singleton
# brand (mercury, toyouta, porcshce, Nissan, vokswagen) fell into test
# would zero its dummy column on train and make the normal equations
# singular. Salt 2 is the first that covers every level (167/38 split;
# verified over the fixed 205-row reference CSV, which carprice queries
# read regardless of sf_dir).
_LM_SPLIT_SALT = 2


# Stratified variant (caret's createDataPartition stratifies on the
# target; its quartile strata ARE the pipeline's price_bucket): the
# keep-decision hashes (bucket, car) so each bucket splits ~80/20
# independently. Salt 0 covers all 28 brand levels in train AND all 4
# buckets on both sides (152/53; verified on the fixed reference CSV).
_LM_STRAT_SALT = 0


def _lm_metrics_oracle(stratified: bool = False) -> str:
    """DuckDB oracle for the exact train/test metrics queries: ml
    matrix with the split key, portable-hash 80/20 split (plain, or
    stratified within each price_bucket), the SAME unrolled Cholesky
    solve on the train side, then $-scale RMSE/MAE/R²/cor² on the
    exp(pred)−1 back-transformed test predictions — all from one
    sufficient-sums aggregate so both engines evaluate the identical
    closed forms."""
    p = len(_LM_PREDS)
    x = [f"x{i}" for i in range(p)]
    if stratified:
        dummies = ", ".join(
            "CASE WHEN brand = '{lv}' THEN 1.0 ELSE 0.0 END AS \"{c}\"".format(
                lv="Nissan" if c == "brand_Nissan_uc" else c[len("brand_"):],
                c=c,
            )
            for c in _LM_PREDS
            if c.startswith("brand_")
        )
        numerics = ", ".join(
            c for c in _LM_PREDS if not c.startswith("brand_")
        )
        ml_with_key = (
            f"SELECT floor(car_id)::BIGINT AS car_key, price_bucket,"
            f" {numerics}, {dummies}, price FROM ({_CLEANED_ORACLE}\n)"
        )
        split = (
            f"('0x' || substr(md5('strat{_LM_STRAT_SALT}:' || price_bucket"
            f" || ':' || car_key::VARCHAR), 1, 15))::BIGINT % 10000 < 8000"
        )
    else:
        ml_with_key = _ML_ORACLE.replace(
            "SELECT w.horsepower,",
            "SELECT floor(w.car_id)::BIGINT AS car_key, w.horsepower,",
            1,
        )
        split = (
            f"('0x' || substr(md5('lmsplit{_LM_SPLIT_SALT}:' ||"
            f" car_key::VARCHAR), 1, 15))::BIGINT % 10000 < 8000"
        )
    parts = [f"WITH ml AS ({ml_with_key}\n),"]
    sel = ", ".join(f'"{c}" AS {x[i]}' for i, c in enumerate(_LM_PREDS))
    parts.append(
        "mlx0 AS (SELECT "
        + sel
        + ", ln(1 + price) AS y, price, "
        + split
        + " AS train FROM ml),"
    )
    parts.append("mlx AS (SELECT * FROM mlx0 WHERE train),")
    parts += _cholesky_cte_parts()
    parts[-1] += ","
    pred = "bt.icept + " + " + ".join(f"bt.beta{i}*t.x{i}" for i in range(p))
    parts.append(
        f"pr AS (SELECT t.price, exp({pred}) - 1 AS ph"
        " FROM mlx0 t, bt WHERE NOT t.train),"
    )
    parts.append(
        "ag AS (SELECT count(*)::DOUBLE AS n, sum(price) AS sy,"
        " sum(price*price) AS syy, sum((ph - price)*(ph - price)) AS se,"
        " sum(abs(ph - price)) AS sae, sum(ph) AS sh, sum(ph*ph) AS shh,"
        " sum(ph*price) AS shy FROM pr)"
    )
    final = (
        "SELECT (SELECT count(*) FROM mlx)::BIGINT AS n_train,"
        " n::BIGINT AS n_test,"
        " round(sqrt(se/n), 2) AS rmse_usd,"
        " round(sae/n, 2) AS mae_usd,"
        " round(1 - se/(syy - sy*sy/n), 6) AS r2,"
        " round(((shy - sh*sy/n)/sqrt((shh - sh*sh/n)*(syy - sy*sy/n)))"
        "*((shy - sh*sy/n)/sqrt((shh - sh*sh/n)*(syy - sy*sy/n))), 6)"
        " AS r2_cor FROM ag"
    )
    return "\n".join(parts) + "\n" + final


def _lm_solve(row: dict, lam: float = 0.0) -> list[tuple[str, float]]:
    """Driver-side normal-equation solve, mirroring the oracle's
    generated recurrences term for term (left-to-right accumulation,
    identical division/multiplication order) so the IEEE result is the
    same function of the sufficient statistics on both engines."""
    import math

    p = len(_LM_PREDS)
    n = row["n"]
    s = [row[f"s{i}"] for i in range(p)]
    sy, syy = row["sy"], row["syy"]
    c: dict[tuple[int, int], float] = {}
    for i in range(p):
        for j in range(i, p):
            c[(i, j)] = row[f"s{i}_{j}"] - s[i] * s[j] / n
    cy = [row[f"sy{i}"] - s[i] * sy / n for i in range(p)]
    cyy = syy - sy * sy / n
    r: dict[tuple[int, int], float] = {}
    for i in range(p):
        for j in range(i, p):
            r[(i, j)] = c[(i, j)] / math.sqrt(c[(i, i)] * c[(j, j)])
    ry = [cy[i] / math.sqrt(c[(i, i)] * cyy) for i in range(p)]
    lo: dict[tuple[int, int], float] = {}
    z = [0.0] * p
    for k in range(p):
        acc = 0.0
        for m in range(k):
            acc += lo[(k, m)] * lo[(k, m)]
        rkk = r[(k, k)] + lam if lam else r[(k, k)]
        dkk = rkk - acc
        lo[(k, k)] = math.sqrt(dkk)
        for j in range(k + 1, p):
            accj = 0.0
            for m in range(k):
                accj += lo[(j, m)] * lo[(k, m)]
            lo[(j, k)] = (r[(k, j)] - accj) / math.sqrt(dkk)
        accz = 0.0
        for m in range(k):
            accz += lo[(k, m)] * z[m]
        z[k] = (ry[k] - accz) / math.sqrt(dkk)
    b = [0.0] * p
    for k in range(p - 1, -1, -1):
        accb = 0.0
        for m in range(k + 1, p):
            accb += lo[(m, k)] * b[m]
        b[k] = (z[k] - accb) / lo[(k, k)]
    beta = [b[i] * math.sqrt(cyy) / math.sqrt(c[(i, i)]) for i in range(p)]
    acc_i = 0.0
    for i in range(p):
        acc_i += beta[i] * (s[i] / n)
    icept = sy / n - acc_i
    return [("(intercept)", icept)] + list(zip(_LM_PREDS, beta))


@query("carprice_lm_coefficients_exact", oracle=_lm_exact_oracle())
def carprice_lm_coefficients_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 (BigDataProject.R:305) as an EXACT query: OLS coefficients of
    lm(log_price ~ .) on the full one-hot ml matrix via the closed-form
    normal equations — one distributed aggregate of the sufficient
    statistics (p(p+3)/2 + 3 sums; map-side combine, one 700-double row
    to the driver), then a correlation-scaled Cholesky solve replayed
    identically by the DuckDB oracle. coalesce(1) keeps the 205-row sum
    association order deterministic (the table is tiny; at scale you'd
    accept last-ulp sum noise, which correlation scaling keeps ~1e-12
    in the coefficients, far under the 6dp round)."""
    coefs = _lm_solve(_lm_suffstats(spark, sf_dir))
    out = spark.createDataFrame(coefs, "feature string, coefficient double")
    return out.select("feature", F.round("coefficient", 6).alias("coefficient"))


def _lm_suffstats(spark: SparkSession, sf_dir: str) -> dict:
    """One distributed aggregate of the lm sufficient statistics
    (shared by the OLS and ridge exact fits)."""
    ml = carprice_ml_matrix(spark, sf_dir).coalesce(1)
    xs = [F.col(f"`{c}`") for c in _LM_PREDS]
    y = F.log1p(F.col("price"))
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    aggs += [F.sum(xs[i]).alias(f"s{i}") for i in range(len(xs))]
    aggs += [
        F.sum(xs[i] * xs[j]).alias(f"s{i}_{j}")
        for i in range(len(xs))
        for j in range(i, len(xs))
    ]
    aggs += [F.sum(xs[i] * y).alias(f"sy{i}") for i in range(len(xs))]
    aggs += [F.sum(y).alias("sy"), F.sum(y * y).alias("syy")]
    return ml.agg(*aggs).collect()[0].asDict()


@query("carprice_ridge_coefficients_exact", oracle=_lm_exact_oracle(lam=0.1))
def carprice_ridge_coefficients_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ridge regression (standardized penalty, lambda=0.1 on the
    correlation scale) of lm(log_price ~ .) — the regularized variant
    of :func:`carprice_lm_coefficients_exact`, solving (R + λI)b = r_y
    with the SAME generated Cholesky recurrences, just a diagonal
    shift: one sufficient-statistics aggregate, closed-form solve,
    DuckDB-replayed term for term. The one-hot brand columns make the
    OLS design near-collinear; the shifted diagonal shows the shrinkage
    a user reaches for in exactly that situation."""
    coefs = _lm_solve(_lm_suffstats(spark, sf_dir), lam=0.1)
    out = spark.createDataFrame(coefs, "feature string, coefficient double")
    return out.select("feature", F.round("coefficient", 6).alias("coefficient"))


@query("carprice_lm_model_roundtrip", oracle=_lm_exact_oracle())
def carprice_lm_model_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 model persistence as a driver-checked gate (saveRDS/readRDS,
    BigDataProject.R:570-572): fit the exact-OLS model, SAVE its
    coefficient table through the model sink, LOAD it back through the
    model source, and emit the LOADED (feature, coefficient) rows.
    Oracle is the same Cholesky-replay SQL as
    :func:`carprice_lm_coefficients_exact`, so the hash matches only if
    the save/load cycle is lossless — parquet's binary doubles make it
    bit-exact (a text sink would not be). Closes the one SURVEY §2 slot
    (S4) that previously had only a pytest roundtrip, no driver query.

    Scale: a parameter table is report-sized regardless of corpus size;
    the sink is one footer write, the source one footer read. The sink
    path is a PER-PROCESS temp directory (not a fixed warehouse path):
    two concurrent drivers — or two corpora sharing a dir basename —
    must not race overwrite-vs-read on the same files (ADVICE r9)."""
    import os
    from pathlib import Path

    from ..sources.readers import load_model_table
    from ..sources.writers import save_model_table

    coefs = _lm_solve(_lm_suffstats(spark, sf_dir))
    fitted = spark.createDataFrame(
        coefs, "feature string, coefficient double"
    ).select("feature", F.round("coefficient", 6).alias("coefficient"))
    # per-CALL leaf under the process-lifetime root (removed at process
    # exit by the TemporaryDirectory finalizer): two threads in the same
    # process hitting the same sf_dir must not race overwrite-vs-read on
    # one path either (ADVICE r10 — the r9 fix only covered processes)
    with _ROUNDTRIP_LOCK:
        token = _ROUNDTRIP_SEQ[0]
        _ROUNDTRIP_SEQ[0] += 1
    path = os.path.join(
        _ROUNDTRIP_TMP.name,
        f"lm_model_{Path(sf_dir).resolve().as_posix().replace('/', '_')}_{token}",
    )
    save_model_table(fitted, path)
    return load_model_table(spark, path).select("feature", "coefficient")


import tempfile as _tempfile  # noqa: E402
import threading as _threading  # noqa: E402

_ROUNDTRIP_TMP = _tempfile.TemporaryDirectory(prefix="lm_roundtrip_")
_ROUNDTRIP_LOCK = _threading.Lock()
_ROUNDTRIP_SEQ = [0]


def _ml_matrix_with_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-hot ML matrix of :func:`carprice_ml_matrix` plus the
    deterministic split key (floored winsorized car id) — the same
    single projection as ``ml_ready``, just keeping the id the split
    hashes on."""
    df = _cleaned(spark)
    features = [c for c in cp.ML_VARS if c not in ("log_price", "brand")]
    base = df.select("car_id", *features, "brand", "price").dropna()
    levels = cp.brand_levels(base)
    dummies = [
        F.when(F.col("brand") == lv, 1.0)
        .otherwise(0.0)
        .alias("brand_Nissan_uc" if lv == "Nissan" else f"brand_{lv}")
        for lv in levels[1:]
    ]
    return base.select(
        F.floor("car_id").cast("long").alias("car_key"),
        *[F.col(c) for c in features],
        *dummies,
        F.col("price"),
    )


@query("carprice_lm_metrics_exact", oracle=_lm_metrics_oracle())
def carprice_lm_metrics_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+M3+M4 as ONE exact, hash-checked query: deterministic
    portable-hash 80/20 train/test split (createDataPartition,
    BigDataProject.R:291 — the caret y-stratification stays a
    documented delta, but the split DECISION is now engine-replayable,
    unlike randomSplit), closed-form OLS fit of lm(log_price ~ .) on
    the train side (BigDataProject.R:305), and the $-scale
    RMSE/MAE/R² test metrics on exp(pred)−1 back-transformed
    predictions (postResample, BigDataProject.R:309-324; r2 is the
    coefficient of determination Spark's RegressionEvaluator reports,
    r2_cor the squared Pearson correlation caret reports — both
    emitted). The split is salted (``_LM_SPLIT_SALT``) so every brand
    level keeps ≥1 train row: a singleton brand in test would zero its
    train dummy column and make the normal equations singular.

    Scale: one pass over the fact table for the p(p+3)/2+3 train
    sufficient statistics (map-side combine), an O(p³) driver solve on
    ~700 doubles, one pass for the 8 test error sums — the exact-OLS
    train/test evaluation shape that needs no iterative shuffles at
    100 TB."""
    from ..llm.text import keep_fraction

    ml = _ml_matrix_with_key(spark, sf_dir).coalesce(1)
    key = F.concat(
        F.lit(f"lmsplit{_LM_SPLIT_SALT}:"), F.col("car_key").cast("string")
    )
    return _lm_metrics_frame(spark, ml.withColumn("train", keep_fraction(key, 0.8)))


@query("carprice_lm_metrics_stratified_exact", oracle=_lm_metrics_oracle(stratified=True))
def carprice_lm_metrics_stratified_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The STRATIFIED twin of ``carprice_lm_metrics_exact`` — closing
    the last documented split-fidelity delta: caret's
    createDataPartition (BigDataProject.R:291) stratifies on the
    target, and the pipeline's price_bucket quartiles ARE that
    stratification, so the keep-decision here hashes (bucket, car) and
    every bucket splits ~80/20 independently (152/53 overall, each
    bucket within ±7 rows of its 80% line). Fit and metrics machinery
    identical to the plain variant; the oracle replays the stratified
    decision, the solve and the $-scale metrics end to end.

    Scale: stratification adds zero passes — the stratum is already a
    column, the keep-decision stays a per-row hash predicate."""
    from ..llm.text import keep_fraction

    df = _cleaned(spark)
    features = [c for c in cp.ML_VARS if c not in ("log_price", "brand")]
    base = df.select(
        "car_id", "price_bucket", *features, "brand", "price"
    ).dropna()
    levels = cp.brand_levels(base)
    dummies = [
        F.when(F.col("brand") == lv, 1.0)
        .otherwise(0.0)
        .alias("brand_Nissan_uc" if lv == "Nissan" else f"brand_{lv}")
        for lv in levels[1:]
    ]
    ml = base.select(
        F.floor("car_id").cast("long").alias("car_key"),
        F.col("price_bucket"),
        *[F.col(c) for c in features],
        *dummies,
        F.col("price"),
    ).coalesce(1)
    key = F.concat(
        F.lit(f"strat{_LM_STRAT_SALT}:"),
        F.col("price_bucket"),
        F.lit(":"),
        F.col("car_key").cast("string"),
    )
    return _lm_metrics_frame(spark, ml.withColumn("train", keep_fraction(key, 0.8)))


def _lm_metrics_frame(spark: SparkSession, ml: DataFrame) -> DataFrame:
    """Shared exact train/test metrics body: closed-form OLS on the
    ``train`` side of ``ml`` (columns = _LM_PREDS + price + train),
    $-scale RMSE/MAE/R²/cor² on the test side — mirrors
    :func:`_lm_metrics_oracle` term for term."""
    import math
    from functools import reduce

    train = ml.filter(F.col("train"))
    p = len(_LM_PREDS)
    xs = [F.col(f"`{c}`") for c in _LM_PREDS]
    y = F.log1p(F.col("price"))
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    aggs += [F.sum(xs[i]).alias(f"s{i}") for i in range(p)]
    aggs += [
        F.sum(xs[i] * xs[j]).alias(f"s{i}_{j}")
        for i in range(p)
        for j in range(i, p)
    ]
    aggs += [F.sum(xs[i] * y).alias(f"sy{i}") for i in range(p)]
    aggs += [F.sum(y).alias("sy"), F.sum(y * y).alias("syy")]
    row = train.agg(*aggs).collect()[0].asDict()
    coefs = dict(_lm_solve(row))
    pred = reduce(
        lambda acc, c: acc + F.lit(coefs[c]) * F.col(f"`{c}`"),
        _LM_PREDS,
        F.lit(coefs["(intercept)"]),
    )
    test = ml.filter(~F.col("train")).withColumn(
        "ph", F.exp(pred) - F.lit(1.0)
    )
    err = F.col("ph") - F.col("price")
    ag = (
        test.agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("price").alias("sy"),
            F.sum(F.col("price") * F.col("price")).alias("syy"),
            F.sum(err * err).alias("se"),
            F.sum(F.abs(err)).alias("sae"),
            F.sum("ph").alias("sh"),
            F.sum(F.col("ph") * F.col("ph")).alias("shh"),
            F.sum(F.col("ph") * F.col("price")).alias("shy"),
        )
        .collect()[0]
        .asDict()
    )
    n, sy, syy = ag["n"], ag["sy"], ag["syy"]
    se, sae, sh, shh, shy = ag["se"], ag["sae"], ag["sh"], ag["shh"], ag["shy"]
    cor = (shy - sh * sy / n) / math.sqrt(
        (shh - sh * sh / n) * (syy - sy * sy / n)
    )
    out = spark.createDataFrame(
        [
            (
                int(row["n"]),
                int(n),
                math.sqrt(se / n),
                sae / n,
                1 - se / (syy - sy * sy / n),
                cor * cor,
            )
        ],
        "n_train bigint, n_test bigint, rmse_usd double, mae_usd double,"
        " r2 double, r2_cor double",
    )
    return out.select(
        "n_train",
        "n_test",
        F.round("rmse_usd", 2).alias("rmse_usd"),
        F.round("mae_usd", 2).alias("mae_usd"),
        F.round("r2", 6).alias("r2"),
        F.round("r2_cor", 6).alias("r2_cor"),
    )


# --------------------------------------------------------------------------
# M7/M9/M5 exact variants: the stochastic MLlib fits stay rows-only
# (kernel NB, k-means‖ init, cp-pruned rpart are not engine-replayable),
# but the deterministic MATH each one implements is — gaussian NB is
# closed-form class stats + argmax, Lloyd's iteration is a per-round
# aggregate (unrolled like the GMM-EM/IRLS family), and the CART split
# search is an exact argmin over (feature, threshold) SSE reductions.
# Each gets a hash-checked twin so the model-operator algebra is pinned
# cross-engine even where the library fit cannot be.
# --------------------------------------------------------------------------

_NB_FEATS: list[str] = [
    "horsepower", "enginesize", "curbweight", "citympg", "highwaympg",
    "carwidth", "carlength",
]
# Salt 0: 155/50 split with all four price buckets on BOTH sides of the
# portable-hash split (verified on the fixed reference CSV).
_NB_SPLIT_SALT = 0


def _nb_exact_oracle() -> str:
    """DuckDB oracle for the exact gaussian NB confusion matrix: the
    same portable-hash split, per-class mean/var_samp stats, and the
    identical log-likelihood expression tree (ln prior + Σ gaussian
    log-densities), argmax per test row with class-name tie-break."""
    p = len(_NB_FEATS)
    feats = ", ".join(f"{c} AS x{i}" for i, c in enumerate(_NB_FEATS))
    stat_cols = ", ".join(
        f"avg(x{i}) AS m{i}, var_samp(x{i}) AS v{i}" for i in range(p)
    )
    ll_terms = " + ".join(
        f"(-0.5*ln(2*pi()*s.v{i}) - (t.x{i}-s.m{i})*(t.x{i}-s.m{i})/(2*s.v{i}))"
        for i in range(p)
    )
    return f"""
WITH c AS ({_CLEANED_ORACLE}
),
d AS (
  SELECT price_bucket AS cls, {feats},
         ('0x'||substr(md5('nbsplit{_NB_SPLIT_SALT}:' || floor(car_id)::BIGINT::VARCHAR),1,15))::BIGINT % 10000 < 8000 AS train
  FROM c
),
tr AS (SELECT * FROM d WHERE train),
tn AS (SELECT count(*)::DOUBLE AS n FROM tr),
st AS (SELECT cls, count(*)::DOUBLE AS nc, {stat_cols} FROM tr GROUP BY cls),
te AS (SELECT row_number() OVER () AS rid, * FROM d WHERE NOT train),
ll AS (
  SELECT t.rid, t.cls AS actual, s.cls AS predicted,
         ln(s.nc / tn.n) + {ll_terms} AS ll
  FROM te t, st s, tn
),
pk AS (
  SELECT rid, actual, predicted,
         row_number() OVER (PARTITION BY rid ORDER BY ll DESC, predicted) AS rn
  FROM ll
)
SELECT actual, predicted, count(*)::BIGINT AS n
FROM pk WHERE rn = 1 GROUP BY actual, predicted ORDER BY actual, predicted
"""


@query("carprice_gaussian_nb_confusion_exact", oracle=_nb_exact_oracle())
def carprice_gaussian_nb_confusion_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """M7+A14 exact twin (BigDataProject.R:349-364, the 7 nb_vars):
    gaussian NB on price_bucket with a deterministic portable-hash
    80/20 split, per-class mean/var_samp (R's n−1 sd), and the argmax
    of ln prior + Σ gaussian log-densities per test row — replayed
    term for term by the DuckDB oracle, so the confusion matrix is
    hash-checked. The reference's usekernel=TRUE stays covered by the
    rows-only ``carprice_kde_nb_confusion``; this pins the
    NB decision algebra itself cross-engine.

    Scale: class stats are one grouped aggregate (|classes| rows,
    broadcast back); scoring is a broadcast nested-loop over
    |classes| candidates per row + a per-row argmax window — no
    data-sized shuffle."""
    import math

    from pyspark.sql import Window

    from ..llm.text import keep_fraction

    p = len(_NB_FEATS)
    df = _cleaned(spark)
    key = F.concat(
        F.lit(f"nbsplit{_NB_SPLIT_SALT}:"),
        F.floor("car_id").cast("long").cast("string"),
    )
    d = df.select(
        F.col("price_bucket").alias("cls"),
        *[F.col(c).alias(f"x{i}") for i, c in enumerate(_NB_FEATS)],
        keep_fraction(key, 0.8).alias("train"),
    ).coalesce(1)
    tr = d.filter(F.col("train"))
    n_train = float(tr.count())
    st = tr.groupBy("cls").agg(
        F.count(F.lit(1)).cast("double").alias("nc"),
        *[
            a
            for i in range(p)
            for a in (
                F.avg(f"x{i}").alias(f"m{i}"),
                F.var_samp(f"x{i}").alias(f"v{i}"),
            )
        ],
    )
    te = d.filter(~F.col("train")).withColumn(
        "rid", F.monotonically_increasing_id()
    )
    j = te.crossJoin(F.broadcast(st.withColumnRenamed("cls", "predicted")))
    ll = F.log(F.col("nc") / F.lit(n_train))
    for i in range(p):
        sq = (F.col(f"x{i}") - F.col(f"m{i}")) * (
            F.col(f"x{i}") - F.col(f"m{i}")
        )
        ll = ll + (
            F.lit(-0.5) * F.log(F.lit(2 * math.pi) * F.col(f"v{i}"))
            - sq / (F.lit(2.0) * F.col(f"v{i}"))
        )
    w = Window.partitionBy("rid").orderBy(F.desc("ll"), F.asc("predicted"))
    return (
        j.withColumn("ll", ll)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy(F.col("cls").alias("actual"), "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("actual", "predicted")
    )


_KDE_FEATS: list[str] = [
    "horsepower", "enginesize", "curbweight", "citympg", "carwidth",
]
_KDE_GRID = 512
_KDE_CUT = 3.0
_KDE_THRESHOLD = 0.001


def _kde_nb_exact_oracle() -> str:
    """DuckDB oracle replaying the WHOLE kernel-density NB pipeline:
    portable-hash split, per-(class, feature) bw.nrd0 bandwidths
    (0.9·min(sd, IQR/1.349)·n^(−1/5); quantile_cont IS type-7, the
    same interpolation Spark's exact percentile uses), gaussian KDE on
    the 512-point [min−3bw, max+3bw] grid, index-linear interpolation
    at test values (0 outside the grid — np.interp's left/right
    semantics), klaR's 0.001 density floor, ln-prior + Σ log-density
    argmax, confusion counts."""
    melt_tr = " UNION ALL ".join(
        f"SELECT cls, {fi} AS fi, x{fi} AS v FROM tr"
        for fi in range(len(_KDE_FEATS))
    )
    melt_te = " UNION ALL ".join(
        f"SELECT rid, cls AS actual, {fi} AS fi, x{fi} AS v FROM te"
        for fi in range(len(_KDE_FEATS))
    )
    feats = ", ".join(f"{c} AS x{i}" for i, c in enumerate(_KDE_FEATS))
    g = _KDE_GRID - 1
    cut = f"{_KDE_CUT!r}"
    return f"""
WITH c AS ({_CLEANED_ORACLE}
),
d AS (
  SELECT price_bucket AS cls, {feats},
         ('0x'||substr(md5('nbsplit{_NB_SPLIT_SALT}:' || floor(car_id)::BIGINT::VARCHAR),1,15))::BIGINT % 10000 < 8000 AS train
  FROM c
),
tr AS MATERIALIZED (SELECT * FROM d WHERE train),
tn AS (SELECT count(*)::DOUBLE AS n FROM tr),
pri AS MATERIALIZED (SELECT cls, count(*)::DOUBLE AS nc FROM tr GROUP BY cls),
m AS MATERIALIZED ({melt_tr}),
st AS (
  SELECT cls, fi, count(*)::DOUBLE AS n, stddev_samp(v) AS sd,
         quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.75) AS q3,
         min(v) AS mn, max(v) AS mx
  FROM m GROUP BY cls, fi
),
bwt AS MATERIALIZED (
  SELECT cls, fi, n, mn, mx,
         0.9 * least(sd, (q3 - q1)/1.349) * pow(n, -0.2) AS bw
  FROM st
),
bnd AS MATERIALIZED (
  SELECT cls, fi, n, bw, mn - {cut}*bw AS lo, mx + {cut}*bw AS hi FROM bwt
),
grid AS MATERIALIZED (
  SELECT b.cls, b.fi, b.n, b.bw, b.lo, b.hi, gg.range AS gi,
         b.lo + (b.hi - b.lo) * gg.range / {g} AS gx
  FROM bnd b, range(0, {_KDE_GRID}) gg
),
dens AS MATERIALIZED (
  SELECT g.cls, g.fi, g.gi,
         sum(exp(-0.5 * ((m.v - g.gx)/g.bw) * ((m.v - g.gx)/g.bw)))
           / (g.n * g.bw * sqrt(2*pi())) AS gd
  FROM grid g JOIN m ON m.cls = g.cls AND m.fi = g.fi
  GROUP BY g.cls, g.fi, g.gi, g.n, g.bw
),
te AS MATERIALIZED (SELECT row_number() OVER () AS rid, * FROM d WHERE NOT train),
tm AS MATERIALIZED ({melt_te}),
ip AS MATERIALIZED (
  SELECT t.rid, t.actual, b.cls AS cand, t.fi,
         (t.v - b.lo) / (b.hi - b.lo) * {g} AS pos
  FROM tm t JOIN bnd b ON b.fi = t.fi
),
iv AS (
  SELECT ip.rid, ip.actual, ip.cand,
         CASE WHEN ip.pos < 0 OR ip.pos > {g} THEN 0.0
              ELSE d0.gd + (coalesce(d1.gd, d0.gd) - d0.gd)
                   * (ip.pos - floor(ip.pos)) END AS dv
  FROM ip
  LEFT JOIN dens d0 ON d0.cls = ip.cand AND d0.fi = ip.fi
                   AND d0.gi = floor(ip.pos)::BIGINT
  LEFT JOIN dens d1 ON d1.cls = ip.cand AND d1.fi = ip.fi
                   AND d1.gi = floor(ip.pos)::BIGINT + 1
),
lls AS (
  SELECT rid, actual, cand,
         sum(ln(greatest(dv, {_KDE_THRESHOLD!r}))) AS sld
  FROM iv GROUP BY rid, actual, cand
),
llf AS (
  SELECT l.rid, l.actual, l.cand,
         ln(p.nc / tn.n) + l.sld AS ll
  FROM lls l JOIN pri p ON p.cls = l.cand, tn
),
pk AS (
  SELECT rid, actual, cand AS predicted,
         row_number() OVER (PARTITION BY rid ORDER BY ll DESC, cand) AS rn
  FROM llf
)
SELECT actual, predicted, count(*)::BIGINT AS n
FROM pk WHERE rn = 1 GROUP BY actual, predicted ORDER BY actual, predicted
"""


@query("carprice_kde_nb_confusion_exact", oracle=_kde_nb_exact_oracle())
def carprice_kde_nb_confusion_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """M7 at FULL fidelity, made exact: the kernel-density NB the
    reference actually runs (naiveBayes(usekernel=TRUE),
    BigDataProject.R:349-364 — klaR-style per-(class, feature)
    gaussian KDE with bw.nrd0 bandwidths on 512-point grids, 0.001
    density floor, ln-prior + Σ log-density argmax) on the
    deterministic portable-hash split — and the DuckDB oracle replays
    EVERY stage: bandwidths (quantile_cont is type-7, matching the
    exact percentile), grid densities, index-linear interpolation with
    np.interp's outside-the-grid zeros, the floor, the argmax, the
    confusion counts. The randomSplit-based
    ``carprice_kde_nb_confusion`` stays as the library-parity run;
    this pins the whole KDE-NB computation cross-engine. Uses the same
    split as ``carprice_gaussian_nb_confusion_exact`` so the kernel vs
    gaussian confusion matrices are directly comparable on one test
    set.

    Scale: the fitted state is (classes × features × 512) scalars
    built from ONE grouped stats pass + one values×grid aggregate
    (work = distinct values × grid, never rows × grid); scoring is
    two broadcast grid-row joins + a per-row argmax window."""
    import math

    from pyspark.sql import Window

    from ..llm.text import keep_fraction

    nf = len(_KDE_FEATS)
    g = _KDE_GRID - 1
    df = _cleaned(spark)
    key = F.concat(
        F.lit(f"nbsplit{_NB_SPLIT_SALT}:"),
        F.floor("car_id").cast("long").cast("string"),
    )
    d = df.select(
        F.col("price_bucket").alias("cls"),
        *[F.col(c).alias(f"x{i}") for i, c in enumerate(_KDE_FEATS)],
        keep_fraction(key, 0.8).alias("train"),
    ).coalesce(1).localCheckpoint()
    tr = d.filter(F.col("train"))
    n_train = float(tr.count())
    pri = tr.groupBy("cls").agg(F.count(F.lit(1)).cast("double").alias("nc"))
    m = None
    for fi in range(nf):
        one = tr.select(
            "cls", F.lit(fi).alias("fi"), F.col(f"x{fi}").alias("v")
        )
        m = one if m is None else m.unionByName(one)
    st = m.groupBy("cls", "fi").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.stddev_samp("v").alias("sd"),
        F.expr("percentile(v, 0.25)").alias("q1"),
        F.expr("percentile(v, 0.75)").alias("q3"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
    )
    bw = F.lit(0.9) * F.least(
        F.col("sd"), (F.col("q3") - F.col("q1")) / F.lit(1.349)
    ) * F.pow(F.col("n"), F.lit(-0.2))
    bnd = st.select(
        "cls", "fi", "n",
        bw.alias("bw"),
        (F.col("mn") - F.lit(_KDE_CUT) * bw).alias("lo"),
        (F.col("mx") + F.lit(_KDE_CUT) * bw).alias("hi"),
    )
    gi = spark.range(_KDE_GRID).select(F.col("id").cast("long").alias("gi"))
    grid = F.broadcast(bnd).crossJoin(F.broadcast(gi)).withColumn(
        "gx",
        F.col("lo") + (F.col("hi") - F.col("lo")) * F.col("gi") / F.lit(g),
    )
    z = (F.col("v") - F.col("gx")) / F.col("bw")
    dens = (
        grid.join(m, ["cls", "fi"])
        .groupBy("cls", "fi", "gi", "n", "bw")
        .agg(F.sum(F.exp(F.lit(-0.5) * z * z)).alias("s"))
        .select(
            "cls", "fi", "gi",
            (
                F.col("s")
                / (F.col("n") * F.col("bw") * F.lit(math.sqrt(2 * math.pi)))
            ).alias("gd"),
        )
    )
    te = d.filter(~F.col("train")).withColumn(
        "rid", F.monotonically_increasing_id()
    )
    tm = None
    for fi in range(nf):
        one = te.select(
            "rid", F.col("cls").alias("actual"),
            F.lit(fi).alias("fi"), F.col(f"x{fi}").alias("v"),
        )
        tm = one if tm is None else tm.unionByName(one)
    ip = tm.join(
        F.broadcast(bnd.select(F.col("cls").alias("cand"), "fi", "lo", "hi")),
        ["fi"],
    ).withColumn(
        "pos", (F.col("v") - F.col("lo")) / (F.col("hi") - F.col("lo")) * F.lit(g)
    )
    d0 = dens.select(
        F.col("cls").alias("cand"), "fi", F.col("gi").alias("gi0"),
        F.col("gd").alias("gd0"),
    )
    d1 = dens.select(
        F.col("cls").alias("cand"), "fi", F.col("gi").alias("gi1"),
        F.col("gd").alias("gd1"),
    )
    iv = (
        ip.withColumn("gi0", F.floor("pos").cast("long"))
        .join(F.broadcast(d0), ["cand", "fi", "gi0"], "left")
        .withColumn("gi1", F.col("gi0") + F.lit(1))
        .join(F.broadcast(d1), ["cand", "fi", "gi1"], "left")
        .withColumn(
            "dv",
            F.when(
                (F.col("pos") < 0) | (F.col("pos") > g), F.lit(0.0)
            ).otherwise(
                F.col("gd0")
                + (F.coalesce(F.col("gd1"), F.col("gd0")) - F.col("gd0"))
                * (F.col("pos") - F.floor("pos"))
            ),
        )
    )
    lls = iv.groupBy("rid", "actual", "cand").agg(
        F.sum(F.log(F.greatest(F.col("dv"), F.lit(_KDE_THRESHOLD)))).alias("sld")
    )
    llf = lls.join(
        F.broadcast(pri.select(F.col("cls").alias("cand"), "nc")), ["cand"]
    ).withColumn("ll", F.log(F.col("nc") / F.lit(n_train)) + F.col("sld"))
    w = Window.partitionBy("rid").orderBy(F.desc("ll"), F.asc("cand"))
    return (
        llf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("actual", F.col("cand").alias("predicted"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("actual", "predicted")
    )


_KM_FEATS: list[str] = [
    "horsepower", "enginesize", "curbweight", "citympg", "highwaympg",
    "price",
]
_KM_ITERS = 8


def _kmeans_exact_oracle() -> str:
    """DuckDB oracle replaying 8 unrolled Lloyd rounds, k=2, on the
    9dp-rounded standardized clus_vars: per round one aggregate of the
    A-side sums under the da<=db assignment (B side = totals − A side),
    centers re-rounded to 9dp so engine-ulp summation noise cannot
    drift the iteration inputs apart."""
    p = len(_KM_FEATS)
    mstats = ", ".join(
        f"avg({c}) AS m{i}, stddev_samp({c}) AS s{i}"
        for i, c in enumerate(_KM_FEATS)
    )
    zcols = ", ".join(
        f"round(({c} - ms.m{i})/ms.s{i}, 9) AS z{i}"
        for i, c in enumerate(_KM_FEATS)
    )
    parts = [
        f"WITH c AS ({_CLEANED_ORACLE}\n),",
        f"ms AS (SELECT {mstats} FROM c),",
        f"z AS (SELECT {zcols} FROM c, ms),",
        "tot AS (SELECT count(*)::DOUBLE AS n, "
        + ", ".join(f"sum(z{i}) AS t{i}" for i in range(p))
        + " FROM z),",
        "b0 AS (SELECT "
        + ", ".join(f"CAST(0.5 AS DOUBLE) AS a{i}" for i in range(p))
        + ", "
        + ", ".join(f"CAST(-0.5 AS DOUBLE) AS b{i}" for i in range(p))
        + "),",
    ]
    da = " + ".join(f"(z.z{i} - bb.a{i})*(z.z{i} - bb.a{i})" for i in range(p))
    db = " + ".join(f"(z.z{i} - bb.b{i})*(z.z{i} - bb.b{i})" for i in range(p))
    cond = f"({da}) <= ({db})"
    for k in range(1, _KM_ITERS + 1):
        sums = ", ".join(
            f"sum(z.z{i}) FILTER ({cond}) AS sa{i}" for i in range(p)
        )
        parts.append(
            f"ag{k} AS (SELECT (count(*) FILTER ({cond}))::DOUBLE AS na,"
            f" {sums} FROM z, b{k-1} bb),"
        )
        parts.append(
            f"b{k} AS (SELECT "
            + ", ".join(f"round(sa{i}/na, 9) AS a{i}" for i in range(p))
            + ", "
            + ", ".join(
                f"round((tot.t{i} - sa{i})/(tot.n - na), 9) AS b{i}"
                for i in range(p)
            )
            + f" FROM ag{k}, tot),"
        )
    last = f"b{_KM_ITERS}"
    wd = f"CASE WHEN {cond} THEN ({da}) ELSE ({db}) END"
    parts.append(
        f"asg AS (SELECT CASE WHEN {cond} THEN 'c1' ELSE 'c2' END AS cluster,"
        f" {wd} AS wd FROM z, {last} bb),"
    )
    parts.append(
        "szs AS (SELECT cluster, count(*)::BIGINT AS n_cars,"
        " round(sum(wd), 4) AS wss FROM asg GROUP BY cluster),"
    )
    c1 = ", ".join(
        f"round(ms.m{i} + ms.s{i}*bb.a{i}, 4) AS {c}"
        for i, c in enumerate(_KM_FEATS)
    )
    c2 = ", ".join(
        f"round(ms.m{i} + ms.s{i}*bb.b{i}, 4) AS {c}"
        for i, c in enumerate(_KM_FEATS)
    )
    parts.append(
        f"cent AS (SELECT 'c1' AS cluster, {c1} FROM {last} bb, ms"
        f" UNION ALL SELECT 'c2', {c2} FROM {last} bb, ms)"
    )
    return (
        "\n".join(parts)
        + "\nSELECT s.cluster, s.n_cars, "
        + ", ".join(f"cent.{c}" for c in _KM_FEATS)
        + ", s.wss FROM szs s JOIN cent USING (cluster) ORDER BY cluster"
    )


@query("carprice_kmeans_lloyd_exact", oracle=_kmeans_exact_oracle())
def carprice_kmeans_lloyd_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9+M10+M11 exact twin (BigDataProject.R:389-437: the 6
    clus_vars, standardized, final k=2, centers un-scaled back to
    feature units): 8 UNROLLED Lloyd rounds from a deterministic
    moment-split init (±0.5 in standardized space — the same
    mean±sd/2 idea as the GMM-EM oracle's init), each round ONE
    map-side-combined aggregate of the A-side sums (B side = totals −
    A side), centers rounded to 9dp per round on BOTH engines so ulp
    summation noise cannot drift the iteration (the Lloyd analogue of
    the iteration-exact IRLS/EM family). Output: per-cluster size,
    un-scaled center (m + s·center, M11), and within-cluster SSE —
    hash-checked against the DuckDB replay. The MLlib k-means‖ fit
    stays rows-only; this pins Lloyd's algebra itself.

    Scale: state is 2·p doubles; each round is one full-scan
    aggregate — the canonical distributed-Lloyd shape (assignment
    inside the aggregate, never materialized)."""
    p = len(_KM_FEATS)
    df = _cleaned(spark)
    ms = df.agg(
        *[
            a
            for i, c in enumerate(_KM_FEATS)
            for a in (
                F.avg(c).alias(f"m{i}"),
                F.stddev_samp(c).alias(f"s{i}"),
            )
        ]
    ).collect()[0]
    z = df.select(
        *[
            F.round((F.col(c) - F.lit(ms[f"m{i}"])) / F.lit(ms[f"s{i}"]), 9).alias(
                f"z{i}"
            )
            for i, c in enumerate(_KM_FEATS)
        ]
    ).coalesce(1)
    z = z.localCheckpoint()
    tot = z.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        *[F.sum(f"z{i}").alias(f"t{i}") for i in range(p)],
    ).collect()[0]
    a = [0.5] * p
    b = [-0.5] * p
    for _ in range(_KM_ITERS):
        da = sum(
            ((F.col(f"z{i}") - F.lit(a[i])) * (F.col(f"z{i}") - F.lit(a[i])))
            for i in range(p)
        )
        db = sum(
            ((F.col(f"z{i}") - F.lit(b[i])) * (F.col(f"z{i}") - F.lit(b[i])))
            for i in range(p)
        )
        cond = da <= db
        ag = z.agg(
            F.count(F.when(cond, 1)).cast("double").alias("na"),
            *[F.sum(F.when(cond, F.col(f"z{i}"))).alias(f"sa{i}") for i in range(p)],
        ).collect()[0]
        na = ag["na"]
        a = [round(ag[f"sa{i}"] / na, 9) for i in range(p)]
        b = [
            round((tot[f"t{i}"] - ag[f"sa{i}"]) / (tot["n"] - na), 9)
            for i in range(p)
        ]
    da = sum(
        ((F.col(f"z{i}") - F.lit(a[i])) * (F.col(f"z{i}") - F.lit(a[i])))
        for i in range(p)
    )
    db = sum(
        ((F.col(f"z{i}") - F.lit(b[i])) * (F.col(f"z{i}") - F.lit(b[i])))
        for i in range(p)
    )
    cond = da <= db
    szs = (
        z.select(
            F.when(cond, F.lit("c1")).otherwise(F.lit("c2")).alias("cluster"),
            F.when(cond, da).otherwise(db).alias("wd"),
        )
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_cars"),
            F.round(F.sum("wd"), 4).alias("wss"),
        )
    )
    cent_rows = [
        ("c1", *[round(ms[f"m{i}"] + ms[f"s{i}"] * a[i], 4) for i in range(p)]),
        ("c2", *[round(ms[f"m{i}"] + ms[f"s{i}"] * b[i], 4) for i in range(p)]),
    ]
    cent = spark.createDataFrame(
        cent_rows,
        "cluster string, " + ", ".join(f"{c} double" for c in _KM_FEATS),
    )
    return (
        szs.join(F.broadcast(cent), "cluster")
        .select("cluster", "n_cars", *_KM_FEATS, "wss")
        .orderBy("cluster")
    )


_TREE_FEATS: list[str] = [
    "horsepower", "enginesize", "curbweight", "citympg", "highwaympg",
    "carwidth", "carlength",
]
_TREE_MINBUCKET = 7  # rpart's default minbucket


def _tree_split_sql(prefix: str, src: str) -> str:
    """Best-split scorer CTEs over source CTE ``src``: candidates =
    distinct (feature, value) pairs of the node's own rows, score =
    left SSE + right SSE under xv <= thr (rounded to 9dp before the
    argmin so engine-ulp sum noise cannot flip the winner), ties
    broken (sse, feat, thr)."""
    case_x = (
        "CASE cd.feat "
        + " ".join(f"WHEN '{c}' THEN p.{c}" for c in _TREE_FEATS)
        + " END"
    )
    cand = " UNION ALL ".join(
        f"SELECT DISTINCT '{c}' AS feat, {c} AS thr FROM {src}"
        for c in _TREE_FEATS
    )
    return f"""
cand{prefix} AS ({cand}),
ev{prefix} AS (
  SELECT cd.feat, cd.thr, {case_x} AS xv, p.y
  FROM cand{prefix} cd, {src} p
),
sc{prefix} AS (
  SELECT feat, thr,
         (count(*) FILTER (xv <= thr))::DOUBLE AS nl,
         sum(y) FILTER (xv <= thr) AS syl,
         sum(y*y) FILTER (xv <= thr) AS syyl,
         (count(*) FILTER (xv > thr))::DOUBLE AS nr,
         sum(y) FILTER (xv > thr) AS syr,
         sum(y*y) FILTER (xv > thr) AS syyr
  FROM ev{prefix} GROUP BY feat, thr
),
g{prefix} AS (
  SELECT feat, thr, nl, nr, syl, syr,
         round((syyl - syl*syl/nl) + (syyr - syr*syr/nr), 9) AS sse
  FROM sc{prefix}
  WHERE nl >= {_TREE_MINBUCKET} AND nr >= {_TREE_MINBUCKET}
),
best{prefix} AS (SELECT * FROM g{prefix} ORDER BY sse, feat, thr LIMIT 1)"""


def _tree_exact_oracle() -> str:
    feats = ", ".join(_TREE_FEATS)
    case_root = (
        "CASE b.feat "
        + " ".join(f"WHEN '{c}' THEN p.{c}" for c in _TREE_FEATS)
        + " END"
    )
    node_row = (
        "SELECT '{node}' AS node, b.feat AS split_feature,"
        " round(b.thr, 6) AS split_threshold, (b.nl + b.nr)::BIGINT AS n,"
        " round((b.syl + b.syr)/(b.nl + b.nr), 6) AS mean_log_price,"
        " round(b.sse, 6) AS split_sse FROM best{p} b"
    )
    leaf_row = (
        "SELECT '{node}' AS node, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),"
        " {n}::BIGINT, round({sy}/{n}, 6), CAST(NULL AS DOUBLE) FROM best{p} b"
    )
    return f"""
WITH c AS ({_CLEANED_ORACLE}
),
pts AS MATERIALIZED (SELECT {feats}, ln(1 + price) AS y FROM c),
{_tree_split_sql("R", "pts").lstrip()},
ptsL AS MATERIALIZED (SELECT p.* FROM pts p, bestR b WHERE {case_root} <= b.thr),
ptsR AS MATERIALIZED (SELECT p.* FROM pts p, bestR b WHERE {case_root} > b.thr),
{_tree_split_sql("L", "ptsL").lstrip()},
{_tree_split_sql("RR", "ptsR").lstrip()}
{node_row.format(node='root', p='R')}
UNION ALL {node_row.format(node='L', p='L')}
UNION ALL {node_row.format(node='R', p='RR')}
UNION ALL {leaf_row.format(node='LL', p='L', n='b.nl', sy='b.syl')}
UNION ALL {leaf_row.format(node='LR', p='L', n='b.nr', sy='b.syr')}
UNION ALL {leaf_row.format(node='RL', p='RR', n='b.nl', sy='b.syl')}
UNION ALL {leaf_row.format(node='RR', p='RR', n='b.nr', sy='b.syr')}
"""


def _tree_best_split(pts: DataFrame) -> dict:
    """Distributed exact CART split search mirroring _tree_split_sql:
    candidates (feature, distinct value) × node rows, FILTER-style
    aggregates, 9dp-rounded SSE argmin with (sse, feat, thr)
    tie-break. Returns the 1-row best dict."""
    cands = None
    for c in _TREE_FEATS:
        one = pts.select(
            F.lit(c).alias("feat"), F.col(c).alias("thr")
        ).distinct()
        cands = one if cands is None else cands.unionByName(one)
    expr = None
    for c in _TREE_FEATS:
        cond = F.col("feat") == c
        expr = F.when(cond, F.col(c)) if expr is None else expr.when(cond, F.col(c))
    ev = pts.crossJoin(F.broadcast(cands)).withColumn("xv", expr)
    left = F.col("xv") <= F.col("thr")
    sc = ev.groupBy("feat", "thr").agg(
        F.count(F.when(left, 1)).cast("double").alias("nl"),
        F.sum(F.when(left, F.col("y"))).alias("syl"),
        F.sum(F.when(left, F.col("y") * F.col("y"))).alias("syyl"),
        F.count(F.when(~left, 1)).cast("double").alias("nr"),
        F.sum(F.when(~left, F.col("y"))).alias("syr"),
        F.sum(F.when(~left, F.col("y") * F.col("y"))).alias("syyr"),
    )
    g = sc.filter(
        (F.col("nl") >= _TREE_MINBUCKET) & (F.col("nr") >= _TREE_MINBUCKET)
    ).withColumn(
        "sse",
        F.round(
            (F.col("syyl") - F.col("syl") * F.col("syl") / F.col("nl"))
            + (F.col("syyr") - F.col("syr") * F.col("syr") / F.col("nr")),
            9,
        ),
    )
    return g.orderBy("sse", "feat", "thr").limit(1).collect()[0].asDict()


@query("carprice_tree_depth2_exact", oracle=_tree_exact_oracle())
def carprice_tree_depth2_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 exact twin (BigDataProject.R:329-335): a depth-2 CART
    regression tree on log_price over the 7 numeric features, grown by
    EXACT variance-reduction split search — for every (feature,
    distinct value) candidate, left+right SSE from FILTER-style sums,
    argmin with 9dp rounding and (sse, feat, thr) tie-break,
    minbucket=7 (rpart's default). The DuckDB oracle replays the
    identical search, so the chosen splits, node means and SSEs are
    hash-checked. rpart's cp-pruning on the stochastic library fit
    stays a documented delta; this pins the split-search algebra the
    tree operator implements.

    Scale: per node ONE candidates×rows aggregate (map-side combine
    over (feat, thr) keys) — the standard distributed
    decision-tree-split shape (cf. Spark ML's binned split search);
    candidate count is bounded by distinct values per feature."""
    df = _cleaned(spark)
    pts = df.select(
        *_TREE_FEATS, F.log1p("price").alias("y")
    ).coalesce(1).localCheckpoint()
    broot = _tree_best_split(pts)
    root_cut = None
    for c in _TREE_FEATS:
        cond = F.lit(broot["feat"]) == c
        root_cut = (
            F.when(cond, F.col(c))
            if root_cut is None
            else root_cut.when(cond, F.col(c))
        )
    ptsL = pts.filter(root_cut <= F.lit(broot["thr"]))
    ptsR = pts.filter(root_cut > F.lit(broot["thr"]))
    bl = _tree_best_split(ptsL)
    br = _tree_best_split(ptsR)

    def node_row(node: str, b: dict) -> tuple:
        n = b["nl"] + b["nr"]
        return (
            node,
            b["feat"],
            round(b["thr"], 6),
            int(n),
            round((b["syl"] + b["syr"]) / n, 6),
            round(b["sse"], 6),
        )

    def leaf_row(node: str, n: float, sy: float) -> tuple:
        return (node, None, None, int(n), round(sy / n, 6), None)

    rows = [
        node_row("root", broot),
        node_row("L", bl),
        node_row("R", br),
        leaf_row("LL", bl["nl"], bl["syl"]),
        leaf_row("LR", bl["nr"], bl["syr"]),
        leaf_row("RL", br["nl"], br["syl"]),
        leaf_row("RR", br["nr"], br["syr"]),
    ]
    return spark.createDataFrame(
        rows,
        "node string, split_feature string, split_threshold double,"
        " n bigint, mean_log_price double, split_sse double",
    )


_GBT_ROUNDS = 3
_GBT_SHRINK = 0.5


def _gbt_exact_oracle() -> str:
    """DuckDB oracle replaying 3 unrolled boosting rounds of depth-1
    stumps with shrinkage 0.5 on log_price: per round the SAME
    generated split search as the CART oracle runs on the CURRENT
    residuals, leaf values (residual means) are rounded to 9dp before
    the residual update on both engines (the boosting member of the
    iteration-exact family), and the final row is the train RMSE of
    the residuals."""
    feats = ", ".join(_TREE_FEATS)

    def case_x(alias: str, row: str) -> str:
        return (
            f"CASE {alias}.feat "
            + " ".join(f"WHEN '{c}' THEN {row}.{c}" for c in _TREE_FEATS)
            + " END"
        )

    parts = [
        f"WITH c AS ({_CLEANED_ORACLE}\n),",
        f"pts AS MATERIALIZED (SELECT {feats}, ln(1 + price) AS y0 FROM c),",
        "f0 AS (SELECT avg(y0) AS f FROM pts),",
        f"rs1 AS MATERIALIZED (SELECT {feats}, pts.y0 - f0.f AS y"
        " FROM pts, f0),",
    ]
    for t in range(1, _GBT_ROUNDS + 1):
        parts.append(_tree_split_sql(f"B{t}", f"rs{t}").lstrip() + ",")
        parts.append(
            f"lv{t} AS (SELECT feat, thr, round(syl/nl, 9) AS lv,"
            f" round(syr/nr, 9) AS rv FROM bestB{t}),"
        )
        parts.append(
            f"rs{t + 1} AS MATERIALIZED"
            f" (SELECT {', '.join('r.' + c for c in _TREE_FEATS)},"
            f" r.y - {_GBT_SHRINK!r}*(CASE WHEN {case_x(f'lv{t}', 'r')}"
            f" <= lv{t}.thr THEN lv{t}.lv ELSE lv{t}.rv END) AS y"
            f" FROM rs{t} r, lv{t}),"
        )
    parts[-1] = parts[-1].rstrip(",")
    finals = [
        "SELECT 'f0' AS step, CAST(NULL AS VARCHAR) AS split_feature,"
        " CAST(NULL AS DOUBLE) AS split_threshold,"
        " round(f, 6) AS left_value, CAST(NULL AS DOUBLE) AS right_value"
        " FROM f0"
    ]
    finals += [
        f"SELECT 'round{t}', feat, round(thr, 6), round(lv, 6),"
        f" round(rv, 6) FROM lv{t}"
        for t in range(1, _GBT_ROUNDS + 1)
    ]
    finals.append(
        "SELECT 'final_train_rmse_log', CAST(NULL AS VARCHAR),"
        " CAST(NULL AS DOUBLE), round(sqrt(avg(y*y)), 6),"
        f" CAST(NULL AS DOUBLE) FROM rs{_GBT_ROUNDS + 1}"
    )
    return "\n".join(parts) + "\n" + "\nUNION ALL ".join(finals)


@query("carprice_gbt_boost_exact", oracle=_gbt_exact_oracle())
def carprice_gbt_boost_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8's slot (BigDataProject.R:366-382: the tuned nonlinear
    regressor; Spark ML has no SVR so the engine ships CV+GBT there)
    with its BOOSTING math made exact: 3 unrolled gradient-boosting
    rounds of depth-1 stumps on log_price, squared loss (leaf value =
    residual mean), shrinkage 0.5 — each round runs the same exact
    CART split search as ``carprice_tree_depth2_exact`` on the current
    residuals, leaf values are 9dp-rounded before the residual update
    on BOTH engines so ulp noise cannot drift the iteration, and the
    DuckDB oracle replays all three rounds plus the final train RMSE.
    The stochastic CV+GBT library fit stays rows-only; this pins the
    boosting recurrence itself cross-engine.

    Scale: per round ONE candidates×rows aggregate + one narrow
    residual projection — distributed boosting with driver state of
    one (feat, thr, lv, rv) tuple per round."""
    import math

    df = _cleaned(spark)
    pts = df.select(
        *_TREE_FEATS, F.log1p("price").alias("y0")
    ).coalesce(1).localCheckpoint()
    f0 = pts.agg(F.avg("y0").alias("f")).collect()[0]["f"]
    cur = pts.withColumn("y", F.col("y0") - F.lit(f0))
    rows = [("f0", None, None, round(f0, 6), None)]
    for t in range(1, _GBT_ROUNDS + 1):
        b = _tree_best_split(cur)
        lv = round(b["syl"] / b["nl"], 9)
        rv = round(b["syr"] / b["nr"], 9)
        rows.append(
            (f"round{t}", b["feat"], round(b["thr"], 6), round(lv, 6),
             round(rv, 6))
        )
        xv = None
        for c in _TREE_FEATS:
            cond = F.lit(b["feat"]) == c
            xv = F.when(cond, F.col(c)) if xv is None else xv.when(cond, F.col(c))
        cur = cur.withColumn(
            "y",
            F.col("y")
            - F.lit(_GBT_SHRINK)
            * F.when(xv <= F.lit(b["thr"]), F.lit(lv)).otherwise(F.lit(rv)),
        )
    mse = cur.agg(F.avg(F.col("y") * F.col("y")).alias("m")).collect()[0]["m"]
    rows.append(
        ("final_train_rmse_log", None, None, round(math.sqrt(mse), 6), None)
    )
    return spark.createDataFrame(
        rows,
        "step string, split_feature string, split_threshold double,"
        " left_value double, right_value double",
    )


_BAG_COUNT = 8
_BAG_KEEP = 0.632  # e-fraction: the expected unique-row share of a bootstrap


def _bagging_exact_oracle() -> str:
    """DuckDB oracle for the exact bagged-stumps ensemble: 8 bags drawn
    by the portable md5 hash (Bernoulli(0.632) per (bag, car) — the
    deterministic stand-in for bootstrap resampling), one exact CART
    stump per bag via the shared split-search CTEs, ensemble prediction
    = mean of stump outputs, train RMSE on log_price."""
    feats = ", ".join(_TREE_FEATS)

    def case_x(alias: str, row: str) -> str:
        return (
            f"CASE {alias}.feat "
            + " ".join(f"WHEN '{c}' THEN {row}.{c}" for c in _TREE_FEATS)
            + " END"
        )

    thr_pm = int(round(_BAG_KEEP * 10_000))
    parts = [
        f"WITH c AS ({_CLEANED_ORACLE}\n),",
        f"pts AS MATERIALIZED (SELECT floor(car_id)::BIGINT AS car_key,"
        f" {feats}, ln(1 + price) AS y FROM c),",
    ]
    for g in range(_BAG_COUNT):
        parts.append(
            f"bag{g} AS MATERIALIZED (SELECT * FROM pts WHERE"
            f" ('0x' || substr(md5('bag{g}:' || car_key::VARCHAR), 1, 15))::BIGINT"
            f" % 10000 < {thr_pm}),"
        )
        parts.append(_tree_split_sql(f"G{g}", f"bag{g}").lstrip() + ",")
        parts.append(
            f"s{g} AS (SELECT feat, thr, round(syl/nl, 9) AS lv,"
            f" round(syr/nr, 9) AS rv, (nl + nr)::BIGINT AS n_bag"
            f" FROM bestG{g}),"
        )
    pred = " + ".join(
        f"(CASE WHEN {case_x(f's{g}', 'p')} <= s{g}.thr"
        f" THEN s{g}.lv ELSE s{g}.rv END)"
        for g in range(_BAG_COUNT)
    )
    froms = ", ".join(f"s{g}" for g in range(_BAG_COUNT))
    parts.append(
        f"pr AS (SELECT p.y, ({pred}) / {_BAG_COUNT} AS ph"
        f" FROM pts p, {froms})"
    )
    finals = [
        f"SELECT 'bag{g}' AS member, feat AS split_feature,"
        f" round(thr, 6) AS split_threshold, round(lv, 6) AS left_value,"
        f" round(rv, 6) AS right_value, n_bag FROM s{g}"
        for g in range(_BAG_COUNT)
    ]
    finals.append(
        "SELECT 'ensemble', CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),"
        " round(sqrt(avg((ph - y)*(ph - y))), 6), CAST(NULL AS DOUBLE),"
        " count(*)::BIGINT FROM pr"
    )
    return "\n".join(parts) + "\n" + "\nUNION ALL ".join(finals)


@query("carprice_bagged_stumps_exact", oracle=_bagging_exact_oracle())
def carprice_bagged_stumps_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6's algebra made exact (BigDataProject.R:338-347: randomForest
    ntree=200 — the library fit with feature subsampling and true
    bootstrap stays rows-only): an 8-member BAGGED ensemble of exact
    depth-1 CART stumps on log_price, bags drawn deterministically by
    the portable hash (Bernoulli(0.632) per (bag, car) — the expected
    unique-row fraction of a bootstrap), ensemble prediction = mean of
    member outputs, plus the train RMSE of the ensemble. Every member's
    split search, each bag's membership, the averaging and the metric
    are replayed by the DuckDB oracle — variance-reduction-by-averaging
    is pinned cross-engine, which is the mechanism M6 exists for.

    Scale: bag membership is a hash predicate (no resampled copies
    materialized — the subsample trick RF uses at scale); each member
    is one candidates×rows aggregate; the ensemble projection is one
    pass with 8 broadcast 1-row stump tables."""
    import math

    df = _cleaned(spark)
    pts = df.select(
        F.floor("car_id").cast("long").alias("car_key"),
        *_TREE_FEATS,
        F.log1p("price").alias("y"),
    ).coalesce(1).localCheckpoint()
    from ..llm.text import keep_fraction

    rows = []
    preds = []
    for g in range(_BAG_COUNT):
        key = F.concat(F.lit(f"bag{g}:"), F.col("car_key").cast("string"))
        bag = pts.filter(keep_fraction(key, _BAG_KEEP))
        b = _tree_best_split(bag)
        lv = round(b["syl"] / b["nl"], 9)
        rv = round(b["syr"] / b["nr"], 9)
        rows.append(
            (
                f"bag{g}",
                b["feat"],
                round(b["thr"], 6),
                round(lv, 6),
                round(rv, 6),
                int(b["nl"] + b["nr"]),
            )
        )
        xv = None
        for c in _TREE_FEATS:
            cond = F.lit(b["feat"]) == c
            xv = F.when(cond, F.col(c)) if xv is None else xv.when(cond, F.col(c))
        preds.append(F.when(xv <= F.lit(b["thr"]), F.lit(lv)).otherwise(F.lit(rv)))
    ens = sum(preds[1:], preds[0]) / F.lit(float(_BAG_COUNT))
    ag = pts.select(
        ((ens - F.col("y")) * (ens - F.col("y"))).alias("sq")
    ).agg(F.avg("sq").alias("m"), F.count(F.lit(1)).alias("n")).collect()[0]
    rows.append(
        ("ensemble", None, None, round(math.sqrt(ag["m"]), 6), None, int(ag["n"]))
    )
    return spark.createDataFrame(
        rows,
        "member string, split_feature string, split_threshold double,"
        " left_value double, right_value double, n_bag bigint",
    )


# --------------------------------------------------------------------------
# M12 exact half: top principal component by UNROLLED power iteration.
# Like the lm/PageRank oracles, the iterative computation itself is
# replayed: 40 power-iteration steps on the 6x6 correlation matrix are
# generated as paired CTEs (w = R v, then v = w/||w||) from the same
# index spec as the Python driver solve, so both engines execute the
# identical IEEE expression tree. The MLlib PCA stays rows-only; this
# pins the deterministic algebra it implements.
# --------------------------------------------------------------------------

_PCA_COLS: list[str] = [
    "horsepower", "enginesize", "curbweight", "citympg", "carwidth", "price",
]
_PCA_ITERS = 40
_PCA_V0 = repr(1.0 / 6.0**0.5)


def _pca_power_oracle() -> str:
    p = len(_PCA_COLS)

    def r(i: int, j: int) -> str:
        return f"r{min(i, j)}_{max(i, j)}"

    parts = [f"WITH cl AS ({_CLEANED_ORACLE}\n),"]
    sel = ", ".join(f"{c} AS x{i}" for i, c in enumerate(_PCA_COLS))
    parts.append(f"mx AS (SELECT {sel} FROM cl),")
    st = ["count(*)::DOUBLE AS n"]
    st += [f"sum(x{i}) AS s{i}" for i in range(p)]
    st += [
        f"sum(x{i}*x{j}) AS s{i}_{j}" for i in range(p) for j in range(i, p)
    ]
    parts.append(f"st AS (SELECT {', '.join(st)} FROM mx),")
    cv = [
        f"s{i}_{j} - s{i}*s{j}/n AS c{i}_{j}"
        for i in range(p)
        for j in range(i, p)
    ]
    parts.append(f"cv AS (SELECT *, {', '.join(cv)} FROM st),")
    cr = [
        f"c{i}_{j}/sqrt(c{i}_{i}*c{j}_{j}) AS r{i}_{j}"
        for i in range(p)
        for j in range(i, p)
    ]
    parts.append(f"cr AS (SELECT *, {', '.join(cr)} FROM cv),")
    prev = "cr"
    vexpr = [ _PCA_V0 ] * p
    for t in range(_PCA_ITERS):
        ws = [
            " + ".join(f"{r(i, j)}*{vexpr[j]}" for j in range(p))
            for i in range(p)
        ]
        parts.append(
            f"w{t} AS (SELECT *, "
            + ", ".join(f"{ws[i]} AS w{t}_{i}" for i in range(p))
            + f" FROM {prev}),"
        )
        nrm = "sqrt(" + " + ".join(f"w{t}_{i}*w{t}_{i}" for i in range(p)) + ")"
        parts.append(
            f"v{t} AS (SELECT *, "
            + ", ".join(f"w{t}_{i}/{nrm} AS v{t}_{i}" for i in range(p))
            + f" FROM w{t}),"
        )
        vexpr = [f"v{t}_{i}" for i in range(p)]
        prev = f"v{t}"
    T = _PCA_ITERS - 1
    ws = [
        " + ".join(f"{r(i, j)}*v{T}_{j}" for j in range(p)) for i in range(p)
    ]
    parts.append(
        f"fw AS (SELECT *, "
        + ", ".join(f"{ws[i]} AS f_{i}" for i in range(p))
        + f" FROM {prev}),"
    )
    lam = " + ".join(f"v{T}_{i}*f_{i}" for i in range(p))
    parts.append(
        "lm AS (SELECT *, " + lam + " AS lam, "
        f"CASE WHEN v{T}_0 < 0 THEN -1.0 ELSE 1.0 END AS sgn FROM fw)"
    )
    finals = [
        "SELECT 'eigenvalue_top' AS component, round(lam, 6) AS value FROM lm",
        f"SELECT 'explained_share', round(lam/{float(p)!r}, 6) FROM lm",
    ]
    finals += [
        f"SELECT 'loading_{c}', round(v{T}_{i}*sgn, 6) FROM lm"
        for i, c in enumerate(_PCA_COLS)
    ]
    return "\n".join(parts) + "\n" + "\nUNION ALL ".join(finals)


def _pca_power_solve(row: dict) -> list[tuple[str, float]]:
    """Driver-side mirror of the generated power-iteration recurrences
    (same term order, same literals)."""
    import math

    p = len(_PCA_COLS)
    n = row["n"]
    s = [row[f"s{i}"] for i in range(p)]
    c: dict[tuple[int, int], float] = {}
    for i in range(p):
        for j in range(i, p):
            c[(i, j)] = row[f"s{i}_{j}"] - s[i] * s[j] / n

    def r(i: int, j: int) -> float:
        i, j = min(i, j), max(i, j)
        return c[(i, j)] / math.sqrt(c[(i, i)] * c[(j, j)])

    v = [float(_PCA_V0)] * p
    for _ in range(_PCA_ITERS):
        w = []
        for i in range(p):
            acc = r(i, 0) * v[0]
            for j in range(1, p):
                acc = acc + r(i, j) * v[j]
            w.append(acc)
        nrm_sq = w[0] * w[0]
        for i in range(1, p):
            nrm_sq = nrm_sq + w[i] * w[i]
        nrm = math.sqrt(nrm_sq)
        v = [w[i] / nrm for i in range(p)]
    f = []
    for i in range(p):
        acc = r(i, 0) * v[0]
        for j in range(1, p):
            acc = acc + r(i, j) * v[j]
        f.append(acc)
    lam = v[0] * f[0]
    for i in range(1, p):
        lam = lam + v[i] * f[i]
    sgn = -1.0 if v[0] < 0 else 1.0
    out = [("eigenvalue_top", lam), ("explained_share", lam / float(p))]
    out += [
        (f"loading_{col}", v[i] * sgn) for i, col in enumerate(_PCA_COLS)
    ]
    return out


@query("carprice_top_pca_eigen_exact", oracle=_pca_power_oracle())
def carprice_top_pca_eigen_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12's deterministic half, ITERATION-exact: top eigenvalue /
    loading vector of the 6-feature correlation matrix via 40 unrolled
    power-iteration steps — one distributed sufficient-statistics
    aggregate (27 sums), then the driver replays the same recurrences
    the DuckDB oracle evaluates as generated CTE pairs (w = R·v,
    v = w/‖w‖), term for term. Sign fixed by the first loading; the
    explained-variance share is λ/6 (standardized PCA). The MLlib PCA
    (`carprice_pca_variance`) remains the production fit; this pins its
    algebra to a hash check (pytest additionally bounds the 40-step
    estimate against numpy's exact eigendecomposition)."""
    ml = _cleaned(spark).select(*_PCA_COLS).dropna().coalesce(1)
    xs = [F.col(c) for c in _PCA_COLS]
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    aggs += [F.sum(xs[i]).alias(f"s{i}") for i in range(len(xs))]
    aggs += [
        F.sum(xs[i] * xs[j]).alias(f"s{i}_{j}")
        for i in range(len(xs))
        for j in range(i, len(xs))
    ]
    row = ml.agg(*aggs).collect()[0].asDict()
    out = spark.createDataFrame(
        _pca_power_solve(row), "component string, value double"
    )
    return out.select("component", F.round("value", 6).alias("value"))


# --------------------------------------------------------------------------
# GLM via iteratively reweighted least squares, ITERATION-EXACT. The
# reference's classifier slot (BigDataProject.R:340-363) is Naive Bayes;
# a logistic regression is the canonical GLM a user reaches for next,
# and — like the lm/PCA/PageRank family above — its Newton/IRLS loop is
# deterministic algebra over per-pass sufficient statistics, so the
# WHOLE fit (8 unrolled Newton steps, 3x3 Cramer solve per step) is
# replayed by a generated DuckDB CTE chain. Per step both engines
# aggregate the same 9 sums (gradient + symmetric Hessian of the
# log-likelihood) over the same single-partition row order and apply
# the same explicit Cramer expressions; the only libm surface is
# exp(), whose <=1-ulp cross-engine noise is quenched by Newton's
# contraction at the fixed point (|grad| ~ 5e-14 by step 7), far under
# the 6dp round.
# --------------------------------------------------------------------------

_LOGIT_ITERS = 8


def _logit_sql_step(prev: str, k: int) -> list[str]:
    """One IRLS step as two CTEs: the 9 aggregates, then Cramer."""
    mu = "1/(1 + exp(-(p0 + p1*x1 + p2*x2)))"
    w = f"({mu}) * (1 - {mu})"
    r = f"(y - {mu})"
    agg = (
        f"ag{k} AS (SELECT p0, p1, p2, "
        f"sum({r}) AS g0, sum({r}*x1) AS g1, sum({r}*x2) AS g2, "
        f"sum({w}) AS ha, sum({w}*x1) AS hb, sum({w}*x2) AS hc, "
        f"sum({w}*x1*x1) AS hd, sum({w}*x1*x2) AS he, "
        f"sum({w}*x2*x2) AS hf "
        f"FROM base, {prev} GROUP BY p0, p1, p2),"
    )
    det = "(ha*(hd*hf-he*he) - hb*(hb*hf-hc*he) + hc*(hb*he-hc*hd))"
    d0 = "(g0*(hd*hf-he*he) - hb*(g1*hf-he*g2) + hc*(g1*he-hd*g2))"
    d1 = "(ha*(g1*hf-he*g2) - g0*(hb*hf-he*hc) + hc*(hb*g2-g1*hc))"
    d2 = "(ha*(hd*g2-g1*he) - hb*(hb*g2-g1*hc) + g0*(hb*he-hd*hc))"
    nxt = (
        f"b{k} AS (SELECT p0 + {d0}/{det} AS p0, "
        f"p1 + {d1}/{det} AS p1, p2 + {d2}/{det} AS p2 FROM ag{k}),"
    )
    return [agg, nxt]


def _logit_exact_oracle() -> str:
    parts = [
        "WITH raw AS (",
        f"  SELECT * FROM read_csv('{cp.REFERENCE_CSV}', header=true)",
        "),",
        "base AS (",
        "  SELECT horsepower::DOUBLE/100 AS x1, curbweight::DOUBLE/1000 AS x2,",
        "         CASE WHEN price::DOUBLE > 15000 THEN CAST(1 AS DOUBLE)",
        "              ELSE CAST(0 AS DOUBLE) END AS y",
        "  FROM raw",
        "),",
        "b0 AS (SELECT CAST(0 AS DOUBLE) AS p0, CAST(0 AS DOUBLE) AS p1,"
        " CAST(0 AS DOUBLE) AS p2),",
    ]
    for k in range(1, _LOGIT_ITERS + 1):
        parts += _logit_sql_step(f"b{k-1}", k)
    parts[-1] = parts[-1].rstrip(",")
    finals = [
        f"SELECT '(intercept)' AS feature, round(p0, 6) AS coefficient"
        f" FROM b{_LOGIT_ITERS}",
        f"SELECT 'horsepower_per_100', round(p1, 6) FROM b{_LOGIT_ITERS}",
        f"SELECT 'curbweight_per_1000', round(p2, 6) FROM b{_LOGIT_ITERS}",
    ]
    return "\n".join(parts) + "\n" + "\nUNION ALL ".join(finals)


def _logit_solve(row: dict, p: list[float]) -> list[float]:
    """One Cramer step mirroring the oracle's generated expressions
    term for term (same products, same association order)."""
    g0, g1, g2 = row["g0"], row["g1"], row["g2"]
    ha, hb, hc = row["ha"], row["hb"], row["hc"]
    hd, he, hf = row["hd"], row["he"], row["hf"]
    det = ha * (hd * hf - he * he) - hb * (hb * hf - hc * he) + hc * (
        hb * he - hc * hd
    )
    d0 = g0 * (hd * hf - he * he) - hb * (g1 * hf - he * g2) + hc * (
        g1 * he - hd * g2
    )
    d1 = ha * (g1 * hf - he * g2) - g0 * (hb * hf - he * hc) + hc * (
        hb * g2 - g1 * hc
    )
    d2 = ha * (hd * g2 - g1 * he) - hb * (hb * g2 - g1 * hc) + g0 * (
        hb * he - hd * hc
    )
    return [p[0] + d0 / det, p[1] + d1 / det, p[2] + d2 / det]


@query("carprice_logit_irls_exact", oracle=_logit_exact_oracle())
def carprice_logit_irls_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression P(price > 15000 | horsepower, curbweight) by
    8 unrolled IRLS/Newton steps — iteration-exact (see module comment):
    per step one distributed aggregate of the 9 gradient/Hessian sums
    (map-side combine; a single 9-double row reaches the driver) and a
    closed-form 3x3 Cramer update replayed identically by the generated
    DuckDB CTE chain. Predictors are fixed-constant scaled (hp/100,
    weight/1000) so eta stays in exp()'s well-conditioned range.

    Scale: each step is one full-table aggregate — 8 scans total (cache
    the projected input once and it's 8 in-memory passes); state is 3
    doubles, so the same loop fits any corpus a Spark aggregate fits."""
    base = (
        cp.load_raw(spark)
        .coalesce(1)
        .select(
            (F.col("horsepower").cast("double") / 100).alias("x1"),
            (F.col("curbweight").cast("double") / 1000).alias("x2"),
            F.when(F.col("price").cast("double") > 15000, 1.0)
            .otherwise(0.0)
            .alias("y"),
        )
        .localCheckpoint()
    )
    beta = [0.0, 0.0, 0.0]
    for _ in range(_LOGIT_ITERS):
        eta = F.lit(beta[0]) + F.lit(beta[1]) * F.col("x1") + F.lit(
            beta[2]
        ) * F.col("x2")
        mu = 1 / (1 + F.exp(-eta))
        w = mu * (1 - mu)
        r = F.col("y") - mu
        row = base.agg(
            F.sum(r).alias("g0"),
            F.sum(r * F.col("x1")).alias("g1"),
            F.sum(r * F.col("x2")).alias("g2"),
            F.sum(w).alias("ha"),
            F.sum(w * F.col("x1")).alias("hb"),
            F.sum(w * F.col("x2")).alias("hc"),
            F.sum(w * F.col("x1") * F.col("x1")).alias("hd"),
            F.sum(w * F.col("x1") * F.col("x2")).alias("he"),
            F.sum(w * F.col("x2") * F.col("x2")).alias("hf"),
        ).collect()[0].asDict()
        beta = _logit_solve(row, beta)
    out = spark.createDataFrame(
        [
            ("(intercept)", beta[0]),
            ("horsepower_per_100", beta[1]),
            ("curbweight_per_1000", beta[2]),
        ],
        "feature string, coefficient double",
    )
    return out.select(
        "feature", F.round("coefficient", 6).alias("coefficient")
    )


@query(
    "carprice_isotonic_price_by_hp",
    oracle=f"""
WITH raw AS (
  SELECT * FROM read_csv('{cp.REFERENCE_CSV}', header=true)
),
d AS (
  SELECT car_ID::DOUBLE AS cid, horsepower::DOUBLE AS hp,
         CAST(round(price::DOUBLE * 100) AS BIGINT) AS cents
  FROM raw
),
rws AS (
  SELECT row_number() OVER (ORDER BY hp, cid) AS idx,
         sum(cents) OVER (ORDER BY hp, cid
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx,
         cents, hp
  FROM d
),
pr AS (
  SELECT a.idx AS j, (a.pfx - a.cents) AS pj, b.idx AS k, b.pfx AS pk
  FROM rws a JOIN rws b ON b.idx >= a.idx
),
am AS (
  SELECT j, k,
         min((pk - pj)::DOUBLE / (k - j + 1)::DOUBLE)
           OVER (PARTITION BY j ORDER BY k DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmin
  FROM pr
),
ft AS (SELECT k AS idx, max(rmin) AS fit FROM am GROUP BY k)
SELECT round(fit / 100, 4) AS fitted_price,
       count(*)::BIGINT AS n_rows,
       min(hp) AS hp_min, max(hp) AS hp_max
FROM ft JOIN rws USING (idx)
GROUP BY fit ORDER BY fit
""",
)
def carprice_isotonic_price_by_hp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone nondecreasing) regression of price on
    horsepower via the exact minimax characterization of PAVA:
    fit_i = max_{j<=i} min_{k>=i} avg(y[j..k]). Interval averages come
    from exact integer-cent prefix sums (one double division per pair),
    the running min is a PARTITIONED window (by interval start j), and
    the final max is a plain groupBy — so the full pool structure is
    bit-deterministic on both engines with no sequential PAVA sweep.
    Blocks (distinct fitted values) are reported with their row counts
    and horsepower spans — the monotone step function itself.

    Scale: O(n²) pairs is the exact-small-n path (205 rows here; same
    shape as the exact-cosine gate). The large-n path is PAVA inside
    applyInPandas per group key — this query pins the algebra that
    implementation must reproduce. Cites reference scatter+trend usage
    (BigDataProject.R:135-162, price-vs-feature plots)."""
    from ..operators.windows import range_partitioned_cumsum
    from pyspark.sql import Window

    d = (
        cp.load_raw(spark)
        .select(
            F.col("car_ID").cast("double").alias("cid"),
            F.col("horsepower").cast("double").alias("hp"),
            F.round(F.col("price").cast("double") * 100)
            .cast("long")
            .alias("cents"),
        )
        .withColumn("one", F.lit(1).cast("long"))
    )
    cum = range_partitioned_cumsum(d, ["hp", "cid"], ["cents", "one"])
    rows = cum.select(
        F.col("cum_one").alias("idx"),
        F.col("cum_cents").alias("pfx"),
        "cents",
        "hp",
    )
    a = rows.select(
        F.col("idx").alias("j"), (F.col("pfx") - F.col("cents")).alias("pj")
    )
    b = rows.select(F.col("idx").alias("k"), F.col("pfx").alias("pk"))
    pairs = a.join(F.broadcast(b), F.col("k") >= F.col("j"))
    aa = (F.col("pk") - F.col("pj")).cast("double") / (
        F.col("k") - F.col("j") + 1
    ).cast("double")
    w = (
        Window.partitionBy("j")
        .orderBy(F.desc("k"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    am = pairs.select("j", "k", F.min(aa).over(w).alias("rmin"))
    ft = am.groupBy(F.col("k").alias("idx")).agg(F.max("rmin").alias("fit"))
    return (
        ft.join(rows, "idx")
        .groupBy("fit")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("hp").alias("hp_min"),
            F.max("hp").alias("hp_max"),
        )
        .select(
            F.round(F.col("fit") / 100, 4).alias("fitted_price"),
            "n_rows",
            "hp_min",
            "hp_max",
        )
        .orderBy("fitted_price")
    )


@query(
    "carprice_lda_fisher_exact",
    oracle=f"""
WITH raw AS (
  SELECT * FROM read_csv('{cp.REFERENCE_CSV}', header=true)
),
base AS (
  SELECT CASE WHEN fueltype = 'gas' THEN 1 ELSE 0 END AS y,
         horsepower::DOUBLE / 100 AS x1,
         curbweight::DOUBLE / 1000 AS x2,
         citympg::DOUBLE / 10 AS x3
  FROM raw
),
st AS (
  SELECT y, count(*)::DOUBLE AS n,
         sum(x1) AS s1, sum(x2) AS s2, sum(x3) AS s3,
         sum(x1*x1) AS q11, sum(x1*x2) AS q12, sum(x1*x3) AS q13,
         sum(x2*x2) AS q22, sum(x2*x3) AS q23, sum(x3*x3) AS q33
  FROM base GROUP BY y
),
sw AS (
  SELECT sum(n) AS n,
         sum(q11 - s1*s1/n) / (sum(n) - 2) AS a,
         sum(q12 - s1*s2/n) / (sum(n) - 2) AS b,
         sum(q13 - s1*s3/n) / (sum(n) - 2) AS c,
         sum(q22 - s2*s2/n) / (sum(n) - 2) AS d,
         sum(q23 - s2*s3/n) / (sum(n) - 2) AS e,
         sum(q33 - s3*s3/n) / (sum(n) - 2) AS f,
         max(CASE WHEN y = 1 THEN n END) AS n1,
         max(CASE WHEN y = 0 THEN n END) AS n0,
         max(CASE WHEN y = 1 THEN s1/n END)
           - max(CASE WHEN y = 0 THEN s1/n END) AS g0,
         max(CASE WHEN y = 1 THEN s2/n END)
           - max(CASE WHEN y = 0 THEN s2/n END) AS g1,
         max(CASE WHEN y = 1 THEN s3/n END)
           - max(CASE WHEN y = 0 THEN s3/n END) AS g2,
         max(CASE WHEN y = 1 THEN s1/n END)
           + max(CASE WHEN y = 0 THEN s1/n END) AS p0,
         max(CASE WHEN y = 1 THEN s2/n END)
           + max(CASE WHEN y = 0 THEN s2/n END) AS p1,
         max(CASE WHEN y = 1 THEN s3/n END)
           + max(CASE WHEN y = 0 THEN s3/n END) AS p2
  FROM st
),
wv AS (
  SELECT n, n1, n0, g0, g1, g2, p0, p1, p2,
         (g0*(d*f-e*e) - b*(g1*f-e*g2) + c*(g1*e-d*g2))
           / (a*(d*f-e*e) - b*(b*f-c*e) + c*(b*e-c*d)) AS w1,
         (a*(g1*f-e*g2) - g0*(b*f-e*c) + c*(b*g2-g1*c))
           / (a*(d*f-e*e) - b*(b*f-c*e) + c*(b*e-c*d)) AS w2,
         (a*(d*g2-g1*e) - b*(b*g2-g1*c) + g0*(b*e-d*c))
           / (a*(d*f-e*e) - b*(b*f-c*e) + c*(b*e-c*d)) AS w3
  FROM sw
),
acc AS (
  SELECT count(*)::DOUBLE AS n_correct
  FROM base, wv
  WHERE (CASE WHEN w1*x1 + w2*x2 + w3*x3
                   > (w1*p0 + w2*p1 + w3*p2) / 2
              THEN 1 ELSE 0 END) = y
)
SELECT wv.n1::BIGINT AS n_gas, wv.n0::BIGINT AS n_diesel,
       round(wv.w1, 6) AS w_horsepower_per_100,
       round(wv.w2, 6) AS w_curbweight_per_1000,
       round(wv.w3, 6) AS w_citympg_per_10,
       round(wv.w1*wv.g0 + wv.w2*wv.g1 + wv.w3*wv.g2, 6) AS fisher_separation,
       round(acc.n_correct / wv.n, 6) AS train_accuracy
FROM wv, acc
""",
)
def carprice_lda_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher linear discriminant (gas vs diesel) in exact closed form:
    pooled within-class covariance from per-class sufficient statistics
    (one grouped aggregate — 11 sums per class), direction w = Sw^-1
    (mu1 - mu0) by the same 3x3 Cramer expressions the logit query uses,
    then the midpoint-threshold training accuracy in a second broadcast
    pass. The classical supervised-projection baseline the reference's
    classification section implies (fueltype is its categorical axis;
    cf. BigDataProject.R:341-358 Naive Bayes on the same frame) — and,
    unlike the NB fit, numerically EXACT, so it gets a full value-hash
    oracle rather than a rows-only check.

    Scale: two passes over the fact (one grouped 11-sum fold, one
    broadcast-scalar classification count); state is 3 doubles."""
    base = cp.load_raw(spark).select(
        F.when(F.col("fueltype") == "gas", 1).otherwise(0).alias("y"),
        (F.col("horsepower").cast("double") / 100).alias("x1"),
        (F.col("curbweight").cast("double") / 1000).alias("x2"),
        (F.col("citympg").cast("double") / 10).alias("x3"),
    )
    st = base.groupBy("y").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("x3").alias("s3"),
        F.sum(F.col("x1") * F.col("x1")).alias("q11"),
        F.sum(F.col("x1") * F.col("x2")).alias("q12"),
        F.sum(F.col("x1") * F.col("x3")).alias("q13"),
        F.sum(F.col("x2") * F.col("x2")).alias("q22"),
        F.sum(F.col("x2") * F.col("x3")).alias("q23"),
        F.sum(F.col("x3") * F.col("x3")).alias("q33"),
    )
    N = F.sum("n")
    cls = lambda y, e: F.max(F.when(F.col("y") == y, e))  # noqa: E731
    mu = lambda j: cls(1, F.col(f"s{j}") / F.col("n")) - cls(  # noqa: E731
        0, F.col(f"s{j}") / F.col("n")
    )
    ms = lambda j: cls(1, F.col(f"s{j}") / F.col("n")) + cls(  # noqa: E731
        0, F.col(f"s{j}") / F.col("n")
    )
    pooled = lambda jk, j, k: F.sum(  # noqa: E731
        F.col(f"q{jk}") - F.col(f"s{j}") * F.col(f"s{k}") / F.col("n")
    ) / (N - 2)
    sw = st.agg(
        N.alias("n"),
        pooled("11", 1, 1).alias("a"),
        pooled("12", 1, 2).alias("b"),
        pooled("13", 1, 3).alias("c"),
        pooled("22", 2, 2).alias("d"),
        pooled("23", 2, 3).alias("e"),
        pooled("33", 3, 3).alias("f"),
        cls(1, F.col("n")).alias("n1"),
        cls(0, F.col("n")).alias("n0"),
        mu(1).alias("g0"),
        mu(2).alias("g1"),
        mu(3).alias("g2"),
        ms(1).alias("p0"),
        ms(2).alias("p1"),
        ms(3).alias("p2"),
    )
    a, b, c = F.col("a"), F.col("b"), F.col("c")
    d, e, f = F.col("d"), F.col("e"), F.col("f")
    g0, g1, g2 = F.col("g0"), F.col("g1"), F.col("g2")
    det = a * (d * f - e * e) - b * (b * f - c * e) + c * (b * e - c * d)
    wv = sw.select(
        "n",
        "n1",
        "n0",
        "g0",
        "g1",
        "g2",
        "p0",
        "p1",
        "p2",
        (
            (g0 * (d * f - e * e) - b * (g1 * f - e * g2) + c * (g1 * e - d * g2))
            / det
        ).alias("w1"),
        (
            (a * (g1 * f - e * g2) - g0 * (b * f - e * c) + c * (b * g2 - g1 * c))
            / det
        ).alias("w2"),
        (
            (a * (d * g2 - g1 * e) - b * (b * g2 - g1 * c) + g0 * (b * e - d * c))
            / det
        ).alias("w3"),
    )
    proj = (
        F.col("w1") * F.col("x1")
        + F.col("w2") * F.col("x2")
        + F.col("w3") * F.col("x3")
    )
    thr = (
        F.col("w1") * F.col("p0")
        + F.col("w2") * F.col("p1")
        + F.col("w3") * F.col("p2")
    ) / 2
    acc = (
        base.crossJoin(F.broadcast(wv))
        .filter(F.when(proj > thr, 1).otherwise(0) == F.col("y"))
        .agg(F.count(F.lit(1)).cast("double").alias("n_correct"))
    )
    return wv.crossJoin(F.broadcast(acc)).select(
        F.col("n1").cast("long").alias("n_gas"),
        F.col("n0").cast("long").alias("n_diesel"),
        F.round("w1", 6).alias("w_horsepower_per_100"),
        F.round("w2", 6).alias("w_curbweight_per_1000"),
        F.round("w3", 6).alias("w_citympg_per_10"),
        F.round(
            F.col("w1") * F.col("g0")
            + F.col("w2") * F.col("g1")
            + F.col("w3") * F.col("g2"),
            6,
        ).alias("fisher_separation"),
        F.round(F.col("n_correct") / F.col("n"), 6).alias("train_accuracy"),
    )


@query(
    "carprice_conformal_interval",
    oracle=f"""
WITH raw AS (
  SELECT * FROM read_csv('{cp.REFERENCE_CSV}', header=true)
),
base AS (
  SELECT car_ID::BIGINT AS cid, horsepower::DOUBLE AS x, price::DOUBLE AS y,
         CASE WHEN substr(md5('conf:' || CAST(car_ID::BIGINT AS VARCHAR)), 1, 1)
                   < '8'
              THEN 1 ELSE 0 END AS is_train
  FROM raw
),
s AS (
  SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM base WHERE is_train = 1
),
b AS (
  SELECT n, (sxy - sx * sy / n) / (sxx - sx * sx / n) AS slope,
         sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * (sx / n) AS icept
  FROM s
),
cal AS (
  SELECT base.cid, abs(base.y - (b.icept + b.slope * base.x)) AS r
  FROM base, b WHERE base.is_train = 0
),
nc AS (SELECT count(*)::BIGINT AS n_cal FROM cal),
rk AS (
  SELECT r, row_number() OVER (ORDER BY r, cid) AS k FROM cal
),
q AS (
  SELECT rk.r AS halfwidth
  FROM rk, nc
  WHERE rk.k = least(CAST(ceil(0.9 * (nc.n_cal + 1)) AS BIGINT), nc.n_cal)
),
cov AS (
  SELECT count(*)::DOUBLE AS n_all,
         sum(CASE WHEN abs(base.y - (b.icept + b.slope * base.x))
                       <= q.halfwidth
                  THEN 1 ELSE 0 END)::DOUBLE AS n_in
  FROM base, b, q
)
SELECT (SELECT count(*) FROM base WHERE is_train = 1)::BIGINT AS n_train,
       nc.n_cal AS n_cal,
       round(q.halfwidth, 2) AS halfwidth_90,
       round(cov.n_in / cov.n_all, 6) AS coverage_all
FROM nc, q, cov
""",
)
def carprice_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal 90% prediction interval for price ~ horsepower:
    deterministic md5 coin splits rows into train/calibration, the
    train half fits the closed-form OLS, the calibration half supplies
    the ceil(0.9(n+1))-th smallest absolute residual as the
    distribution-free half-width (Vovk/Lei-Wasserman split conformal),
    and the audit reports empirical coverage over ALL rows. The
    finite-sample-valid uncertainty wrapper the reference's lm/SVR
    models lack (BigDataProject.R:305,366 report RMSE only — no
    intervals).

    Exactness: the split coin is an engine-identical substring compare;
    the order statistic is selected by global rank with a row-id
    tiebreak (range-partitioned two-pass rank on the Spark side — no
    single-task window); one shared association order everywhere.

    Scale: two sufficient-statistics folds + one rank selection over
    the calibration half; nothing driver-side but 4 scalars."""
    from ..operators.windows import range_partitioned_rank

    base = cp.load_raw(spark).select(
        F.col("car_ID").cast("long").alias("cid"),
        F.col("horsepower").cast("double").alias("x"),
        F.col("price").cast("double").alias("y"),
        F.when(
            F.substring(
                F.md5(
                    F.encode(
                        F.concat(
                            F.lit("conf:"), F.col("car_ID").cast("long").cast("string")
                        ),
                        "UTF-8",
                    )
                ),
                1,
                1,
            )
            < "8",
            1,
        )
        .otherwise(0)
        .alias("is_train"),
    )
    s = base.filter(F.col("is_train") == 1).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    b = s.select(
        "n",
        slope.alias("slope"),
        (F.col("sy") / F.col("n") - slope * (F.col("sx") / F.col("n"))).alias(
            "icept"
        ),
    )
    resid = F.abs(F.col("y") - (F.col("icept") + F.col("slope") * F.col("x")))
    cal = (
        base.filter(F.col("is_train") == 0)
        .crossJoin(F.broadcast(b))
        .select("cid", resid.alias("r"))
    )
    nc = cal.agg(F.count(F.lit(1)).alias("n_cal"))
    rk = range_partitioned_rank(cal, ["r", "cid"], out="k")
    q = (
        rk.crossJoin(F.broadcast(nc))
        .filter(
            F.col("k")
            == F.least(
                F.ceil(0.9 * (F.col("n_cal") + 1)).cast("long"), F.col("n_cal")
            )
        )
        .select(F.col("r").alias("halfwidth"))
    )
    cov = (
        base.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(q))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_all"),
            F.sum(F.when(resid <= F.col("halfwidth"), 1).otherwise(0))
            .cast("double")
            .alias("n_in"),
        )
    )
    ntr = base.filter(F.col("is_train") == 1).agg(
        F.count(F.lit(1)).alias("n_train")
    )
    return (
        ntr.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(cov))
        .select(
            F.col("n_train").cast("long").alias("n_train"),
            F.col("n_cal").cast("long").alias("n_cal"),
            F.round("halfwidth", 2).alias("halfwidth_90"),
            F.round(F.col("n_in") / F.col("n_all"), 6).alias("coverage_all"),
        )
    )


def _logit_ece_oracle() -> str:
    parts = [
        "WITH raw AS (",
        f"  SELECT * FROM read_csv('{cp.REFERENCE_CSV}', header=true)",
        "),",
        "base AS (",
        "  SELECT horsepower::DOUBLE/100 AS x1, curbweight::DOUBLE/1000 AS x2,",
        "         CASE WHEN price::DOUBLE > 15000 THEN CAST(1 AS DOUBLE)",
        "              ELSE CAST(0 AS DOUBLE) END AS y",
        "  FROM raw",
        "),",
        "b0 AS (SELECT CAST(0 AS DOUBLE) AS p0, CAST(0 AS DOUBLE) AS p1,"
        " CAST(0 AS DOUBLE) AS p2),",
    ]
    for k in range(1, _LOGIT_ITERS + 1):
        parts += _logit_sql_step(f"b{k-1}", k)
    mu = "1/(1 + exp(-(p0 + p1*x1 + p2*x2)))"
    parts.append(
        f"""pb AS (
  SELECT least(CAST(floor(({mu}) * 10) AS INTEGER), 9) AS bin,
         {mu} AS p, y
  FROM base, b{_LOGIT_ITERS}
),
nt AS (SELECT count(*)::DOUBLE AS n FROM base)
SELECT bin::BIGINT AS bin, count(*)::BIGINT AS n_rows,
       round(avg(p), 6) AS mean_pred,
       round(avg(y), 6) AS frac_pos,
       round(abs(avg(p) - avg(y)) * count(*) / nt.n, 6) AS ece_contrib
FROM pb, nt GROUP BY bin, nt.n ORDER BY bin"""
    )
    return "\n".join(parts)


@query("carprice_logit_calibration_ece", oracle=_logit_ece_oracle())
def carprice_logit_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table + expected-calibration-error decomposition for
    the iteration-exact logistic fit: predictions binned into deciles
    (clamped to bin 9), per-bin mean predicted probability vs observed
    positive rate, and each bin's |confidence - accuracy| * n_b / n
    contribution (ECE = their sum) — the model-evaluation step that says
    whether the fitted probabilities MEAN anything, which none of the
    reference's model metrics (RMSE/accuracy, BigDataProject.R:320,355)
    measure. The coefficients are the same 8-step IRLS the hash-green
    ``carprice_logit_irls_exact`` pins; the oracle replays fit AND
    binning end-to-end.

    Scale: the fit is 8 one-row aggregates; the reliability table is one
    grouped pass over the scored rows — calibration audits at 100 TB are
    exactly this shape (score, bin, group)."""
    base = (
        cp.load_raw(spark)
        .coalesce(1)
        .select(
            (F.col("horsepower").cast("double") / 100).alias("x1"),
            (F.col("curbweight").cast("double") / 1000).alias("x2"),
            F.when(F.col("price").cast("double") > 15000, 1.0)
            .otherwise(0.0)
            .alias("y"),
        )
        .localCheckpoint()
    )
    beta = [0.0, 0.0, 0.0]
    for _ in range(_LOGIT_ITERS):
        eta = F.lit(beta[0]) + F.lit(beta[1]) * F.col("x1") + F.lit(
            beta[2]
        ) * F.col("x2")
        mu = 1 / (1 + F.exp(-eta))
        w = mu * (1 - mu)
        r = F.col("y") - mu
        row = base.agg(
            F.sum(r).alias("g0"),
            F.sum(r * F.col("x1")).alias("g1"),
            F.sum(r * F.col("x2")).alias("g2"),
            F.sum(w).alias("ha"),
            F.sum(w * F.col("x1")).alias("hb"),
            F.sum(w * F.col("x2")).alias("hc"),
            F.sum(w * F.col("x1") * F.col("x1")).alias("hd"),
            F.sum(w * F.col("x1") * F.col("x2")).alias("he"),
            F.sum(w * F.col("x2") * F.col("x2")).alias("hf"),
        ).collect()[0].asDict()
        beta = _logit_solve(row, beta)
    eta = F.lit(beta[0]) + F.lit(beta[1]) * F.col("x1") + F.lit(
        beta[2]
    ) * F.col("x2")
    p = 1 / (1 + F.exp(-eta))
    pb = base.select(
        F.least(F.floor(p * 10).cast("int"), F.lit(9)).alias("bin"),
        p.alias("p"),
        "y",
    )
    nt = pb.agg(F.count(F.lit(1)).cast("double").alias("n"))
    return (
        pb.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.avg("p").alias("mp"),
            F.avg("y").alias("fp"),
        )
        .crossJoin(F.broadcast(nt))
        .select(
            F.col("bin").cast("long").alias("bin"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.round("mp", 6).alias("mean_pred"),
            F.round("fp", 6).alias("frac_pos"),
            F.round(
                F.abs(F.col("mp") - F.col("fp")) * F.col("n_rows") / F.col("n"),
                6,
            ).alias("ece_contrib"),
        )
        .orderBy("bin")
    )


def _logit_auc_oracle() -> str:
    parts = [
        "WITH raw AS (",
        f"  SELECT * FROM read_csv('{cp.REFERENCE_CSV}', header=true)",
        "),",
        "base AS (",
        "  SELECT horsepower::DOUBLE/100 AS x1, curbweight::DOUBLE/1000 AS x2,",
        "         CASE WHEN price::DOUBLE > 15000 THEN CAST(1 AS DOUBLE)",
        "              ELSE CAST(0 AS DOUBLE) END AS y",
        "  FROM raw",
        "),",
        "b0 AS (SELECT CAST(0 AS DOUBLE) AS p0, CAST(0 AS DOUBLE) AS p1,"
        " CAST(0 AS DOUBLE) AS p2),",
    ]
    for k in range(1, _LOGIT_ITERS + 1):
        parts += _logit_sql_step(f"b{k-1}", k)
    mu = "1/(1 + exp(-(p0 + p1*x1 + p2*x2)))"
    parts.append(
        f"""sc AS (SELECT {mu} AS p, y FROM base, b{_LOGIT_ITERS}),
g AS (
  SELECT p, count(*)::DOUBLE AS cnt, sum(y) AS pos FROM sc GROUP BY p
),
mr AS (
  SELECT pos,
         sum(cnt) OVER (ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt
           + (cnt + 1) / 2 AS midrank
  FROM g
),
tt AS (
  SELECT sum(y) AS n1, count(*)::DOUBLE - sum(y) AS n0,
         avg((p - y) * (p - y)) AS brier
  FROM sc
),
r1 AS (SELECT sum(pos * midrank) AS r FROM mr)
SELECT tt.n1::BIGINT AS n_pos, tt.n0::BIGINT AS n_neg,
       round((r1.r - tt.n1 * (tt.n1 + 1) / 2) / (tt.n1 * tt.n0), 6) AS auc,
       round(tt.brier, 6) AS brier_score
FROM tt, r1"""
    )
    return "\n".join(parts)


@query("carprice_logit_auc_brier", oracle=_logit_auc_oracle())
def carprice_logit_auc_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC (rank-sum / Mann-Whitney form with midranks) and
    Brier score for the iteration-exact logistic fit — the THRESHOLD-
    FREE discrimination readout next to the ECE table's calibration
    readout: together they answer "does the model rank well" and "do
    its probabilities mean anything" with exact numbers.

    The AUC uses the scale-correct rank-sum form: scores are value-
    compressed (groupBy p), the midrank comes from a range-partitioned
    cumulative (no O(n) pairwise comparisons, no partitionless window),
    and AUC = (R1 - n1(n1+1)/2)/(n1 n0). Tie structure is engine-stable
    because tied scores arise only from identical feature rows.

    Scale: fit is 8 one-row aggregates; the AUC is two grouped passes
    over the scored frame — the same plan at 205 rows or 205 billion."""
    from ..operators.windows import range_partitioned_cumsum

    base = (
        cp.load_raw(spark)
        .coalesce(1)
        .select(
            (F.col("horsepower").cast("double") / 100).alias("x1"),
            (F.col("curbweight").cast("double") / 1000).alias("x2"),
            F.when(F.col("price").cast("double") > 15000, 1.0)
            .otherwise(0.0)
            .alias("y"),
        )
        .localCheckpoint()
    )
    beta = [0.0, 0.0, 0.0]
    for _ in range(_LOGIT_ITERS):
        eta = F.lit(beta[0]) + F.lit(beta[1]) * F.col("x1") + F.lit(
            beta[2]
        ) * F.col("x2")
        mu = 1 / (1 + F.exp(-eta))
        w = mu * (1 - mu)
        r = F.col("y") - mu
        row = base.agg(
            F.sum(r).alias("g0"),
            F.sum(r * F.col("x1")).alias("g1"),
            F.sum(r * F.col("x2")).alias("g2"),
            F.sum(w).alias("ha"),
            F.sum(w * F.col("x1")).alias("hb"),
            F.sum(w * F.col("x2")).alias("hc"),
            F.sum(w * F.col("x1") * F.col("x1")).alias("hd"),
            F.sum(w * F.col("x1") * F.col("x2")).alias("he"),
            F.sum(w * F.col("x2") * F.col("x2")).alias("hf"),
        ).collect()[0].asDict()
        beta = _logit_solve(row, beta)
    eta = F.lit(beta[0]) + F.lit(beta[1]) * F.col("x1") + F.lit(
        beta[2]
    ) * F.col("x2")
    sc = base.select((1 / (1 + F.exp(-eta))).alias("p"), "y")
    g = sc.groupBy("p").agg(
        F.count(F.lit(1)).cast("double").alias("cnt"),
        F.sum("y").alias("pos"),
    )
    cum = range_partitioned_cumsum(g, ["p"], ["cnt"])
    mr = cum.select(
        "pos",
        (F.col("cum_cnt") - F.col("cnt") + (F.col("cnt") + 1) / 2).alias(
            "midrank"
        ),
    )
    r1 = mr.agg(F.sum(F.col("pos") * F.col("midrank")).alias("r"))
    tt = sc.agg(
        F.sum("y").alias("n1"),
        (F.count(F.lit(1)).cast("double") - F.sum("y")).alias("n0"),
        F.avg((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))).alias(
            "brier"
        ),
    )
    return tt.crossJoin(F.broadcast(r1)).select(
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n0").cast("long").alias("n_neg"),
        F.round(
            (F.col("r") - F.col("n1") * (F.col("n1") + 1) / 2)
            / (F.col("n1") * F.col("n0")),
            6,
        ).alias("auc"),
        F.round("brier", 6).alias("brier_score"),
    )


_NUMERIC6 = ["horsepower", "enginesize", "curbweight", "citympg", "carwidth", "price"]

_BODY_PROFILE_ORACLE = (
    "WITH cleaned AS (" + _CLEANED_ORACLE + "),\n"
    + "m AS (SELECT carbody, "
    + ", ".join(f"avg({c}) AS {c}" for c in _NUMERIC6)
    + " FROM cleaned GROUP BY carbody),\n"
    + "b AS (SELECT "
    + ", ".join(f"min({c}) AS mn_{c}, max({c}) AS mx_{c}" for c in _NUMERIC6)
    + " FROM m)\n"
    + "SELECT m.carbody, "
    + ", ".join(
        f"round((m.{c} - b.mn_{c}) / greatest(b.mx_{c} - b.mn_{c}, 1e-12), 6)"
        f" AS {c}"
        for c in _NUMERIC6
    )
    + " FROM m, b ORDER BY m.carbody"
)


@query("carprice_body_profile_normalized", oracle=_BODY_PROFILE_ORACLE)
def carprice_body_profile_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 + A8 + M13 SQL-replay hard check: per-carbody means of the six
    radar features, min-max normalized to [0,1] across the group-mean
    rows — EXACTLY the radar reduction (BigDataProject.R:480-529) with
    the deterministic carbody grouping standing in for the k-means
    cluster id, so the group_means/minmax/normalize operator chain gets
    a DuckDB hash check (carprice_radar_profile itself stays rows-only
    because its grouping is the fitted clustering).

    Exactness: group means differ across engines only by sum-order noise
    (~1e-13 relative); the min-max bounds are Spark's own means fed back
    as literals, so the normalized ratios agree far inside the 6dp
    rounding."""
    from ..operators.aggregates import group_means, minmax

    df = _cleaned(spark)
    means = group_means(df, "carbody", _NUMERIC6)
    bounds = minmax(means, _NUMERIC6)
    return means.select(
        "carbody",
        *[
            F.round(
                (F.col(c) - F.lit(bounds[c][0]))
                / F.lit(max(bounds[c][1] - bounds[c][0], 1e-12)),
                6,
            ).alias(c)
            for c in _NUMERIC6
        ],
    ).orderBy("carbody")


_STD_STATS_ORACLE = (
    "WITH cleaned AS (" + _CLEANED_ORACLE + "),\n"
    + "s AS (SELECT "
    + ", ".join(
        f"avg({c}) AS m_{c}, stddev_samp({c}) AS s_{c}" for c in _NUMERIC6
    )
    + " FROM cleaned)\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{c}' AS feature,"
        f" round(min((cleaned.{c} - s.m_{c}) / s.s_{c}), 6) AS min_scaled,"
        f" round(max((cleaned.{c} - s.m_{c}) / s.s_{c}), 6) AS max_scaled,"
        f" round(avg(abs((cleaned.{c} - s.m_{c}) / s.s_{c})), 6) AS mean_abs_scaled"
        f" FROM cleaned, s"
        for c in _NUMERIC6
    )
    + "\nORDER BY feature"
)


@query("carprice_standardized_stats", oracle=_STD_STATS_ORACLE)
def carprice_standardized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 SQL-replay hard check: the ML-pipeline standardizer
    (ml/pipelines.py::feature_stages StandardScaler withMean/withStd,
    == R scale(), BigDataProject.R:394) applied to the six radar
    features, with per-feature min/max/mean-|z| of the SCALED column
    hash-checked against DuckDB's (x - avg)/stddev_samp replica. The
    scaled values come out of the fitted StandardScaler vector via
    vector_to_array, so the check pins the actual Spark ML path, not a
    re-derivation.

    Exactness: Spark ML's streaming summarizer and DuckDB's two-pass
    moments differ at ~1e-12 relative — noise under the 6dp rounding of
    z-scale values."""
    from pyspark.ml import Pipeline
    from pyspark.ml.functions import vector_to_array

    df = _cleaned(spark)
    pipe = Pipeline(
        stages=mlp.feature_stages(_NUMERIC6, (), "features", standardize=True)
    )
    scaled = pipe.fit(df).transform(df).select(
        vector_to_array("features").alias("z")
    )
    rows = [
        scaled.select(
            F.lit(c).alias("feature"),
            F.round(F.min(F.col("z")[i]), 6).alias("min_scaled"),
            F.round(F.max(F.col("z")[i]), 6).alias("max_scaled"),
            F.round(F.avg(F.abs(F.col("z")[i])), 6).alias("mean_abs_scaled"),
        )
        for i, c in enumerate(_NUMERIC6)
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("feature")
