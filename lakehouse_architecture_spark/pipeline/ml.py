"""ML bridge — the reference's training task rebuilt on spark.ml.

The reference trains sklearn RandomForest on a full ``toPandas()`` collect
(``airflow/dags/realestate_pipeline.py:207-229`` — M1-M4 in SURVEY.md
§2.10), which caps at driver memory. This replicates the same modeling
decisions (features [area, bedrooms, location_encoded], target price,
RandomForest with 100 trees, seed 42, 80/20 split, R² metric) with
distributed spark.ml so the same pipeline runs at any scale.

MLflow logging is out of engine scope: ``TrainResult`` carries the model
and R² for a caller to log with whatever tracking server it runs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_architecture_spark.materialize import cache_once


@dataclass
class TrainResult:
    model: object
    r2: float
    n_train: int
    n_test: int


def train_price_model(
    gold: DataFrame,
    feature_cols: tuple[str, ...] = ("area", "bedrooms", "location_encoded"),
    label_col: str = "price",
    n_trees: int = 100,
    seed: int = 42,
) -> TrainResult:
    """RandomForest regression on the gold table, fully distributed.

    Mirrors realestate_pipeline.py:217-228: fillna(0) on features, 80/20
    split with the same seed, R² on the held-out split.
    """
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import RandomForestRegressor

    df = gold.select(*feature_cols, label_col).na.fill(0, subset=list(feature_cols))
    df = df.filter(F.col(label_col).isNotNull())
    assembler = VectorAssembler(inputCols=list(feature_cols), outputCol="features")
    # cache before the split: randomSplit samples per-partition over the
    # lineage, so without a stable snapshot the fit, transform, and both
    # counts below could each re-evaluate a nondeterministic upstream
    # (e.g. dropDuplicates) and see DIFFERENT splits — test rows leaking
    # into training. Also saves recomputing the pipeline 4x.
    vec = cache_once(assembler.transform(df))
    train, test = vec.randomSplit([0.8, 0.2], seed=seed)
    rf = RandomForestRegressor(
        featuresCol="features", labelCol=label_col, numTrees=n_trees, seed=seed
    )
    model = rf.fit(train)
    pred = model.transform(test)
    r2 = RegressionEvaluator(
        labelCol=label_col, predictionCol="prediction", metricName="r2"
    ).evaluate(pred)
    out = TrainResult(model=model, r2=r2, n_train=train.count(), n_test=test.count())
    vec.unpersist()
    return out


@dataclass
class ClassifierResult:
    model: object
    accuracy: float
    majority_baseline: float
    n_train: int
    n_test: int


def train_text_classifier(
    docs: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    n_features: int = 1 << 10,
    seed: int = 42,
) -> ClassifierResult:
    """Distributed text classification on hashed bag-of-words features:
    Tokenizer → HashingTF (the JVM-side hashing trick — the spark.ml twin
    of operators/features.feature_hashing) → LogisticRegression, with the
    same cached-snapshot 80/20 split discipline as train_price_model.

    ``label_col`` must be a numeric 0/1 column (build it with an expression
    upstream, e.g. ``(lang = 'en')::int``). Returns held-out accuracy next
    to the majority-class baseline so callers can assert the model actually
    learned something, not just echoed the prior.
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF, Tokenizer

    df = docs.select(text_col, F.col(label_col).cast("double").alias("label"))
    df = cache_once(
        df.filter(F.col("label").isNotNull() & F.col(text_col).isNotNull())
    )
    train, test = df.randomSplit([0.8, 0.2], seed=seed)
    pipe = Pipeline(
        stages=[
            Tokenizer(inputCol=text_col, outputCol="__toks"),
            HashingTF(inputCol="__toks", outputCol="features", numFeatures=n_features),
            LogisticRegression(featuresCol="features", labelCol="label"),
        ]
    )
    model = pipe.fit(train)
    # Held-out scoring WITHOUT model.transform(): on Spark 4.1 the fitted
    # LogisticRegressionModel's trainingSummary holds the SparkSession,
    # the transform UDF captures the model, and the session's
    # ObservationManager field is not serializable — so in any session
    # that has ever run DataFrame.observe (pipeline/expectations.py),
    # every action on transform() output throws TaskNotSerializable.
    # Scoring from the coefficients as a Catalyst expression (one
    # zip_with/aggregate over the hashed features) sidesteps the model
    # closure entirely and keeps the whole evaluation JVM-side.
    from pyspark.ml.functions import vector_to_array

    lr_model = model.stages[-1]
    w = [float(x) for x in lr_model.coefficients.toArray()]
    b = float(lr_model.intercept)
    featurized = model.stages[0].transform(test)
    featurized = model.stages[1].transform(featurized)
    margin = (
        F.aggregate(
            F.zip_with(
                vector_to_array(F.col("features")),
                F.lit(w),
                lambda x, wt: x * wt,
            ),
            F.lit(0.0),
            lambda acc_, v: acc_ + v,
        )
        + F.lit(b)
    )
    pred = featurized.withColumn(
        "prediction", (margin > 0).cast("double")
    )
    acc_row = pred.agg(
        F.avg((F.col("prediction") == F.col("label")).cast("double")).alias("acc")
    ).first()
    acc = float(acc_row["acc"] or 0.0)
    n_test = test.count()
    majority = (
        test.groupBy("label").count().agg(F.max("count")).first()[0] / n_test
        if n_test
        else 0.0
    )
    out = ClassifierResult(
        model=model,
        accuracy=acc,
        majority_baseline=majority,
        n_train=train.count(),
        n_test=n_test,
    )
    df.unpersist()
    return out
