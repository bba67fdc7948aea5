"""Feature encoding + binary classifier + scoring (SURVEY.md §2.6 M1-M7).

Re-expresses the reference's TF feature-column + Keras path as a Spark ML
``Pipeline`` so fit/transform state management, serialization, and
distributed scoring are engine-native:

- M1 numeric features  -> VectorAssembler over num_col (tasks.py:275-276)
- M2 categorical one-hot -> one multi-column StringIndexer(handleInvalid="keep")
  + OneHotEncoder over all categoricals. The reference's loop quirk only
  encodes the LAST categorical (tasks.py:278-288); we encode all 10 as its
  README declares — documented divergence (SURVEY.md §2.6).
- M3 train/val split   -> df.randomSplit([0.8, 0.2], seed) (tasks.py:290)
- M5 training          -> LogisticRegression (binary, sigmoid probability
  output — rate-level parity with the unseeded Keras net, tasks.py:300-332;
  per-row parity is impossible by construction, SURVEY.md §7 risk 1)
- M6 scoring           -> model.transform + vector_to_array → Y_hat DOUBLE
  (tasks.py:374-385), fully distributed, no Python in the loop
- M7 metrics           -> training summary dict (tasks.py:332-342)
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.feature import OneHotEncoder, StringIndexer, VectorAssembler
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pb_etl_spark.schemas import CAT_COLS, LABEL_COL, NUM_COLS

DEFAULT_SEED = 42
PREDICTION_COL = "Y_hat"


def build_pipeline(
    cat_cols: list[str] | None = None,
    num_cols: list[str] | None = None,
    label_col: str = LABEL_COL,
    max_iter: int = 50,
) -> Pipeline:
    """Feature-encode + classify pipeline. handleInvalid='keep' gives
    unseen test-set categories their own bucket (the reference's
    vocabulary-list encoding would OOV them to zeros — same spirit)."""
    cat_cols = CAT_COLS if cat_cols is None else cat_cols
    num_cols = NUM_COLS if num_cols is None else num_cols
    # one multi-column indexer fits every vocabulary in one job and
    # saves/loads as one stage, where an indexer per column costs a fit
    # job and its own save/load jobs per column
    idx_cols = [f"{c}__idx" for c in cat_cols]
    oh_cols = [f"{c}__oh" for c in cat_cols]
    return Pipeline(stages=[
        StringIndexer(inputCols=cat_cols, outputCols=idx_cols, handleInvalid="keep"),
        OneHotEncoder(inputCols=idx_cols, outputCols=oh_cols, handleInvalid="keep"),
        VectorAssembler(
            inputCols=num_cols + oh_cols, outputCol="features", handleInvalid="keep"
        ),
        LogisticRegression(
            featuresCol="features",
            labelCol=label_col,
            maxIter=max_iter,
            probabilityCol="probability",
        ),
    ])


def _impute_numeric(df: DataFrame, num_cols: list[str]) -> DataFrame:
    """Null numeric features → 0.0 BEFORE assembling: the pipeline's left
    joins can produce nulls (e.g. a train row with no traffic score), and
    VectorAssembler's handleInvalid='keep' would silently turn them into
    NaN — which poisons LogisticRegression into all-NaN coefficients with
    no error anywhere downstream."""
    present = [c for c in num_cols if c in df.columns]
    return df.fillna(0.0, subset=present) if present else df


def _reload_without_summary(model: PipelineModel, path: str) -> PipelineModel:
    """Save the fitted pipeline to ``path`` — its one artifact — and load
    it back, so the returned model carries no training summary (summaries
    reference the SparkSession and poison closure serialization; see
    train_model)."""
    model.write().overwrite().save(path)
    return PipelineModel.load(path)


def _auc(model: PipelineModel, df: DataFrame, label_col: str) -> float:
    """areaUnderROC via the evaluator over transform output — equivalent
    to summary.areaUnderROC but with no summary object in any closure."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    pred = model.transform(df).select("rawPrediction", label_col)
    ev = BinaryClassificationEvaluator(
        rawPredictionCol="rawPrediction",
        labelCol=label_col,
        metricName="areaUnderROC",
    )
    return float(ev.evaluate(pred))


def train_model(
    train_df: DataFrame,
    path: str,
    seed: int = DEFAULT_SEED,
    val_fraction: float = 0.2,
    **pipeline_kwargs,
) -> tuple[PipelineModel, dict]:
    """M3+M5: split, fit, save the model to ``path``, and report metrics.
    The val split mirrors the reference's sklearn
    train_test_split(test_size=0.2) (tasks.py:290) but seeded —
    determinism is a feature the reference lacks. Both splits are
    cached: every metric action would otherwise re-execute the full
    upstream plan (and could even observe a different split under
    nondeterministic partition order)."""
    label_col = pipeline_kwargs.get("label_col", LABEL_COL)
    num_cols = pipeline_kwargs.get("num_cols") or NUM_COLS
    train_df = _impute_numeric(train_df, num_cols)
    train, val = train_df.randomSplit([1.0 - val_fraction, val_fraction], seed=seed)
    train = train.cache()
    val = val.cache()
    try:
        model = build_pipeline(**pipeline_kwargs).fit(train)
        lr_model = model.stages[-1]
        n_val = val.count()
        metrics = {
            "train_rows": train.count(),
            "val_rows": n_val,
            # objectiveHistory is a driver-side array — safe to read off
            # the summary (no Spark job, so nothing gets serialized)
            "iterations": len(lr_model.summary.objectiveHistory),
            "objective_history": [float(x) for x in lr_model.summary.objectiveHistory],
        }
        # AUC jobs must NOT run against the freshly-fitted model: its
        # trainingSummary holds a sparkSession reference, and once
        # anything in the process has used df.observe the session's
        # (lazily created, non-serializable) ObservationManager makes
        # every closure that drags the summary in fail to serialize.
        # Writing the S7 artifact to ``path`` and loading it back sheds
        # the summary — same parameters, same predictions — so the model
        # is saved once and scored as the artifact predict will load.
        model = _reload_without_summary(model, path)
        try:
            metrics["train_auc"] = _auc(model, train, label_col)
            metrics["val_auc"] = _auc(model, val, label_col) if n_val else None
        except Exception as e:  # tiny fixtures can have single-class splits
            metrics.setdefault("train_auc", None)
            metrics["val_auc"] = None
            metrics["val_auc_error"] = str(e)[:200]
    finally:
        train.unpersist()
        val.unpersist()
    return model, metrics


def score(model: PipelineModel, df: DataFrame, key_col: str = "TRANSACTION_ID") -> DataFrame:
    """M6: distributed scoring → {key, Y_hat} where Y_hat = P(label=1).
    Same null-numeric imputation as training (fit/transform symmetry)."""
    return model.transform(_impute_numeric(df, NUM_COLS)).select(
        key_col,
        vector_to_array(F.col("probability")).getItem(1).alias(PREDICTION_COL),
    )


def score_with_external_model(
    df: DataFrame,
    weights: list[float],
    bias: float,
    feature_cols: list[str],
    key_col: str = "TRANSACTION_ID",
    batch_size: int = 1024,
) -> DataFrame:
    """M6 alternative path: score with a model that lives OUTSIDE Spark ML
    (the reference's Keras net, tasks.py:374-385) via ``predict_batch_udf``
    — Arrow-batched numpy inference, one model instance per executor
    (loaded in make_predict_fn, not per row/batch), never row-at-a-time.

    Here the external 'model' is a logistic layer carried as plain weights,
    standing in for any framework model: swapping in TF/PyTorch changes
    only make_predict_fn's body (load SavedModel, call it), while the
    batching, Arrow transfer, and plan shape are already the 100 TB ones.
    """
    import numpy as np
    from pyspark.ml.functions import predict_batch_udf
    from pyspark.sql.types import DoubleType

    w = np.asarray(weights, dtype="float64")
    b = float(bias)

    def make_predict_fn():
        # executor-side one-time setup (model load goes here)
        def predict(inputs: "np.ndarray") -> "np.ndarray":
            z = inputs @ w + b
            return 1.0 / (1.0 + np.exp(-z))

        return predict

    udf = predict_batch_udf(
        make_predict_fn,
        return_type=DoubleType(),
        batch_size=batch_size,
        input_tensor_shapes=[[len(feature_cols)]],
    )
    features = F.array(*[F.col(c).cast("double") for c in feature_cols])
    return df.select(key_col, udf(features).alias(PREDICTION_COL))
