"""Feature encoding + binary classifier + scoring (SURVEY.md §2.6 M1-M7).

Re-expresses the reference's TF feature-column + Keras path as a Spark ML
``Pipeline`` fit, persisted and scored as a linear scorecard:

- M1 numeric features  -> VectorAssembler over num_col (tasks.py:275-276)
- M2 categorical one-hot -> one multi-column StringIndexer(handleInvalid="keep")
  + OneHotEncoder over all categoricals. The reference's loop quirk only
  encodes the LAST categorical (tasks.py:278-288); we encode all 10 as its
  README declares — documented divergence (SURVEY.md §2.6).
- M3 train/val split   -> df.randomSplit([0.8, 0.2], seed) (tasks.py:290)
- M5 training          -> LogisticRegression (binary, sigmoid probability
  output — rate-level parity with the unseeded Keras net, tasks.py:300-332;
  per-row parity is impossible by construction, SURVEY.md §7 risk 1)
- M6 scoring           -> the fitted pipeline collapsed into a JSON scorecard
  (intercept, one weight per numeric column, one {label: weight} map plus
  an unknown weight per categorical) and scored as one SQL projection →
  Y_hat DOUBLE (tasks.py:374-385): fully distributed, no Python in the
  loop, no Spark ML model to save or load
- M7 metrics           -> training summary dict (tasks.py:332-342)

The scorer looks each categorical up in a literal map, whose cost is
linear in the vocabulary (2-4 labels per column here); a large vocabulary
would want a hashed lookup. Its Y_hat equals ``PipelineModel.transform``'s
probability bit for bit: the margin is summed left to right in feature
order, as Spark ML's sparse dot product does, and the sigmoid calls the
same ``java.lang.Math.exp``. That summation order holds because these
vocabularies keep the assembled feature vectors sparse (Spark ML sums a
dense vector through BLAS, in another order).
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.ml import Pipeline
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.feature import OneHotEncoder, StringIndexer, VectorAssembler
from pyspark.sql import Column, DataFrame
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
    # one multi-column indexer fits every vocabulary in one job, where an
    # indexer per column costs a fit job per column
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


def split_train_val(
    df: DataFrame,
    seed: int = DEFAULT_SEED,
    val_fraction: float = 0.2,
    num_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """M3: impute, then the seeded train/val split train_model fits on."""
    df = _impute_numeric(df, num_cols or NUM_COLS)
    train, val = df.randomSplit([1.0 - val_fraction, val_fraction], seed=seed)
    return train, val


def scorecard(model) -> dict:
    """Collapse a fitted ``build_pipeline`` model into its linear scorecard.

    The slots come from the fitted stages: the indexer's ``labelsArray``
    and the encoder's ``categorySizes``, ``dropLast`` and ``handleInvalid``
    give each categorical's one-hot width. With 'keep' on both, label k
    gets slot k and unseen values and nulls get slot L (L labels). Keys
    keep feature order, which is the margin's summation order."""
    indexer, encoder, assembler, lr = model.stages
    coef = lr.coefficients.toArray().tolist()
    cat_cols = indexer.getInputCols()
    features = assembler.getInputCols()
    num_cols = features[: len(features) - len(cat_cols)]
    # OneHotEncoderModel's configured sizes: 'keep' adds the invalid
    # slot, dropLast removes the last one
    keep = encoder.getHandleInvalid() == "keep"
    widths = [n + int(keep) - int(encoder.getDropLast()) for n in encoder.categorySizes]
    assert len(num_cols) + sum(widths) == len(coef), (num_cols, widths, len(coef))

    card = {
        "intercept": lr.intercept,
        "numeric": dict(zip(num_cols, coef)),
        "categorical": {},
    }
    off = len(num_cols)
    for col, labels, width in zip(cat_cols, indexer.labelsArray, widths):
        # a slot past the width (a dropped one) has no coefficient: 0.0
        slots = coef[off : off + width] + [0.0] * (len(labels) + 1 - width)
        card["categorical"][col] = {
            "weights": dict(zip(labels, slots)),
            "unknown": slots[len(labels)],
        }
        off += width
    return card


def margin(card: dict) -> Column:
    """The scorecard's margin as one SQL expression: a left-deep sum in
    feature order, numeric terms first, one categorical term each, then
    the intercept. A categorical's weight is a literal-map lookup of its
    string value; a miss or a null takes the unknown weight."""
    terms = [F.col(c).cast("double") * F.lit(w) for c, w in card["numeric"].items()]
    for c, cat in card["categorical"].items():
        weights = F.create_map(*[F.lit(x) for kv in cat["weights"].items() for x in kv])
        terms.append(F.coalesce(weights[F.col(c).cast("string")], F.lit(cat["unknown"])))
    return reduce(add, terms) + F.lit(card["intercept"])


def _auc(card: dict, df: DataFrame, label_col: str) -> float:
    """areaUnderROC over the scorecard's margin — the same scores as the
    fitted model's rawPrediction[1]."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    ev = BinaryClassificationEvaluator(
        rawPredictionCol="margin",
        labelCol=label_col,
        metricName="areaUnderROC",
    )
    return float(ev.evaluate(df.select(margin(card).alias("margin"), label_col)))


def train_model(
    train_df: DataFrame,
    seed: int = DEFAULT_SEED,
    val_fraction: float = 0.2,
    **pipeline_kwargs,
) -> tuple[dict, dict]:
    """M3+M5: split, fit, and return (scorecard, metrics).
    The val split mirrors the reference's sklearn
    train_test_split(test_size=0.2) (tasks.py:290) but seeded —
    determinism is a feature the reference lacks. Both splits are
    cached: every metric action would otherwise re-execute the full
    upstream plan (and could even observe a different split under
    nondeterministic partition order)."""
    label_col = pipeline_kwargs.get("label_col", LABEL_COL)
    train, val = split_train_val(train_df, seed, val_fraction, pipeline_kwargs.get("num_cols"))
    train = train.cache()
    val = val.cache()
    try:
        model = build_pipeline(**pipeline_kwargs).fit(train)
        # objectiveHistory is a driver-side array — safe to read off the
        # summary (no Spark job, so nothing gets serialized)
        history = model.stages[-1].summary.objectiveHistory
        card = scorecard(model)
        n_val = val.count()
        metrics = {
            "train_rows": train.count(),
            "val_rows": n_val,
            "iterations": len(history),
            "objective_history": [float(x) for x in history],
        }
        # the AUC jobs score the scorecard, not the fitted model: its
        # training summary holds a sparkSession reference, which fails
        # closure serialization once df.observe has run in the process
        try:
            metrics["train_auc"] = _auc(card, train, label_col)
            metrics["val_auc"] = _auc(card, val, label_col) if n_val else None
        except Exception as e:  # tiny fixtures can have single-class splits
            metrics.setdefault("train_auc", None)
            metrics["val_auc"] = None
            metrics["val_auc_error"] = str(e)[:200]
    finally:
        train.unpersist()
        val.unpersist()
    return card, metrics


def score(card: dict, df: DataFrame, key_col: str = "TRANSACTION_ID") -> DataFrame:
    """M6: distributed scoring → {key, Y_hat} where Y_hat = P(label=1).
    Same null-numeric imputation as training (fit/transform symmetry).
    Y_hat = 1 − 1/(1 + exp(margin)) with ``java.lang.Math.exp``, as Spark
    ML's LogisticRegressionModel computes it; SQL ``exp`` is
    ``StrictMath.exp`` and can differ from it in the last bit.
    ``java_method`` returns the value as a string, which casts back to
    the same double."""
    exp = F.java_method(F.lit("java.lang.Math"), F.lit("exp"), margin(card)).cast("double")
    return _impute_numeric(df, list(card["numeric"])).select(
        key_col,
        (F.lit(1.0) - F.lit(1.0) / (F.lit(1.0) + exp)).alias(PREDICTION_COL),
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
