"""Trained document-quality classifier for corpus curation.

The heuristic quality surface (``operators/text.q_text_quality``,
``operators/corpus.quality_flags``) is rule-based; production corpus
pipelines distill those rules (plus human labels when available) into a
trained classifier so the decision boundary generalizes past the
hand-set thresholds — the fastText-style quality model of the C4/CCNet
lineage, here as a seeded Spark ML pipeline:

    token features (HashingTF → IDF)  ⊕  numeric quality signals
        → VectorAssembler → LogisticRegression (seeded)

Weak labels come from the same C4-style rule chain the engine already
exposes (``quality_flags``), so training is fully self-contained and
deterministic given the corpus. Scoring is ``model.transform`` —
distributed, no Python in the row path (Spark ML stages are JVM ops).

Model outputs are engine-specific (no DuckDB oracle); correctness is
asserted in tests/test_quality_model.py at the DECISION level: held-out
AUC against the weak labels, seed determinism, and save/load round-trip
— the same rate-level parity standard as the reference-parity model
(SURVEY.md §7 risk 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pb_etl_spark.ml.pipeline import auc

N_TF_FEATURES = 1 << 12  # hashed token space; power of two like fastText


def _numeric_features(doc: DataFrame) -> DataFrame:
    """Deterministic numeric quality signals (no thresholds — the model
    learns them): length (plus its square, so a linear model can learn
    the min/max token BAND), lexical diversity, stopword ratio, mean
    word length, punctuation and digit density. The diversity/stopword
    ratios use the same tokenizer as the rule chain
    (operators.text._tokens) so the distillation target is learnable,
    not an artifact of tokenizer mismatch."""
    from pb_etl_spark.operators.text import STOPWORDS, _tokens

    toks = _tokens()
    n_tok = F.size(toks).cast("double")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    return doc.select(
        "doc_id",
        "text",
        F.col("n_chars").cast("double").alias("f_chars"),
        n_tok.alias("f_tokens"),
        (n_tok * n_tok).alias("f_tokens_sq"),
        (F.size(F.array_distinct(toks)) / n_tok).alias("f_distinct_ratio"),
        (
            F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
            / n_tok
        ).alias("f_stop_ratio"),
        (F.col("n_chars") / (n_tok + 1)).alias("f_mean_wordlen"),
        (
            F.length(F.regexp_replace("text", r"[^.,;:!?]", ""))
            / (F.col("n_chars") + 1)
        ).alias("f_punct_ratio"),
        (
            F.length(F.regexp_replace("text", r"[^0-9]", ""))
            / (F.col("n_chars") + 1)
        ).alias("f_digit_ratio"),
    )


def build_quality_pipeline(seed: int = 42):
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import (
        HashingTF,
        IDF,
        RegexTokenizer,
        VectorAssembler,
    )

    tok = RegexTokenizer(
        inputCol="text", outputCol="words", pattern=r"\s+", toLowercase=True
    )
    tf = HashingTF(
        inputCol="words", outputCol="tf", numFeatures=N_TF_FEATURES
    )
    idf = IDF(inputCol="tf", outputCol="tfidf")
    assembler = VectorAssembler(
        inputCols=[
            "tfidf",
            "f_chars",
            "f_tokens",
            "f_tokens_sq",
            "f_distinct_ratio",
            "f_stop_ratio",
            "f_mean_wordlen",
            "f_punct_ratio",
            "f_digit_ratio",
        ],
        outputCol="features",
    )
    lr = LogisticRegression(
        featuresCol="features",
        labelCol="label",
        maxIter=30,
        regParam=1e-3,
        standardization=True,
    )
    return Pipeline(stages=[tok, tf, idf, assembler, lr])


def weak_labels(doc: DataFrame) -> DataFrame:
    """C4-style rule-chain verdict as the training label (distillation
    target). Importing the flags from operators.corpus keeps the model
    and the rule filter on the same definition."""
    from pb_etl_spark.operators.corpus import quality_flags

    len_ok, div_ok, stop_ok = quality_flags()
    return doc.withColumn(
        "label", (len_ok & div_ok & stop_ok).cast("double")
    )


def _reload_without_summary(model, path: str):
    """Save the fitted pipeline to ``path`` — its one artifact — and load
    it back, so the returned model carries no training summary. It must
    shed the summary before ANY scoring job: the summary holds a
    sparkSession reference, and once df.observe has run anywhere in the
    process (e.g. a streaming drain or a guarded parquet write) the
    session's non-serializable ObservationManager fails every closure
    that drags the summary in (Spark 4.1)."""
    from pyspark.ml import PipelineModel

    model.write().overwrite().save(path)
    return PipelineModel.load(path)


def train_quality_model(doc: DataFrame, path: str, seed: int = 42):
    """Fit on a seeded 80/20 split, save the model to ``path``; returns
    (model loaded from ``path``, held-out AUC)."""
    from pyspark.ml.functions import vector_to_array

    labeled = weak_labels(doc)
    feats = _numeric_features(labeled).join(
        labeled.select("doc_id", "label"), "doc_id"
    )
    train, val = feats.randomSplit([0.8, 0.2], seed=seed)
    model = _reload_without_summary(build_quality_pipeline(seed).fit(train), path)
    scored = model.transform(val).select(
        "label", vector_to_array("probability").getItem(1).alias("p")
    )
    return model, auc(scored, "p", "label")


def score_quality(model, doc: DataFrame) -> DataFrame:
    """Distributed scoring: P(quality) per document."""
    from pyspark.ml.functions import vector_to_array

    feats = _numeric_features(doc)
    return model.transform(feats).select(
        "doc_id",
        vector_to_array("probability").getItem(1).alias("p_quality"),
    )
