"""Decision-level tests for the trained document-quality classifier
(ml/quality_model.py) — AUC against the weak rule labels, seed
determinism, and artifact round-trip. Model probabilities are
engine-specific, so there is no DuckDB oracle; this is the rate-level
parity standard used for the reference-parity model."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    from pb_etl_spark.catalog import read_table

    return read_table(spark, SF_DIR, "documents").cache()


@pytest.fixture(scope="module")
def fitted(spark, docs, tmp_path_factory):
    from pb_etl_spark.ml.quality_model import train_quality_model

    return train_quality_model(docs, str(tmp_path_factory.mktemp("quality_model")), seed=42)


def test_quality_model_learns_the_rule_boundary(fitted):
    _, auc = fitted
    # the classifier must reconstruct the rule chain it distills from
    assert auc > 0.85, f"held-out AUC {auc}"


def test_scoring_is_distributed_and_bounded(spark, docs, fitted):
    from pb_etl_spark.ml.quality_model import score_quality

    model, _ = fitted
    scored = score_quality(model, docs)
    pdf = scored.toPandas()
    assert len(pdf) == docs.count()
    assert ((pdf["p_quality"] >= 0) & (pdf["p_quality"] <= 1)).all()
    # no row-at-a-time Python in the scoring plan (Spark ML = JVM ops)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_seed_determinism(spark, docs, tmp_path):
    from pb_etl_spark.ml.quality_model import score_quality, train_quality_model

    m1, auc1 = train_quality_model(docs, str(tmp_path / "m1"), seed=7)
    m2, auc2 = train_quality_model(docs, str(tmp_path / "m2"), seed=7)
    assert auc1 == auc2
    s1 = score_quality(m1, docs).toPandas().set_index("doc_id").sort_index()
    s2 = score_quality(m2, docs).toPandas().set_index("doc_id").sort_index()
    assert (s1["p_quality"] - s2["p_quality"]).abs().max() < 1e-9


def test_save_load_round_trip(spark, docs, fitted, tmp_path):
    from pyspark.ml import PipelineModel

    from pb_etl_spark.ml.quality_model import score_quality

    model, _ = fitted
    path = str(tmp_path / "quality_model")
    model.write().overwrite().save(path)
    reloaded = PipelineModel.load(path)
    a = score_quality(model, docs).toPandas().set_index("doc_id").sort_index()
    b = score_quality(reloaded, docs).toPandas().set_index("doc_id").sort_index()
    assert (a["p_quality"] - b["p_quality"]).abs().max() < 1e-9


def test_trains_after_an_observed_write_and_a_stream(spark, docs, tmp_path):
    """The held-out AUC runs Spark ML's BinaryClassificationEvaluator; it
    keeps working in a session where ``df.observe`` has written and a
    memory-sink stream has run and stopped."""
    from pyspark.sql import Observation

    from pb_etl_spark.ml.quality_model import train_quality_model
    from pb_etl_spark.streaming.windows import run_to_memory

    obs = Observation("rows_written")
    ids = docs.select("doc_id").limit(5)
    ids.observe(obs, F.count(F.lit(1)).alias("n")).write.parquet(str(tmp_path / "ids"))
    assert obs.get["n"] == 5
    stream = spark.readStream.schema(ids.schema).parquet(str(tmp_path / "ids"))
    assert run_to_memory(stream, "quality_model_ids", "append").count() == 5
    assert not spark.streams.active
    _, auc = train_quality_model(docs, str(tmp_path / "model"), seed=42)
    assert auc > 0.85, f"held-out AUC {auc}"
