"""End-to-end parity-pipeline tests on deterministic fixtures — the
reference's test shape (test_pset.py:131-234) upgraded to value assertions
(SURVEY.md §5: assert values, not just existence)."""

from __future__ import annotations

import json
import math
import os

import pytest

from pb_etl_spark.pipeline import METRICS_FILE, SCORECARD_FILE, build_graph, run_pipeline
from pb_etl_spark.plans.stages import Stage, StageRunner
from pb_etl_spark.schemas import CAT_COLS, KEY_COL, NORM_COLS, NUM_COLS
from pb_etl_spark.sources.parquet import dataset_exists, read_parquet
from tests.fixtures import write_fixtures


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("external"))
    workdir = str(tmp_path_factory.mktemp("workdir"))
    stats = write_fixtures(root)
    report, runner = run_pipeline(spark, workdir, root=root, seed=42)
    return {"root": root, "workdir": workdir, "stats": stats, "report": report, "runner": runner}


def _stages(terminal) -> dict:
    stages = {}

    def walk(s):
        stages[s.name] = s
        for d in s.deps.values():
            walk(d)

    walk(terminal)
    return stages


def _stage_path(pipeline_run, name: str) -> str:
    g = build_graph(root=pipeline_run["root"], seed=42)
    return _stages(g)[name].out_path(pipeline_run["workdir"])


def test_all_stages_materialized(pipeline_run):
    runner = pipeline_run["runner"]
    assert set(runner.ran) == {
        "load_data", "load_test", "norm_denominators", "fit_model",
        "predict", "backtest", "final_results",
    }
    for name in ["load_data", "load_test", "norm_denominators", "predict", "backtest"]:
        assert dataset_exists(_stage_path(pipeline_run, name)), name


def test_load_data_join(spark, pipeline_run):
    df = read_parquet(spark, _stage_path(pipeline_run, "load_data"))
    stats = pipeline_run["stats"]
    assert df.count() == stats["n_train"]
    assert "TRAFFIC_SCORE" in df.columns and "TARGET" in df.columns
    # left join is 1:1 — no null traffic scores
    assert df.filter(df.TRAFFIC_SCORE.isNull()).count() == 0


def test_norm_denominators_values(spark, pipeline_run):
    df = read_parquet(spark, _stage_path(pipeline_run, "norm_denominators"))
    row = df.collect()[0]
    stats = pipeline_run["stats"]
    assert row["REN__max"] == stats["train_max_ren"]
    assert row["DOMAIN_LENGTH__max"] == stats["train_max_domain_length"]
    assert set(df.columns) == {c + "__max" for c in NORM_COLS}


def test_predict_output(spark, pipeline_run):
    df = read_parquet(spark, _stage_path(pipeline_run, "predict"))
    stats = pipeline_run["stats"]
    assert df.count() == stats["n_test"]
    assert set(df.columns) == {"TRANSACTION_ID", "Y_hat"}
    rows = df.collect()
    assert all(0.0 <= r["Y_hat"] <= 1.0 for r in rows)
    # model learned something: predictions are not all identical
    assert len({round(r["Y_hat"], 6) for r in rows}) > 1


def test_backtest_and_report(spark, pipeline_run):
    df = read_parquet(spark, _stage_path(pipeline_run, "backtest"))
    stats, report = pipeline_run["stats"], pipeline_run["report"]
    assert df.count() == stats["n_test"]
    assert set(df.columns) == {"TRANSACTION_ID", "TARGET", "Y_hat"}
    assert math.isclose(report["actual"], stats["actual_rate"], abs_tol=1e-9)
    assert 0.0 < report["expected"] < 1.0


def _normalized_train(spark, pipeline_run):
    """The train split fit_model fits on, rebuilt from its stage inputs,
    and the norm denominators it was normalized with."""
    from pb_etl_spark.ml.pipeline import split_train_val
    from pb_etl_spark.operators.normalize import apply_maxabs

    maxes = read_parquet(spark, _stage_path(pipeline_run, "norm_denominators"))
    train = read_parquet(spark, _stage_path(pipeline_run, "load_data"))
    return split_train_val(apply_maxabs(train, maxes, NORM_COLS), seed=42)[0], maxes


def test_scorecard_matches_the_fitted_indexer(spark, pipeline_run):
    """fit_model's artifact is a scorecard: the intercept, one weight per
    numeric column and, per categorical, one weight per label of the
    multi-column indexer fitted on the same train split, plus an unknown
    weight."""
    from pb_etl_spark.ml.pipeline import build_pipeline

    with open(os.path.join(_stage_path(pipeline_run, "fit_model"), SCORECARD_FILE)) as fh:
        card = json.load(fh)
    train, _ = _normalized_train(spark, pipeline_run)
    indexer = build_pipeline().getStages()[0].fit(train)
    assert list(card["numeric"]) == NUM_COLS
    assert list(card["categorical"]) == CAT_COLS
    assert [list(c["weights"]) for c in card["categorical"].values()] == indexer.labelsArray
    weights = [card["intercept"], *card["numeric"].values()]
    for c in card["categorical"].values():
        weights += [*c["weights"].values(), c["unknown"]]
    assert all(isinstance(w, float) and math.isfinite(w) for w in weights)


def test_scorecard_scores_bit_identical_to_the_fitted_pipeline(spark, pipeline_run, tmp_path):
    """score(scorecard) reproduces PipelineModel.transform's probability
    bit for bit, also for an unseen category, a null categorical and a
    null numeric value."""
    from functools import reduce

    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from pb_etl_spark.ml.pipeline import _impute_numeric, build_pipeline, score, scorecard
    from pb_etl_spark.ml.quality_model import _reload_without_summary
    from pb_etl_spark.operators.normalize import apply_maxabs

    train, maxes = _normalized_train(spark, pipeline_run)
    # nulls in training give the unknown slots of TLD and COUNTRY nonzero
    # weights, so the edge rows below score through a live unknown weight
    nulled = F.when(F.col(KEY_COL) % 7 == 0, None)
    train = train.withColumns({c: nulled.otherwise(F.col(c)) for c in ("TLD", "COUNTRY")})
    model = build_pipeline().fit(train)
    card = scorecard(model)
    assert all(card["categorical"][c]["unknown"] != 0.0 for c in ("TLD", "COUNTRY"))
    # shed the training summary before transform runs a job
    model = _reload_without_summary(model, str(tmp_path / "model"))

    test = apply_maxabs(read_parquet(spark, _stage_path(pipeline_run, "load_test")), maxes, NORM_COLS)
    first = test.orderBy(KEY_COL).limit(1)

    def edge(key, col, value):
        return first.withColumn(KEY_COL, F.lit(key).cast("long")).withColumn(
            col, F.lit(value).cast(test.schema[col].dataType)
        )

    edges = {-1: ("TLD", "never-seen"), -2: ("COUNTRY", None), -3: ("REN", None)}
    df = reduce(DataFrame.unionByName, [edge(k, *v) for k, v in edges.items()], test)
    got = {r[KEY_COL]: r["Y_hat"].hex() for r in score(card, df, KEY_COL).collect()}
    want = {
        r[KEY_COL]: r["p"].hex()
        for r in model.transform(_impute_numeric(df, NUM_COLS))
        .select(KEY_COL, vector_to_array("probability")[1].alias("p"))
        .collect()
    }
    assert set(edges) <= set(got)
    assert got == want


def test_multi_column_indexer_matches_single_column_indexers(spark, pipeline_run):
    """The one multi-column indexer learns exactly the vocabularies (and
    their order) that one single-column indexer per categorical learns."""
    from pyspark.ml.feature import StringIndexer

    from pb_etl_spark.ml.pipeline import build_pipeline

    df = read_parquet(spark, _stage_path(pipeline_run, "load_data"))
    multi = build_pipeline().getStages()[0].fit(df)
    single = [
        StringIndexer(inputCol=c, outputCol=f"{c}__idx", handleInvalid="keep").fit(df).labels
        for c in CAT_COLS
    ]
    assert multi.labelsArray == single


def test_fit_and_predict_job_ceilings(spark, pipeline_run, tmp_path):
    """A cold DAG run, each stage body under its own job group. fit_model
    writes a JSON scorecard and predict scores it in one projection, so
    neither runs a Spark ML save or load; with a saved and reloaded
    PipelineModel they ran 57 and 19 jobs at the fixture size."""
    sc = spark.sparkContext
    group = f"ceiling-{os.path.basename(tmp_path)}"
    terminal = build_graph(root=pipeline_run["root"], seed=42)
    for st in _stages(terminal).values():

        def fn(*args, _inner=st.fn, _name=st.name):
            sc.setJobGroup(f"{group}-{_name}", _name)
            try:
                return _inner(*args)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        st.fn = fn
    StageRunner(spark, str(tmp_path)).run(terminal)
    jobs = {
        name: len(sc.statusTracker().getJobIdsForGroup(f"{group}-{name}"))
        for name in ("fit_model", "predict")
    }
    # fit_model: two input reads, one indexer-fit job, broadcasts and
    # split counts, one job per LR iteration (14 here; the only
    # data-dependent term) and two AUC evaluations of 3 jobs each: 34.
    # 36 admits a few more LR iterations, but not a model save (8 jobs),
    # a load (15) or an indexer per column
    assert jobs["fit_model"] <= 36, jobs
    # predict: two input reads and the scoring write (2): 4. A load of
    # the 4-stage model alone took 15
    assert jobs["predict"] <= 6, jobs


def test_metrics_sidecar(pipeline_run):
    with open(os.path.join(_stage_path(pipeline_run, "fit_model"), METRICS_FILE)) as fh:
        metrics = json.load(fh)
    assert {
        "train_rows", "val_rows", "iterations", "objective_history", "train_auc", "val_auc",
    } <= set(metrics)
    assert metrics["train_rows"] + metrics["val_rows"] == pipeline_run["stats"]["n_train"]
    assert metrics["iterations"] == len(metrics["objective_history"]) >= 1
    for k in ("train_auc", "val_auc"):
        assert metrics[k] is None or 0.0 <= metrics[k] <= 1.0, (k, metrics[k])


def test_rerun_skips_all_materialized(spark, pipeline_run):
    """Salted memoization: a second run skips every materialized stage
    (reference §4.2 semantics)."""
    report2, runner2 = run_pipeline(
        spark, pipeline_run["workdir"], root=pipeline_run["root"], seed=42
    )
    assert set(runner2.skipped) == {
        "load_data", "load_test", "norm_denominators", "fit_model", "predict", "backtest",
    }
    assert runner2.ran == ["final_results"]  # ephemeral, always runs
    assert math.isclose(report2["actual"], pipeline_run["report"]["actual"], rel_tol=1e-12)
    assert math.isclose(report2["expected"], pipeline_run["report"]["expected"], rel_tol=1e-9)


def test_version_bump_cascades(spark, pipeline_run):
    """Bumping an upstream version re-salts it and everything downstream
    (task.py:83-134 cascade semantics), while unchanged prefixes reuse."""
    g1 = build_graph(root=pipeline_run["root"], seed=42, version="1.0")
    g2 = build_graph(root=pipeline_run["root"], seed=42, version="2.0")
    assert g1.salt() != g2.salt()
    # param change on seed re-salts fit_model and downstream only
    g3 = build_graph(root=pipeline_run["root"], seed=43, version="1.0")

    def find(s, name):
        if s.name == name:
            return s
        for d in s.deps.values():
            r = find(d, name)
            if r:
                return r
        return None

    assert find(g1, "load_data").salt() == find(g3, "load_data").salt()
    assert find(g1, "fit_model").salt() != find(g3, "fit_model").salt()
    assert find(g1, "backtest").salt() != find(g3, "backtest").salt()

    # the artifact format is salted: a fit_model stage without it (a
    # workdir holding another format) is not reused, nor is anything
    # downstream of it
    fit = find(g1, "fit_model")
    other = Stage(fit.name, fit.fn, version=fit.version, deps=fit.deps, params={"seed": 42})
    assert fit.params == {"seed": 42, "artifact": "scorecard"}
    assert other.salt() != fit.salt()
    predict = find(g1, "predict")
    assert Stage(
        predict.name, predict.fn, version=predict.version,
        deps={**predict.deps, "fit_model": other},
    ).salt() != predict.salt()


def test_salt_determinism(pipeline_run):
    g = build_graph(root=pipeline_run["root"], seed=42)
    assert g.salt() == build_graph(root=pipeline_run["root"], seed=42).salt()
    assert len(g.salt()) == 6


def test_score_with_external_model_matches_closed_form(spark):
    """predict_batch_udf path must equal the closed-form sigmoid computed
    JVM-side (same weights), proving the Arrow batching is value-exact."""
    from pyspark.sql import functions as F

    from pb_etl_spark.ml.pipeline import score_with_external_model

    df = spark.createDataFrame(
        [(i, float(i % 7) - 3.0, float(i % 5) / 2.0) for i in range(1000)],
        "TRANSACTION_ID long, f1 double, f2 double",
    )
    w = [0.8, -1.3]
    b = 0.25
    got = score_with_external_model(df, w, b, ["f1", "f2"])
    want = df.select(
        "TRANSACTION_ID",
        (
            F.lit(1.0)
            / (
                F.lit(1.0)
                + F.exp(-(F.col("f1") * w[0] + F.col("f2") * w[1] + F.lit(b)))
            )
        ).alias("Y_hat"),
    )
    g = {r["TRANSACTION_ID"]: r["Y_hat"] for r in got.collect()}
    e = {r["TRANSACTION_ID"]: r["Y_hat"] for r in want.collect()}
    assert g.keys() == e.keys()
    assert all(abs(g[k] - e[k]) < 1e-12 for k in g)
