"""The reference-parity pipeline as a salted stage graph (SURVEY.md §3).

Dependency graph (reference tasks.py:159-160,193,213-215,254-255,355-357,
401-402,433):

    train_attr(csv) ─┐
    train_tscore(csv)┴→ load_data ─┬→ norm_denominators ─┐
                                   └────────────────────-┼→ fit_model ─┐
    test_attr(csv) ─┐                                    │             │
    test_tscore(csv)┴→ load_test ────────────────────────┴─────────────┼→ predict ─┐
    actuals(csv) ──────────────────────────────────────────────────────────────────┴→ backtest → final_results

Every materializing stage writes Parquet + _SUCCESS under a salted path;
``final_results`` is ephemeral (always recomputed — parity with the
reference's output-less FinalResults, tasks.py:428-444).

Scale posture: the joins are left equi-joins on TRANSACTION_ID with the
traffic-score side broadcast when small (Catalyst decides; AQE re-plans);
normalization denominators travel by broadcast; nothing collects to the
driver except the final 1-row report.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pb_etl_spark import catalog
from pb_etl_spark.ml.pipeline import score, train_model
from pb_etl_spark.operators.normalize import apply_maxabs, fit_maxabs
from pb_etl_spark.plans.stages import Stage, StageRunner
from pb_etl_spark.schemas import KEY_COL, LABEL_COL, NORM_COLS
from pb_etl_spark.sources.parquet import read_parquet, write_parquet

SCORECARD_FILE = "scorecard.json"
METRICS_FILE = "metrics.json"


# --- stage bodies ----------------------------------------------------------

def _load_join(spark: SparkSession, out: str, attr_name: str, ts_name: str, root: str | None) -> None:
    """LoadData/LoadTest (tasks.py:152-232): attrs ⋈ tscore, left on
    TRANSACTION_ID, persisted as Parquet."""
    attrs = catalog.read_external(spark, attr_name, root)
    tscore = catalog.read_external(spark, ts_name, root)
    joined = attrs.join(tscore, KEY_COL, "left")
    write_parquet(joined, out)


def _norm_denominators(spark: SparkSession, out: str, deps: dict[str, str]) -> None:
    """NormalizationDenominators (tasks.py:186-203): per-column max of the
    normalize columns on TRAIN only, persisted as a 1-row dataset."""
    train = read_parquet(spark, deps["load_data"])
    write_parquet(fit_maxabs(train, NORM_COLS), out)


def _fit_model(spark: SparkSession, out: str, deps: dict[str, str], seed: int) -> None:
    """FitNNModel (tasks.py:247-345): normalize train, fit the classifier,
    write its scorecard and metrics under the salted stage directory."""
    train = read_parquet(spark, deps["load_data"])
    maxes = read_parquet(spark, deps["norm_denominators"])
    normalized = apply_maxabs(train, maxes, NORM_COLS)
    card, metrics = train_model(normalized, seed=seed)
    # the scorecard (S7 artifact) and the metrics sidecar (reference
    # model_hist_params, tasks.py:334-342) are plain local files: one row
    # through a Spark job would create a DIRECTORY that json.load can't open
    os.makedirs(out, exist_ok=True)
    for name, obj in ((SCORECARD_FILE, card), (METRICS_FILE, metrics)):
        with open(os.path.join(out, name), "w") as fh:
            json.dump(obj, fh)
    _touch_success(out)


def _touch_success(path: str) -> None:
    os.makedirs(path, exist_ok=True)
    open(os.path.join(path, "_SUCCESS"), "w").close()


def _predict(spark: SparkSession, out: str, deps: dict[str, str]) -> None:
    """NNPredict (tasks.py:348-392): normalize test with TRAIN denominators
    (fit/transform), score it with fit_model's scorecard in one SQL
    projection, persist {TRANSACTION_ID, Y_hat}."""
    test = read_parquet(spark, deps["load_test"])
    maxes = read_parquet(spark, deps["norm_denominators"])
    normalized = apply_maxabs(test, maxes, NORM_COLS)
    with open(os.path.join(deps["fit_model"], SCORECARD_FILE)) as fh:
        card = json.load(fh)
    write_parquet(score(card, normalized, KEY_COL), out)


def _backtest(spark: SparkSession, out: str, deps: dict[str, str], root: str | None) -> None:
    """BackTest (tasks.py:395-425): actuals ⋈ forecast, left on
    TRANSACTION_ID."""
    actuals = catalog.read_external(spark, "actuals", root)
    forecast = read_parquet(spark, deps["predict"])
    write_parquet(actuals.join(forecast, KEY_COL, "left"), out)


def _final_results(spark: SparkSession, _out: None, deps: dict[str, str]) -> dict:
    """FinalResults (tasks.py:428-444) + etl command (etl.py:22-39): the
    deletion-rate comparison — avg(TARGET) vs avg(Y_hat) — returned as the
    1-row report the reference prints and loads into its results table."""
    bt = read_parquet(spark, deps["backtest"])
    row = bt.agg(
        F.avg(F.col(LABEL_COL).cast("double")).alias("actual"),
        F.avg("Y_hat").alias("expected"),
    ).collect()[0]
    # avg() over an empty backtest is NULL — surface None, don't crash
    return {
        "actual": None if row["actual"] is None else float(row["actual"]),
        "expected": None if row["expected"] is None else float(row["expected"]),
    }


# --- graph assembly --------------------------------------------------------

def build_graph(root: str | None = None, seed: int = 42, version: str = "1.0") -> Stage:
    """Assemble the salted stage DAG; returns the terminal stage."""
    params = {"root": root or catalog.data_root()}
    load_data = Stage(
        "load_data",
        lambda sp, out, deps: _load_join(sp, out, "train_attr", "train_tscore", root),
        version=version,
        params=params,
    )
    load_test = Stage(
        "load_test",
        lambda sp, out, deps: _load_join(sp, out, "test_attr", "test_tscore", root),
        version=version,
        params=params,
    )
    norm = Stage(
        "norm_denominators",
        _norm_denominators,
        version=version,
        deps={"load_data": load_data},
    )
    fit = Stage(
        "fit_model",
        lambda sp, out, deps: _fit_model(sp, out, deps, seed),
        version=version,
        deps={"load_data": load_data, "norm_denominators": norm},
        # the artifact format is salted: a workdir whose fit_model holds
        # another format re-fits rather than feed it to predict
        params={"seed": seed, "artifact": "scorecard"},
    )
    predict = Stage(
        "predict",
        _predict,
        version=version,
        deps={"load_test": load_test, "norm_denominators": norm, "fit_model": fit},
    )
    backtest = Stage(
        "backtest",
        lambda sp, out, deps: _backtest(sp, out, deps, root),
        version=version,
        deps={"predict": predict},
        params=params,
    )
    return Stage(
        "final_results",
        _final_results,
        version=version,
        deps={"backtest": backtest},
        ephemeral=True,
    )


def run_pipeline(
    spark: SparkSession,
    workdir: str,
    root: str | None = None,
    seed: int = 42,
    version: str = "1.0",
) -> tuple[dict, StageRunner]:
    """Run the full parity pipeline; returns (report, runner) where report
    = {'actual': rate, 'expected': rate}."""
    runner = StageRunner(spark, workdir)
    report = runner.run(build_graph(root=root, seed=seed, version=version))
    return report, runner
