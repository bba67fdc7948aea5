"""Semantic tests for the affinity operators: the per-nation Gini against
a pandas model, its decimal accumulation behind a loud guard, and the
job ceilings of the exact-quintile consumers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, job_group


def test_gini_by_group_matches_pandas_model_and_bounds(spark):
    """Per-nation Gini must equal the rank-formula computed directly in
    pandas over the same spend table, and every coefficient must sit in
    [0, 1) (0 = perfectly equal, →1 = one whale takes all)."""
    from pb_etl_spark.catalog import read_table
    from pb_etl_spark.operators.affinity import q_gini_by_group

    got = {
        r["c_nationkey"]: (r["n_customers"], r["total_cents"], r["gini"])
        for r in q_gini_by_group(spark, SF_DIR).collect()
    }
    orders = (
        read_table(spark, SF_DIR, "orders")
        .selectExpr("o_custkey", "CAST(ROUND(o_totalprice * 100) AS LONG) AS cents")
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("cents"))
        .toPandas()
    )
    cust = (
        read_table(spark, SF_DIR, "customer")
        .select("c_custkey", "c_nationkey")
        .toPandas()
    )
    spend = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
    for nk, grp in spend.groupby("c_nationkey"):
        xs = sorted(zip(grp["cents"], grp["o_custkey"]))
        n, total = len(xs), int(grp["cents"].sum())
        pos_cents = sum((i + 1) * c for i, (c, _) in enumerate(xs))
        want = round((2.0 * pos_cents - (n + 1) * float(total)) / (n * float(total)), 6)
        assert got[nk] == (n, total, want), nk
        assert 0.0 <= got[nk][2] < 1.0, nk


def test_gini_by_group_sums_in_decimal_behind_a_loud_guard(spark):
    """Σ pos·cents must accumulate in decimal(38,0) (the long product
    could overflow int64 at scale) and convert to double only behind a
    2^53 raise_error guard (ADVICE r09) — while the healthy-path values
    keep matching the r09 pandas-model test."""
    from pb_etl_spark.operators.affinity import q_gini_by_group

    df = q_gini_by_group(spark, SF_DIR)
    plan = df._jdf.queryExecution().analyzed().toString().lower()
    assert "raise_error" in plan
    assert "decimal(38,0)" in plan
    assert df.count() > 0  # the guard never fires at fixture scale


# Jobs one invocation of each quintile consumer launches (build +
# collect, sf0.001, local[4], 4 shuffle partitions), as measured. Every
# exact quintile of a query is scored in ONE grouped running-sum pass
# over a stacked frame; a positions pass per quintile would repeat the
# range shuffle, the pin and the offsets broadcast per quintile and
# overshoot these ceilings.
QUINTILE_JOB_CEILINGS = {"rfm_segments": 13, "segment_migration": 12}


@pytest.mark.parametrize("name", sorted(QUINTILE_JOB_CEILINGS))
def test_quintile_consumers_score_in_one_pass(spark, name):
    from pb_etl_spark.registry import all_queries

    fn = all_queries()[name]
    # the first build runs the tables' schema-inference reads, which
    # read_table keeps; those are per table, not per invocation
    fn(spark, SF_DIR)
    counts = []
    # AQE can pick a join strategy from whichever stage finishes first,
    # which occasionally adds a job to one run; the ceiling holds for
    # the better of two
    for attempt in range(2):
        spark.catalog.clearCache()
        with job_group(spark, f"quintile-{name}-{attempt}") as jobs:
            fn(spark, SF_DIR).collect()
        counts.append(jobs())
    assert min(counts) <= QUINTILE_JOB_CEILINGS[name], f"{name}: jobs per run {counts}"
