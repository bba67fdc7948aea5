"""Semantic tests for the advanced-analytics operators: largest-remainder
apportionment, the weighted median and the exact grouped-quantile family
built on it — conservation laws and minimality the oracle hash can't
express."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_largest_remainder_alloc_conserves_budget(spark):
    from pb_etl_spark.operators.advanced import (
        ALLOC_SEATS,
        q_largest_remainder_alloc,
    )

    out = q_largest_remainder_alloc(spark, SF_DIR).toPandas()
    assert int(out["seats"].sum()) == ALLOC_SEATS
    # quota property: every nation gets floor or floor+1 of its exact share
    total = int(out["n_cust"].sum())
    for _, row in out.iterrows():
        base = (int(row["n_cust"]) * ALLOC_SEATS) // total
        assert row["seats"] in (base, base + 1)


def test_weighted_median_is_the_minimal_half_weight_value(spark):
    """The lower weighted median: smallest cents value v with
    Σ qty[cents ≤ v] ≥ half the group total — checked row-by-row in
    pandas against the operator's output."""
    from pb_etl_spark.catalog import read_table
    from pb_etl_spark.operators.advanced import q_weighted_median_by_group

    out = q_weighted_median_by_group(spark, SF_DIR).toPandas()
    li = (
        read_table(spark, SF_DIR, "lineitem")
        .selectExpr(
            "l_returnflag",
            "CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents",
            "CAST(l_quantity AS BIGINT) AS qty",
        )
        .toPandas()
    )
    for _, row in out.iterrows():
        g = li[li["l_returnflag"] == row["l_returnflag"]]
        tw = int(g["qty"].sum())
        assert tw == row["total_qty"]
        v = int(row["wmedian_cents"])
        at_or_below = int(g.loc[g["cents"] <= v, "qty"].sum())
        assert 2 * at_or_below >= tw
        # minimality: everything strictly below v covers < half
        below = int(g.loc[g["cents"] < v, "qty"].sum())
        assert 2 * below < tw


def test_weighted_median_window_consumes_compacted_frame(spark):
    """The r08 verdict's fix contract: the keyed cumsum window must sit
    ABOVE the (flag, cents) compaction aggregate, so the per-group sort
    input is the bounded price grid, never the raw fact."""
    from pb_etl_spark.operators.advanced import q_weighted_median_by_group

    out = q_weighted_median_by_group(spark, SF_DIR)
    plan = out._jdf.queryExecution().executedPlan().toString()
    win = plan.find("Window")
    assert win != -1, plan
    below = plan[win:]
    assert "HashAggregate" in below and "cents" in below.split("HashAggregate")[1], (
        "window input is not the (flag, cents) compaction:\n" + plan
    )


def test_grouped_quantiles_p50_equals_weighted_median(spark):
    """The family must degenerate to the already-proven member: the p50
    row per group IS the weighted median."""
    from pb_etl_spark.operators.advanced import (
        q_grouped_quantiles_exact,
        q_weighted_median_by_group,
    )

    p50 = {
        r["l_returnflag"]: r["q_cents"]
        for r in q_grouped_quantiles_exact(spark, SF_DIR)
        .filter(F.col("quantile") == "p50")
        .collect()
    }
    med = {
        r["l_returnflag"]: r["wmedian_cents"]
        for r in q_weighted_median_by_group(spark, SF_DIR).collect()
    }
    assert p50 == med


def test_grouped_quantiles_are_monotone_and_minimal(spark):
    """p25 ≤ p50 ≤ p75 ≤ p90 per group, and each quantile value is
    MINIMAL: the next-lower distinct cents must fail the integer rule."""
    from pb_etl_spark.catalog import read_table
    from pb_etl_spark.operators.advanced import (
        QUANTILE_FRACS,
        q_grouped_quantiles_exact,
    )

    rows = q_grouped_quantiles_exact(spark, SF_DIR).collect()
    by_flag: dict[str, dict[str, int]] = {}
    for r in rows:
        by_flag.setdefault(r["l_returnflag"], {})[r["quantile"]] = r["q_cents"]
    for flag, qs in by_flag.items():
        assert qs["p25"] <= qs["p50"] <= qs["p75"] <= qs["p90"], (flag, qs)

    li = (
        read_table(spark, SF_DIR, "lineitem")
        .select(
            "l_returnflag",
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
            F.col("l_quantity").cast("long").alias("qty"),
        )
        .toPandas()
    )
    for flag, qs in by_flag.items():
        grp = li[li["l_returnflag"] == flag]
        total = int(grp["qty"].sum())
        for lbl, num, den in QUANTILE_FRACS:
            v = qs[lbl]
            mass_incl = int(grp.loc[grp["cents"] <= v, "qty"].sum())
            assert mass_incl * den >= num * total, (flag, lbl)
            lower = grp.loc[grp["cents"] < v, "cents"]
            if len(lower):
                mass_below = int(grp.loc[grp["cents"] <= lower.max(), "qty"].sum())
                assert mass_below * den < num * total, (flag, lbl)
