"""Semantic tests for the corpus-curation operators (beyond oracle parity,
which tools/check_oracle.py and the driver already enforce): invariants
that must hold for ANY corpus, plus plan-shape assertions for the
scale-critical paths."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _physical_plan(df) -> str:
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def test_seq_packing_is_contiguous_and_budgeted(spark):
    from pb_etl_spark.operators.corpus import PACK_BUDGET, q_seq_packing

    rows = (
        q_seq_packing(spark, SF_DIR)
        .orderBy("source", "doc_id")
        .collect()
    )
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    assert len(by_src) > 1
    for src, docs in by_src.items():
        cum = 0
        last_pack = 0
        for r in docs:
            # pack assignment = floor(tokens-before / budget): contiguous,
            # never decreasing, first doc always in pack 0
            assert r.pack_id == cum // PACK_BUDGET, (src, r)
            assert r.pack_id >= last_pack
            last_pack = r.pack_id
            cum += r.n_tokens
        assert docs[0].pack_id == 0


def test_incremental_dedup_never_resurrects_corpus_content(spark, duck):
    from pb_etl_spark.operators.corpus import q_incremental_dedup

    surv = q_incremental_dedup(spark, SF_DIR).collect()
    assert surv, "expected some new-batch survivors"
    corpus_fps = {
        r[0]
        for r in duck.execute(
            "SELECT DISTINCT md5(text) FROM documents WHERE doc_id % 5 <> 0"
        ).fetchall()
    }
    for r in surv:
        assert r.keep_doc_id % 5 == 0  # only new-batch docs survive
        assert r.fp not in corpus_fps  # nothing already in the corpus
        assert r.n_batch_copies >= 1


def test_pii_redaction_removes_every_pattern_occurrence(spark):
    from pb_etl_spark.operators.corpus import q_pii_redaction
    from pb_etl_spark.catalog import read_table

    doc = read_table(spark, SF_DIR, "documents")
    joined = q_pii_redaction(spark, SF_DIR).join(doc, "doc_id")
    # recompute the redaction inline and verify the emitted md5 matches a
    # text with zero remaining matches
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
            "[0-9]{3,}",
            "<NUM>",
        ),
        "\\bcustomer\\b",
        "<PII>",
    )
    bad = joined.filter(
        (F.md5(red) != F.col("redacted_md5"))
        | (F.regexp_count(red, F.lit("\\bcustomer\\b")) > 0)
    ).count()
    assert bad == 0
    # corpus contains the sensitive term, so the op must have fired
    assert joined.filter(F.col("n_redacted") > 0).count() > 0


def test_top_p_sample_respects_share_budget_per_lang(spark):
    from pb_etl_spark.operators.corpus import TOP_P, q_top_p_quality_sample
    from pb_etl_spark.catalog import read_table

    doc = read_table(spark, SF_DIR, "documents")
    totals = {
        r.lang: r.total
        for r in doc.groupBy("lang").agg(F.sum("n_chars").alias("total")).collect()
    }
    picked = (
        q_top_p_quality_sample(spark, SF_DIR)
        .groupBy("lang")
        .agg(F.max("cum_chars").alias("used"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert picked
    for r in picked:
        assert r.used <= TOP_P * totals[r.lang]
        assert 0 < r.n  # selected something, but
        # ... not everything (budget binds at TOP_P=0.5)
    total_sel = sum(r.n for r in picked)
    total_docs = doc.count()
    assert total_sel < total_docs


def test_filter_chain_and_redaction_are_shuffle_free(spark):
    """Row-wise curation ops must stay embarrassingly parallel: no
    Exchange in the physical plan means no shuffle at any scale."""
    from pb_etl_spark.operators.corpus import q_pii_redaction, q_quality_filter_chain

    for fn in (q_quality_filter_chain, q_pii_redaction):
        plan = _physical_plan(fn(spark, SF_DIR))
        assert "Exchange" not in plan, plan


def test_source_mix_report_windows_after_aggregation(spark):
    """The ordered single-partition window must consume the grouped agg
    (one row per source), never the raw scan."""
    from pb_etl_spark.operators.corpus import q_source_mix_report

    df = q_source_mix_report(spark, SF_DIR)
    plan = _physical_plan(df)
    # HashAggregate appears below the Window in the plan tree (Window
    # lines are printed above their children)
    assert plan.index("Window") < plan.index("HashAggregate")
    rows = {r.source: r for r in df.collect()}
    assert abs(sum(r.token_share for r in rows.values()) - 1.0) < 1e-4


def test_global_positions_is_a_total_order_without_global_window(spark):
    """The distributed row-number primitive: pos must be exactly 1..n in
    the order-key order, and the plan must contain NO unpartitioned
    window (every Window line carries the pid partition spec)."""
    from pb_etl_spark.operators.corpus import global_positions

    df = spark.range(0, 1000).select(
        (F.col("id") * 37 % 1000).alias("k"), F.col("id").alias("tie")
    )
    out = global_positions(spark, df, ["k", "tie"])
    rows = out.orderBy("pos").collect()
    assert {r["_gp_tot"] for r in rows} == {1000}
    assert [r["pos"] for r in rows] == list(range(1, 1001))
    # pos order == (k, tie) order
    keys = [(r["k"], r["tie"]) for r in rows]
    assert keys == sorted(keys)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan, plan
    # the only unpartitioned window allowed is the bounded
    # ≤|partitions|-row counts-leg prefix sum (ordered by _rs_pid);
    # the fact-sized row_number must stay keyed on the partition id
    from tests.test_plan_lint import _unpartitioned_window_hit

    assert _unpartitioned_window_hit(plan) is None, plan


def test_curriculum_buckets_matches_exact_ntile(spark):
    """The closed-form floor((pos-1)k/n)+1 binning must equal a literal
    NTILE over the same total order."""
    from pyspark.sql.window import Window as W

    from pb_etl_spark.operators.corpus import N_CURRICULUM_BINS, q_curriculum_buckets
    from pb_etl_spark.operators.corpus import _tokens
    from pb_etl_spark.catalog import read_table

    got = {
        r["bin"]: (r["n_docs"], r["min_tokens"], r["max_tokens"], r["bin_tokens"])
        for r in q_curriculum_buckets(spark, SF_DIR).collect()
    }
    doc = read_table(spark, SF_DIR, "documents")
    w = W.orderBy(F.col("n_tokens").asc(), F.col("doc_id").asc())
    ref = (
        doc.select("doc_id", F.size(_tokens()).cast("long").alias("n_tokens"))
        .withColumn("bin", F.ntile(N_CURRICULUM_BINS).over(w).cast("long"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("bin_tokens"),
        )
    )
    want = {
        r["bin"]: (r["n_docs"], r["min_tokens"], r["max_tokens"], r["bin_tokens"])
        for r in ref.collect()
    }
    assert got == want


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
