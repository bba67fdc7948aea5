"""Semantic tests for the corpus-curation operators (beyond oracle parity,
which tools/check_oracle.py and the driver already enforce): invariants
that must hold for ANY corpus, plus plan-shape assertions for the
scale-critical paths."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

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
    # the fact-sized running count stays keyed on the partition id, and
    # the counts leg's offsets come from an in-plan fold, not a window
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


def test_pps_systematic_sample_places_exactly_k_pointers(spark):
    from pb_etl_spark.catalog import read_table
    from pb_etl_spark.operators.corpus import PPS_K, q_pps_systematic_sample

    out = q_pps_systematic_sample(spark, SF_DIR).toPandas()
    # u + (K-1)*step < K*step <= W, so all K pointers land: Σ hits == K
    assert int(out["n_hits"].sum()) == PPS_K
    assert (out["n_hits"] >= 1).all()
    # a doc covering m steps of the axis takes at most m+1 pointers
    total = (
        read_table(spark, SF_DIR, "documents")
        .agg(F.sum("n_chars").alias("w"))
        .collect()[0]["w"]
    )
    step = total // PPS_K
    assert (out["n_hits"] <= out["n_chars"] // step + 1).all()


def test_pps_pointer_cap_prevents_overcount(spark, tmp_path):
    """Regression (round-8 review): with W = 1050 and K = 100, step = 10
    and u = 5, the UNCAPPED division difference counts pointer #100 at
    u + 100·step = 1005 < W — 105 hits. The LEAST(K, ·) cap must keep
    the telescoped total at exactly K."""
    import pandas as pd

    from pb_etl_spark.operators.corpus import PPS_K, q_pps_systematic_sample

    docs = pd.DataFrame(
        {
            "doc_id": range(105),
            "text": ["x" for _ in range(105)],
            "lang": ["en"] * 105,
            "source": ["s"] * 105,
            "n_chars": [10] * 105,  # W = 1050 = K*step + 50 > K*step
        }
    )
    spark.createDataFrame(docs).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    out = q_pps_systematic_sample(spark, str(tmp_path)).toPandas()
    assert int(out["n_hits"].sum()) == PPS_K


def _plain_window_cumsum(df, group_cols, order_cols, value_col):
    """The semantically-equivalent single-task-per-group reference."""
    w = (
        W.partitionBy(*group_cols)
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wt = W.partitionBy(*group_cols)
    return df.withColumn("cum", F.sum(value_col).over(w).cast("long")).withColumn(
        "gtot", F.sum(value_col).over(wt).cast("long")
    )


def test_grouped_running_sum_matches_keyed_window(spark):
    """Frame-equality against the plain keyed window on the orders
    fact — every row's inclusive cumsum and group total must agree."""
    from pb_etl_spark.catalog import read_table
    from pb_etl_spark.operators.corpus import grouped_running_sum

    o = read_table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    got = grouped_running_sum(
        spark, o, ["o_orderpriority"], ["o_orderdate", "o_orderkey"], "cents"
    )
    want = _plain_window_cumsum(
        o, ["o_orderpriority"], ["o_orderdate", "o_orderkey"], "cents"
    )
    assert got.drop("_gr_all").exceptAll(want).count() == 0
    assert want.exceptAll(got.drop("_gr_all")).count() == 0
    # the emitted gtot column is the same grand total per group, and
    # _gr_all the grand total over everything
    exact = {
        (r["o_orderpriority"],): r["t"]
        for r in o.groupBy("o_orderpriority")
        .agg(F.sum("cents").alias("t"))
        .collect()
    }
    totals = {
        (r["o_orderpriority"],): r["gtot"]
        for r in got.select("o_orderpriority", "gtot").distinct().collect()
    }
    assert totals == exact
    alls = got.select("_gr_all").distinct().collect()
    assert len(alls) == 1 and alls[0][0] == sum(exact.values())


def test_grouped_running_sum_is_partition_count_invariant(spark):
    """The driver prefix-sum stitching must give identical results under
    a different range-partition width (different pid boundaries)."""
    from pb_etl_spark.catalog import read_table
    from pb_etl_spark.operators.corpus import grouped_running_sum

    o = read_table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        narrow = grouped_running_sum(
            spark, o, ["o_orderpriority"], ["o_orderkey"], "cents"
        )
        narrow_rows = narrow.collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    wide = grouped_running_sum(
        spark, o, ["o_orderpriority"], ["o_orderkey"], "cents"
    )
    assert sorted(map(tuple, narrow_rows)) == sorted(map(tuple, wide.collect()))


def test_grouped_running_sum_parallelism_is_not_group_bound(spark):
    """The whole point of the primitive: the cumsum must NOT hash the
    fact onto the |groups|-value key. No exchange in the plan may
    hashpartition on the group column alone, and the keyed window must
    ride the range partitioning (pid + group key)."""
    from pb_etl_spark.catalog import read_table
    from pb_etl_spark.operators.corpus import grouped_running_sum

    o = read_table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    got = grouped_running_sum(
        spark, o, ["o_orderpriority"], ["o_orderkey"], "cents"
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning(o_orderpriority" in plan, plan
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "hashpartitioning(o_orderpriority" in line and "pid" not in line:
            # the bounded counts-leg offsets window legitimately
            # re-clusters its ≤|partitions|+|groups|-row aggregate by
            # group (r15 one-action form) — recognizable by the
            # _rs_-prefixed aggregate feeding the exchange
            child = "\n".join(lines[i + 1 : i + 3])
            if "_rs_" in child:
                continue
            pytest.fail(f"group-keyed hash exchange in plan: {line.strip()}")


def test_grouped_running_sum_multi_column_groups(spark):
    """A two-column group key must stitch exactly like the
    single-column case (the offsets broadcast-join is keyed on the full
    (pid, group...) tuple since r15) — frame-equal to the plain keyed
    window, gtot keyed by the full tuple."""
    from pb_etl_spark.catalog import read_table
    from pb_etl_spark.operators.corpus import grouped_running_sum

    o = read_table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    got = grouped_running_sum(
        spark,
        o,
        ["o_orderpriority", "o_orderstatus"],
        ["o_orderkey"],
        "cents",
    )
    want = _plain_window_cumsum(
        o, ["o_orderpriority", "o_orderstatus"], ["o_orderkey"], "cents"
    )
    assert got.drop("_gr_all").exceptAll(want).count() == 0
    assert want.exceptAll(got.drop("_gr_all")).count() == 0
    exact = {
        (r["o_orderpriority"], r["o_orderstatus"]): r["t"]
        for r in o.groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.sum("cents").alias("t"))
        .collect()
    }
    totals = {
        (r["o_orderpriority"], r["o_orderstatus"]): r["gtot"]
        for r in got.select("o_orderpriority", "o_orderstatus", "gtot")
        .distinct()
        .collect()
    }
    assert totals == exact


def test_grouped_running_sum_rejects_unsafe_group_keys(spark):
    """Unsafe group-key TYPES (doubles, booleans — the documented
    low-cardinality-key contract) are rejected eagerly at build time;
    NULL group values raise the contract error at ACTION time (r15: the
    validation moved in-plan with the one-action reformulation — a bare
    NULL would otherwise miss the offsets join and corrupt cum/gtot).
    Keys containing \\x1f now WORK — the old reserved-separator
    restriction existed only for the retired string-encoded literal
    maps; the broadcast join keys on the actual columns."""
    from pb_etl_spark.operators.corpus import grouped_running_sum

    bad_type = spark.createDataFrame([(1.5, 1, 1)], "g double, o long, v long")
    with pytest.raises(TypeError, match="only string/integer/date"):
        grouped_running_sum(spark, bad_type, ["g"], ["o"], "v")
    null_key = spark.createDataFrame(
        [(None, 1, 1)], "g string, o long, v long"
    )
    with pytest.raises(Exception, match="NULL"):
        grouped_running_sum(spark, null_key, ["g"], ["o"], "v").collect()
    sep_key = spark.createDataFrame(
        [("a\x1fb", 1, 1)], "g string, o long, v long"
    )
    out = grouped_running_sum(spark, sep_key, ["g"], ["o"], "v").collect()
    assert [(r["cum"], r["gtot"]) for r in out] == [(1, 1)]


def test_exact_stratified_split_hits_quotas_exactly(spark):
    """Per source: |train| == floor(n·8/10), |val| == floor(n/10),
    |test| == the remainder; the three parts partition the source
    (disjoint and complete). Bernoulli samplers only do this in
    expectation — exactness is the op's contract."""
    from pb_etl_spark.operators.corpus import q_exact_stratified_split

    rows = q_exact_stratified_split(spark, SF_DIR).collect()
    by_src: dict[str, dict[str, int]] = {}
    seen = set()
    for r in rows:
        assert (r["source"], r["pos"]) not in seen
        seen.add((r["source"], r["pos"]))
        counts = by_src.setdefault(r["source"], {"train": 0, "val": 0, "test": 0})
        counts[r["split"]] += 1
    assert by_src, "no sources"
    for src, c in by_src.items():
        n = c["train"] + c["val"] + c["test"]
        assert c["train"] == n * 8 // 10, (src, c)
        assert c["val"] == n // 10, (src, c)
        assert c["test"] == n - n * 8 // 10 - n // 10, (src, c)


def test_migrated_queries_have_no_group_keyed_window_exchange(spark):
    """The three r09 migrations (seq_packing, top_p_quality_sample,
    quantile_normalize) must no longer hash the documents fact onto
    their low-cardinality group column for the cumsum/rank window — the
    only group-keyed hash exchange allowed is the pid-salted one
    grouped_running_sum builds."""
    from pb_etl_spark.operators.corpus import (
        q_seq_packing,
        q_top_p_quality_sample,
    )
    from pb_etl_spark.operators.reshape import q_quantile_normalize

    for fn, key in [
        (q_seq_packing, "source"),
        (q_top_p_quality_sample, "lang"),
        (q_quantile_normalize, "source"),
    ]:
        plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            if f"hashpartitioning({key}" in line and "pid" not in line:
                pytest.fail(f"{fn.__name__}: group-keyed exchange: {line.strip()}")


def _md5_first8_int(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_priority_sample_matches_python_model(spark):
    """The kept set, the priorities, and the Horvitz-Thompson adjusted
    weights must equal a from-scratch Python md5 model of the whole
    chain (u derivation, priority division, top-K cut, tau threshold)."""
    from pb_etl_spark.catalog import read_table
    from pb_etl_spark.operators.corpus import PRIORITY_K, q_priority_sample_topk

    docs = (
        read_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    )
    model = []
    for r in docs:
        w = len(r["text"].split(" "))
        m1 = _md5_first8_int(str(r["doc_id"])) + 1
        model.append((r["doc_id"], w, w * 4294967296.0 / m1))
    model.sort(key=lambda t: (-t[2], t[0]))
    assert len(model) > PRIORITY_K, "fixture must exceed the sample size"
    tau = model[PRIORITY_K][2]
    want = {
        d: (w, round(p, 6), round(max(float(w), tau), 6))
        for d, w, p in model[:PRIORITY_K]
    }
    got = {
        r["doc_id"]: (r["n_tok"], r["priority"], r["est_w"])
        for r in q_priority_sample_topk(spark, SF_DIR).collect()
    }
    assert got == want


def test_priority_sample_estimator_tracks_total_mass(spark):
    """Priority sampling's point: Σ est_w over the sample is an unbiased
    estimator of the corpus's total token mass. One deterministic
    realization won't be exact, but it must land in the right
    neighborhood — a sign error or a dropped tau would blow this up."""
    from pb_etl_spark.catalog import read_table
    from pb_etl_spark.operators.corpus import q_priority_sample_topk

    est = (
        q_priority_sample_topk(spark, SF_DIR)
        .agg(F.sum("est_w").alias("s"))
        .collect()[0]["s"]
    )
    true = (
        read_table(spark, SF_DIR, "documents")
        .agg(F.sum(F.size(F.split("text", " "))).alias("s"))
        .collect()[0]["s"]
    )
    assert abs(est - true) / true < 0.2, (est, true)


def test_priority_sample_small_corpus_keeps_everything(spark, monkeypatch):
    """A corpus smaller than K+1 is the whole sample: every doc kept,
    tau = 0, est_w = w (the estimator degrades to the exact total)."""
    import pb_etl_spark.operators.corpus as corpus
    from pb_etl_spark.catalog import read_table

    n_docs = read_table(spark, SF_DIR, "documents").count()
    monkeypatch.setattr(corpus, "PRIORITY_K", n_docs + 1)
    rows = corpus.q_priority_sample_topk(spark, SF_DIR).collect()
    assert len(rows) == n_docs
    assert all(r["est_w"] == float(r["n_tok"]) for r in rows)


def test_priority_sample_per_source_matches_python_model(spark):
    """Per-stratum kept sets, priorities, and per-stratum HT weights
    must equal a from-scratch Python model (per-source sort, per-source
    tau = the (K+1)-th priority of THAT source)."""
    from pb_etl_spark.catalog import read_table
    from pb_etl_spark.operators.corpus import (
        PRIORITY_GROUP_K,
        q_priority_sample_per_source,
    )

    docs = (
        read_table(spark, SF_DIR, "documents")
        .select("source", "doc_id", "text")
        .collect()
    )
    by_src: dict[str, list] = {}
    for r in docs:
        w = len(r["text"].split(" "))
        m1 = _md5_first8_int(str(r["doc_id"])) + 1
        by_src.setdefault(r["source"], []).append(
            (r["doc_id"], w, w * 4294967296.0 / m1)
        )
    want = {}
    for src, items in by_src.items():
        items.sort(key=lambda t: (-t[2], t[0]))
        tau = (
            items[PRIORITY_GROUP_K][2]
            if len(items) > PRIORITY_GROUP_K
            else 0.0
        )
        for d, w, p in items[:PRIORITY_GROUP_K]:
            want[d] = (src, w, round(p, 6), round(max(float(w), tau), 6))
    got = {
        r["doc_id"]: (r["source"], r["n_tok"], r["priority"], r["est_w"])
        for r in q_priority_sample_per_source(spark, SF_DIR).collect()
    }
    assert got == want


def test_grouped_running_sum_rejects_null_values(spark):
    """NULL values would silently NULL the windowed prefix sum for
    leading all-NULL frames (and desync the counts-leg subtotal). The
    r15 one-action form enforces the non-null contract IN-PLAN: any row
    of a violating (pid, group) slice raises at action time (ANY
    violation anywhere poisons every row, like the old global driver
    check)."""
    import pytest

    from pb_etl_spark.operators.corpus import grouped_running_sum

    all_null = spark.createDataFrame(
        [("a", 1, None), ("a", 2, None), ("b", 1, 5)],
        "g string, o long, v long",
    )
    partial_null = spark.createDataFrame(
        [("a", 1, None), ("a", 2, 3), ("b", 1, 5)],
        "g string, o long, v long",
    )
    for df in (all_null, partial_null):
        with pytest.raises(Exception, match="grouped_running_sum: value column 'v' has NULL value"):
            grouped_running_sum(spark, df, ["g"], ["o"], "v").collect()


def test_global_running_sum_rejects_null_values(spark):
    """The ungrouped sibling has the same hazard: partial NULLs would
    silently NULL the cumsum (and the Add short-circuit would swallow a
    guard that lives under it — the raise must wrap the sum). The
    in-plan contract check must raise at action time."""
    import pytest

    from pb_etl_spark.operators.corpus import global_running_sum

    df = spark.createDataFrame(
        [(1, None), (2, 3), (3, None)], "o long, v long"
    )
    with pytest.raises(Exception, match="global_running_sum: value column 'v' has NULL value"):
        global_running_sum(spark, df, ["o"], "v").collect()


def test_grouped_running_sum_guards_span_misses_loudly(spark):
    """A broadcast-back offset/total whose row falls outside its
    partition's counts-leg span (boundary drift — only possible if
    exchange reuse failed) must raise_error, not silently NULL cum/gtot
    (ADVICE r09's loud-miss contract, carried through the r15
    reformulation); the guard must be wired into the plan yet never
    fire on the healthy path."""
    from pb_etl_spark.operators.corpus import grouped_running_sum

    df = spark.createDataFrame(
        [("a", 1, 2), ("a", 2, 3), ("b", 1, 5)], "g string, o long, v long"
    )
    out = grouped_running_sum(spark, df, ["g"], ["o"], "v")
    plan = out._jdf.queryExecution().analyzed().toString()
    assert plan.count("raise_error") >= 2, "offset AND total lookups guarded"
    assert "grouped_running_sum offset-span miss" in plan
    assert "grouped_running_sum total-span miss" in plan
    got = {(r["g"], r["o"]): (r["cum"], r["gtot"]) for r in out.collect()}
    assert got == {("a", 1): (2, 5), ("a", 2): (5, 5), ("b", 1): (5, 5)}
    alls = {r["_gr_all"] for r in out.collect()}
    assert alls == {10}


def test_global_primitives_guard_span_misses_loudly(spark):
    """global_positions and global_running_sum share grouped_running_sum's
    body and so its failure mode — a broadcast-back offset attached to a
    drifted row would silently corrupt pos/cum — and its raise_error
    span guard, wired into the plan under the entry point's own name yet
    never firing on the healthy path; the totals ride the output as plan
    columns."""
    from pb_etl_spark.operators.corpus import (
        global_positions,
        global_running_sum,
    )

    df = spark.createDataFrame(
        [(3, 10), (1, 20), (2, 30)], "o long, v long"
    )
    pos = global_positions(spark, df, ["o"])
    plan = pos._jdf.queryExecution().analyzed().toString()
    assert "global_positions offset-span miss" in plan, plan
    rows = pos.collect()
    assert {r["_gp_tot"] for r in rows} == {3}
    assert {(r["o"], r["pos"]) for r in rows} == {
        (1, 1),
        (2, 2),
        (3, 3),
    }
    cum = global_running_sum(spark, df, ["o"], "v")
    plan = cum._jdf.queryExecution().analyzed().toString()
    assert "global_running_sum offset-span miss" in plan, plan
    crows = cum.collect()
    assert {r["_gr_tot"] for r in crows} == {60}
    assert {(r["o"], r["cum"]) for r in crows} == {
        (1, 20),
        (2, 50),
        (3, 60),
    }
