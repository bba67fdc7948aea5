"""Semantic invariants for the round-3 analytics/monitoring additions
(interval overlap, PSI, χ², CMS, histogram quantiles, sequence anomaly)
— conservation laws and order relations the oracle hash can't express."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events(spark):
    from pb_etl_spark.catalog import read_table

    return read_table(spark, SF_DIR, "events").cache()


def test_interval_overlap_symmetric_and_positive(spark):
    from pb_etl_spark.operators.temporal import q_interval_overlap_join

    out = q_interval_overlap_join(spark, SF_DIR).toPandas()
    assert (out["user_a"] < out["user_b"]).all()
    assert (out["n_overlaps"] >= 1).all()
    assert (out["overlap_secs"] > 0).all()
    # no user pair appears twice (exactly-once bucket emission + group)
    assert not out.duplicated(subset=["user_a", "user_b"]).any()


def test_psi_total_row_is_sum_of_bucket_terms(spark, events):
    from pb_etl_spark.operators.selection import q_psi_drift

    out = q_psi_drift(spark, SF_DIR).toPandas()
    total = out[out["bucket"] == -1].iloc[0]
    buckets = out[out["bucket"] != -1]
    assert abs(buckets["psi_term"].sum() - total["psi_term"]) < 1e-9
    assert total["n_a"] + total["n_b"] == events.count()
    assert total["psi_term"] >= 0  # PSI is a nonneg divergence


def test_chi2_total_and_marginals(spark, events):
    from pb_etl_spark.operators.selection import q_chi2_independence

    out = q_chi2_independence(spark, SF_DIR).toPandas()
    total = out[out["event_type"] == "TOTAL"].iloc[0]
    cells = out[out["event_type"] != "TOTAL"]
    assert total["observed"] == events.count()
    assert abs(cells["chi2_term"].sum() - total["chi2_term"]) < 1e-9
    assert (cells["chi2_term"] >= 0).all()
    # expected counts conserve N
    assert abs(cells["expected"].sum() - events.count()) < 1e-2


def test_cms_never_underestimates(spark):
    from pb_etl_spark.operators.retrieval import q_cms_token_counts

    out = q_cms_token_counts(spark, SF_DIR).toPandas()
    assert (out["est_count"] >= out["exact_count"]).all()


def test_histogram_quantile_error_bounded_by_bucket_width(spark):
    from pb_etl_spark.operators.advanced import HQ_BUCKETS, q_histogram_quantiles
    from pb_etl_spark.catalog import read_table

    mm = (
        read_table(spark, SF_DIR, "orders")
        .agg(F.min("o_totalprice"), F.max("o_totalprice"))
        .first()
    )
    width = (mm[1] - mm[0]) / HQ_BUCKETS
    out = q_histogram_quantiles(spark, SF_DIR).toPandas()
    assert len(out) == 3
    assert (
        (out["est_quantile"] - out["exact_quantile"]).abs() <= width + 1e-6
    ).all()


def test_sequence_anomaly_conserves_transitions(spark, events):
    from pb_etl_spark.operators.timeseries import q_sequence_anomaly

    out = q_sequence_anomaly(spark, SF_DIR).toPandas()
    n_events = events.count()
    n_users = events.select("user_id").distinct().count()
    assert out["n_transitions"].sum() == n_events - n_users
    assert (out["avg_nll"] >= 0).all()
    # a uniform 5-type model bounds avg NLL by ln(max 1/p); sanity ceiling
    assert out["avg_nll"].max() < math.log(1000)


def test_lang_id_confusion_recall_normalizes(spark):
    from pb_etl_spark.operators.text import q_lang_id_confusion

    out = q_lang_id_confusion(spark, SF_DIR).toPandas()
    sums = out.groupby("true_lang")["recall"].sum()
    assert ((sums - 1.0).abs() < 1e-5).all()


def test_bloom_filter_has_no_false_negatives(spark):
    from pb_etl_spark.operators.retrieval import q_bloom_doc_filter

    row = q_bloom_doc_filter(spark, SF_DIR).first()
    # THE Bloom guarantee: every true member is flagged
    assert row["n_flagged"] >= row["n_members"]
    assert row["n_flagged"] - row["n_members"] == row["n_false_positives"]
    assert 0 <= row["false_positive_rate"] < 0.05  # m=4096,k=4,n≈250


def test_entity_resolution_clusters_are_consistent(spark):
    from pb_etl_spark.catalog import read_table
    from pb_etl_spark.operators.clustering import q_entity_resolution
    from pb_etl_spark.operators.dedup import q_fuzzy_match_pairs

    ents = q_entity_resolution(spark, SF_DIR).toPandas().set_index("c_custkey")
    # cluster id is the component minimum — never above the member id
    assert (ents["entity_id"] <= ents.index).all()
    # every SAME-NATION matched pair landed in the same entity (matching
    # is attribute-constrained; cross-nation name collisions must NOT merge)
    nat = (
        read_table(spark, SF_DIR, "customer")
        .select("c_custkey", "c_nationkey")
        .toPandas()
        .set_index("c_custkey")["c_nationkey"]
    )
    pairs = q_fuzzy_match_pairs(spark, SF_DIR).toPandas()
    merged = same = 0
    for _, p in pairs.iterrows():
        if nat.loc[p["ia"]] == nat.loc[p["ib"]]:
            same += 1
            assert ents.loc[p["ia"], "entity_id"] == ents.loc[p["ib"], "entity_id"]
        elif ents.loc[p["ia"], "entity_id"] == ents.loc[p["ib"], "entity_id"]:
            merged += 1  # only via a legitimate same-nation path
    assert same > 0  # the constraint didn't silence the matcher entirely


def test_entity_resolution_cc_fallback_matches_union_find(spark):
    """The size-thresholded hybrid (clustering.py): forcing EVERY nation
    over the in-row bound (uf_max_members=0) must route all of them
    through the distributed pointer-jumping connected_components path
    and produce byte-identical entities to the default path, where every
    nation runs the in-plan ``nation_components`` fold — the two
    clustering paths are interchangeable."""
    from pb_etl_spark.operators.clustering import q_entity_resolution

    base = (
        q_entity_resolution(spark, SF_DIR)
        .toPandas()
        .sort_values("c_custkey")
        .reset_index(drop=True)
    )
    forced = (
        q_entity_resolution(spark, SF_DIR, uf_max_members=0)
        .toPandas()
        .sort_values("c_custkey")
        .reset_index(drop=True)
    )
    assert base.equals(forced)
    # and a MIXED split (some nations in-row, some CC): thresholding at the
    # median nation size exercises the union of both paths in one plan
    from pb_etl_spark.catalog import read_table

    nat_sizes = (
        read_table(spark, SF_DIR, "customer")
        .groupBy("c_nationkey")
        .count()
        .toPandas()["count"]
    )
    mid = int(nat_sizes.median())
    assert nat_sizes.min() <= mid < nat_sizes.max()  # both paths populated
    mixed = (
        q_entity_resolution(spark, SF_DIR, uf_max_members=mid)
        .toPandas()
        .sort_values("c_custkey")
        .reset_index(drop=True)
    )
    assert base.equals(mixed)


SCALE_DIR = __file__.rsplit("/tests/", 1)[0] + "/.scale/sf0.4"


@pytest.mark.skipif(
    not __import__("os").path.isdir(SCALE_DIR),
    reason="x4 scaled fixture not generated (tools/make_scaled_fixture.py 4)",
)
def test_entity_resolution_hybrid_both_paths_at_scale(spark):
    """Run the size-thresholded hybrid on the ×4 scaled fixture with a
    MID bound so BOTH the in-row ``nation_components`` path and the
    distributed CC path execute on real data in the same invocation —
    and match the all-in-row answer exactly."""
    from pb_etl_spark.catalog import read_table
    from pb_etl_spark.operators.clustering import q_entity_resolution

    nat_sizes = (
        read_table(spark, SCALE_DIR, "customer")
        .groupBy("c_nationkey")
        .count()
        .toPandas()["count"]
    )
    mid = int(nat_sizes.median())
    assert nat_sizes.min() <= mid < nat_sizes.max()  # both paths populated
    base = (
        q_entity_resolution(spark, SCALE_DIR)
        .toPandas()
        .sort_values("c_custkey")
        .reset_index(drop=True)
    )
    mixed = (
        q_entity_resolution(spark, SCALE_DIR, uf_max_members=mid)
        .toPandas()
        .sort_values("c_custkey")
        .reset_index(drop=True)
    )
    assert len(base) == read_table(spark, SCALE_DIR, "customer").count()
    assert base.equals(mixed)


@pytest.mark.skipif(
    not __import__("os").path.isdir(SCALE_DIR),
    reason="x4 scaled fixture not generated (tools/make_scaled_fixture.py 4)",
)
def test_fuzzy_match_pairs_matches_wildcard_method_at_scale(spark):
    """×4-scale correctness for the deletion-neighborhood blocking, by an
    INDEPENDENT method: the registered quadratic oracle is hours of DuckDB
    at sf0.4, but the fixture's c_name values are fixed-length and unique,
    so levenshtein≤1 pairs are exactly the Hamming-1 pairs (an insert or
    delete would change length; distance 0 would need duplicate names) —
    enumerated completely by wildcard-substitution keys, a different
    blocking than the engine's deletion keys."""
    import duckdb

    from pb_etl_spark.operators.dedup import q_fuzzy_match_pairs

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM '{SCALE_DIR}/customer.parquet'"
    )
    lo, hi, n, names = con.execute(
        "SELECT MIN(LENGTH(c_name)), MAX(LENGTH(c_name)), COUNT(*), "
        "COUNT(DISTINCT c_name) FROM customer"
    ).fetchone()
    assert lo == hi and n == names  # preconditions for Hamming-1 == lev<=1
    oracle = con.execute(
        """
        WITH wk AS (
            SELECT c_custkey AS id, c_name AS name,
                   concat(substr(c_name, 1, CAST(t.p AS INT) - 1), chr(1),
                          substr(c_name, CAST(t.p AS INT) + 1)) AS wkey
            FROM customer, LATERAL (
                SELECT UNNEST(range(1, LENGTH(c_name) + 1)) AS p
            ) t
        )
        SELECT DISTINCT a.id AS ia, b.id AS ib, CAST(1 AS BIGINT) AS dist
        FROM wk a JOIN wk b ON a.wkey = b.wkey AND a.id < b.id
        WHERE a.name <> b.name
        ORDER BY ia, ib
        """
    ).fetchdf()
    got = (
        q_fuzzy_match_pairs(spark, SCALE_DIR)
        .toPandas()
        .sort_values(["ia", "ib"])
        .reset_index(drop=True)[["ia", "ib", "dist"]]
    )
    assert len(got) == len(oracle) > 0
    assert got.equals(oracle.astype(got.dtypes.to_dict()))


def test_entity_resolution_construction_is_job_free(spark):
    """ADVICE r04: constructing q_entity_resolution must not run a Spark
    job in the common case. The footer-metadata guard decides the split
    from parquet file footers; an explicit big_nats skips even that."""
    from pb_etl_spark.operators.clustering import (
        _parquet_rows_at_most,
        q_entity_resolution,
    )

    path = f"{SF_DIR}/customer.parquet"
    import pyarrow.parquet as pq

    n = pq.ParquetFile(path).metadata.num_rows
    assert _parquet_rows_at_most(path, n)  # exact bound: provable
    assert not _parquet_rows_at_most(path, n - 1)  # one under: not
    assert not _parquet_rows_at_most("/nonexistent.parquet", 10**9)  # err→False
    # default construction takes the metadata fast path: the only jobs
    # allowed are Spark's own single-task parquet schema-inference reads
    # (inherent to spark.read.parquet); the old groupBy+collect split
    # job (multi-stage shuffle) must be gone
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    df = q_entity_resolution(spark, SF_DIR)
    new_jobs = set(tracker.getJobIdsForGroup(None)) - before
    for j in new_jobs:
        stages = tracker.getJobInfo(j).stageIds
        assert len(stages) == 1, f"construction ran a shuffle job {j}"
        si = tracker.getStageInfo(stages[0])
        assert "parquet" in si.name and si.numTasks == 1, si.name
    # explicit big_nats routes identically to the auto decision
    base = df.toPandas().sort_values("c_custkey").reset_index(drop=True)
    explicit = (
        q_entity_resolution(spark, SF_DIR, big_nats=[])
        .toPandas()
        .sort_values("c_custkey")
        .reset_index(drop=True)
    )
    assert base.equals(explicit)


def test_ddsketch_construction_is_job_free(spark):
    """ADVICE r07: building q_ddsketch_quantiles must not run a Spark job.
    The narrower-than-cluster repartition guard derives the scan width
    from the file listing (_scan_width), never from DataFrame.rdd — under
    AQE the latter executes intermediate query stages whenever the plan
    holds an exchange. Mirrors the entity_resolution construction test."""
    from pb_etl_spark.operators.retrieval import _scan_width, q_ddsketch_quantiles

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    df = q_ddsketch_quantiles(spark, SF_DIR)
    new_jobs = set(tracker.getJobIdsForGroup(None)) - before
    for j in new_jobs:
        # only Spark's own single-task parquet schema-inference reads are
        # inherent to spark.read.parquet; any shuffle job means the guard
        # regressed to a plan-executing probe
        stages = tracker.getJobInfo(j).stageIds
        assert len(stages) == 1, f"construction ran a shuffle job {j}"
        si = tracker.getStageInfo(stages[0])
        assert "parquet" in si.name and si.numTasks == 1, si.name
    assert df.columns == ["q", "bucket", "est_price", "n_rows"]
    # the estimate itself: the sf0.001 single-file fixture is narrower
    # than any multi-core cluster, and the fallback path (file count)
    # agrees with the footer path at one file
    from pb_etl_spark.catalog import read_table

    li = read_table(spark, SF_DIR, "lineitem")
    w = _scan_width(spark, li)
    assert 1 <= w <= len(li.inputFiles()) + 8
    assert _scan_width(spark, li.limit(0).select(F.lit(1).alias("x"))) >= 1


def test_ab_test_accounting(spark, events):
    from pb_etl_spark.operators.timeseries import q_ab_test_zscore

    out = q_ab_test_zscore(spark, SF_DIR).toPandas().set_index("variant")
    n_users = events.select("user_id").distinct().count()
    assert out.loc["A", "n_users"] + out.loc["B", "n_users"] == n_users
    assert out.loc["__test__", "n_users"] == n_users
    assert (
        out.loc["__test__", "n_converted"]
        == out.loc["A", "n_converted"] + out.loc["B", "n_converted"]
    )


def test_conversion_latency_nonnegative_and_bounded(spark, events):
    from pb_etl_spark.operators.timeseries import q_conversion_latency

    out = q_conversion_latency(spark, SF_DIR).toPandas()
    assert (out["mean_latency_secs"] >= 0).all()
    assert (out["median_latency_secs"] >= 0).all()
    n_users = events.select("user_id").distinct().count()
    assert out["n_converters"].sum() <= n_users


def test_time_interpolate_matches_events_at_exact_hours(spark, events):
    from pb_etl_spark.operators.temporal import GAP_FILL_USERS, q_time_interpolate

    out = q_time_interpolate(spark, SF_DIR)
    # grid rows count: per user, hours between trunc(min) and trunc(max)
    spans = (
        events.filter(F.col("user_id") < GAP_FILL_USERS)
        .groupBy("user_id")
        .agg(
            (
                (
                    F.unix_micros(F.date_trunc("hour", F.max("ts")))
                    - F.unix_micros(F.date_trunc("hour", F.min("ts")))
                )
                / 3_600_000_000
                + 1
            ).alias("n_hours")
        )
    )
    expected = int(spans.agg(F.sum("n_hours")).first()[0])
    assert out.count() == expected
    pdf = out.toPandas()
    # interior points are interpolations: all non-null except possibly the
    # first grid point of each user (before their first event)
    n_null = pdf["value_interp"].isna().sum()
    n_users = spans.count()
    assert n_null <= 2 * n_users


def test_association_rules_accounting(spark):
    """Directed-rule invariants: pair counts and lift are symmetric in
    (antecedent, consequent), confidence = support/antecedent-share, and
    every emitted rule clears the minimum-support bar."""
    from pb_etl_spark.operators.affinity import AR_MIN_SUPPORT_PCT, q_association_rules

    df = q_association_rules(spark, SF_DIR).toPandas()
    assert len(df) > 0
    by_pair = {(r.antecedent, r.consequent): r for r in df.itertuples()}
    for (a, b), r in by_pair.items():
        rev = by_pair.get((b, a))
        assert rev is not None, (a, b)
        assert r.pair_n == rev.pair_n
        assert abs(r.lift - rev.lift) < 1e-9
        assert r.support * 100 >= AR_MIN_SUPPORT_PCT - 1e-9
        assert 0.0 < r.confidence <= 1.0


def test_item_item_cosine_bounds(spark):
    """Cosine over non-negative quantity vectors lies in (0, 1], and all
    C(|types|, 2) unordered pairs are present (every type co-occurs)."""
    from pb_etl_spark.operators.affinity import q_item_item_cosine

    df = q_item_item_cosine(spark, SF_DIR).toPandas()
    n_types = len(set(df.item_a) | set(df.item_b))
    assert len(df) == n_types * (n_types - 1) // 2
    assert ((df.cos > 0) & (df.cos <= 1.0)).all()


def test_rfm_quintiles_are_balanced(spark):
    """Each score column splits customers into 5 near-equal buckets
    (rank-based exact quintiles: sizes differ by at most 1), and the
    segment digits reconstruct the three scores."""
    from pb_etl_spark.operators.affinity import q_rfm_segments

    df = q_rfm_segments(spark, SF_DIR).toPandas()
    assert df.c_custkey.is_unique
    for col in ("r_score", "f_score", "m_score"):
        sizes = df[col].value_counts()
        assert set(sizes.index) == {1, 2, 3, 4, 5}
        assert sizes.max() - sizes.min() <= 1, (col, dict(sizes))
    assert (df.segment == df.r_score * 100 + df.f_score * 10 + df.m_score).all()


def test_target_encoding_shrinks_toward_prior(spark):
    """Smoothing: each category's encoding lies strictly between its raw
    mean and the global prior (or equals both when they coincide), and
    the category means aggregate back to the global mean."""
    from pb_etl_spark.operators.affinity import q_target_encoding

    df = q_target_encoding(spark, SF_DIR).toPandas()
    gmean = (df.raw_mean * df.n_customers).sum() / df.n_customers.sum()
    for r in df.itertuples():
        lo, hi = sorted((r.raw_mean, gmean))
        assert lo - 1e-6 <= r.encoded <= hi + 1e-6, r


def test_benford_shares_account(spark):
    from pb_etl_spark.operators.governance import q_benford_digit_test

    rows = q_benford_digit_test(spark, SF_DIR).collect()
    assert {r.digit for r in rows} <= set(range(1, 10))
    assert abs(sum(r.obs_share for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.benford_share for r in rows) - 1.0) < 1e-3
    assert all(r.chi2_contrib >= 0 for r in rows)


def test_gini_bounds_and_share_ordering(spark):
    from pb_etl_spark.operators.affinity import q_gini_concentration

    r = q_gini_concentration(spark, SF_DIR).collect()[0]
    assert 0.0 <= r.gini < 1.0
    assert 0.0 < r.top1pct_share <= r.top10pct_share <= 1.0
    # top-10% of customers must hold at least 10% of revenue (sorted
    # tail dominance)
    assert r.top10pct_share >= 0.1 - 1e-9


def test_sprt_decision_consistency(spark):
    from pb_etl_spark.operators.timeseries import (
        SPRT_LOWER,
        SPRT_UPPER,
        q_sprt_decision,
    )

    rows = q_sprt_decision(spark, SF_DIR).collect()
    assert {r.variant for r in rows} == {"A", "B"}
    for r in rows:
        assert 1 <= r.n_at_decision <= r.n_obs_total
        if r.decision == "accept_h1":
            assert r.llr_at_decision >= SPRT_UPPER - 1e-6
        elif r.decision == "accept_h0":
            assert r.llr_at_decision <= SPRT_LOWER + 1e-6
        else:
            assert r.decision == "continue"
            assert SPRT_LOWER < r.llr_at_decision < SPRT_UPPER
            assert r.n_at_decision == r.n_obs_total


def test_revenue_bridge_effects_reconcile(spark):
    """The three bridge effects must walk exactly from rev0 to rev1:
    volume + price + joint == Δrev (to rounding) per brand."""
    from pb_etl_spark.operators.affinity import q_revenue_bridge

    for r in q_revenue_bridge(spark, SF_DIR).collect():
        delta = (r.rev1 - r.rev0) / 100.0
        walk = r.volume_effect + r.price_effect + r.joint_effect
        assert abs(walk - delta) < 5e-6, (r.brand, walk, delta)


def test_stats_reset_checkpoint_keeps_plan_stats_bounded(spark):
    """Regression for the iterative-loop BigInteger overflow:
    ``localCheckpoint`` snapshots the optimized plan's Statistics into
    the LogicalRDD (SPARK-39834), so a loop that joins each round's
    frame with itself SQUARES the carried sizeInBytes estimate per
    round — java.math.BigInteger dies near round ~25, which is exactly
    where the ×4 fixture's name chains pushed connected_components.
    ``stats_reset_checkpoint`` must keep the estimate flat (and the
    plain checkpoint must demonstrably grow, so the probe itself stays
    honest if Spark changes the snapshot behavior)."""
    import pyspark.sql.functions as F

    from pb_etl_spark.session import stats_reset_checkpoint

    def one_round(df, cp):
        parents = df.select(
            F.col("id").alias("pid"), F.col("cluster_id").alias("parent")
        )
        return cp(
            df.join(parents, df.cluster_id == parents.pid, "left").select(
                "id",
                F.least(
                    "cluster_id", F.coalesce("parent", "cluster_id")
                ).alias("cluster_id"),
            )
        )

    def bits(df):
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        ).bit_length()

    base = spark.range(100).select("id", F.col("id").alias("cluster_id"))

    plain = one_round(base, lambda d: d.localCheckpoint(eager=True))
    b1 = bits(plain)
    plain = one_round(plain, lambda d: d.localCheckpoint(eager=True))
    assert bits(plain) > b1  # snapshot carried → estimate compounds

    reset = base
    for _ in range(6):
        reset = one_round(reset, stats_reset_checkpoint)
    assert bits(reset) <= 64  # flat at defaultSizeInBytes, round-count-free
    assert reset.count() == 100  # and the frame still computes
