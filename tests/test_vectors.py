"""Semantic tests for vector-compression ops (oracle parity is enforced
separately): reconstruction-quality bounds, codebook invariants, and
plan-shape assertions for the scale-critical paths."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_int8_quantization_codes_in_range_and_nontrivial(spark):
    from pb_etl_spark.operators.vectors import DIM, q_vector_quantize

    rows = q_vector_quantize(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_dims == DIM
        # |q| <= 127 per dim bounds the aggregates
        assert 0 <= r.l1_q <= 127 * DIM
        assert 0 <= r.l2_q <= 127 * 127 * DIM
    # max-abs scaling means at least one vector hits the extreme code
    assert any(r.l2_q >= 127 * 127 for r in rows)


def test_centroid_assignment_is_exhaustive_and_argmax(spark):
    from pb_etl_spark.operators.vectors import (
        CENTROIDS,
        N_CENTROIDS,
        q_centroid_assign,
    )
    from pb_etl_spark.catalog import read_table

    out = {r.vec_id: r for r in q_centroid_assign(spark, SF_DIR).collect()}
    emb = {
        r.vec_id: r.embedding
        for r in read_table(spark, SF_DIR, "embeddings").collect()
    }
    assert set(out) == set(emb)
    for vid, r in out.items():
        assert 0 <= r.centroid_id < N_CENTROIDS
        dots = [
            sum(float(x) * c for x, c in zip(emb[vid], CENTROIDS[k]))
            for k in range(N_CENTROIDS)
        ]
        assert max(dots) - dots[r.centroid_id] < 1e-6  # truly the argmax
        assert abs(r.dot - dots[r.centroid_id]) < 1e-4


def test_pq_reconstruction_beats_random_codebook_pick(spark):
    """Each chosen code's distance must be <= every alternative's —
    i.e. the encoder really minimizes, it doesn't just emit valid ids."""
    from pb_etl_spark.operators.vectors import (
        PQ_BOOKS,
        PQ_K,
        PQ_SUB_DIM,
        PQ_SUBSPACES,
        q_pq_codes,
    )
    from pb_etl_spark.catalog import read_table

    emb = {
        r.vec_id: r.embedding
        for r in read_table(spark, SF_DIR, "embeddings").limit(20).collect()
    }
    codes = (
        q_pq_codes(spark, SF_DIR)
        .filter(F.col("vec_id").isin(list(emb)))
        .collect()
    )
    assert len(codes) == len(emb) * PQ_SUBSPACES
    for r in codes:
        sv = [float(x) for x in emb[r.vec_id][r.subspace * PQ_SUB_DIM:(r.subspace + 1) * PQ_SUB_DIM]]
        dists = [
            math.sqrt(sum((x - c) ** 2 for x, c in zip(sv, PQ_BOOKS[r.subspace][k])))
            for k in range(PQ_K)
        ]
        assert dists[r.code] <= min(dists) + 1e-9
        assert abs(r.dist - dists[r.code]) < 1e-4


def test_dim_stats_match_numpy(spark):
    import numpy as np

    from pb_etl_spark.operators.vectors import q_dim_stats
    from pb_etl_spark.catalog import read_table

    mat = np.array(
        [r.embedding for r in read_table(spark, SF_DIR, "embeddings").collect()],
        dtype=np.float64,
    )
    stats = {r.pos: r for r in q_dim_stats(spark, SF_DIR).collect()}
    assert len(stats) == mat.shape[1]
    for pos in (0, mat.shape[1] // 2, mat.shape[1] - 1):
        assert abs(stats[pos].mean - mat[:, pos].mean()) < 1e-4
        assert abs(stats[pos].std - mat[:, pos].std(ddof=1)) < 1e-4
        assert abs(stats[pos].vmin - mat[:, pos].min()) < 1e-6
        assert abs(stats[pos].vmax - mat[:, pos].max()) < 1e-6


def test_pq_ann_recall_beats_random_and_reranks_exactly(spark):
    """The trained-codebook ADC + exact-re-rank path must behave like a
    real index: per-query recall@10 well above random (10/n ≈ 0.2 at
    this fixture), and every returned d2 must equal the true exact
    distance (the re-rank IS exact — only the candidate set is
    approximate)."""
    import collections

    import numpy as np

    from pb_etl_spark.catalog import read_table
    from pb_etl_spark.operators.vectors import q_ann_pq_topk

    rows = read_table(spark, SF_DIR, "embeddings").collect()
    m = np.stack([r.embedding for r in rows]).astype(np.float64)
    ids = np.array([r.vec_id for r in rows])
    idx = {v: i for i, v in enumerate(ids)}

    out = q_ann_pq_topk(spark, SF_DIR).collect()
    sel = collections.defaultdict(list)
    for r in out:
        sel[r.q_id].append(r)
    assert len(sel) == 5
    recalls = []
    for q, neigh in sorted(sel.items()):
        assert len(neigh) == 10
        true_d2 = ((m - m[idx[q]]) ** 2).sum(1)
        mask = ids != q
        exact_top = set(ids[mask][np.argsort(true_d2[mask])][:10])
        got = {r.n_id for r in neigh}
        recalls.append(len(exact_top & got) / 10)
        for r in neigh:  # d2 values are exact, not approximations
            assert abs(r.d2 - true_d2[idx[r.n_id]]) < 1e-4
        # ranks are ordered by the exact distance
        ds = [r.d2 for r in sorted(neigh, key=lambda r: r.rank)]
        assert ds == sorted(ds)
    assert sum(recalls) / len(recalls) >= 0.4, recalls
    assert min(recalls) >= 0.2, recalls


def test_quantize_broadcasts_scale_table(spark):
    """The 64-row per-dim scale table must join back as a broadcast —
    a shuffle join keyed on pos would serialize the whole corpus through
    64 reducers at scale."""
    from pb_etl_spark.operators.vectors import q_vector_quantize

    df = q_vector_quantize(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_ivf_partitioned_layout_prunes_probe_scans(spark, tmp_path):
    """The scale story for ANN probes, demonstrated: write the corpus
    PARTITIONED BY centroid cell, and a probe for two cells must (a)
    carry partition filters into the scan and (b) read exactly the rows
    assigned to those cells."""
    from pyspark.sql import functions as F

    from pb_etl_spark.catalog import read_table
    from pb_etl_spark.operators.vectors import q_centroid_assign

    assign = q_centroid_assign(spark, SF_DIR).select("vec_id", "centroid_id")
    emb = read_table(spark, SF_DIR, "embeddings").join(assign, "vec_id")
    path = str(tmp_path / "ivf_corpus")
    emb.write.partitionBy("centroid_id").parquet(path)

    probe = spark.read.parquet(path).filter(F.col("centroid_id").isin(1, 3))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan.split("PartitionFilters")[1][:200]
    expected = assign.filter(F.col("centroid_id").isin(1, 3)).count()
    assert probe.count() == expected > 0


def test_hard_negatives_never_share_the_query_label(spark):
    """Every mined negative must carry a label different from its query's,
    be ranked 1..TOP_K densely, and be at least as similar as any
    worse-ranked negative for the same query."""
    from pb_etl_spark.catalog import read_table
    from pb_etl_spark.operators.similarity import TOP_K, q_hard_negative_mining

    labels = {
        r.vec_id: r.label
        for r in read_table(spark, SF_DIR, "embeddings").select("vec_id", "label").collect()
    }
    rows = q_hard_negative_mining(spark, SF_DIR).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        assert labels[r.n_id] == r.neg_label != labels[r.q_id]
        by_q.setdefault(r.q_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, TOP_K + 1))
        assert all(a.cos >= b.cos for a, b in zip(rs, rs[1:]))


def test_mmr_first_pick_is_top_relevance_and_picks_diversify(spark):
    """MMR invariants: per query exactly MMR_K distinct picks drawn from
    the candidate pool; pick 1 equals the plain top-1 by relevance; and
    the MMR re-rank is a no-op only if it already was diverse — on this
    fixture at least one query must reorder vs plain top-k (the reason
    the operator exists)."""
    from pb_etl_spark.operators.similarity import (
        MMR_K,
        q_knn_cosine,
        q_mmr_diverse_topk,
    )

    mmr = q_mmr_diverse_topk(spark, SF_DIR).collect()
    knn = q_knn_cosine(spark, SF_DIR).collect()
    top1 = {r.q_id: r.n_id for r in knn if r.rank == 1}
    topk = {}
    for r in knn:
        topk.setdefault(r.q_id, set()).add(r.n_id)
    by_q: dict[int, list] = {}
    for r in mmr:
        by_q.setdefault(r.q_id, []).append(r)
    reordered = 0
    for q, rs in by_q.items():
        assert len(rs) == MMR_K
        assert len({r.n_id for r in rs}) == MMR_K
        first = min(rs, key=lambda r: r.pick)
        assert first.n_id == top1[q]
        if {r.n_id for r in rs} != topk[q]:
            reordered += 1
    assert reordered >= 1


def test_k_core_is_a_fixpoint_within_round_budget(spark):
    """The emitted 3-core must be a FIXPOINT: every in-core node's
    core_degree >= KC_K (one more peel round changes nothing), every
    out-of-core node has in_core False, and the core is non-trivial on
    the fixture (neither empty nor the whole graph)."""
    from pb_etl_spark.operators.clustering import KC_K, q_k_core_knn

    rows = q_k_core_knn(spark, SF_DIR).collect()
    core = {r.node for r in rows if r.in_core}
    assert 0 < len(core) < len(rows)
    for r in rows:
        if r.in_core:
            assert r.core_degree >= KC_K, r
        else:
            assert not r.in_core


def test_dot_norm_string_form_is_bit_identical_to_column_form(spark):
    from pb_etl_spark.operators.similarity import _dot, _norm

    df = spark.createDataFrame(
        [([1.5, -2.25, 3.0], [0.5, 4.0, -1.125])],
        "a array<double>, b array<double>",
    )
    row = df.select(
        _dot("a", "b").alias("ds"),
        _dot(F.col("a"), F.col("b")).alias("dc"),
        _norm("a").alias("ns"),
        _norm(F.col("a")).alias("nc"),
    ).collect()[0]
    assert row["ds"] == row["dc"]  # bit-equal doubles, same fold order
    assert row["ns"] == row["nc"]
