"""Semantic tests for the data-selection/monitoring operators
(pb_etl_spark/operators/selection.py + kmv_jaccard_sources): each checks
the MATH against an independent reference (numpy lstsq, exact Jaccard,
recomputed invariants) — oracle string parity is covered separately by
test_oracle_parity.py."""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_ols2_matches_numpy_lstsq(spark):
    """The closed-form normal-equation solve must agree with numpy's
    QR-based lstsq on the same design matrix, per group."""
    from pb_etl_spark.operators.selection import q_ols2_per_group

    got = {
        r["source"]: r
        for r in q_ols2_per_group(spark, SF_DIR).collect()
    }
    doc = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "source", "text", "n_chars"
    )
    rows = doc.collect()
    by_src: dict[str, list[tuple[float, float, float]]] = {}
    for r in rows:
        x1 = float(len(r["text"].split(" ")))
        x2 = float(r["text"].count("."))
        by_src.setdefault(r["source"], []).append((x1, x2, float(r["n_chars"])))
    for src, pts in by_src.items():
        assert got[src]["n_docs"] == len(pts)
        if got[src]["beta_tokens"] is None:
            continue  # singular group (guarded NULL) — nothing to compare
        A = np.array([[x1, x2, 1.0] for x1, x2, _ in pts])
        y = np.array([y for _, _, y in pts])
        sol, *_ = np.linalg.lstsq(A, y, rcond=None)
        assert got[src]["beta_tokens"] == pytest.approx(sol[0], abs=1e-4)
        assert got[src]["beta_periods"] == pytest.approx(sol[1], abs=1e-4)
        assert got[src]["intercept"] == pytest.approx(sol[2], abs=1e-4)


def test_dsir_weights_favor_target_language(spark):
    """DSIR importance weights score target-distribution (en) documents
    higher on average than the rest — the selection signal the
    resampler consumes."""
    from pb_etl_spark.operators.selection import q_dsir_weights

    rows = q_dsir_weights(spark, SF_DIR).collect()
    en = [r["log_weight"] for r in rows if r["lang"] == "en"]
    other = [r["log_weight"] for r in rows if r["lang"] != "en"]
    assert en and other
    assert float(np.mean(en)) > float(np.mean(other))


def test_vocab_drift_g2_formula(spark):
    """Spot-recompute Dunning G² for the top token from its reported
    contingency counts; also: G² non-negative, descending order."""
    from pb_etl_spark.operators.selection import q_vocab_drift

    out = q_vocab_drift(spark, SF_DIR).collect()
    assert out, "drift monitor returned no rows"
    g2s = [r["g2"] for r in out]
    assert all(g >= 0 for g in g2s)
    assert g2s == sorted(g2s, reverse=True)

    tok = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .selectExpr(
            "doc_id % 2 = 1 AS is_new", "explode(split(text, ' ')) AS w"
        )
        .collect()
    )
    n1 = sum(1 for r in tok if r["is_new"])
    n2 = len(tok) - n1
    top = out[0]
    k11, k12 = top["c_new"], top["c_old"]
    k21, k22 = n1 - k11, n2 - k12

    def xlx(x: int) -> float:
        return x * np.log(x) if x > 0 else 0.0

    g2 = 2.0 * (
        xlx(k11) + xlx(k12) + xlx(k21) + xlx(k22)
        - xlx(k11 + k12) - xlx(k21 + k22)
        - xlx(k11 + k21) - xlx(k12 + k22)
        + xlx(n1 + n2)
    )
    assert top["g2"] == pytest.approx(g2, abs=1e-4)
    assert top["rate_new"] == pytest.approx(k11 / n1, abs=1e-6)


def test_vocab_drift_from_cells_empty_input(spark):
    """SUM over zero cells is NULL — an empty snapshot pair (e.g. a
    stream drain that produced no state) must yield an EMPTY report
    with the normal schema, not an int(None) TypeError (ADVICE r13)."""
    from pb_etl_spark.operators.selection import vocab_drift_from_cells

    cells = spark.createDataFrame([], "w string, k11 long, k12 long")
    out = vocab_drift_from_cells(cells)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == [
        "token", "c_new", "c_old", "rate_new", "rate_old", "g2",
    ]
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "string", "bigint", "bigint", "double", "double", "double",
    ]


def test_shard_manifest_partitions_the_corpus_exactly(spark):
    """Shards must tile the corpus: token/doc totals match the raw
    corpus, ids are contiguous from 0, every shard except the last
    STARTS inside its budget window, and the content signature equals
    the independently recomputed digest sum."""
    import hashlib

    from pb_etl_spark.operators.selection import SHARD_BUDGET, q_shard_manifest

    out = sorted(
        q_shard_manifest(spark, SF_DIR).collect(), key=lambda r: r["shard_id"]
    )
    doc = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    docs = doc.collect()
    total_toks = sum(len(r["text"].split(" ")) for r in docs)
    assert sum(r["n_tokens"] for r in out) == total_toks
    assert sum(r["n_docs"] for r in out) == len(docs)
    assert [r["shard_id"] for r in out] == list(range(len(out)))

    # replay the permutation + cumsum in plain Python
    perm = sorted(
        (
            hashlib.md5(f"epoch0:{r['doc_id']}".encode()).hexdigest(),
            r["doc_id"],
            len(r["text"].split(" ")),
        )
        for r in docs
    )
    cum, shard_docs = 0, {}
    for sk, doc_id, n_tok in perm:
        shard = cum // SHARD_BUDGET
        shard_docs.setdefault(shard, []).append(doc_id)
        cum += n_tok
    for r in out:
        expect = shard_docs[r["shard_id"]]
        assert r["n_docs"] == len(expect)
        sig = sum(
            int(hashlib.md5(str(d).encode()).hexdigest()[:12], 16)
            for d in expect
        )
        assert r["content_sig"] == sig


def test_kmv_jaccard_tracks_exact_jaccard(spark):
    """The sketch estimate must sit within sampling error of the exact
    per-pair vocabulary Jaccard (k=128 ⇒ s.e. ≲ 0.05)."""
    from pb_etl_spark.operators.retrieval import q_kmv_jaccard_sources

    est = {
        (r["sa"], r["sb"]): r["jaccard_est"]
        for r in q_kmv_jaccard_sources(spark, SF_DIR).collect()
    }
    assert est
    doc = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "source", "text"
    )
    vocab: dict[str, set[str]] = {}
    for r in doc.collect():
        vocab.setdefault(r["source"], set()).update(r["text"].split(" "))
    errs = []
    for (sa, sb), j_est in est.items():
        a, b = vocab[sa], vocab[sb]
        j_exact = len(a & b) / len(a | b)
        errs.append(abs(j_est - j_exact))
    assert max(errs) < 0.2
    assert float(np.mean(errs)) < 0.06


def test_vocab_drift_from_cells_one_sided_empty_snapshot():
    """EXACTLY ONE empty snapshot (a first-ever drain, or a window with
    no new traffic) must not crash: the empty side's rate divides by a
    LITERAL zero, which Spark 4's default ANSI mode raises at PLAN
    BUILD time (constant folding), before any row runs. The guarded
    rate emits NULL — the same thing the batch oracle computes (DuckDB
    division by zero is NULL). Runs on a dedicated ANSI session: the
    shared test session may carry non-vanilla confs, and the driver's
    harness is ANSI-default."""
    from pyspark.sql import SparkSession

    from pb_etl_spark.operators.selection import vocab_drift_from_cells

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("ansi_drift_probe")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        cells = spark.createDataFrame(
            [("a", 3, 0), ("b", 1, 0)], "w string, k11 long, k12 long"
        )
        rows = {r["token"]: r for r in vocab_drift_from_cells(cells).collect()}
        assert rows["a"]["rate_new"] is not None
        assert rows["a"]["rate_old"] is None and rows["b"]["rate_old"] is None
        # and the mirrored case (empty NEW snapshot)
        cells2 = spark.createDataFrame(
            [("a", 0, 5)], "w string, k11 long, k12 long"
        )
        r2 = vocab_drift_from_cells(cells2).collect()[0]
        assert r2["rate_new"] is None and r2["rate_old"] is not None
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_ks_mann_whitney_matches_python_model(spark):
    """Both statistics re-derived from scratch in Python over the same
    collected values — including a brute-force O(n_a*n_b) Mann-Whitney U
    (pair counting with half-credit ties), which independently verifies
    the doubled-midrank algebra the query uses."""
    from pb_etl_spark.catalog import read_table
    from pb_etl_spark.operators.selection import q_ks_mann_whitney

    rows = (
        read_table(spark, SF_DIR, "documents")
        .select(F.size(F.split("text", " ")).alias("v"), "lang")
        .collect()
    )
    a = [r["v"] for r in rows if r["lang"] == "en"]
    b = [r["v"] for r in rows if r["lang"] != "en"]
    n_a, n_b = len(a), len(b)
    ca, cb = Counter(a), Counter(b)
    cum_a = cum_b = d_num = s2 = ties = 0
    for v in sorted(set(a) | set(b)):
        ta, tb = ca.get(v, 0), cb.get(v, 0)
        before = cum_a + cum_b
        cum_a, cum_b = cum_a + ta, cum_b + tb
        d_num = max(d_num, abs(cum_a * n_b - cum_b * n_a))
        t = ta + tb
        s2 += ta * (2 * before + t + 1)
        ties += t * t * t - t
    u1 = (s2 - n_a * (n_a + 1)) / 2.0
    u_brute = sum((x > y) + 0.5 * (x == y) for x in a for y in b)
    assert u1 == u_brute, "doubled-midrank algebra disagrees with pair counting"
    n = n_a + n_b
    mu = n_a * n_b / 2.0
    sig2 = n_a * n_b / 12.0 * ((n + 1.0) - ties / (n * (n - 1.0)))
    z = (u1 - mu) / math.sqrt(sig2)
    [r] = q_ks_mann_whitney(spark, SF_DIR).collect()
    assert (r["n_a"], r["n_b"], r["ks_d_num"]) == (n_a, n_b, d_num)
    assert r["mw_u1"] == u1
    assert abs(r["ks_d"] - d_num / (n_a * n_b)) < 1e-9
    assert abs(r["mw_z"] - z) < 1e-6


def test_two_sample_rank_tests_raise_on_degenerate_inputs(spark):
    """One-sided or all-tied inputs make the statistics 0/0; the helper
    must raise its curated error instead of emitting silent NaN."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from pb_etl_spark.operators.selection import two_sample_rank_tests

    one_sided = spark.createDataFrame(
        [(1, 3, 0), (2, 4, 0)], "v long, cnt_a long, cnt_b long"
    )
    with pytest.raises((Py4JJavaError, SparkRuntimeException)) as e1:
        two_sample_rank_tests(one_sided).collect()
    assert "undefined" in str(e1.value)
    all_tied = spark.createDataFrame(
        [(7, 3, 4)], "v long, cnt_a long, cnt_b long"
    )
    with pytest.raises((Py4JJavaError, SparkRuntimeException)) as e2:
        two_sample_rank_tests(all_tied).collect()
    assert "undefined" in str(e2.value)


def test_source_drift_matrix_matches_python_model(spark):
    """Every pair's exact KS numerator must equal the direct two-sample
    ECDF comparison computed in Python over the same token counts, and
    the matrix must cover exactly the |sources| -choose- 2 ordered
    pairs."""
    from itertools import combinations

    from pb_etl_spark.catalog import read_table
    from pb_etl_spark.operators.selection import q_source_drift_matrix

    docs = (
        read_table(spark, SF_DIR, "documents")
        .select("source", F.size(F.split("text", " ")).alias("v"))
        .collect()
    )
    vals: dict[str, list] = {}
    for r in docs:
        vals.setdefault(r["source"], []).append(r["v"])
    grid = sorted({v for vs in vals.values() for v in vs})
    want = {}
    for sa, sb in combinations(sorted(vals), 2):
        a, b = vals[sa], vals[sb]
        n_a, n_b = len(a), len(b)
        d = max(
            abs(
                sum(x <= v for x in a) * n_b
                - sum(x <= v for x in b) * n_a
            )
            for v in grid
        )
        want[(sa, sb)] = (n_a, n_b, d, round(d / (n_a * n_b), 9))
    got = {
        (r["source_a"], r["source_b"]): (
            r["n_a"],
            r["n_b"],
            r["ks_d_num"],
            r["ks_d"],
        )
        for r in q_source_drift_matrix(spark, SF_DIR).collect()
    }
    assert got == want
