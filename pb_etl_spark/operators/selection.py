"""Data-selection and corpus-monitoring operators: the analytics a
training-data pipeline runs to DECIDE what goes into a run — per-segment
closed-form model fits, importance-weighted selection (DSIR), snapshot
drift detection, and token-budget shard assignment for the release.

Reference parity note: the reference (``/root/reference/pb_etl``) trains
ONE model over the whole feature frame; these operators extend the same
engine to the fleet-of-tiny-models / select-then-train shapes a 100 TB
corpus needs. Everything is built-in ``pyspark.sql.functions`` — no
Python UDF anywhere, so cost is scan + shuffle rate.

Cross-engine determinism design (the property every oracle here leans
on): all model inputs are INTEGER-VALUED (token counts, character
counts, bucket counts). Sums of integer-valued doubles below 2^53 are
EXACT regardless of partial-aggregation order, so the downstream scalar
algebra (normal equations, log-likelihood ratios, smoothed log odds)
receives bit-identical operands in Spark and DuckDB and — because both
engines evaluate the identical IEEE-754 expression tree — produces
bit-identical doubles. No tolerance needed; ROUND only formats.

Scale design, per operator:

- ``ols2_per_group``: a 2-feature OLS per group is NINE grouped sums
  (map-side combinable, one shuffle) + a scalar 2×2 normal-equation
  solve as a projection. "Train a million tiny models" with no Python,
  no per-group collect, no iteration. The applyInPandas/sklearn variant
  is only needed once a model has no aggregate closed form.
- ``dsir_weights``: DSIR (Xie et al. 2023, arXiv:2302.03169) hashed
  importance weights. The two n-gram models are bucket-count aggregates
  (bounded: N_DSIR_BUCKETS rows each — broadcast-sized whatever the
  corpus size); scoring is one broadcast join on the bucket id + a
  per-document sum. Corpus touched twice (model pass, scoring pass).
- ``vocab_drift``: per-token Dunning G² between two corpus snapshots —
  two grouped counts + a fixed scalar formula, then a global top-k
  (TakeOrderedAndProject, no full sort). The "did the crawl change
  under me" monitor that gates a retrain.
- ``shard_manifest``: token-budget shard assignment needs a GLOBAL
  running token total over the release order; that cumsum comes from
  ``global_running_sum`` (range partition + per-partition window +
  broadcast-back offsets, one action), so no single-partition window exists in
  the plan. Per-shard rollup is bounded (corpus_tokens/budget rows).
  The order-independent content signature (sum of per-doc 48-bit
  digests) lets a resumed/re-run release prove shard equality without
  re-reading bodies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from pb_etl_spark.catalog import read_table
from pb_etl_spark.operators._width import fanout_width
from pb_etl_spark.operators.corpus import (
    SHUFFLE_SALT,
    _tokens,
    global_running_sum,
    shuffle_key,
)


# ---------------------------------------------------------------------------
# ols2_per_group — closed-form multi-feature OLS via normal equations
# ---------------------------------------------------------------------------


def q_ols2_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source 2-feature OLS fit n_chars ~ n_tokens + n_periods,
    solved in closed form from the normal equations — nine grouped sums
    and a 2×2 inverse as a projection. The multi-feature step up from
    ``per_source_regression``'s REGR_* single-feature fit.

    Determinism: x1, x2, y are integer counts, so every grouped sum is
    exact (see module docstring) and the scalar solve is bit-identical
    cross-engine. A singular system (det == 0 — e.g. a one-document
    group) yields NULL coefficients on both engines by an explicit
    guard, never an engine-specific division-by-zero artifact."""
    doc = read_table(spark, sf_dir, "documents")
    x1 = F.size(_tokens()).cast("double")
    x2 = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit("."), F.lit("")))
    ).cast("double")
    y = F.col("n_chars").cast("double")
    d = doc.select("source", x1.alias("x1"), x2.alias("x2"), y.alias("y"))
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    n = F.col("n")
    a11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    a12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    a22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    b1 = F.col("s1y") - F.col("s1") * F.col("sy") / n
    b2 = F.col("s2y") - F.col("s2") * F.col("sy") / n
    det = a11 * a22 - a12 * a12
    beta1 = (a22 * b1 - a12 * b2) / det
    beta2 = (a11 * b2 - a12 * b1) / det
    alpha = (F.col("sy") - beta1 * F.col("s1") - beta2 * F.col("s2")) / n
    ok = det != F.lit(0.0)
    return g.select(
        "source",
        n.cast("long").alias("n_docs"),
        F.round(F.when(ok, beta1), 6).alias("beta_tokens"),
        F.round(F.when(ok, beta2), 6).alias("beta_periods"),
        F.round(F.when(ok, alpha), 6).alias("intercept"),
    )


_OLS2_ORACLE = """
    WITH d AS (
        SELECT source,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS x1,
               CAST(length(text) - length(replace(text, '.', '')) AS DOUBLE) AS x2,
               CAST(n_chars AS DOUBLE) AS y
        FROM documents
    ),
    g AS (
        SELECT source,
               CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
               SUM(x1 * x1) AS s11, SUM(x2 * x2) AS s22, SUM(x1 * x2) AS s12,
               SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y
        FROM d GROUP BY source
    ),
    m AS (
        SELECT source, n, s1, s2, sy,
               s11 - s1 * s1 / n AS a11,
               s12 - s1 * s2 / n AS a12,
               s22 - s2 * s2 / n AS a22,
               s1y - s1 * sy / n AS b1,
               s2y - s2 * sy / n AS b2
        FROM g
    ),
    sol AS (
        SELECT source, n, s1, s2, sy,
               a11 * a22 - a12 * a12 AS det,
               a11, a12, a22, b1, b2
        FROM m
    ),
    beta AS (
        SELECT source, n, s1, s2, sy, det,
               (a22 * b1 - a12 * b2) / det AS beta1,
               (a11 * b2 - a12 * b1) / det AS beta2
        FROM sol
    )
    SELECT source,
           CAST(n AS BIGINT) AS n_docs,
           ROUND(CASE WHEN det <> 0 THEN beta1 END, 6) AS beta_tokens,
           ROUND(CASE WHEN det <> 0 THEN beta2 END, 6) AS beta_periods,
           ROUND(CASE WHEN det <> 0
                      THEN (sy - beta1 * s1 - beta2 * s2) / n END, 6) AS intercept
    FROM beta
"""


# ---------------------------------------------------------------------------
# dsir_weights — hashed importance weights (DSIR)
# ---------------------------------------------------------------------------

N_DSIR_BUCKETS = 512


def _bucket(col):
    """Deterministic feature bucket: top 32 bits of md5, mod B — the
    same md5-prefix hash family every other cross-engine operator uses
    (e.g. feature_hashing, kmv_distinct_sketch)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
        % N_DSIR_BUCKETS
    )


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169): score
    every raw document by log P_target(doc) − log P_raw(doc) under two
    hashed unigram bucket models — target = the English slice (stand-in
    for any small high-quality target set), raw = the whole corpus.
    High weight ⇒ the document looks like the target distribution;
    downstream selection resamples proportionally to exp(weight).

    Both models are one grouped count over the hashed-token stream
    (bounded output: N_DSIR_BUCKETS rows), add-1 smoothed. Scoring joins
    each document's per-bucket counts (integers — exact sums) against
    the broadcast-sized log-ratio table. The per-bucket log ratio is
    quantized to an int64 NANO grid (ROUND(λ·1e9) — one deterministic
    op on identical double inputs), so the per-document Σ c·λ is pure
    int64 arithmetic: order-independent, hence hash-identical across
    engines. 9-dp double rounding alone is NOT enough — at sf0.01 two
    documents landed exactly on a ROUND(·,6) half-boundary where
    Spark's and DuckDB's summation orders disagreed."""
    doc = read_table(spark, sf_dir, "documents")
    # explode multiplies rows |tokens|× and md5-hashes each token:
    # spread docs across cores FIRST (compact fixture files are one
    # scan task; A/B at sf0.1: 0.41 s spread vs 0.75 s single-task);
    # width is data-proportional via the shared fanout_width (r13 —
    # the r11-condemned core-count width held here until the re-pin)
    n_parts = fanout_width(spark)
    tok = (
        doc.repartition(n_parts, "doc_id")
        .select("doc_id", "lang", F.explode(_tokens()).alias("w"))
        .withColumn("b", _bucket(F.col("w")))
    )
    # per-(doc, bucket) integer counts: exact, and shrinks the join input.
    # lang rides along (functionally dependent on doc_id) so the final
    # projection needs no second corpus scan.
    db = tok.groupBy("doc_id", "lang", "b").agg(F.count(F.lit(1)).alias("c"))
    # BOTH bucket models in ONE conditional-aggregate pass (raw count +
    # target count per bucket), and the two totals read off the bounded
    # bucket table — one corpus aggregation instead of four. The model
    # (≤ N_DSIR_BUCKETS rows) is an eager checkpoint, not a cache.pin:
    # pinned, the query measured ~0.1 s slower at sf0.01
    model = tok.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ct"),
    ).localCheckpoint(eager=True)
    tot_raw = model.select(F.sum("cr")).scalar()
    tot_tgt = model.select(F.sum("ct")).scalar()
    lam = model.select(
        "b",
        F.round(
            (
                F.log(
                    (F.col("ct") + 1) / (tot_tgt + N_DSIR_BUCKETS).cast("double")
                )
                - F.log(
                    (F.col("cr") + 1) / (tot_raw + N_DSIR_BUCKETS).cast("double")
                )
            )
            * F.lit(1e9),
            0,
        )
        .cast("long")
        .alias("lam"),
    )
    # Σ c·λ is exact int64 nanos; the 6-dp result is produced by INTEGER
    # half-away-from-zero rounding to micro-units (never ROUND(double):
    # Spark rounds the exact BigDecimal expansion, DuckDB multiplies by
    # 1e6 first — they disagree on half-boundaries) and one final double
    # division, which is bit-identical cross-engine.
    s = F.sum(F.col("c") * F.col("lam"))
    micro = (
        F.when(s < 0, F.lit(-1)).otherwise(F.lit(1))
        * F.floor((F.abs(s) + F.lit(500)) / F.lit(1000)).cast("long")
    )
    return (
        db.join(F.broadcast(lam), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").cast("long").alias("n_toks"),
            (micro.cast("double") / F.lit(1e6)).alias("log_weight"),
        )
        .select("doc_id", "lang", "n_toks", "log_weight")
    )


_DSIR_ORACLE = f"""
    WITH tok AS (
        SELECT doc_id, lang,
               CAST('0x' || substring(md5(unnest(string_split(text, ' '))), 1, 8)
                    AS BIGINT) % {N_DSIR_BUCKETS} AS b
        FROM documents
    ),
    db AS (SELECT doc_id, b, COUNT(*) AS c FROM tok GROUP BY doc_id, b),
    raw AS (SELECT b, COUNT(*) AS cr FROM tok GROUP BY b),
    tgt AS (SELECT b, COUNT(*) AS ct FROM tok WHERE lang = 'en' GROUP BY b),
    tots AS (
        SELECT (SELECT COUNT(*) FROM tok) AS tot_raw,
               (SELECT COUNT(*) FROM tok WHERE lang = 'en') AS tot_tgt
    ),
    lam AS (
        SELECT raw.b,
               CAST(ROUND((LN((COALESCE(tgt.ct, 0) + 1)
                              / CAST(tots.tot_tgt + {N_DSIR_BUCKETS} AS DOUBLE))
                           - LN((raw.cr + 1)
                                / CAST(tots.tot_raw + {N_DSIR_BUCKETS} AS DOUBLE)))
                          * 1000000000.0) AS BIGINT) AS lam
        FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tots
    )
    SELECT db.doc_id, d.lang,
           CAST(SUM(db.c) AS BIGINT) AS n_toks,
           CAST((CASE WHEN SUM(db.c * lam.lam) < 0 THEN -1 ELSE 1 END)
                * ((ABS(CAST(SUM(db.c * lam.lam) AS BIGINT)) + 500) // 1000)
                AS DOUBLE) / 1000000.0 AS log_weight
    FROM db JOIN lam ON db.b = lam.b
    JOIN documents d ON db.doc_id = d.doc_id
    GROUP BY db.doc_id, d.lang
"""


# ---------------------------------------------------------------------------
# vocab_drift — Dunning G² between corpus snapshots
# ---------------------------------------------------------------------------

DRIFT_TOPK = 40


def vocab_drift_from_cells(cells: DataFrame) -> DataFrame:
    """Dunning-G² drift report from a compacted per-token cells frame
    ``(w, k11, k12)`` — k11/k12 = the token's occurrences in the "new" /
    "old" snapshot. Shared by the batch ``vocab_drift`` and its
    streaming twin ``stream_vocab_drift`` (r12 verdict item 6): the
    statistics are a pure function of the cell counts, so both faces
    share this code AND the batch oracle. The snapshot totals are the
    cell sums (Σk11, Σk12) — two scalars, the only driver data; every
    ln() operand is an integer, so the report is bit-identical
    cross-engine; the top-k is a TakeOrderedAndProject with a
    (G² desc, token) total order."""
    totals = cells.groupBy().agg(
        F.sum("k11").alias("n1"), F.sum("k12").alias("n2")
    )
    n1, n2 = totals.collect()[0]
    if not n1 and not n2:
        # SUM over zero rows is NULL — an empty/missing snapshot (e.g. a
        # stream drain that produced no state) must yield an empty
        # report, not an int(None) TypeError below (ADVICE r13)
        return cells.sparkSession.createDataFrame(
            [],
            "token string, c_new long, c_old long, "
            "rate_new double, rate_old double, g2 double",
        )
    n1, n2 = int(n1 or 0), int(n2 or 0)
    k11, k12 = F.col("k11"), F.col("k12")

    def _xlx_sql(e: str) -> str:
        # x·ln(x) with the 0·ln(0)=0 convention (the G² building block),
        # rendered as SQL text: the
        # nine-term G² chain built from Column ops costs ~200 ms of py4j
        # roundtrips per frame build (r14 profile); one F.expr parse is
        # a single roundtrip and plans to the identical expressions
        return (
            f"(CASE WHEN ({e}) > 0 THEN CAST(({e}) AS DOUBLE) * "
            f"LN(CAST(({e}) AS DOUBLE)) ELSE 0.0D END)"
        )

    k21s, k22s = f"({n1} - k11)", f"({n2} - k12)"
    g2 = F.expr(
        "2.0D * ("
        + _xlx_sql("k11")
        + " + " + _xlx_sql("k12")
        + " + " + _xlx_sql(k21s)
        + " + " + _xlx_sql(k22s)
        + " - " + _xlx_sql("k11 + k12")
        + " - " + _xlx_sql(f"{k21s} + {k22s}")
        + " - " + _xlx_sql("k11 + " + k21s)
        + " - " + _xlx_sql("k12 + " + k22s)
        + " + " + _xlx_sql(str(n1 + n2))
        + ")"
    )
    # ONE-SIDED empty snapshot (n of one side 0, the other's tokens all
    # present): the rate over the empty side is undefined — emit NULL,
    # which is also what the batch oracle computes (DuckDB division by
    # zero is NULL). A literal 0.0 divisor would otherwise be a
    # PLAN-BUILD-time DIVIDE_BY_ZERO under Spark 4's default ANSI mode
    # (constant folding evaluates it before any row runs) — the same
    # ADVICE-r13 class as the both-empty guard above, found by review.
    rate_new = (
        F.round(k11 / F.lit(float(n1)), 9)
        if n1
        else F.lit(None).cast("double")
    )
    rate_old = (
        F.round(k12 / F.lit(float(n2)), 9)
        if n2
        else F.lit(None).cast("double")
    )
    ranked = cells.select(
        F.col("w").alias("token"),
        k11.cast("long").alias("c_new"),
        k12.cast("long").alias("c_old"),
        rate_new.alias("rate_new"),
        rate_old.alias("rate_old"),
        g2.alias("_g2"),
    )
    return (
        ranked.orderBy(F.col("_g2").desc(), "token")
        .limit(DRIFT_TOPK)
        .select(
            "token",
            "c_new",
            "c_old",
            "rate_new",
            "rate_old",
            F.round("_g2", 6).alias("g2"),
        )
    )


def q_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between two corpus snapshots ("old" =
    even doc_id, "new" = odd — standing in for consecutive crawls):
    Dunning's G² log-likelihood-ratio per token on the 2×2 contingency
    table (token-vs-rest × old-vs-new), top movers first. The monitor a
    pipeline runs before blending a new crawl in; a G² spike on a token
    family means the source composition changed. Statistics shared with
    the streaming twin via ``vocab_drift_from_cells`` (same G²
    formulation as ``bigram_loglik``'s family)."""
    doc = read_table(spark, sf_dir, "documents")
    # NO pre-explode repartition here: the explode is a bare split
    # (no per-token hashing), so shuffling text bytes first costs more
    # than the single-scan-task explode saves (A/B measured 0.33 s vs
    # 0.52 s at sf0.1) — contrast dsir_weights, whose md5-per-token
    # work DOES pay for the spread
    tok = doc.select(
        (F.col("doc_id") % 2 == 1).alias("is_new"),
        F.explode(_tokens()).alias("w"),
    )
    cells = tok.groupBy("w").agg(
        F.sum(F.when(F.col("is_new"), 1).otherwise(0)).alias("k11"),
        F.sum(F.when(~F.col("is_new"), 1).otherwise(0)).alias("k12"),
    )
    # materialize the vocab-sized cells ONCE (same pattern as
    # dsir_weights' model frame): the helper's totals collect() and the
    # ranked output both read the checkpoint, so the corpus is exploded
    # and token-shuffled exactly once per run instead of twice (r13
    # review finding; the streaming twin gets this for free — its cells
    # live in the drained memory table). Eager, not cache.pin: pinned
    # measured ~0.15 s slower at sf0.01
    return vocab_drift_from_cells(cells.localCheckpoint(eager=True))


_VOCAB_DRIFT_ORACLE = f"""
    WITH tok AS (
        SELECT (doc_id % 2 = 1) AS is_new,
               unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    per AS (
        SELECT w,
               SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS k11,
               SUM(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS k12
        FROM tok GROUP BY w
    ),
    tot AS (
        SELECT SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS n1,
               SUM(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS n2
        FROM tok
    ),
    cells AS (
        SELECT w, k11, k12, tot.n1 - k11 AS k21, tot.n2 - k12 AS k22,
               tot.n1, tot.n2
        FROM per CROSS JOIN tot
    ),
    g AS (
        SELECT w, k11, k12, n1, n2,
               2.0 * (
                   (CASE WHEN k11 > 0 THEN k11 * LN(CAST(k11 AS DOUBLE)) ELSE 0 END)
                 + (CASE WHEN k12 > 0 THEN k12 * LN(CAST(k12 AS DOUBLE)) ELSE 0 END)
                 + (CASE WHEN k21 > 0 THEN k21 * LN(CAST(k21 AS DOUBLE)) ELSE 0 END)
                 + (CASE WHEN k22 > 0 THEN k22 * LN(CAST(k22 AS DOUBLE)) ELSE 0 END)
                 - (CASE WHEN k11 + k12 > 0
                         THEN (k11 + k12) * LN(CAST(k11 + k12 AS DOUBLE)) ELSE 0 END)
                 - (CASE WHEN k21 + k22 > 0
                         THEN (k21 + k22) * LN(CAST(k21 + k22 AS DOUBLE)) ELSE 0 END)
                 - (CASE WHEN k11 + k21 > 0
                         THEN (k11 + k21) * LN(CAST(k11 + k21 AS DOUBLE)) ELSE 0 END)
                 - (CASE WHEN k12 + k22 > 0
                         THEN (k12 + k22) * LN(CAST(k12 + k22 AS DOUBLE)) ELSE 0 END)
                 + (n1 + n2) * LN(CAST(n1 + n2 AS DOUBLE))
               ) AS g2
        FROM cells
    )
    SELECT w AS token,
           CAST(k11 AS BIGINT) AS c_new,
           CAST(k12 AS BIGINT) AS c_old,
           ROUND(k11 / CAST(n1 AS DOUBLE), 9) AS rate_new,
           ROUND(k12 / CAST(n2 AS DOUBLE), 9) AS rate_old,
           ROUND(g2, 6) AS g2
    FROM g
    ORDER BY g.g2 DESC, token
    LIMIT {DRIFT_TOPK}
"""


# ---------------------------------------------------------------------------
# shard_manifest — token-budget release sharding over the epoch order
# ---------------------------------------------------------------------------

SHARD_BUDGET = 8192  # tokens per release shard


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-shard manifest: lay the shuffled corpus (epoch-0
    deterministic permutation — same order ``deterministic_shuffle``
    emits) end-to-end and cut a shard every SHARD_BUDGET tokens; report
    per-shard document/token totals, the key range, and an
    order-independent content signature (exact BIGINT sum of per-doc
    48-bit md5 digests — re-runnable proof two releases hold the same
    documents without comparing bodies).

    A document belongs to the shard containing its FIRST token:
    shard = (cum_before_doc) div budget over the global running token
    total, which ``global_running_sum`` computes with no
    single-partition stage (range partition + per-partition cumsum +
    broadcast-back offsets, one action). The manifest is bounded:
    corpus_tokens / budget rows."""
    doc = read_table(spark, sf_dir, "documents")
    d = doc.select(
        "doc_id",
        shuffle_key(F.col("doc_id")).alias("sk"),
        F.size(_tokens()).cast("long").alias("n_tok"),
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10
        )
        .cast("long")
        .alias("sig"),
    )
    c = global_running_sum(spark, d, ["sk", "doc_id"], "n_tok")
    sharded = c.withColumn(
        "shard_id", F.expr(f"(cum - n_tok) div {SHARD_BUDGET}")
    )
    return (
        sharded.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.min("sk").alias("first_key"),
            F.max("sk").alias("last_key"),
            F.sum("sig").alias("content_sig"),
        )
        .select(
            "shard_id",
            "n_docs",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "first_key",
            "last_key",
            F.col("content_sig").cast("long").alias("content_sig"),
        )
    )


_SHARD_ORACLE = f"""
    WITH d AS (
        SELECT doc_id,
               md5('{SHUFFLE_SALT}:' || CAST(doc_id AS VARCHAR)) AS sk,
               len(string_split(text, ' ')) AS n_tok,
               CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                    AS BIGINT) AS sig
        FROM documents
    ),
    c AS (
        SELECT *,
               SUM(n_tok) OVER (
                   ORDER BY sk, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM d
    )
    SELECT CAST((cum - n_tok) // {SHARD_BUDGET} AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           MIN(sk) AS first_key,
           MAX(sk) AS last_key,
           CAST(SUM(sig) AS BIGINT) AS content_sig
    FROM c
    GROUP BY 1
"""


# ---------------------------------------------------------------------------
# psi_drift — Population Stability Index over a numeric feature
# ---------------------------------------------------------------------------

PSI_BUCKET_WIDTH = 25.0  # fixed-width value buckets (value spans ~0..500)
PSI_BUCKETS = 21  # smoothing constant: add-1 over the nominal bucket count


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI (Population Stability Index) drift monitor over the numeric
    ``events.value`` distribution: first half of the month (day ≤ 15) is
    the baseline, the second half the comparison. Per fixed-width value
    bucket: both counts and the bucket's PSI contribution
    (p−q)·ln(p/q) with add-1 smoothing; a final bucket=-1 row carries
    the PSI total. The numeric sibling of the categorical
    ``vocab_drift`` (Dunning-G²) monitor — PSI > 0.2 is the classic
    retrain / investigate trigger.

    Cross-engine exactness: each bucket's term is a pure function of
    four integers (bucket counts + totals), quantized to int64 nanos,
    and the PSI total is the INTEGER sum of those nanos — no double
    accumulation anywhere (the [[cross-engine-float-rule]]). Scale
    shape: one conditional-aggregate scan (bounded ≤ |buckets| output),
    a 1-row totals cross-join, and a bounded union — nothing fact-sized
    past the first aggregate."""
    ev = read_table(spark, sf_dir, "events")
    counts = (
        ev.select(
            F.floor(F.col("value") / PSI_BUCKET_WIDTH).alias("bucket"),
            F.when(F.dayofmonth("ts") <= 15, 1).otherwise(0).alias("in_a"),
        )
        .groupBy("bucket")
        .agg(
            F.sum("in_a").alias("n_a"),
            F.sum(1 - F.col("in_a")).alias("n_b"),
        )
    )
    return psi_from_cells(counts)


def psi_from_cells(counts: DataFrame) -> DataFrame:
    """PSI statistics from the compacted per-bucket cells frame
    ``(bucket, n_a, n_b)`` — the part of ``q_psi_drift`` that is a pure
    function of the cell counts, factored out (r11 verdict item 5) so
    the streaming gate (``events.q_stream_psi_monitor``) can maintain
    the cells ON THE STREAM and run the identical statistics on the
    drained state. Exactness properties (int64-nano terms, integer
    total) are unchanged from the batch face."""
    totals = counts.agg(
        F.sum("n_a").alias("tot_a"), F.sum("n_b").alias("tot_b")
    )
    p = (F.col("n_a") + 1) / (F.col("tot_a") + PSI_BUCKETS)
    q = (F.col("n_b") + 1) / (F.col("tot_b") + PSI_BUCKETS)
    per_bucket = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round((p - q) * F.log(p / q) * F.lit(1e9), 0)
        .cast("long")
        .alias("term_nano"),
    )
    total = per_bucket.agg(
        F.lit(-1).cast("long").alias("bucket"),
        F.sum("n_a").cast("long").alias("n_a"),
        F.sum("n_b").cast("long").alias("n_b"),
        F.sum("term_nano").alias("term_nano"),
    )
    return per_bucket.unionByName(total).select(
        "bucket",
        "n_a",
        "n_b",
        (F.col("term_nano").cast("double") / F.lit(1e9)).alias("psi_term"),
    )


_PSI_ORACLE = f"""
    WITH counts AS (
        SELECT CAST(FLOOR(value / {PSI_BUCKET_WIDTH}) AS BIGINT) AS bucket,
               SUM(CASE WHEN dayofmonth(ts) <= 15 THEN 1 ELSE 0 END) AS n_a,
               SUM(CASE WHEN dayofmonth(ts) <= 15 THEN 0 ELSE 1 END) AS n_b
        FROM events GROUP BY 1
    ), tots AS (
        SELECT SUM(n_a) AS tot_a, SUM(n_b) AS tot_b FROM counts
    ), per_bucket AS (
        SELECT bucket,
               CAST(n_a AS BIGINT) AS n_a,
               CAST(n_b AS BIGINT) AS n_b,
               CAST(ROUND(
                   (CAST(n_a + 1 AS DOUBLE) / (tot_a + {PSI_BUCKETS})
                    - CAST(n_b + 1 AS DOUBLE) / (tot_b + {PSI_BUCKETS}))
                   * LN((CAST(n_a + 1 AS DOUBLE) / (tot_a + {PSI_BUCKETS}))
                        / (CAST(n_b + 1 AS DOUBLE) / (tot_b + {PSI_BUCKETS})))
                   * 1000000000.0) AS BIGINT) AS term_nano
        FROM counts CROSS JOIN tots
    ), unioned AS (
        SELECT bucket, n_a, n_b, term_nano FROM per_bucket
        UNION ALL
        SELECT CAST(-1 AS BIGINT),
               CAST(SUM(n_a) AS BIGINT), CAST(SUM(n_b) AS BIGINT),
               CAST(SUM(term_nano) AS BIGINT)
        FROM per_bucket
    )
    SELECT bucket, n_a, n_b,
           CAST(term_nano AS DOUBLE) / 1000000000.0 AS psi_term
    FROM unioned
"""


# ---------------------------------------------------------------------------
# chi2_independence — contingency-table independence test
# ---------------------------------------------------------------------------


def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² independence test between event_type and day-of-week — the
    third member of the monitoring trio (vocab_drift: categorical
    drift, psi_drift: numeric drift, this: association between two
    categoricals, e.g. "did the traffic mix shift by weekday?").
    Per contingency cell: observed count, expected count under
    independence (row_tot·col_tot/N), and the cell's χ² term
    (O−E)²/E; a final ('TOTAL', -1) row carries the statistic (df =
    (r−1)(c−1) for the threshold lookup).

    Exactness: every cell value derives from four integers; terms are
    quantized to int64 nanos and the total is their INTEGER sum (the
    same discipline as psi_drift). Scale shape: one conditional-
    aggregate scan to a ≤ r·c frame; row/col/grand totals via windows
    over that bounded frame; bounded union for the total row."""
    ev = read_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type", F.dayofweek("ts").cast("long").alias("weekday")
        )
        .groupBy("event_type", "weekday")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    w_row = W.partitionBy("event_type")  # bounded: r·c cells total
    w_col = W.partitionBy("weekday")
    # grand total via a broadcast 1-row cross-join, not an unpartitioned
    # window — keeps WindowExec warnings out of the bench tail
    grand = cells.agg(F.sum("observed").alias("n"))
    with_tot = cells.crossJoin(F.broadcast(grand)).select(
        "event_type",
        "weekday",
        "observed",
        F.sum("observed").over(w_row).alias("row_tot"),
        F.sum("observed").over(w_col).alias("col_tot"),
        "n",
    )
    expected = (
        F.col("row_tot") * F.col("col_tot") / F.col("n").cast("double")
    )
    per_cell = with_tot.select(
        "event_type",
        "weekday",
        "observed",
        F.round(expected, 6).alias("expected"),
        F.round(
            (F.col("observed") - expected) * (F.col("observed") - expected)
            / expected
            * F.lit(1e9),
            0,
        )
        .cast("long")
        .alias("term_nano"),
    )
    total = per_cell.agg(
        F.lit("TOTAL").alias("event_type"),
        F.lit(-1).cast("long").alias("weekday"),
        F.sum("observed").cast("long").alias("observed"),
        F.lit(None).cast("double").alias("expected"),
        F.sum("term_nano").alias("term_nano"),
    )
    return per_cell.unionByName(total).select(
        "event_type",
        "weekday",
        "observed",
        "expected",
        (F.col("term_nano").cast("double") / F.lit(1e9)).alias("chi2_term"),
    )


_CHI2_ORACLE = """
    WITH cells AS (
        -- DuckDB dow is 0=Sunday; Spark dayofweek is 1=Sunday — align
        SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS weekday,
               COUNT(*) AS observed
        FROM events GROUP BY 1, 2
    ), with_tot AS (
        SELECT event_type, weekday, observed,
               SUM(observed) OVER (PARTITION BY event_type) AS row_tot,
               SUM(observed) OVER (PARTITION BY weekday) AS col_tot,
               SUM(observed) OVER () AS n
        FROM cells
    ), per_cell AS (
        SELECT event_type, weekday,
               CAST(observed AS BIGINT) AS observed,
               ROUND(row_tot * col_tot / CAST(n AS DOUBLE), 6) AS expected,
               CAST(ROUND(
                   (observed - row_tot * col_tot / CAST(n AS DOUBLE))
                   * (observed - row_tot * col_tot / CAST(n AS DOUBLE))
                   / (row_tot * col_tot / CAST(n AS DOUBLE))
                   * 1000000000.0) AS BIGINT) AS term_nano
        FROM with_tot
    ), unioned AS (
        SELECT event_type, weekday, observed, expected, term_nano
        FROM per_cell
        UNION ALL
        SELECT 'TOTAL', CAST(-1 AS BIGINT),
               CAST(SUM(observed) AS BIGINT),
               CAST(NULL AS DOUBLE),
               CAST(SUM(term_nano) AS BIGINT)
        FROM per_cell
    )
    SELECT event_type, weekday, observed, expected,
           CAST(term_nano AS DOUBLE) / 1000000000.0 AS chi2_term
    FROM unioned
"""


def q_ks_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample distribution-drift tests over a NUMERIC column — the
    fourth member of the monitoring family (vocab_drift: categorical G²,
    psi_drift: binned numeric, chi2: categorical association): the exact
    Kolmogorov–Smirnov statistic and the exact Mann–Whitney U (with
    midrank tie handling and tie-corrected normal z) between the token-
    count distributions of English vs non-English documents. KS answers
    "did the SHAPE shift anywhere", MWU "did one side stochastically
    dominate" — the pre-retrain gates for a corpus refresh.

    Exactness: both statistics are functions of the per-distinct-value
    counts alone. KS: D = max_v |cum_a·n_b − cum_b·n_a| / (n_a·n_b) with
    an EXACT integer numerator (emitted as ``ks_d_num``). MWU: doubled
    midranks keep Σranks integer — s2 = Σ_v cnt_a·(2·cum_before + t + 1)
    = 2·R_a — and the tie term Σ(t³−t) is integer. All three integers
    accumulate in decimal(38,0) (products can pass int64 at scale) and
    convert to double behind a 2^53 raise_error guard, so the float leg
    (only correctly-rounded IEEE ops: + − × ÷ sqrt, never pow/ln) is
    bit-identical cross-engine or fails loudly — the `gini_by_group`
    discipline.

    Scale shape: one grouped compaction of the fact to ≤|distinct
    values| rows (map-side combinable — the frame is bounded by the
    value domain, ~90 distinct lengths here); the cumulative window and
    every downstream term run on that bounded frame (global-window
    whitelisted, `histogram_quantiles` precedent); totals ride a 1-row
    broadcast crossJoin; both legs reuse the same shuffle exchange."""
    doc = read_table(spark, sf_dir, "documents")
    d = doc.select(
        F.size(_tokens()).cast("long").alias("v"),
        F.when(F.col("lang") == "en", F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_a"),
    )
    cells = d.groupBy("v").agg(
        F.sum("is_a").alias("cnt_a"),
        F.sum(F.lit(1) - F.col("is_a")).alias("cnt_b"),
    )
    return two_sample_rank_tests(cells)


def q_source_drift_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAIRWISE drift: the exact two-sample KS statistic for EVERY pair
    of sources over their token-count distributions — `ks_mann_whitney`
    answers "did A drift from B", this answers "which of my 20 feeds
    drifted against which" (the first triage question when a corpus
    refresh moves a quality metric: one bad feed shows up as one hot
    row/column, a global shift lights the whole matrix).

    Exactness: same integer discipline as `two_sample_rank_tests` — the
    per-pair numerator max_v |cum_a·n_b − cum_b·n_a| is exact (products
    in decimal(18,0)² behind the 2^53 raise_error guard), emitted
    alongside the rounded quotient.

    Scale shape: ONE grouped compaction of the fact to ≤|sources|·
    |distinct values| rows; the shared value grid, per-source CDFs
    (keyed cumulative window over that bounded frame — low-card
    whitelisted, post-aggregation), and the |sources|²/2 pair join all
    run on sketch-sized frames, never the corpus. The pair build is an
    equi-join on the value key with an inequality filter, not a cross
    product."""
    doc = read_table(spark, sf_dir, "documents")
    cells = doc.groupBy(
        "source", F.size(_tokens()).cast("long").alias("v")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    grid = cells.select("v").distinct()
    srcs = cells.groupBy("source").agg(F.sum("cnt").alias("n"))
    w_cum = (
        W.partitionBy("source")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cdf = (
        srcs.crossJoin(F.broadcast(grid))
        .join(cells, ["source", "v"], "left")
        .select(
            "source",
            "v",
            "n",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
        .withColumn("cum", F.sum("cnt").over(w_cum))
    )
    a, b = cdf.alias("a"), cdf.alias("b")
    dec18 = "decimal(18,0)"
    pairs = (
        a.join(
            b,
            (F.col("a.v") == F.col("b.v"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(
            F.max(F.col("a.n")).alias("n_a"),
            F.max(F.col("b.n")).alias("n_b"),
            F.max(
                F.abs(
                    F.col("a.cum").cast(dec18) * F.col("b.n").cast(dec18)
                    - F.col("b.cum").cast(dec18) * F.col("a.n").cast(dec18)
                )
            ).alias("d_num"),
        )
    )
    d_ok = F.when(
        F.col("d_num") < F.lit(2**53).cast("decimal(38,0)"), F.col("d_num")
    ).otherwise(
        F.raise_error(
            F.lit(
                "source_drift_matrix: KS numerator >= 2^53 — rescale or "
                "bucket values first"
            )
        ).cast("decimal(38,0)")
    )
    return pairs.select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        d_ok.cast("long").alias("ks_d_num"),
        F.round(
            d_ok.cast("double")
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
            9,
        ).alias("ks_d"),
    )


_SOURCE_DRIFT_ORACLE = """
    WITH cells AS (
        SELECT source, len(string_split(text, ' ')) AS v, COUNT(*) AS cnt
        FROM documents GROUP BY 1, 2
    ), grid AS (
        SELECT DISTINCT v FROM cells
    ), srcs AS (
        SELECT source, CAST(SUM(cnt) AS BIGINT) AS n FROM cells GROUP BY source
    ), cdf AS (
        SELECT s.source, g.v, s.n,
               CAST(SUM(COALESCE(c.cnt, 0)) OVER (
                   PARTITION BY s.source ORDER BY g.v
               ) AS BIGINT) AS cum
        FROM srcs s CROSS JOIN grid g
        LEFT JOIN cells c ON c.source = s.source AND c.v = g.v
    )
    SELECT a.source AS source_a, b.source AS source_b,
           MAX(a.n) AS n_a, MAX(b.n) AS n_b,
           CAST(MAX(ABS(a.cum * b.n - b.cum * a.n)) AS BIGINT) AS ks_d_num,
           ROUND(CAST(MAX(ABS(a.cum * b.n - b.cum * a.n)) AS DOUBLE)
                 / (CAST(MAX(a.n) AS DOUBLE) * CAST(MAX(b.n) AS DOUBLE)),
                 9) AS ks_d
    FROM cdf a JOIN cdf b ON a.v = b.v AND a.source < b.source
    GROUP BY 1, 2
"""


def two_sample_rank_tests(cells: DataFrame) -> DataFrame:
    """Shared two-sample test core: given a COMPACTED frame with columns
    ``(v, cnt_a, cnt_b)`` — per distinct value, the count in sample A
    and sample B — emit one row ``(n_a, n_b, ks_d_num, ks_d, mw_u1,
    mw_z)``. All exactness/guard properties of ``q_ks_mann_whitney``'s
    docstring live here; any numeric column comparison (per-source
    length drift, score drift between model versions, latency shift
    between releases) reduces to producing the cells frame."""
    totals = cells.agg(F.sum("cnt_a").alias("n_a"), F.sum("cnt_b").alias("n_b"))
    w_cum = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = cells.crossJoin(F.broadcast(totals)).select(
        "cnt_a",
        "cnt_b",
        "n_a",
        "n_b",
        F.sum("cnt_a").over(w_cum).alias("cum_a"),
        F.sum("cnt_b").over(w_cum).alias("cum_b"),
    )

    def dec(c):
        return F.col(c).cast("decimal(18,0)")

    t_all = F.col("cnt_a") + F.col("cnt_b")
    # decimal(18,0)³ declares (38,0): exact for per-value tie counts up
    # to ~4.6e12 rows, the same envelope as the sibling terms
    td = t_all.cast("decimal(18,0)")
    terms = cum.select(
        "n_a",
        "n_b",
        F.abs(dec("cum_a") * dec("n_b") - dec("cum_b") * dec("n_a")).alias(
            "d_num"
        ),
        (
            dec("cnt_a")
            * (
                2 * (F.col("cum_a") + F.col("cum_b") - t_all) + t_all + 1
            ).cast("decimal(18,0)")
        ).alias("s2_term"),
        (td * td * td - td).alias("tie_term"),
    )
    agg = terms.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.max("d_num").alias("d_num"),
        F.sum("s2_term").alias("s2"),
        F.sum("tie_term").alias("ties"),
    )
    lim = F.lit(2**53).cast("decimal(38,0)")

    def exact_double(name, label):
        return F.when(F.col(name) < lim, F.col(name).cast("double")).otherwise(
            F.raise_error(
                F.lit(
                    f"ks_mann_whitney: {label} >= 2^53 — double statistics "
                    "would drift silently; rescale or bucket values first"
                )
            ).cast("double")
        )

    n_a_d = F.col("n_a").cast("double")
    n_b_d = F.col("n_b").cast("double")
    n_d = (F.col("n_a") + F.col("n_b")).cast("double")
    d_num_d = exact_double("d_num", "KS numerator")
    s2_d = exact_double("s2", "doubled rank sum")
    ties_d = exact_double("ties", "tie correction")
    u1 = (s2_d - n_a_d * (n_a_d + 1)) / 2.0
    mu = n_a_d * n_b_d / 2.0
    sig2 = n_a_d * n_b_d / 12.0 * ((n_d + 1.0) - ties_d / (n_d * (n_d - 1.0)))
    both_sides = (F.col("n_a") > 0) & (F.col("n_b") > 0)

    def defined(expr, cond, label):
        # degenerate corpora (one language only; every value tied) make
        # the test statistics 0/0 — silent NaN for double division, the
        # opposite of this module's loud-contract discipline
        return F.when(cond, expr).otherwise(
            F.raise_error(F.lit(f"ks_mann_whitney: {label}")).cast("double")
        )

    return agg.select(
        "n_a",
        "n_b",
        F.col("d_num").cast("long").alias("ks_d_num"),
        defined(
            F.round(d_num_d / (n_a_d * n_b_d), 9),
            both_sides,
            "one sample is empty — two-sample tests are undefined",
        ).alias("ks_d"),
        u1.alias("mw_u1"),
        defined(
            F.round((u1 - mu) / F.sqrt(sig2), 6),
            both_sides & (sig2 > 0),
            "zero rank variance (empty sample or all values tied) — "
            "the normal z is undefined",
        ).alias("mw_z"),
    )


_KS_MWU_ORACLE = """
    WITH d AS (
        SELECT len(string_split(text, ' ')) AS v,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_a
        FROM documents
    ), cells AS (
        SELECT v, CAST(SUM(is_a) AS BIGINT) AS cnt_a,
               CAST(SUM(1 - is_a) AS BIGINT) AS cnt_b
        FROM d GROUP BY v
    ), tot AS (
        SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a,
               CAST(SUM(cnt_b) AS BIGINT) AS n_b
        FROM cells
    ), cum AS (
        SELECT cnt_a, cnt_b, n_a, n_b,
               CAST(SUM(cnt_a) OVER (ORDER BY v) AS BIGINT) AS cum_a,
               CAST(SUM(cnt_b) OVER (ORDER BY v) AS BIGINT) AS cum_b
        FROM cells, tot
    ), agg AS (
        SELECT MAX(n_a) AS n_a, MAX(n_b) AS n_b,
               MAX(ABS(cum_a * n_b - cum_b * n_a)) AS d_num,
               SUM(cnt_a * (2 * (cum_a + cum_b - cnt_a - cnt_b)
                            + (cnt_a + cnt_b) + 1)) AS s2,
               SUM((cnt_a + cnt_b) * (cnt_a + cnt_b) * (cnt_a + cnt_b)
                   - (cnt_a + cnt_b)) AS ties
        FROM cum
    )
    SELECT CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(d_num AS BIGINT) AS ks_d_num,
           ROUND(CAST(d_num AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 9) AS ks_d,
           (CAST(s2 AS DOUBLE)
            - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1)) / 2.0
               AS mw_u1,
           ROUND(
               ((CAST(s2 AS DOUBLE)
                 - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1)) / 2.0
                - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
               / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
                      * ((CAST(n_a + n_b AS DOUBLE) + 1.0)
                         - CAST(ties AS DOUBLE)
                           / (CAST(n_a + n_b AS DOUBLE)
                              * (CAST(n_a + n_b AS DOUBLE) - 1.0)))),
               6) AS mw_z
    FROM agg
"""


QUERIES = {
    "ols2_per_group": q_ols2_per_group,
    "dsir_weights": q_dsir_weights,
    "vocab_drift": q_vocab_drift,
    "shard_manifest": q_shard_manifest,
    "psi_drift": q_psi_drift,
    "chi2_independence": q_chi2_independence,
    "ks_mann_whitney": q_ks_mann_whitney,
    "source_drift_matrix": q_source_drift_matrix,
}

ORACLES: dict[str, str] = {
    "ols2_per_group": _OLS2_ORACLE,
    "dsir_weights": _DSIR_ORACLE,
    "vocab_drift": _VOCAB_DRIFT_ORACLE,
    "shard_manifest": _SHARD_ORACLE,
    "psi_drift": _PSI_ORACLE,
    "chi2_independence": _CHI2_ORACLE,
    "ks_mann_whitney": _KS_MWU_ORACLE,
    "source_drift_matrix": _SOURCE_DRIFT_ORACLE,
}
