"""Vector-compression / embedding-pipeline operators: scalar (int8)
quantization, k-means-style centroid assignment, product-quantization
codes, and per-dimension corpus statistics.

These are the compression and partition-assignment primitives behind
similarity search at 100 TB (``similarity.py`` holds the search tiers):
an embedding corpus too large to scan in float32 gets PQ/int8-compressed
and routed by centroid cell; the stats table drives whitening.

Scale design:
- All array math is built-in (``F.aggregate``/``F.zip_with``/``F.slice``)
  — no Python in any path. The lambda folds run JVM-side but interpreted,
  outside whole-stage codegen (see ``q_pq_codes`` for where that cost
  decided the shape).
- Per-dimension passes (``vector_quantize`` scales, ``dim_stats``) use
  ``posexplode`` → grouped agg: the explode is a flatMap (no shuffle) and
  the shuffle that follows carries (pos, partial-agg) after map-side
  combine — 64 rows per partition, independent of corpus size.
- The per-dim scale table (64 rows) joins back via broadcast, so
  quantization itself is a single embarrassingly-parallel projection.
- Centroid/PQ codebooks are FIXED literals (seeded, reproducible): the
  assignment step is the hot path at scale and must not depend on a
  driver-side fit. (The distributed Lloyd fit lives in
  ``similarity.ivf_ann_topk``; reference for codebook training.)

Oracle parity: quantized codes and their aggregates are INTEGER, so the
checks are exact. Dot/distance comparisons rely on identical IEEE double
ops on both engines (same trick the ``knn_cosine`` oracle already
validates via ``list_dot_product``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from pb_etl_spark.catalog import read_table
from pb_etl_spark.operators.similarity import _deterministic_gaussians

DIM = 64  # embeddings table vector width (TESTDATA.md)
N_CENTROIDS = 8
PQ_SUBSPACES = 8
PQ_SUB_DIM = DIM // PQ_SUBSPACES
PQ_K = 4  # codebook entries per subspace

CENTROIDS: list[list[float]] = [
    _deterministic_gaussians(1000 + k, DIM) for k in range(N_CENTROIDS)
]
PQ_BOOKS: list[list[list[float]]] = [
    [_deterministic_gaussians(2000 + sub * 17 + k, PQ_SUB_DIM) for k in range(PQ_K)]
    for sub in range(PQ_SUBSPACES)
]


def _const_arr_sql(vals: list[float]) -> str:
    # one F.expr parse instead of one py4j lit() roundtrip per element
    # (64-dim centroid × 8 centroids = ~500 roundtrips per frame build,
    # r14 profile of semantic_dedup); repr() round-trips doubles exactly
    # and the SQL parser reads the same nearest double back, so the
    # literal array is bit-identical to the lit()-built one
    return f"array({','.join(repr(float(v)) + 'D' for v in vals)})"



def _dot_const(vec_sql: str, vals: list[float]):
    """Sequential fold — the same summation order DuckDB's
    list_dot_product reproduces (validated by knn_cosine's oracle).
    ``vec_sql`` is SQL text: the whole fold parses in one py4j
    roundtrip (the Column-lambda form cost ~37 ms per call, r14)."""
    return F.expr(
        f"aggregate(zip_with({vec_sql}, {_const_arr_sql(vals)}, "
        "(x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"
    )



def q_vector_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization with per-dimension max-abs
    scales: q = round(127 * x / scale). Emits per-vector integer
    invariants (L1, L2, position-weighted checksum) — exact cross-engine,
    and exactly what a compressed-scan kernel needs to validate."""
    emb = read_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x")
    )
    scales = e.groupBy("pos").agg(F.max(F.abs(F.col("x"))).alias("scale"))
    q = F.when(F.col("scale") > 0, F.round(F.lit(127.0) * F.col("x") / F.col("scale")))\
         .otherwise(F.lit(0.0)).cast("long")
    return (
        e.join(F.broadcast(scales), "pos")  # 64 rows: always broadcast-sized
        .select("vec_id", "pos", q.alias("q"))
        .groupBy("vec_id")
        .agg(
            F.sum(F.abs(F.col("q"))).alias("l1_q"),
            F.sum(F.col("q") * F.col("q")).alias("l2_q"),
            F.sum(F.col("q") * (F.col("pos") + 1)).alias("pos_checksum"),
            F.count(F.lit(1)).alias("n_dims"),
        )
    )


def q_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (max dot product) assignment against a fixed
    K=8 codebook — the IVF cell-routing step as a standalone checkable
    op. argmax via lexicographic max over (dot, k) structs."""
    emb = read_table(spark, sf_dir, "embeddings")
    vec = "CAST(embedding AS ARRAY<DOUBLE>)"
    scored = F.array(
        *[
            F.struct(
                _dot_const(vec, CENTROIDS[k]).alias("dot"),
                F.lit(k).cast("long").alias("k"),
            )
            for k in range(N_CENTROIDS)
        ]
    )
    best = F.array_max(scored)  # max dot, ties -> max k (mirrored in SQL)
    return emb.select(
        "vec_id",
        best["k"].alias("centroid_id"),
        F.round(best["dot"], 6).alias("dot"),
    )


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding: split each vector into 8
    subspaces of 8 dims, code each subvector as its nearest (L2)
    codebook entry. Integer codes — the 64-byte-per-vector compressed
    representation an ANN index stores instead of 256 float bytes.

    Scoring runs as ONE Arrow-batched pandas_udf computing all 32
    codebook distances per vector vectorized (the pure
    ``F.aggregate``-fold formulation is 32 higher-order folds per row —
    interpreted, not codegen'd, and ~4× slower at sf0.1; this is
    exactly the "built-ins can't express it efficiently → Arrow batch"
    tradeoff the UDF policy prescribes). Embarrassingly parallel, no
    shuffle before the final explode."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    books = np.array(PQ_BOOKS)  # (SUB, K, SUB_DIM)

    @pandas_udf("array<struct<subspace:long,code:long,dist:double>>")
    def encode(vecs):
        m = np.stack(vecs.to_numpy()).reshape(-1, PQ_SUBSPACES, PQ_SUB_DIM)
        # (n, SUB, K): explicit diff keeps the arithmetic identical to
        # the oracle's per-pair sum (no ||a||²-2ab+||b||² cancellation)
        d2 = ((m[:, :, None, :] - books[None, :, :, :]) ** 2).sum(axis=-1)
        codes = d2.argmin(axis=2)  # ties -> first (min k), as in the SQL
        dist = np.sqrt(np.take_along_axis(d2, codes[:, :, None], 2)[:, :, 0])
        out = [
            [
                {"subspace": s, "code": int(codes[i, s]), "dist": float(dist[i, s])}
                for s in range(PQ_SUBSPACES)
            ]
            for i in range(len(m))
        ]
        return pd.Series(out)

    emb = read_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.explode(encode(F.col("embedding").cast("array<double>"))).alias("s"),
    ).select(
        "vec_id", "s.subspace", "s.code", F.round("s.dist", 6).alias("dist")
    )


def q_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics (whitening / normalization
    table): mean, sample stddev, min, max for each of the 64 dims."""
    emb = read_table(spark, sf_dir, "embeddings")
    e = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x")
    )
    return e.groupBy("pos").agg(
        F.round(F.avg("x"), 6).alias("mean"),
        F.round(F.stddev_samp("x"), 6).alias("std"),
        F.round(F.min("x"), 6).alias("vmin"),
        F.round(F.max("x"), 6).alias("vmax"),
    ).select(F.col("pos").cast("long").alias("pos"), "mean", "std", "vmin", "vmax")


ANN_PQ_K = 10  # neighbours returned per query vector
ANN_PQ_SHORTLIST = 50  # ADC candidates re-ranked exactly
ANN_PQ_TRAIN_K = 16  # trained codebook entries per subspace
ANN_PQ_TRAIN_SAMPLE = 1024  # training sample rows (driver-sized by design)


def _train_pq_books(sample, k: int, iters: int = 20):
    """Per-subspace Lloyd k-means on a bounded corpus sample —
    deterministic (first-k init over the vec_id-ordered sample). PQ
    codebooks are ALWAYS trained on a sample in practice (a few thousand
    rows regardless of corpus size), so the driver-side fit stays
    KB-sized at 100 TB; the fixed seeded PQ_BOOKS above exist for the
    oracle-exact encode op, this is the quality path."""
    import numpy as np

    books = []
    for s in range(PQ_SUBSPACES):
        x = sample[:, s * PQ_SUB_DIM : (s + 1) * PQ_SUB_DIM]
        c = x[:k].copy()
        for _ in range(iters):
            d = ((x[:, None, :] - c[None, :, :]) ** 2).sum(-1)
            assign = d.argmin(1)
            for j in range(k):
                if (assign == j).any():
                    c[j] = x[assign == j].mean(0)
        books.append(c)
    return np.array(books)  # (SUB, k, SUB_DIM)


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance ANN: train per-subspace codebooks on a
    bounded sample, encode the corpus to 8 codes/vector, score every
    (query, vector) as Σ_sub dtable[q][sub][code_sub] via a RELATIONAL
    join against the 640-row broadcast distance-table relation, take an
    approximate shortlist, then re-rank the shortlist EXACTLY against
    the raw vectors — the standard ADC + re-rank index read path.

    Scale: corpus vectors cross the scoring shuffle only as
    (q_id, vec_id, partial-sum) triples; raw vectors are touched again
    solely for the shortlist join (|queries| × 50 rows). The driver
    holds the training sample (1024 rows) and distance tables (KBs) —
    both bounded regardless of corpus size. HASH-CHECKED: the trainer's
    20 Lloyd iterations unroll into SQL CTE stages and the whole
    sample→train→encode→ADC→re-rank path replays in the oracle
    (``_pq_oracle_sql``); tests additionally bound shortlist recall and
    re-ranked quality against the exact tier (recall@10 ≈ 0.9 / 0.4 at
    fixture scale vs 0.02 for random selection)."""
    import numpy as np

    emb = read_table(spark, sf_dir, "embeddings")
    sample = np.stack(
        [
            np.array(r["embedding"], dtype=np.float64)
            for r in emb.orderBy("vec_id")
            .limit(ANN_PQ_TRAIN_SAMPLE)
            .select("vec_id", "embedding")
            .collect()  # bounded: ANN_PQ_TRAIN_SAMPLE rows max
        ]
    )
    books = _train_pq_books(sample, min(ANN_PQ_TRAIN_K, max(2, len(sample) // 4)))

    n_queries = 5
    qvecs = {int(r["vec_id"]): np.array(r["embedding"], dtype=np.float64)
             for r in emb.filter(F.col("vec_id") < n_queries).collect()}
    rows = []
    for qid, qv in sorted(qvecs.items()):
        sv = qv.reshape(PQ_SUBSPACES, PQ_SUB_DIM)
        d2 = ((sv[:, None, :] - books) ** 2).sum(axis=-1)
        for sub in range(PQ_SUBSPACES):
            for k in range(books.shape[1]):
                rows.append((qid, sub, k, float(d2[sub, k])))
    dtable = spark.createDataFrame(
        rows, "q_id long, subspace long, code long, d2 double"
    )

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def encode_codes(vecs):
        import pandas as pd

        m = np.stack(vecs.to_numpy()).reshape(-1, PQ_SUBSPACES, PQ_SUB_DIM)
        d = ((m[:, :, None, :] - books[None, :, :, :]) ** 2).sum(axis=-1)
        return pd.Series(list(d.argmin(axis=2)))

    codes = emb.select(
        "vec_id",
        F.posexplode(encode_codes(F.col("embedding").cast("array<double>"))).alias(
            "subspace", "code"
        ),
    )
    shortlist_w = W.partitionBy("q_id").orderBy(
        F.col("approx_d2").asc(), F.col("vec_id").asc()
    )
    shortlist = (
        codes.join(F.broadcast(dtable), ["subspace", "code"])
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d2").alias("approx_d2"))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("srank", F.row_number().over(shortlist_w))
        .filter(F.col("srank") <= ANN_PQ_SHORTLIST)
    )

    # exact re-rank of the shortlist against raw vectors (|q| × 50 rows)
    vecs = emb.select(F.col("vec_id"), F.col("embedding").cast("array<double>").alias("nv"))
    qdf = spark.createDataFrame(
        [(qid, [float(x) for x in qv]) for qid, qv in sorted(qvecs.items())],
        "q_id long, qv array<double>",
    )
    true_d2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("nv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    rerank_w = W.partitionBy("q_id").orderBy(F.col("d2").asc(), F.col("vec_id").asc())
    return (
        shortlist.join(vecs, "vec_id")
        .join(F.broadcast(qdf), "q_id")
        .withColumn("d2", true_d2)
        .withColumn("rank", F.row_number().over(rerank_w))
        .filter(F.col("rank") <= ANN_PQ_K)
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            F.col("rank").cast("long").alias("rank"),
            F.round("d2", 6).alias("d2"),
        )
    )


QUERIES = {
    "vector_quantize": q_vector_quantize,
    "ann_pq_topk": q_ann_pq_topk,
    "centroid_assign": q_centroid_assign,
    "pq_codes": q_pq_codes,
    "dim_stats": q_dim_stats,
}


def _sql_list(vals: list[float]) -> str:
    return "[" + ", ".join(repr(v) for v in vals) + "]"


_CENTROID_DOTS = ",\n                   ".join(
    f"list_dot_product(v, {_sql_list(CENTROIDS[k])}) AS d{k}"
    for k in range(N_CENTROIDS)
)
_CENTROID_UNPIVOT = ", ".join(f"({k}, d{k})" for k in range(N_CENTROIDS))

_PQ_DISTS = []
for _sub in range(PQ_SUBSPACES):
    lo, hi = _sub * PQ_SUB_DIM + 1, (_sub + 1) * PQ_SUB_DIM
    for _k in range(PQ_K):
        _PQ_DISTS.append(
            f"SELECT vec_id, CAST({_sub} AS BIGINT) AS subspace, "
            f"CAST({_k} AS BIGINT) AS k, "
            f"list_distance(v[{lo}:{hi}], {_sql_list(PQ_BOOKS[_sub][_k])}) AS dist "
            f"FROM v"
        )
_PQ_UNION = "\n            UNION ALL ".join(_PQ_DISTS)

ORACLES: dict[str, str] = {
    "vector_quantize": """
        WITH e AS (
            SELECT vec_id,
                   generate_subscripts(embedding, 1) - 1 AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings
        ), s AS (
            SELECT pos, MAX(ABS(x)) AS scale FROM e GROUP BY pos
        ), q AS (
            SELECT vec_id, e.pos,
                   CASE WHEN scale > 0
                        THEN CAST(ROUND(127.0 * x / scale) AS BIGINT)
                        ELSE 0 END AS q
            FROM e JOIN s ON e.pos = s.pos
        )
        SELECT vec_id,
               CAST(SUM(ABS(q)) AS BIGINT) AS l1_q,
               CAST(SUM(q * q) AS BIGINT) AS l2_q,
               CAST(SUM(q * (pos + 1)) AS BIGINT) AS pos_checksum,
               COUNT(*) AS n_dims
        FROM q GROUP BY vec_id
    """,
    "centroid_assign": f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), d AS (
            SELECT vec_id,
                   {_CENTROID_DOTS}
            FROM v
        ), u AS (
            SELECT vec_id, CAST(k AS BIGINT) AS centroid_id, dot,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dot DESC, k DESC) AS rn
            FROM d, LATERAL (VALUES {_CENTROID_UNPIVOT}) AS t(k, dot)
        )
        SELECT vec_id, centroid_id, ROUND(dot, 6) AS dot
        FROM u WHERE rn = 1
    """,
    "pq_codes": f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), d AS (
            {_PQ_UNION}
        ), r AS (
            SELECT vec_id, subspace, k AS code, dist,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                                      ORDER BY dist ASC, k ASC) AS rn
            FROM d
        )
        SELECT vec_id, subspace, code, ROUND(dist, 6) AS dist
        FROM r WHERE rn = 1
    """,
    "dim_stats": """
        WITH e AS (
            SELECT generate_subscripts(embedding, 1) - 1 AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings
        )
        SELECT CAST(pos AS BIGINT) AS pos,
               ROUND(AVG(x), 6) AS mean,
               ROUND(STDDEV_SAMP(x), 6) AS std,
               ROUND(MIN(x), 6) AS vmin,
               ROUND(MAX(x), 6) AS vmax
        FROM e GROUP BY pos
    """,
}


def _pq_oracle_sql(iters: int = 20) -> str:
    """Value-checked oracle for the PQ ANN tier: the ENTIRE pipeline —
    sample selection, per-subspace Lloyd k-means (``iters`` iterations
    unrolled as materialized CTE stages, empty clusters carrying their
    previous centroid), corpus encoding, the asymmetric distance table,
    shortlist, and exact re-rank — is a deterministic function of the
    data and replays in SQL. argmin/stable-argsort tie-breaks map to
    ``ORDER BY distance ASC, code ASC``; squared distances use explicit
    (a-b)*(a-b) sums to mirror numpy. Cross-engine FP drift can only
    flip a code on a near-exact Voronoi tie (no mass there for random
    embeddings), and both engines are deterministic, so a pass on the
    fixed fixtures is stable."""
    sd, nsub = PQ_SUB_DIM, PQ_SUBSPACES
    parts = [
        f"""params AS (
            SELECT LEAST({ANN_PQ_TRAIN_K},
                         GREATEST(2, LEAST({ANN_PQ_TRAIN_SAMPLE}, COUNT(*)) // 4))
                   AS k
            FROM embeddings
        ), vecs AS MATERIALIZED (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), sample AS MATERIALIZED (
            SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
            FROM vecs QUALIFY rn <= {ANN_PQ_TRAIN_SAMPLE}
        ), subs AS MATERIALIZED (
            SELECT s.rn AS sid, g.s AS sub,
                   s.v[g.s * {sd} + 1 : g.s * {sd} + {sd}] AS x
            FROM sample s, LATERAL unnest(generate_series(0, {nsub - 1})) AS g(s)
        ), b0 AS MATERIALIZED (
            SELECT sub, sid - 1 AS code, x AS v
            FROM subs, params WHERE sid <= params.k
        )"""
    ]
    for i in range(1, iters + 1):
        parts.append(f"""a{i} AS MATERIALIZED (
            SELECT sid, sub, code FROM (
                SELECT s.sid, s.sub, b.code,
                       ROW_NUMBER() OVER (PARTITION BY s.sid, s.sub
                           ORDER BY list_distance(s.x, b.v) ASC, b.code ASC)
                           AS rn2
                FROM subs s JOIN b{i - 1} b USING (sub)
            ) WHERE rn2 = 1
        ), m{i} AS MATERIALIZED (
            SELECT sub, code, array_agg(mv ORDER BY pos) AS v FROM (
                SELECT a.sub, a.code, g.i AS pos, AVG(s.x[g.i]) AS mv
                FROM a{i} a JOIN subs s USING (sid, sub),
                     LATERAL unnest(generate_series(1, {sd})) AS g(i)
                GROUP BY a.sub, a.code, g.i
            ) GROUP BY sub, code
        ), b{i} AS MATERIALIZED (
            SELECT sub, code, v FROM m{i}
            UNION ALL
            SELECT b.sub, b.code, b.v FROM b{i - 1} b
            WHERE NOT EXISTS (SELECT 1 FROM m{i} m
                              WHERE m.sub = b.sub AND m.code = b.code)
        )""")
    parts.append(f"""csub AS MATERIALIZED (
            SELECT s.vec_id, g.s AS sub,
                   s.v[g.s * {sd} + 1 : g.s * {sd} + {sd}] AS x
            FROM vecs s, LATERAL unnest(generate_series(0, {nsub - 1})) AS g(s)
        ), codes AS MATERIALIZED (
            SELECT vec_id, sub, code FROM (
                SELECT c.vec_id, c.sub, b.code,
                       ROW_NUMBER() OVER (PARTITION BY c.vec_id, c.sub
                           ORDER BY list_distance(c.x, b.v) ASC, b.code ASC)
                           AS rn2
                FROM csub c JOIN b{iters} b USING (sub)
            ) WHERE rn2 = 1
        ), dtable AS MATERIALIZED (
            SELECT q.vec_id AS q_id, b.sub, b.code,
                   list_sum(list_transform(generate_series(1, {sd}),
                       i -> (q.x[i] - b.v[i]) * (q.x[i] - b.v[i]))) AS d2
            FROM csub q JOIN b{iters} b USING (sub)
            WHERE q.vec_id < 5
        ), appx AS MATERIALIZED (
            SELECT d.q_id, c.vec_id, SUM(d.d2) AS approx_d2
            FROM codes c JOIN dtable d ON d.sub = c.sub AND d.code = c.code
            GROUP BY d.q_id, c.vec_id
        ), sl AS (
            SELECT q_id, vec_id FROM (
                SELECT q_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY q_id
                           ORDER BY approx_d2 ASC, vec_id ASC) AS srank
                FROM appx WHERE vec_id <> q_id
            ) WHERE srank <= {ANN_PQ_SHORTLIST}
        ), rr AS (
            SELECT sl.q_id, sl.vec_id AS n_id,
                   list_sum(list_transform(generate_series(1, {DIM}),
                       i -> (qv.v[i] - nv.v[i]) * (qv.v[i] - nv.v[i]))) AS d2
            FROM sl
            JOIN vecs qv ON qv.vec_id = sl.q_id
            JOIN vecs nv ON nv.vec_id = sl.vec_id
        ), ranked AS (
            SELECT q_id, n_id, d2,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY d2 ASC, n_id ASC) AS rank
            FROM rr
        )
        SELECT q_id, n_id, rank, ROUND(d2, 6) AS d2
        FROM ranked WHERE rank <= {ANN_PQ_K}""")
    return "WITH " + ",\n        ".join(parts)


ORACLES["ann_pq_topk"] = _pq_oracle_sql()
