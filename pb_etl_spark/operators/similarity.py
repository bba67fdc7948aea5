"""Similarity search over the ``embeddings`` table (array<float>, dim 64).

Two tiers (SURVEY.md §7 phase 4 / training-data surface):

- Brute-force cosine top-k — the exact baseline. Query vectors are a tiny
  broadcast side; the scan side streams once. ``F.aggregate``/``F.zip_with``
  keep the dot product JVM-side (no Python), so cost ≈ one pass over the
  corpus per query batch.
- LSH-bucketed ANN (random hyperplane signatures) — the scale path: sign-bit
  signatures bucket the corpus, candidates come from same-bucket join, exact
  cosine re-ranks candidates only. At 100 TB the bucket join replaces the
  full cross product; recall tunes with #planes/#tables.

DuckDB oracles: list_cosine_similarity for the exact tier, and FULL SQL
replays for both ANN tiers — the LSH oracle embeds the seeded hyperplanes
as literals, the IVF oracle re-derives centroids from the data — so every
registered similarity query is value-checked end-to-end (recall bounds
vs the exact tier are additionally asserted in tests).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from pb_etl_spark.catalog import read_table

N_QUERY_VECS = 5  # vec_id < 5 are the query set for the checkable top-k
TOP_K = 5


def _dot(a, b):
    """JVM-side dot product of two array columns.

    Accepts SQL text or Columns. The string form parses the whole
    lambda-aggregate in ONE py4j roundtrip; the Column form costs ~37 ms
    of py4j PER CALL building the lambda wrappers (r14 measurement,
    ~2 s across the headline frame builds). Both produce the identical
    sequential-fold expression — value equality is pinned in
    tests/test_r14_optimizations.py and by every cosine oracle."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_sql(a, b))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    """L2 norm; same dual string/Column contract as ``_dot``."""
    if isinstance(a, str):
        return F.expr(_norm_sql(a))
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def _dot_sql(a: str, b: str) -> str:
    """SQL text of ``_dot``, for use inside a larger SQL expression."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"


def _norm_sql(a: str) -> str:
    """SQL text of ``_norm``, for use inside a larger SQL expression."""
    return f"sqrt(aggregate(transform({a}, x -> x * x), 0.0D, (acc, v) -> acc + v))"


def _let(name: str, value: str, body: str) -> str:
    """SQL ``let name = value in body``: ``value`` is evaluated ONCE and
    bound as a lambda variable through ``aggregate``'s finish lambda.

    Bounded iterative state must be bound this way rather than projected
    in one ``select`` and read inside a lambda in the next: CollapseProject
    inlines the projected expression into the lambda, where it is then
    re-evaluated for every element that reads it."""
    return f"aggregate(array(0), {value}, ({name}, _) -> {name}, {name} -> {body})"


def _cos_or_zero(dot, nrm_prod):
    """Cosine with an explicit zero-norm guard: similarity 0.0 (treat as
    orthogonal) when either norm is zero, instead of 0/0. Without the
    guard a zero-norm vector CRASHES under Spark 4's default ANSI mode
    (DIVIDE_BY_ZERO) and silently diverges under DuckDB
    (list_cosine_similarity returns -1.0 for a zero vector). Found by
    the adversarial-fixture sweep (tools/adversarial_fixture.py): a
    one-hot embedding whose lit dimension lies OUTSIDE the Matryoshka
    prefix is a perfectly valid non-degenerate vector whose TRUNCATED
    prefix is zero-norm — so the guard is matryoshka-specific by
    contract (full-vector consumers may assume non-zero-norm
    embeddings; truncation breaks that assumption internally). The
    CASE short-circuits per row, so the division never executes on
    guarded rows."""
    return F.when(nrm_prod == 0, F.lit(0.0)).otherwise(dot / nrm_prod)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_bound: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set against the corpus, dot/
    norm JVM-side, per-query row_number ≤ k. One corpus scan total.

    Norms are computed ONCE PER SIDE before the pair join (n + m folds
    instead of 2·n·m) — same bitwise arithmetic as folding them per pair
    (the dot and the two norm values are unchanged doubles), at a third
    of the lambda-aggregate work, which dominates this operator's cost.

    For a constant-bounded self-join slice (pagerank's PR_NODES filter:
    bound² pairs on a single-row-group scan = ONE task), ``corpus_bound``
    spreads the corpus side over ``pair_build_width`` tasks — measured
    0.95 s → 0.54 s for the 200-node edge build at sf0.1, A/B'd both
    orders. Small |corpus|·|queries| workloads (the 5-query exact tier)
    deliberately stay unrepartitioned: the extra exchange + 32 near-
    empty tasks measured SLOWER than the single ~0.1 s task."""
    from pb_etl_spark.operators._width import pair_build_width

    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
    ).withColumn("q_nrm", _norm("q_vec"))
    c = corpus.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).cast("array<double>").alias("n_vec"),
    )
    if corpus_bound is not None:
        c = c.repartition(pair_build_width(corpus.sparkSession, corpus_bound))
    c = c.withColumn("n_nrm", _norm("n_vec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("n_id") != F.col("q_id"))
        .select(
            "q_id",
            "n_id",
            (_dot("q_vec", "n_vec")
             / (F.col("q_nrm") * F.col("n_nrm"))).alias("cos"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", F.col("rank").cast("long").alias("rank"), F.round("cos", 6).alias("cos"))
    )


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked brute-force cosine top-5 for query vectors vec_id<5."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return cosine_topk(emb, queries)


MAT_DIM = 16  # matryoshka prefix width (of DIM=64)
MAT_CAND = 20  # coarse-stage candidates per query


def q_matryoshka_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka two-stage retrieval: rank candidates by cosine over the
    FIRST 16 dims (4× less math and, at scale, 4× less I/O — the
    truncated prefix is stored as its own column/file), keep the top 20
    per query, then exactly re-rank those with full 64-dim cosine to the
    final top-5. The shape MRL-trained embeddings exist for; also the
    standard pattern for any coarse→exact retrieval cascade. Candidate
    selection AND re-rank are both deterministic (vec_id tiebreaks), so
    the whole cascade is oracle-checked — including which candidates the
    coarse stage admits."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # truncated-prefix norms attached once per side (not folded per pair;
    # same doubles, a third of the lambda-aggregate work — see cosine_topk)
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("q_vec"),
        _norm(f"slice(v, 1, {MAT_DIM})").alias("qt_nrm"),
    )
    c = emb.select(
        F.col("vec_id").alias("n_id"),
        F.col("v").alias("n_vec"),
        _norm(f"slice(v, 1, {MAT_DIM})").alias("nt_nrm"),
    )
    qt = f"slice(q_vec, 1, {MAT_DIM})"
    nt = f"slice(n_vec, 1, {MAT_DIM})"
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("n_id") != F.col("q_id"))
        .select(
            "q_id",
            "n_id",
            "q_vec",
            "n_vec",
            _cos_or_zero(
                _dot(qt, nt), F.col("qt_nrm") * F.col("nt_nrm")
            ).alias("cos_t"),
        )
    )
    w1 = W.partitionBy("q_id").orderBy(F.col("cos_t").desc(), F.col("n_id").asc())
    cand = scored.withColumn("r1", F.row_number().over(w1)).filter(
        F.col("r1") <= MAT_CAND
    )
    rerank = cand.select(
        "q_id",
        "n_id",
        _cos_or_zero(
            _dot("q_vec", "n_vec"),
            _norm("q_vec") * _norm("n_vec"),
        ).alias("cos"),
    )
    w2 = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id").asc())
    return (
        rerank.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "q_id",
            "n_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("cos", 6).alias("cos"),
        )
    )


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array math + grouped agg: per-label count and mean L2 norm."""
    emb = read_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", _norm("CAST(embedding AS ARRAY<DOUBLE>)").alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
        )
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    n_planes: int = 16,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate NN via random-hyperplane LSH.

    Signature = sign bits of <v, r_j> packed to a BIGINT per table; corpus
    and queries bucket by (table, signature); same-bucket pairs are exact-
    re-ranked. The candidate join shuffles only (id, bucket) pairs — at
    100 TB this is the difference between a cross product and a key join.
    Hyperplanes are a deterministic seeded driver-side constant (n_tables ×
    n_planes × dim doubles ≈ KBs) baked into the plan as literals.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    rnd = _deterministic_gaussians(seed, n_tables * n_planes * dim)
    planes = np.array(rnd).reshape(n_tables * n_planes, dim)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    # all table signatures in ONE Arrow-batched matrix multiply per batch
    # (the per-plane JVM lambda-aggregate version interpreted
    # n_tables×n_planes array reductions per row — ~6× slower)
    @pandas_udf("array<long>")
    def all_sigs(vecs):
        import pandas as pd

        m = np.stack(vecs.to_numpy())  # (n, dim)
        bits = (m @ planes.T >= 0).astype(np.int64)  # (n, tables*planes)
        packed = (bits.reshape(len(m), n_tables, n_planes) * weights).sum(axis=2)
        return pd.Series(list(packed))

    def bucketed(df: DataFrame, prefix: str) -> DataFrame:
        vec = F.col(vec_col).cast("array<double>")
        return (
            df.select(F.col(id_col).alias(f"{prefix}_id"), vec.alias(f"{prefix}_vec"))
            # norm computed once per vector, BEFORE the per-table explode
            .withColumn(f"{prefix}_nrm", _norm(f"{prefix}_vec"))
            .withColumn("__sigs", all_sigs(F.col(f"{prefix}_vec")))
            .select(
                f"{prefix}_id",
                f"{prefix}_vec",
                f"{prefix}_nrm",
                F.posexplode("__sigs").alias("tbl", "sig"),
            )
        )

    cb = bucketed(corpus, "n")
    qb = bucketed(queries, "q")
    cands = (
        cb.join(F.broadcast(qb), ["tbl", "sig"])
        .filter(F.col("n_id") != F.col("q_id"))
        .select("q_id", "q_vec", "q_nrm", "n_id", "n_vec", "n_nrm")
        .dropDuplicates(["q_id", "n_id"])
    )
    scored = cands.select(
        "q_id",
        "n_id",
        (_dot("q_vec", "n_vec")
         / (F.col("q_nrm") * F.col("n_nrm"))).alias("cos"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", F.col("rank").cast("long").alias("rank"), F.round("cos", 6).alias("cos"))
    )


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    n_centroids: int = 16,
    n_probe: int = 4,
    refine_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN: partition the corpus into Voronoi cells
    around centroids; a query probes only its ``n_probe`` nearest cells and
    exact-re-ranks that slice.

    Scale shape: centroid assignment is one Arrow-batched pandas UDF pass
    over the corpus (centroid matrix is a tiny closure constant shipped to
    executors); the candidate join is a key equi-join on cell id — at 100 TB
    the corpus would be written partitioned by ``cell`` so a probe prunes
    ~(n_probe/n_centroids) of the files before any compute. Centroids are
    seeded from the first ``n_centroids`` vectors by id and refined with
    ``refine_iters`` distributed Lloyd steps (posexplode → per-dimension
    mean), which is k-means without any driver-side iteration over rows.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    c = corpus.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).cast("array<double>").alias("n_vec"),
    )
    seed_rows = (
        c.orderBy("n_id").limit(n_centroids).select("n_vec").collect()
    )
    centroids = np.array([r["n_vec"] for r in seed_rows])

    def make_assign(cents: np.ndarray):
        @pandas_udf("int")
        def assign(vecs):
            import pandas as pd

            m = np.stack(vecs.to_numpy())
            d = ((m[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            return pd.Series(d.argmin(axis=1))

        return assign

    for _ in range(refine_iters):
        assigned = c.withColumn("cell", make_assign(centroids)(F.col("n_vec")))
        means = (
            assigned.select("cell", F.posexplode("n_vec").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.avg("val").alias("mean_val"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mean_val"))).alias("pairs"))
            .select("cell", F.transform("pairs", lambda p: p.mean_val).alias("centroid"))
            .collect()
        )
        for r in means:
            centroids[r["cell"]] = np.array(r["centroid"])

    assign_final = make_assign(centroids)
    corpus_cells = c.withColumn("cell", assign_final(F.col("n_vec")))

    def make_probe(cents: np.ndarray, probes: int):
        @pandas_udf("array<int>")
        def probe(vecs):
            import pandas as pd

            m = np.stack(vecs.to_numpy())
            d = ((m[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            return pd.Series(list(d.argsort(axis=1)[:, :probes]))

        return probe

    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
    ).withColumn("cell", F.explode(make_probe(centroids, n_probe)(F.col("q_vec"))))

    cands = (
        corpus_cells.join(F.broadcast(q), "cell")
        .filter(F.col("n_id") != F.col("q_id"))
        .select("q_id", "q_vec", "n_id", "n_vec")
    )
    scored = cands.select(
        "q_id",
        "n_id",
        (_dot("q_vec", "n_vec")
         / (_norm("q_vec") * _norm("n_vec"))).alias("cos"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", F.col("rank").cast("long").alias("rank"), F.round("cos", 6).alias("cos"))
    )


def _corpus_count(spark: SparkSession, sf_dir: str) -> int:
    """Row count of the embeddings corpus from parquet FOOTER metadata —
    driver-side, no Spark job, so sizing a hash family costs no action
    and is read fresh on every call (a file rewritten in place changes
    the plane count). Falls back to a Spark count (itself
    metadata-optimized for parquet) on non-local roots."""
    try:
        import pyarrow.parquet as pq

        n = pq.ParquetFile(f"{sf_dir.rstrip('/')}/embeddings.parquet").metadata.num_rows
    except Exception:  # non-posix path (e.g. object store) — let Spark read it
        n = read_table(spark, sf_dir, "embeddings").count()
    return int(n)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 for vec_id<5. HASH-CHECKED: the
    seeded hyperplanes are embedded in the oracle as literals and the
    whole bucket→re-rank path replays in SQL (``_lsh_oracle_sql``);
    tests additionally bound recall vs the exact tier."""
    emb = read_table(spark, sf_dir, "embeddings")
    # plane count scales with |corpus| (≈log2(n) - 2): bucket occupancy
    # stays O(1) as the corpus grows, so candidate sets — and the re-rank
    # cost — stay bounded from 150 vectors to 10^9
    import math

    n = _corpus_count(spark, sf_dir)
    planes = max(4, min(16, int(math.log2(max(n, 2))) - 2))
    return lsh_ann_topk(
        emb, emb.filter(F.col("vec_id") < N_QUERY_VECS), n_planes=planes, n_tables=8
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-partitioned approximate top-5 for vec_id<5. HASH-CHECKED:
    the whole seed→Lloyd→assign→probe→re-rank pipeline is a
    deterministic function of the data and replays in SQL
    (``_ivf_oracle_sql``); tests additionally bound recall vs exact."""
    emb = read_table(spark, sf_dir, "embeddings")
    return ivf_ann_topk(emb, emb.filter(F.col("vec_id") < N_QUERY_VECS))


def _deterministic_gaussians(seed: int, n: int) -> list[float]:
    """Seeded standard normals via a splitmix-style LCG + Box-Muller —
    reproducible across runs without numpy state."""
    out: list[float] = []
    state = seed & 0xFFFFFFFFFFFFFFFF
    def next_u():
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        return ((state >> 11) & ((1 << 53) - 1)) / float(1 << 53)
    while len(out) < n:
        u1, u2 = next_u(), next_u()
        if u1 <= 1e-12:
            continue
        r = math.sqrt(-2.0 * math.log(u1))
        out.append(r * math.cos(2 * math.pi * u2))
        out.append(r * math.sin(2 * math.pi * u2))
    return out[:n]


def _lsh_oracle_sql() -> str:
    """Value-checked oracle for the LSH ANN tier: the hyperplanes are a
    PURE seeded function (``_deterministic_gaussians`` is prefix-stable —
    the first r·dim draws are identical for any n_planes), so the max
    8×16 plane rows are embedded as DOUBLE[] literals and the oracle
    re-derives n_planes from the corpus count with the same
    log2-clamp the Spark side uses. Signature packing, bucket join,
    dedup, exact cosine re-rank and top-k then replay in SQL. Sign bits
    are FP-stable across engines: |<v, r>| has no mass near 0 at double
    precision for random data."""
    dim, n_tables, max_planes = 64, 8, 16
    g = _deterministic_gaussians(42, n_tables * max_planes * dim)
    rows = ",\n                ".join(
        "({}, [{}])".format(
            r, ", ".join(repr(x) for x in g[r * dim : (r + 1) * dim])
        )
        for r in range(n_tables * max_planes)
    )
    return f"""
        WITH params AS (
            SELECT GREATEST(4, LEAST(16,
                       CAST(FLOOR(LOG2(GREATEST(COUNT(*), 2))) AS INT) - 2))
                   AS n_planes
            FROM embeddings
        ), plane_lit(row_idx, p) AS (
            VALUES {rows}
        ), plane_map AS (
            SELECT pl.row_idx // params.n_planes AS tbl,
                   pl.row_idx % params.n_planes AS j,
                   pl.p
            FROM plane_lit pl CROSS JOIN params
            WHERE pl.row_idx < {n_tables} * params.n_planes
        ), vecs AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), sigs AS (
            SELECT v.vec_id, pm.tbl,
                   CAST(SUM(CASE WHEN list_dot_product(v.v, pm.p) >= 0
                                 THEN (1::BIGINT << pm.j) ELSE 0 END)
                        AS BIGINT) AS sig
            FROM vecs v CROSS JOIN plane_map pm
            GROUP BY v.vec_id, pm.tbl
        ), cand AS (
            SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
            FROM sigs q JOIN sigs c ON q.tbl = c.tbl AND q.sig = c.sig
            WHERE q.vec_id < {N_QUERY_VECS} AND c.vec_id <> q.vec_id
        ), scored AS (
            SELECT cand.q_id, cand.n_id,
                   list_cosine_similarity(qv.v, nv.v) AS cos
            FROM cand
            JOIN vecs qv ON qv.vec_id = cand.q_id
            JOIN vecs nv ON nv.vec_id = cand.n_id
        ), ranked AS (
            SELECT q_id, n_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY cos DESC, n_id ASC) AS rank
            FROM scored
        )
        SELECT q_id, n_id, rank, ROUND(cos, 6) AS cos
        FROM ranked WHERE rank <= {TOP_K}
    """


ORACLES: dict[str, str] = {
    "knn_cosine": f"""
        WITH pairs AS (
            SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                   list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])) AS cos
            FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
            WHERE q.vec_id < {N_QUERY_VECS}
        ), ranked AS (
            SELECT q_id, n_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY cos DESC, n_id ASC) AS rank
            FROM pairs
        )
        SELECT q_id, n_id, rank, ROUND(cos, 6) AS cos
        FROM ranked WHERE rank <= {TOP_K}
    """,
    "embedding_norms": """
        SELECT label, COUNT(*) AS n_vecs,
               ROUND(AVG(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                               CAST(embedding AS DOUBLE[])))), 6)
                   AS avg_norm
        FROM embeddings GROUP BY label
    """,
    "matryoshka_knn": f"""
        WITH pairs AS (
            -- cosine with the SAME zero-norm guard as the Spark leg
            -- (similarity 0.0 when either norm is zero): DuckDB's
            -- list_cosine_similarity returns -1.0 for a zero vector,
            -- and a one-hot embedding can have a zero-norm Matryoshka
            -- PREFIX while being perfectly valid at full width
            SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                   CASE WHEN list_dot_product(qt, qt) = 0
                          OR list_dot_product(ct, ct) = 0 THEN 0.0
                        ELSE list_dot_product(qt, ct)
                             / (sqrt(list_dot_product(qt, qt))
                                * sqrt(list_dot_product(ct, ct))) END AS cos_t,
                   CASE WHEN list_dot_product(qv, qv) = 0
                          OR list_dot_product(cv, cv) = 0 THEN 0.0
                        ELSE list_dot_product(qv, cv)
                             / (sqrt(list_dot_product(qv, qv))
                                * sqrt(list_dot_product(cv, cv))) END AS cos
            FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS qv,
                         CAST(embedding[1:{MAT_DIM}] AS DOUBLE[]) AS qt
                  FROM embeddings WHERE vec_id < {N_QUERY_VECS}) q
            JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv,
                         CAST(embedding[1:{MAT_DIM}] AS DOUBLE[]) AS ct
                  FROM embeddings) c ON q.vec_id != c.vec_id
        ), cand AS (
            SELECT q_id, n_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY cos_t DESC, n_id ASC) AS r1
            FROM pairs
        ), rr AS (
            SELECT q_id, n_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY cos DESC, n_id ASC) AS rank
            FROM cand WHERE r1 <= {MAT_CAND}
        )
        SELECT q_id, n_id, rank, ROUND(cos, 6) AS cos
        FROM rr WHERE rank <= {TOP_K}
    """,
}

def _ivf_oracle_sql(
    n_centroids: int = 16, n_probe: int = 4, dim: int = 64
) -> str:
    """Value-checked oracle for the IVF ANN tier — the whole pipeline is
    a deterministic function of the data, so it replays in SQL: seed
    centroids are the first ``n_centroids`` vectors by id (exact data,
    no FP), the single Lloyd step is a per-cell per-dimension AVG, and
    every argmin/argsort maps to ``ORDER BY distance ASC, cell ASC``
    (numpy's argmin/stable argsort return the FIRST index on ties).
    Cross-engine FP drift (summation order in distances and means) can
    only flip an assignment on a near-exact Voronoi tie — no mass there
    for random embeddings, and both engines are deterministic, so a pass
    on the fixed fixtures is stable."""
    return f"""
        WITH vecs AS MATERIALIZED (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), c0 AS MATERIALIZED (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, v
            FROM vecs ORDER BY vec_id LIMIT {n_centroids}
        ), a0 AS MATERIALIZED (
            SELECT vec_id, cell FROM (
                SELECT x.vec_id, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY x.vec_id
                           ORDER BY list_distance(x.v, c.v) ASC, c.cell ASC)
                           AS rn
                FROM vecs x CROSS JOIN c0 c
            ) WHERE rn = 1
        ), c1 AS MATERIALIZED (
            SELECT cell, array_agg(mean_val ORDER BY pos) AS v FROM (
                SELECT a.cell, g.i AS pos, AVG(x.v[g.i]) AS mean_val
                FROM a0 a JOIN vecs x USING (vec_id),
                     LATERAL unnest(generate_series(1, {dim})) AS g(i)
                GROUP BY a.cell, g.i
            ) GROUP BY cell
        ), c1f AS MATERIALIZED (
            SELECT cell, v FROM c1
            UNION ALL
            SELECT c0.cell, c0.v FROM c0
            WHERE c0.cell NOT IN (SELECT cell FROM c1)
        ), af AS MATERIALIZED (
            SELECT vec_id, cell FROM (
                SELECT x.vec_id, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY x.vec_id
                           ORDER BY list_distance(x.v, c.v) ASC, c.cell ASC)
                           AS rn
                FROM vecs x CROSS JOIN c1f c
            ) WHERE rn = 1
        ), probes AS (
            SELECT vec_id AS q_id, cell FROM (
                SELECT x.vec_id, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY x.vec_id
                           ORDER BY list_distance(x.v, c.v) ASC, c.cell ASC)
                           AS rn
                FROM vecs x CROSS JOIN c1f c
                WHERE x.vec_id < {N_QUERY_VECS}
            ) WHERE rn <= {n_probe}
        ), cand AS (
            SELECT p.q_id, a.vec_id AS n_id
            FROM probes p JOIN af a USING (cell)
            WHERE a.vec_id <> p.q_id
        ), scored AS (
            SELECT cand.q_id, cand.n_id,
                   list_cosine_similarity(qv.v, nv.v) AS cos
            FROM cand
            JOIN vecs qv ON qv.vec_id = cand.q_id
            JOIN vecs nv ON nv.vec_id = cand.n_id
        ), ranked AS (
            SELECT q_id, n_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY cos DESC, n_id ASC) AS rank
            FROM scored
        )
        SELECT q_id, n_id, rank, ROUND(cos, 6) AS cos
        FROM ranked WHERE rank <= {TOP_K}
    """


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: for each
    query vector, the top-5 most similar corpus vectors with a DIFFERENT
    label — the highest-similarity wrong answers that make the best
    training negatives (random negatives are trivially easy; these sit
    on the decision boundary).

    Same shape as ``q_knn_cosine`` (broadcast query set, one corpus
    scan, per-query heap) plus the label-mismatch predicate applied
    BEFORE the window, so positives never occupy heap slots. At scale
    the exact scan swaps for the ANN tiers exactly as kNN does."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("q_vec"),
        _norm("v").alias("q_nrm"),
    )
    c = emb.select(
        F.col("vec_id").alias("n_id"),
        F.col("label").alias("n_label"),
        F.col("v").alias("n_vec"),
        _norm("v").alias("n_nrm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("n_label") != F.col("q_label"))
        .select(
            "q_id",
            "n_id",
            F.col("n_label").alias("neg_label"),
            (_dot("q_vec", "n_vec")
             / (F.col("q_nrm") * F.col("n_nrm"))).alias("cos"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "q_id",
            "n_id",
            "neg_label",
            F.col("rank").cast("long").alias("rank"),
            F.round("cos", 6).alias("cos"),
        )
    )


MMR_LAMBDA = 0.7  # relevance weight; 1-λ penalizes similarity to picks
MMR_CAND = 10  # coarse top-k candidate pool per query
MMR_K = 5  # final diversified picks


def q_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: per query, take the top-10
    candidates by cosine, then greedily pick 5 maximizing
    λ·rel − (1−λ)·max-sim-to-already-picked — the standard diversified
    retrieval head (a plain top-k returns 5 near-duplicates of the same
    neighborhood; MMR spends the tail slots on coverage).

    One in-plan pass: each query's ≤ MMR_CAND candidates are collected
    into one row (sorted by n_id), the pairwise-sim matrix is built in
    that row, and ``MMR_K`` greedy rounds run as one SQL ``aggregate``
    over per-candidate state (max-sim to the picks so far, updated
    incrementally after each pick; pick round; score at pick time).
    Each round's argmax is ``array_max`` over (score, −position)
    structs: highest score, ties to the smallest n_id — the oracle's
    (score desc, n_id asc) window. Every double chain (rel, pairwise
    sims, the score) is identical in the DuckDB oracle, which replays
    the same greedy steps as unrolled CTEs — the selection ORDER itself
    is value-checked, not just the set."""
    raw = read_table(spark, sf_dir, "embeddings")
    emb = raw.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    # rel rides cosine_topk's 6-dp-rounded cos, and the pairwise sims
    # are SNAPPED to a 1e-9 grid (the pagerank per-step quantization):
    # the engines' cosine chains can differ by an ulp, and the greedy
    # score 0.7·rel − 0.3·msim would push that ulp across a
    # ROUND(...,6) boundary; snapped inputs make the score chain
    # bit-identical. Candidate SELECTION happens inside cosine_topk on
    # the unrounded cos (knn_cosine's established selection semantics).
    cand = (
        cosine_topk(raw, raw.filter(F.col("vec_id") < N_QUERY_VECS), k=MMR_CAND)
        .join(emb, "n_id")
        .withColumn("n", _norm("v"))
        .groupBy("q_id")
        .agg(
            F.collect_list(
                F.struct("n_id", F.col("cos").alias("rel"), "n", "v")
            ).alias("cs")
        )
    )
    # one row per query: c = candidates sorted by n_id (so the smallest
    # position is the smallest n_id), sim = their pairwise-sim matrix,
    # st = per-candidate state (max sim to the picks so far, pick round
    # or 0, score at pick time), t = the greedy round
    pos = "sequence(0, size(c) - 1)"
    sims = (
        "transform(c, a -> transform(c, b -> "
        f"round({_dot_sql('a.v', 'b.v')} / (a.n * b.n), 9)))"
    )
    score = (
        f"IF(t = 1, c[i].rel, "
        f"{MMR_LAMBDA!r}D * c[i].rel - {1 - MMR_LAMBDA!r}D * st[i].msim)"
    )
    best = (
        f"array_max(transform(filter({pos}, i -> st[i].pick = 0), "
        f"i -> named_struct('score', {score}, 'neg', -i)))"
    )
    step = _let(
        "b",
        best,
        "IF(b IS NULL, st, transform(st, (e, i) -> IF(i = -b.neg, "
        "named_struct('msim', e.msim, 'pick', t, 'score', b.score), "
        "named_struct('msim', greatest(e.msim, sim[i][-b.neg]), "
        "'pick', e.pick, 'score', e.score))))",
    )
    init = (
        "transform(c, x -> named_struct("
        "'msim', CAST(NULL AS DOUBLE), 'pick', 0, 'score', CAST(NULL AS DOUBLE)))"
    )
    emit = (
        f"transform(filter({pos}, i -> st[i].pick > 0), i -> named_struct("
        "'pick', CAST(st[i].pick AS BIGINT), 'n_id', c[i].n_id, "
        "'rel', round(c[i].rel, 6), 'score', round(st[i].score, 6)))"
    )
    greedy = f"aggregate(sequence(1, {MMR_K}), {init}, (st, t) -> {step}, st -> {emit})"
    return cand.select(
        "q_id",
        F.inline(F.expr(_let("c", "array_sort(cs)", _let("sim", sims, greedy)))),
    )


def _mmr_oracle_sql() -> str:
    """Unrolled greedy MMR as CTE stages — pairwise sims and the score
    chain use the same double arithmetic as the Spark side."""
    steps = []
    prev = "sel1"
    for t in range(2, MMR_K + 1):
        steps.append(f"""
        scored{t} AS (
            SELECT c.q_id, c.n_id, c.rel,
                   {MMR_LAMBDA} * c.rel - {1 - MMR_LAMBDA} * MAX(s.s) AS score
            FROM cand c
            JOIN sims s ON s.q_id = c.q_id AND s.i = c.n_id
            JOIN {prev} p ON p.q_id = s.q_id AND p.n_id = s.j
            WHERE NOT EXISTS (SELECT 1 FROM {prev} x
                              WHERE x.q_id = c.q_id AND x.n_id = c.n_id)
            GROUP BY c.q_id, c.n_id, c.rel
        ),
        pick{t} AS (
            SELECT q_id, n_id, rel, score, CAST({t} AS BIGINT) AS pick
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY score DESC, n_id ASC) AS r
                  FROM scored{t})
            WHERE r = 1
        ),
        sel{t} AS (SELECT q_id, n_id, rel, score, pick FROM sel{t - 1}
                   UNION ALL SELECT q_id, n_id, rel, score, pick FROM pick{t})""")
        prev = f"sel{t}"
    return f"""
        WITH pool AS (
            SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                   list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])) AS rel
            FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
            WHERE q.vec_id < {N_QUERY_VECS}
        ),
        cand AS (
            -- selection on the UNROUNDED rel (knn_cosine semantics);
            -- the projected rel is 6-dp-rounded exactly like
            -- cosine_topk's cos output on the Spark side
            SELECT q_id, n_id, ROUND(rel, 6) AS rel
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY rel DESC, n_id ASC) AS r
                  FROM pool)
            WHERE r <= {MMR_CAND}
        ),
        sims AS (
            SELECT a.q_id, a.n_id AS i, b.n_id AS j,
                   ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                                CAST(eb.embedding AS DOUBLE[])),
                         9) AS s
            FROM cand a
            JOIN cand b ON a.q_id = b.q_id AND a.n_id != b.n_id
            JOIN embeddings ea ON ea.vec_id = a.n_id
            JOIN embeddings eb ON eb.vec_id = b.n_id
        ),
        sel1 AS (
            SELECT q_id, n_id, rel, rel AS score, CAST(1 AS BIGINT) AS pick
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY rel DESC, n_id ASC) AS r
                  FROM cand)
            WHERE r = 1
        ),{",".join(steps)}
        SELECT q_id, pick, n_id, ROUND(rel, 6) AS rel, ROUND(score, 6) AS score
        FROM sel{MMR_K}
    """


# registered here (not in the dict literal) because the SQL builders need
# _deterministic_gaussians / the module constants, defined above
ORACLES["ann_lsh_topk"] = _lsh_oracle_sql()
ORACLES["ann_ivf_topk"] = _ivf_oracle_sql()
ORACLES["mmr_diverse_topk"] = _mmr_oracle_sql()
ORACLES["hard_negative_mining"] = f"""
    WITH pairs AS (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id, c.label AS neg_label,
               list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])) AS cos
        FROM embeddings q JOIN embeddings c
          ON q.vec_id != c.vec_id AND q.label != c.label
        WHERE q.vec_id < {N_QUERY_VECS}
    ), ranked AS (
        SELECT q_id, n_id, neg_label, cos,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, n_id ASC) AS rank
        FROM pairs
    )
    SELECT q_id, n_id, neg_label, rank, ROUND(cos, 6) AS cos
    FROM ranked WHERE rank <= {TOP_K}
"""

QUERIES = {
    "knn_cosine": q_knn_cosine,
    "matryoshka_knn": q_matryoshka_knn,
    "embedding_norms": q_embedding_norms,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "hard_negative_mining": q_hard_negative_mining,
    "mmr_diverse_topk": q_mmr_diverse_topk,
}
