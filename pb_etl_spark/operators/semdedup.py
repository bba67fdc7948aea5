"""Semantic (embedding-cluster) deduplication — the SemDeDup shape
(Abbas et al. 2023, arXiv:2303.09540): route every embedding to a
centroid cell, compare pairs ONLY within a cell, and keep one document
per near-duplicate group.

Reference parity note: the reference pipeline
(/root/reference/pb_etl/tasks.py) has no embedding ops at all; this is
part of the training-data-pipeline extension surface the brief names as
first-class, composing two primitives that are already oracle-checked on
their own (`vectors.centroid_assign` cell routing and the
`dedup.embedding_near_dup` cosine-pair semantics).

Scale design: the whole point of SemDeDup is that the O(n²) cosine
comparison becomes Σ_cells O(|cell|²). Cells come from a FIXED codebook
(seeded literals, `vectors.CENTROIDS`) so assignment is a pure
projection inside codegen — one scan, no fit, no shuffle. The pair join
shuffles on `centroid_id` once; at 100 TB you grow K with the corpus
(K ≈ n / target_cell_size, trained by `similarity.ivf_ann_topk`'s
distributed Lloyd steps) so |cell| stays O(1) and the within-cell
comparison is a bounded-width gram matrix per cell — the identical
bucket-local pattern `embedding_near_dup_lsh` already uses. Keep-rule
(min vec_id survives its cell's dup pairs) is a grouped anti-join on
ids, never vectors.

Correctness: output is ONE ROW PER VECTOR with its cell and a `kept`
flag, so the oracle cross-checks the full decision surface, not just the
survivor list. Cell routing ties and cosine threshold semantics mirror
the two parent oracles exactly (max-dot/max-k tie-break; raw-double
filter, rounded projection).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pb_etl_spark.catalog import read_table
from pb_etl_spark.operators.dedup import COSINE_DUP_THRESHOLD
from pb_etl_spark.operators.vectors import CENTROIDS, N_CENTROIDS, _dot_const


def assign_cells(emb: DataFrame) -> DataFrame:
    """(vec_id, v, centroid_id): nearest-centroid by max dot product,
    ties → max k — the exact `centroid_assign` semantics."""
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
    return emb.select(
        "vec_id",
        F.expr(vec).alias("v"),
        F.array_max(scored)["k"].alias("centroid_id"),
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup decision table: every vector with its cell and whether it
    survives within-cell cosine dedup (cos ≥ 0.4 to a LOWER vec_id in the
    same cell → dropped; the min id of each dup group survives).

    Pair verification is ONE NumPy gram matrix per cell inside
    ``applyInPandas`` — the same vectorized in-core shape as
    ``embedding_near_dup_lsh`` — instead of a centroid self-join whose
    per-pair cosine ran as 3 interpreted 64-element lambda folds
    (measured ~10 s at sf0.1 vs ~1 s for the grouped-matmul form). No
    candidate-pair relation is ever materialized; each cell emits only
    its dropped ids."""
    import numpy as np

    assign = assign_cells(read_table(spark, sf_dir, "embeddings"))
    threshold = COSINE_DUP_THRESHOLD

    def cell_dropped(pdf):
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame({"vec_id": []})
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        m = np.stack(pdf["v"].to_numpy()[order])
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        g = m @ m.T
        iu, ju = np.triu_indices(len(m), 1)
        hit = g[iu, ju] >= threshold  # ids sorted → ju side is the larger id
        return pd.DataFrame({"vec_id": np.unique(ids[ju[hit]])})

    dropped = (
        assign.groupBy("centroid_id")
        .applyInPandas(cell_dropped, schema="vec_id long")
        .withColumn("__dropped", F.lit(True))
    )
    return (
        assign.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "centroid_id",
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("kept"),
        )
    )


def _centroid_cells_cte() -> str:
    """DuckDB CTE producing (vec_id, v, centroid_id) with the exact
    centroid_assign tie-break (reuses vectors.py's unpivot fragments)."""
    from pb_etl_spark.operators.vectors import _CENTROID_DOTS, _CENTROID_UNPIVOT

    return f"""
        v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), d AS (
            SELECT vec_id, {_CENTROID_DOTS} FROM v
        ), assign AS (
            SELECT vec_id, CAST(k AS BIGINT) AS centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dot DESC, k DESC) AS rn
            FROM d, LATERAL (VALUES {_CENTROID_UNPIVOT}) AS t(k, dot)
            QUALIFY rn = 1
        )
    """


def _semantic_dedup_oracle() -> str:
    return f"""
        WITH {_centroid_cells_cte()},
        dropped AS (
            SELECT DISTINCT b.vec_id
            FROM assign a
            JOIN assign b ON a.centroid_id = b.centroid_id
                         AND a.vec_id < b.vec_id
            JOIN v va ON va.vec_id = a.vec_id
            JOIN v vb ON vb.vec_id = b.vec_id
            WHERE list_cosine_similarity(va.v, vb.v) >= {COSINE_DUP_THRESHOLD}
        )
        SELECT s.vec_id, s.centroid_id,
               (dropped.vec_id IS NULL) AS kept
        FROM assign s LEFT JOIN dropped ON dropped.vec_id = s.vec_id
    """


QUERIES = {
    "semantic_dedup": q_semantic_dedup,
}

ORACLES: dict[str, str] = {
    "semantic_dedup": _semantic_dedup_oracle(),
}
