"""The bounded iterative queries run their rounds inside the plan: an
invocation launches the same number of Spark jobs on a repeat, and that
number does not depend on the round constant (no per-round jobs, no
eager checkpoints, no driver collects)."""

from __future__ import annotations

import importlib

import pytest

from tests.conftest import SF_DIR, job_group

CASES = [
    ("mmr_diverse_topk", "similarity", "MMR_K"),
    ("k_core_knn", "clustering", "KC_ROUNDS"),
    ("label_propagation_knn", "insights", "LP_ROUNDS"),
    ("bfs_hops_knn", "insights", "BFS_ROUNDS"),
]


@pytest.mark.parametrize("name,module,rounds", CASES, ids=[c[0] for c in CASES])
def test_job_count_is_per_invocation_not_per_round(spark, monkeypatch, name, module, rounds):
    from pb_etl_spark.catalog import read_table

    # the first read of a table in a JVM runs a schema-inference job,
    # which read_table then caches; that is per table, not per invocation
    read_table(spark, SF_DIR, "embeddings")
    mod = importlib.import_module(f"pb_etl_spark.operators.{module}")
    fn = mod.QUERIES[name]

    def jobs(group: str) -> int:
        # one cold invocation: build + collect
        spark.catalog.clearCache()
        with job_group(spark, group) as n:
            fn(spark, SF_DIR).collect()
        return n()

    first = jobs(f"{name}-first")
    assert first > 0
    repeat = jobs(f"{name}-repeat")
    assert repeat == first, f"{name}: a repeat launched {repeat} jobs, the first {first}"
    monkeypatch.setattr(mod, rounds, 1)
    one_round = jobs(f"{name}-one-round")
    assert one_round == first, f"{name}: {rounds}=1 launched {one_round} jobs, not {first}"
