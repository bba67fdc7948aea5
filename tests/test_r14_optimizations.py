"""Focused pins for the r14 optimization round's internal changes.

Each optimization that changed an operator's internals gets a contract
test here: the scan-plan cache in ``catalog.read_table``, the
work-proportional ``pair_build_width`` / ``bounded_fanout_width``
helpers, the single-roundtrip id-indexed array literal the graph loops
push membership through, ``swap_persist(materialize=True)``, and the
sketch-state partition override in ``run_to_memory``. Value identity of
the optimized queries themselves is pinned by the oracle sweep
(tools/check_oracle.py), not here.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


# ---------------------------------------------------------------- read_table
def test_read_table_returns_cached_plan_for_unchanged_file(spark):
    from pb_etl_spark.catalog import read_table

    a = read_table(spark, SF_DIR, "region")
    b = read_table(spark, SF_DIR, "region")
    assert a is b, "same session + same file stamp must reuse the lazy plan"
    # the cached object is a plain lazy frame: actions still scan
    assert a.count() == b.count() > 0


def test_read_table_misses_cache_when_file_regenerated(spark, tmp_path):
    from pb_etl_spark.catalog import read_table

    sf = tmp_path / "sf"
    sf.mkdir()
    src = os.path.join(SF_DIR, "region.parquet")
    dst = sf / "region.parquet"
    shutil.copyfile(src, dst)
    a = read_table(spark, str(sf), "region")
    # regenerate in place: same path, new mtime → must NOT serve the old
    # plan (its file index snapshot could be stale)
    shutil.copyfile(src, dst)
    os.utime(dst, ns=(os.stat(dst).st_mtime_ns + 1, os.stat(dst).st_mtime_ns + 1))
    b = read_table(spark, str(sf), "region")
    assert a is not b


def test_read_table_cache_is_per_session_key(spark):
    # entries are keyed by the live session object; a second lookup via
    # the same session hits, and the cache never outlives it (weak keys)
    from pb_etl_spark.catalog import _SCAN_CACHE, read_table

    read_table(spark, SF_DIR, "nation")
    assert spark in _SCAN_CACHE
    # r15 (ADVICE r14): entries are keyed by PATH with the freshness
    # stamp stored alongside, so a regenerated fixture REPLACES its
    # entry instead of accumulating dead plans
    assert any(p.endswith("nation.parquet") for p in _SCAN_CACHE[spark])
    for stamp, df in _SCAN_CACHE[spark].values():
        assert isinstance(stamp, tuple) and df is not None


def test_read_table_bypasses_cache_without_freshness_signal(spark, monkeypatch):
    """ADVICE r14: when os.stat fails (remote path), read_table must not
    touch the cache at all — the old id(object()) sentinel could collide
    on a reused address and serve a stale file listing."""
    import pb_etl_spark.catalog as cat

    monkeypatch.setattr(cat, "_path_stamp", lambda path: None)
    before = dict(cat._SCAN_CACHE.get(spark, {}))
    a = cat.read_table(spark, SF_DIR, "region")
    b = cat.read_table(spark, SF_DIR, "region")
    assert a is not b, "uncacheable reads must build fresh plans"
    assert dict(cat._SCAN_CACHE.get(spark, {})) == before, "cache untouched"


# ---------------------------------------------------------------- widths
def test_pair_build_width_is_work_proportional(spark):
    from pb_etl_spark.operators._width import (
        bounded_fanout_width,
        pair_build_width,
    )

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "2000")
        # 200-node slice: 40k pairs / 5k per task = 8 — NOT the 2000-wide
        # deployment knob (empty-task storm) and NOT the 200-row cap
        assert pair_build_width(spark, 200) == 8
        # a tiny slice's pair work fits one task
        assert pair_build_width(spark, 4) == 1
        assert bounded_fanout_width(spark, 200) == 200
        spark.conf.set(key, "4")
        # floor: never below 1, never above the deployment-derived width
        assert 1 <= pair_build_width(spark, 1) <= 4
    finally:
        spark.conf.set(key, prev)


# ---------------------------------------------------------------- cache.py
def test_swap_persist_materialize_builds_cache_upfront(spark):
    from pb_etl_spark.cache import _CACHE_SWAP, swap_persist

    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = swap_persist("r14_test_mat", df, materialize=True)
    try:
        assert out.storageLevel.useMemory
        # the materializing count ran: the cached data answers without
        # recomputation and with the same values as the source plan
        assert out.count() == 100
        assert out.agg(F.sum("v")).collect()[0][0] == 9900
    finally:
        prev = _CACHE_SWAP.pop("r14_test_mat", None)
        if prev is not None:
            prev.unpersist()


# ------------------------------------------------------------- run_to_memory
def test_run_to_memory_state_partitions_override_and_restore(spark):
    import pandas as pd

    from pb_etl_spark.streaming.windows import run_to_memory

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    pdf = pd.DataFrame({"k": ["a", "b", "a"], "v": [1, 2, 3]})
    src_dir = "/tmp/r14_stream_src"
    shutil.rmtree(src_dir, ignore_errors=True)
    spark.createDataFrame(pdf).write.parquet(src_dir)
    sdf = (
        spark.readStream.schema("k string, v bigint").parquet(src_dir)
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
    )
    out = run_to_memory(
        sdf, "r14_state_override", output_mode="complete", state_partitions=3
    )
    got = {r["k"]: r["s"] for r in out.collect()}
    assert got == {"a": 4, "b": 2}
    # the caller's conf must be restored whatever width the drain pinned
    assert spark.conf.get(key) == prev


# ------------------------------------------------------- dual-mode _dot/_norm
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
