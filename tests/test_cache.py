"""The engine's two caches: ``catalog.read_table``'s per-session scan-plan
cache, and ``cache.pin``/``cache.release``, which keep a shared frame for
exactly one query invocation (no state carried between invocations)."""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import pytest

from tests.conftest import SF_DIR, job_group


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


def test_corpus_count_follows_embeddings_rewritten_in_place(spark, tmp_path):
    # the LSH plane count is sized from this footer read; a memo keyed
    # by sf_dir served the old count after the file was rewritten
    import pyarrow.parquet as pq

    from pb_etl_spark.operators.similarity import _corpus_count

    dst = tmp_path / "embeddings.parquet"
    shutil.copyfile(os.path.join(SF_DIR, "embeddings.parquet"), dst)
    table = pq.read_table(dst)
    assert _corpus_count(spark, str(tmp_path)) == table.num_rows
    pq.write_table(table.slice(0, table.num_rows // 2), dst)
    assert _corpus_count(spark, str(tmp_path)) == pq.ParquetFile(dst).metadata.num_rows < table.num_rows


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


# one registered query per pin site
PIN_QUERIES = [
    "rfm_segments",  # affinity: the running-sum pin of its quintiles
    "segment_migration",  # the same, over two periods' populations
    "substring_dup_spans",  # dedup: the gram frame
    "minhash_near_dup_pairs",  # dedup: the signatures
    "kmv_jaccard_sources",  # retrieval: the KMV kept set
    "item_item_cosine",  # affinity: the interaction matrix
    "shingle_containment_pairs",  # dedup: the shingle table, built upfront
    "largest_remainder_alloc",  # advanced: the per-nation aggregate
    "priority_sample_topk",  # corpus: the top-(K+1) candidates
]


@pytest.mark.parametrize("name", PIN_QUERIES)
def test_repeat_invocation_recomputes_its_pins(spark, name):
    """A repeat must not read the frames the first run pinned: both runs
    launch the same jobs. AQE picks some join strategies from whichever
    stage finishes first, which can move one run's job count whether or
    not anything was cached (item_item_cosine: 15 jobs instead of 14 in
    about one run in 70), so a pair that differs is retried up to twice.
    A repeat that reads cached pins launches fewer jobs on every pair."""
    from pb_etl_spark.registry import all_queries

    fn = all_queries()[name]
    # building once runs the tables' schema-inference reads, which
    # read_table keeps; those are per table, not per invocation
    fn(spark, SF_DIR)
    pairs = []
    for attempt in range(3):
        spark.catalog.clearCache()
        with job_group(spark, f"pin-{name}-{attempt}-first") as first_jobs:
            fn(spark, SF_DIR).collect()
        with job_group(spark, f"pin-{name}-{attempt}-repeat") as repeat_jobs:
            fn(spark, SF_DIR).collect()
        first, repeat = first_jobs(), repeat_jobs()
        assert first > 0
        if repeat == first:
            return
        pairs.append((first, repeat))
    pytest.fail(f"{name}: jobs (first, repeat) per pair: {pairs}")


def test_next_invocation_releases_pins(spark):
    from pb_etl_spark.registry import all_queries

    queries = all_queries()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    queries["rfm_segments"](spark, SF_DIR).collect()
    assert not cache_manager.isEmpty()
    queries["star_join_revenue"](spark, SF_DIR).collect()  # pins nothing
    assert cache_manager.isEmpty()


def test_persist_only_in_cache_module():
    import pb_etl_spark

    pkg = Path(pb_etl_spark.__file__).parent
    hits = [
        f"{path.relative_to(pkg)}:{i}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "cache.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if ".persist(" in line
    ]
    assert not hits, f"persist outside pb_etl_spark/cache.py: {hits}"
