"""Semantic tests for the retrieval operators: the bitmap-cardinality
rollup against exact COUNT DISTINCT, and ``_scan_width``'s estimate of
Spark's scan partitioning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_bitmap_distinct_matches_exact_count_distinct(spark):
    from pb_etl_spark.catalog import read_table
    from pb_etl_spark.operators.retrieval import q_bitmap_distinct_counts

    got = {
        r["event_type"]: r["n_distinct_users"]
        for r in q_bitmap_distinct_counts(spark, SF_DIR).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in read_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert got == exact


def test_bitmap_or_merge_is_idempotent(spark):
    """Replaying a day's partial into the OR-merge must not change the
    count — the exactly-once-free reingest property the docstring
    promises."""
    from pb_etl_spark.catalog import read_table

    ev = read_table(spark, SF_DIR, "events").selectExpr(
        "event_type",
        "CAST(ts AS DATE) AS d",
        "bitmap_bucket_number(user_id) AS b",
        "bitmap_bit_position(user_id) AS p",
    )
    daily = ev.groupBy("event_type", "d", "b").agg(
        F.expr("bitmap_construct_agg(p)").alias("bm")
    )
    one_day = daily.orderBy("d").limit(1)
    replayed = daily.unionAll(one_day)

    def merged_counts(partials):
        return {
            (r["event_type"], r["b"]): r["cnt"]
            for r in partials.groupBy("event_type", "b")
            .agg(F.expr("bitmap_count(bitmap_or_agg(bm))").alias("cnt"))
            .collect()
        }

    assert merged_counts(daily) == merged_counts(replayed)


def test_scan_width_tracks_sparks_actual_scan_partitioning(spark, tmp_path):
    """_scan_width mirrors FilePartition's split formula; on a bare scan
    (where DataFrame.rdd IS safe to consult) the estimate must agree with
    Spark's actual partitioning within packing slack — exact on the
    single-file fixture, within 2× on a hand-built multi-file layout."""
    import pandas as pd

    from pb_etl_spark.catalog import read_table
    from pb_etl_spark.operators.retrieval import _scan_width

    li = read_table(spark, SF_DIR, "lineitem")
    actual = li.rdd.getNumPartitions()
    est = _scan_width(spark, li)
    assert est == actual == 1  # single small file → one split, both ways

    d = tmp_path / "multi"
    d.mkdir()
    for i in range(6):
        pd.DataFrame({"x": range(1000), "f": [i] * 1000}).to_parquet(
            d / f"part-{i}.parquet"
        )
    df = spark.read.parquet(str(d))
    actual = df.rdd.getNumPartitions()
    est = _scan_width(spark, df)
    assert actual / 2 <= est <= actual * 2, (est, actual)


def test_scan_width_reprobe_is_bounded(spark, tmp_path, monkeypatch):
    """When the listStatus URI forms mismatch and the file set is large,
    _scan_width must degrade to the warned file-count estimate instead
    of issuing one getFileStatus RPC per file (ADVICE r08)."""
    from pb_etl_spark.operators import retrieval

    p = tmp_path / "t"
    spark.range(10).write.parquet(str(p))
    df = spark.read.parquet(str(p))
    real = df.inputFiles()
    phantom_dir = tmp_path / "elsewhere"
    phantom_dir.mkdir()
    fake = list(real) + [f"file:{phantom_dir}/missing.parquet"]
    monkeypatch.setattr(type(df), "inputFiles", lambda self: fake)
    monkeypatch.setattr(retrieval, "_REPROBE_MAX", 0)
    with pytest.warns(RuntimeWarning, match="re-probe"):
        assert retrieval._scan_width(spark, df) == len(fake)
