"""Data-layout tests: Z-order writes must make parquet min/max statistics
narrow in BOTH dimensions (so either predicate prunes), and compaction
must shrink file counts without changing content."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _file_spans(path: str, col: str) -> list[float]:
    """Per-file (span / global span) from parquet footer stats: 1.0 means
    the file covers the whole value range (no skipping possible),
    1/n_files means perfectly disjoint files."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    assert files
    spans, lo_all, hi_all = [], None, None
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
        spans.append((lo, hi))
        lo_all = lo if lo_all is None else min(lo_all, lo)
        hi_all = hi if hi_all is None else max(hi_all, hi)
    total = (hi_all - lo_all) or 1
    return [(hi - lo) / total for lo, hi in spans]


def _file_span_fraction(path: str, col: str) -> float:
    spans = _file_spans(path, col)
    return sum(spans) / len(spans)


def test_zorder_narrows_both_dimensions(spark, tmp_path):
    from pb_etl_spark.sources.parquet import write_parquet, write_parquet_zorder

    src = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_quantity")
    )
    plain = str(tmp_path / "plain")
    zpath = str(tmp_path / "zorder")
    write_parquet(src, plain, n_files=8)
    write_parquet_zorder(src, zpath, ["l_orderkey", "l_partkey"], n_files=8)

    # hash-shuffled files cover ~the full range of both columns: the mean
    # 2-D stats rectangle is nearly the whole plane
    plain_area = sum(
        a * b
        for a, b in zip(_file_spans(plain, "l_orderkey"), _file_spans(plain, "l_partkey"))
    ) / 8
    assert plain_area > 0.6, plain_area
    # z-ordered files are narrow in BOTH dimensions simultaneously: a
    # z-curve split into 8 files bounds each file to a fraction of the
    # plane (measured ~0.20 here), so predicates on EITHER column skip
    zo = _file_spans(zpath, "l_orderkey")
    zp = _file_spans(zpath, "l_partkey")
    z_area = sum(a * b for a, b in zip(zo, zp)) / len(zo)
    assert z_area < 0.3, z_area
    assert sum(zo) / len(zo) < 0.75
    assert sum(zp) / len(zp) < 0.75
    # and the data survived intact
    a = spark.read.parquet(zpath)
    assert a.count() == src.count()
    assert (
        a.agg(F.sum("l_quantity")).first()[0] == src.agg(F.sum("l_quantity")).first()[0]
    )


def test_compaction_shrinks_files_and_preserves_content(spark, tmp_path):
    from pb_etl_spark.sources.parquet import compact_dataset

    path = str(tmp_path / "frag")
    src = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    src.repartition(32).write.parquet(path)  # simulate micro-batch fragmentation
    before = len(glob.glob(os.path.join(path, "*.parquet")))
    assert before >= 32
    checksum_before = (
        spark.read.parquet(path).agg(F.sum(F.crc32(F.col("o_orderkey").cast("string")))).first()[0]
    )

    n = compact_dataset(spark, path, target_file_mb=512)
    after = len(glob.glob(os.path.join(path, "*.parquet")))
    assert after == n == 1  # sf0.001 orders << 512 MB
    checksum_after = (
        spark.read.parquet(path).agg(F.sum(F.crc32(F.col("o_orderkey").cast("string")))).first()[0]
    )
    assert checksum_after == checksum_before
    assert not glob.glob(f"{path}__*")  # lock and staging cleaned up


def test_compaction_sweeps_crash_leftovers_and_recovers_swap(spark, tmp_path):
    """ADVICE r13: compact_dataset (unlike upsert_parquet) never swept
    __staging_/__old_ leftovers from crashed runs, so repeated crashes
    accumulated orphan dirs indefinitely on compaction-only targets. And
    a crash BETWEEN the two swap renames (no target, complete __old_
    copy) must be recovered before that sweep, same as the upsert path."""
    import shutil

    from pb_etl_spark.sources.parquet import compact_dataset

    path = str(tmp_path / "crashy")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "id long, v string"
    ).repartition(4).write.parquet(path)

    # crashed-run leftovers from two earlier attempts
    os.makedirs(f"{path}__staging_dead1")
    shutil.copytree(path, f"{path}__old_dead2")
    compact_dataset(spark, path, target_file_mb=512)
    assert not glob.glob(f"{path}__*"), "leftovers must be swept"
    assert spark.read.parquet(path).count() == 100

    # crash between rename(target, old) and rename(staging, target):
    # the __old_ copy is the only surviving data and must be restored
    os.rename(path, f"{path}__old_crash")
    compact_dataset(spark, path, target_file_mb=512)
    assert spark.read.parquet(path).count() == 100
    assert not glob.glob(f"{path}__*")


def test_compaction_with_recluster_sorts_files(spark, tmp_path):
    from pb_etl_spark.sources.parquet import compact_dataset

    path = str(tmp_path / "reclust")
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").repartition(16).write.parquet(path)
    compact_dataset(spark, path, target_file_mb=1, cluster_by=["l_orderkey"])
    frac = _file_span_fraction(path, "l_orderkey")
    n_files = len(glob.glob(os.path.join(path, "*.parquet")))
    if n_files > 1:
        assert frac <= 1.0 / n_files + 0.05  # disjoint ranges after recluster


def test_orc_roundtrip_preserves_content(spark, tmp_path):
    """ORC source/sink: write orders as ORC, read back (guarded +
    schema-on-read), content checksum identical to the parquet original."""
    from pyspark.sql import functions as F

    from pb_etl_spark.sources.orc import read_orc, write_orc

    src = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    path = str(tmp_path / "orders_orc")
    write_orc(src, path, partition_by=["o_orderstatus"])

    back = read_orc(spark, path, schema=src.schema)
    checksum = lambda df: df.agg(  # noqa: E731
        F.sum(F.crc32(F.col("o_orderkey").cast("string"))).alias("c"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    assert checksum(back) == checksum(src)
    # guarded read refuses a dataset with no _SUCCESS
    import pytest

    bad = str(tmp_path / "not_written")
    with pytest.raises(FileNotFoundError):
        read_orc(spark, bad)


def test_write_observe_accounts_without_second_scan(spark, tmp_path):
    """Write-side accounting via df.observe: metrics ride the write
    job's own pass (no count()-after-write second scan) and must match
    the data actually written."""
    from pb_etl_spark.sources.parquet import write_parquet

    src = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    path = str(tmp_path / "observed")
    metrics = write_parquet(
        src,
        path,
        observe={
            "n_rows": F.count(F.lit(1)),
            "sum_price": F.round(F.sum("o_totalprice"), 2),
        },
    )
    back = spark.read.parquet(path)
    assert metrics["n_rows"] == back.count()
    assert metrics["sum_price"] == back.agg(
        F.round(F.sum("o_totalprice"), 2)
    ).first()[0]


def test_zorder_three_dims_beats_single_sort_on_secondary_dims(spark, tmp_path):
    """3-column z-order vs single-column sort: the z-layout's per-file
    min/max windows on the SECONDARY dims (partkey, suppkey) must be
    meaningfully narrower than the single-sort layout's (which clusters
    only its own key) — the whole point of multi-dim clustering. (At 8
    files each dim only gets ~1 constrained top bit, so absolute
    windows stay wide; the comparison is the meaningful assertion.)"""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from pb_etl_spark.sources.parquet import write_parquet, write_parquet_zorder

    cols = ["l_orderkey", "l_partkey", "l_suppkey"]
    src = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(*cols)
    zdir, sdir = str(tmp_path / "z3"), str(tmp_path / "s1")
    write_parquet_zorder(src, zdir, cols, n_files=8)
    write_parquet(src, sdir, cluster_by=["l_orderkey"], n_files=8)

    doms = {c: src.agg(F.min(c), F.max(c)).first() for c in cols}

    def avg_frac(d, c):
        lo, hi = doms[c]
        fr = []
        for f in glob.glob(f"{d}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = {md.schema.column(i).name: i for i in range(len(md.schema))}
            st = md.row_group(0).column(names[c]).statistics
            fr.append((st.max - st.min) / (hi - lo))
        return sum(fr) / len(fr)

    for c in ("l_partkey", "l_suppkey"):
        z, s = avg_frac(zdir, c), avg_frac(sdir, c)
        assert z < 0.9 * s, (c, z, s)
    # and the z-layout still orders the primary dim far better than random
    assert avg_frac(zdir, "l_orderkey") < 0.95


def test_derived_cache_rebuilds_when_source_regenerated(tmp_path):
    """The _SUCCESS-gated derived-layout caches (ORC orders, partitioned
    events, binary docs) must rebuild when the fixture parquet is
    regenerated IN PLACE — existence of the marker alone served stale
    data (caught by the r14 adversarial-fixture extension: the driver
    re-ships fixtures between rounds, and the tag is md5(sf_dir))."""
    import os

    from pb_etl_spark.catalog import (
        derived_cache_needs_rebuild,
        record_derived_cache_src,
    )

    src = tmp_path / "orders.parquet"
    marker = tmp_path / "_SUCCESS"
    src.write_bytes(b"v1")
    # no marker yet -> rebuild
    assert derived_cache_needs_rebuild(marker, src)
    marker.touch()
    # marker but no recorded fingerprint (pre-protocol cache) -> rebuild
    assert derived_cache_needs_rebuild(marker, src)
    record_derived_cache_src(marker, src)
    assert not derived_cache_needs_rebuild(marker, src)
    # regenerated source with PRESERVED (older) mtime but different
    # size -> stale (the tar -x / rsync -a case a pure mtime ordering
    # would miss)
    src.write_bytes(b"v2 longer")
    past = os.stat(marker).st_mtime - 100
    os.utime(src, (past, past))
    assert derived_cache_needs_rebuild(marker, src)
    record_derived_cache_src(marker, src)
    assert not derived_cache_needs_rebuild(marker, src)
    # same size, different mtime -> stale too
    os.utime(src, None)
    assert derived_cache_needs_rebuild(marker, src)
    # source deleted entirely -> rebuild path must not crash the gate
    src.unlink()
    assert derived_cache_needs_rebuild(marker, src)


def test_xml_roundtrip_preserves_row_level_values(spark):
    """Beyond the oracle's aggregate match: the XML encode/decode is a
    row-level identity on every carried field."""
    from pb_etl_spark.catalog import read_table

    o = read_table(spark, SF_DIR, "orders").selectExpr(
        "o_orderkey AS k",
        "o_orderstatus AS s",
        "CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c",
    )
    back = (
        o.selectExpr("to_xml(named_struct('k', k, 's', s, 'c', c)) AS x")
        .selectExpr("from_xml(x, 'k BIGINT, s STRING, c BIGINT') AS r")
        .select("r.k", "r.s", "r.c")
    )
    assert back.exceptAll(o).count() == 0
    assert o.exceptAll(back).count() == 0
