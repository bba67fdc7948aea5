"""parquet_ts_unit (catalog.py): the footer-based timestamp-unit
autodetect every events read path depends on. r13 review hardening:
glob semantics must mirror Spark's pathGlobFilter (leaf names at any
depth), a zero-match glob must fail loudly, and the mixed-unit check
must sample across the WHOLE sorted file list, not just a prefix.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pb_etl_spark.catalog import parquet_ts_unit


def _write(path, unit):
    tbl = pa.table({"ts": pa.array([0, 1], type=pa.timestamp(unit))})
    pq.write_table(tbl, path)


def test_glob_matches_leaf_names_at_any_depth(tmp_path):
    sub = tmp_path / "batch_id=0"
    sub.mkdir()
    _write(str(sub / "events-1.parquet"), "ns")
    _write(str(tmp_path / "part-0.parquet"), "us")
    # the glob selects only the nested events-* file -> its unit wins,
    # even though the top-level part file exists (the old top-level-only
    # glob missed the nested file and fell back to ALL files)
    assert parquet_ts_unit(str(tmp_path), glob_pat="events-*.parquet") == "ns"
    assert parquet_ts_unit(str(tmp_path), glob_pat="part-*.parquet") == "us"


def test_zero_match_glob_raises_instead_of_guessing(tmp_path):
    _write(str(tmp_path / "part-0.parquet"), "us")
    with pytest.raises(FileNotFoundError, match="matching"):
        parquet_ts_unit(str(tmp_path), glob_pat="events-*.parquet")


def test_dialect_divergent_glob_syntax_is_refused(tmp_path):
    """ADVICE r13: Hadoop's pathGlobFilter supports {a,b} alternation
    and [^...] negation which fnmatch rejects or reads differently
    ([!...]) — such patterns could sample units from DIFFERENT files
    than the read touches, so they must be refused, not approximated.
    The common subset (* ? non-negated [...]) still works."""
    _write(str(tmp_path / "part-0.parquet"), "us")
    for pat in (
        "{events,part}-*.parquet",
        "part-[^a]*.parquet",
        "part-[!a]*.parquet",
    ):
        with pytest.raises(ValueError, match="diverge"):
            parquet_ts_unit(str(tmp_path), glob_pat=pat)
    # non-negated character class: identical in both dialects, allowed
    assert parquet_ts_unit(str(tmp_path), glob_pat="part-[0-9].parquet") == "us"


def test_mixed_units_detected_beyond_the_first_eight_files(tmp_path):
    # 12 micros files sorting first, 2 nanos files sorting last: a
    # prefix-only sample of 8 would see only micros and silently decode
    # the nanos files 1000x wrong; the spread sample must include the
    # tail and raise
    for i in range(12):
        _write(str(tmp_path / f"a-{i:02d}.parquet"), "us")
    for i in range(2):
        _write(str(tmp_path / f"z-{i}.parquet"), "ns")
    with pytest.raises(ValueError, match="mixed timestamp units"):
        parquet_ts_unit(str(tmp_path))


def test_single_unit_directory_still_resolves(tmp_path):
    for i in range(12):
        _write(str(tmp_path / f"f-{i:02d}.parquet"), "us")
    assert parquet_ts_unit(str(tmp_path)) == "us"


def test_get_spark_reapplies_runtime_confs_on_reused_session(spark):
    """r13 review finding: getOrCreate ignores builder confs when a
    session already exists — the UTC session timezone (which the whole
    oracle parity leans on) must be re-applied to the live session."""
    from pb_etl_spark.session import get_spark

    key = "spark.sql.session.timeZone"
    # snapshot every runtime conf get_spark touches (it will re-apply
    # its defaults to the SHARED test session — e.g. shuffle partitions
    # 4 -> LOCAL_CPUS — and later tests assume the fixture's values)
    restore_keys = [
        key,
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
    ]
    saved = {k: spark.conf.get(k) for k in restore_keys}
    spark.conf.set(key, "America/New_York")
    try:
        reused = get_spark("reuse-check")
        assert reused is spark
        assert reused.conf.get(key) == "UTC"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
