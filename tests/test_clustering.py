"""Tests for the clustering operators' helpers."""

from __future__ import annotations

import os
import shutil

from tests.conftest import SF_DIR


def test_parquet_rows_at_most_refuses_mixed_extension_dirs(tmp_path):
    from pb_etl_spark.operators.clustering import _parquet_rows_at_most

    src = f"{SF_DIR}/region.parquet"
    d = tmp_path / "data"
    d.mkdir()
    shutil.copy(src, d / "part-0.parquet")
    assert _parquet_rows_at_most(str(d), 10**9)  # pure parquet: provable
    (d / "part-1.orc").write_bytes(b"ORC")  # rows hidden from footers
    assert not _parquet_rows_at_most(str(d), 10**9)
    # hidden/underscore entries (_SUCCESS, .crc) are not data files
    os.remove(d / "part-1.orc")
    (d / "_SUCCESS").write_bytes(b"")
    (d / ".part-0.parquet.crc").write_bytes(b"x")
    assert _parquet_rows_at_most(str(d), 10**9)
