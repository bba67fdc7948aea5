"""Pins for the round-5/6 ADVICE items (non-Spark, fast).

- ``_parquet_rows_at_most`` must refuse to "prove" a row bound from
  parquet footers when the directory also holds non-parquet data files
  (their rows are invisible to footers → undercount → OOM-risk routing).
- ``bench.prior_slowest`` must pick the LATEST bench record numerically:
  lexicographic sorting puts BENCH_r10 before BENCH_r2 and would warm up
  against a stale round from round 10 onward.
"""

from __future__ import annotations

import os
import shutil

import pytest

SF_DIR = "/root/testdata/sf0.001"


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


def test_prior_slowest_sorts_rounds_numerically(monkeypatch):
    import bench
    import tools.bench_compare as bc

    fake_files = ["BENCH_r2.json", "BENCH_r10.json", "notes.txt"]
    monkeypatch.setattr(bench.os, "listdir", lambda _: fake_files)
    seen = []

    def fake_load(path):
        seen.append(os.path.basename(path))
        return {"queries": {"a": 3.0, "b": 1.0, "c": 2.0}}

    monkeypatch.setattr(bc, "load", fake_load)
    top = bench.prior_slowest(2)
    assert seen == ["BENCH_r10.json"]  # numerically latest, not r2
    assert top == ["a", "c"]


def test_prior_slowest_empty_when_no_records(monkeypatch):
    import bench

    monkeypatch.setattr(bench.os, "listdir", lambda _: ["notes.txt"])
    assert bench.prior_slowest() == []


def test_bench_record_index_encoding_roundtrip(tmp_path):
    """r11 verdict item 3: the bench stdout record is index-coded
    against HEADLINE so it stays under the driver's ~2000-byte tail
    window. The loader must decode both the raw line and a driver-style
    tail capture back to full names, and the crc guard must reject a
    reordered HEADLINE decode."""
    import json
    import zlib

    import pytest as _pytest

    from bench import HEADLINE
    from tools.bench_compare import load

    timings = {n: round(0.1 + i * 0.001, 3) for i, n in enumerate(HEADLINE)}
    compact = {
        "enc": "hl-idx",
        "q": {str(i): timings[n] for i, n in enumerate(HEADLINE)},
        "hl": zlib.crc32(";".join(HEADLINE).encode()),
        "metric": "headline_queries_total",
        "value": 1.0,
        "unit": "sec",
        "sf": 0.1,
    }
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line) < 1900, "record outgrew the driver tail window"

    raw = tmp_path / "raw.json"
    raw.write_text(line + "\n")
    captured = tmp_path / "driver.json"
    captured.write_text(
        json.dumps({"n": 1, "rc": 0, "tail": ("noise\n" + line)[-2000:], "parsed": None})
    )
    for p in (raw, captured):
        doc = load(str(p))
        assert doc["queries"] == timings
        assert doc["value"] == 1.0

    bad = dict(compact, hl=12345)
    badp = tmp_path / "bad.json"
    badp.write_text(json.dumps(bad))
    with _pytest.raises(SystemExit):
        load(str(badp))


def test_bench_anchor_excuse_requires_tracking_floor(tmp_path, capsys):
    """ADVICE r11: a mover is 'anchor-explained' only when its ratio
    TRACKS the shuffle-floor drift, not merely sits under drift*1.3 —
    a genuine 1.5x regression under a 3x anchor drift must stay a
    regression."""
    import json

    import tools.bench_compare as bc

    base = {
        "queries": {"fast_track": 1.0, "real_regression": 1.0},
        "value": 2.0,
        "calib_scan_s": 0.2,
        "calib_shuffle_s": 0.4,
    }
    cur = {
        # 2.8x mover under a 3x floor drift: tracks the floor, excused
        "queries": {"fast_track": 2.8, "real_regression": 1.5},
        "value": 4.3,
        "calib_scan_s": 0.2,
        "calib_shuffle_s": 1.2,  # sh_drift = 3.0
    }
    bp, cp = tmp_path / "b.json", tmp_path / "c.json"
    bp.write_text(json.dumps(base))
    cp.write_text(json.dumps(cur))
    import sys as _sys

    argv = _sys.argv
    _sys.argv = ["bench_compare", str(bp), str(cp)]
    try:
        rc = bc.main()
    finally:
        _sys.argv = argv
    out = capsys.readouterr().out
    assert "fast_track" in out and "anchor-explained" in out
    assert "real_regression: 1.000s -> 1.500s" in out
    assert "REGRESSION" in out
    assert rc != 0


def test_bench_hl_crc_rejects_zeroed_field():
    """ADVICE r13: crc32(b'') == 0, so a zeroed/corrupt 'hl' used to
    pass the reorder guard as "the empty prefix" — only prefixes long
    enough to cover every recorded index may vouch for a record."""
    import pytest as _pytest

    from tools.bench_compare import _decode_hl_idx

    with _pytest.raises(SystemExit):
        _decode_hl_idx({"q": {"0": 1.0, "1": 2.0}, "hl": 0})


def test_bench_hl_decode_rejects_out_of_range_index():
    """ADVICE r13: an index beyond the current HEADLINE must raise the
    loud diagnostic, not a bare IndexError."""
    import pytest as _pytest

    from tools.bench_compare import _decode_hl_idx

    with _pytest.raises(SystemExit, match="HEADLINE"):
        _decode_hl_idx({"q": {"99999": 1.0}})


def test_bench_hl_decode_accepts_valid_record():
    import zlib

    from bench import HEADLINE
    from tools.bench_compare import _decode_hl_idx

    doc = {
        "q": {"0": 1.5, str(len(HEADLINE) - 1): 2.5},
        "hl": zlib.crc32(";".join(HEADLINE).encode()),
    }
    out = _decode_hl_idx(dict(doc))
    assert out["queries"][HEADLINE[0]] == 1.5
    assert out["queries"][HEADLINE[-1]] == 2.5


def test_bench_never_writes_committed_full_mirror():
    """ADVICE r13: local bench runs write their full-name record to the
    ignored scratch path (or $SPARK_GRAFT_BENCH_FULL_PATH), never to the
    committed BENCH_FULL.json — which is refreshed only deliberately by
    the round workflow."""
    import inspect

    import bench

    import re as _re

    src = inspect.getsource(bench)
    # quote-agnostic: single/double-quoted literals both count (the
    # docstring's ``BENCH_FULL.json`` backtick mentions do not)
    assert not _re.search(r"['\"]BENCH_FULL\.json['\"]", src), (
        "bench.py writes the committed mirror directly again"
    )
    assert "BENCH_FULL_latest.json" in src
    assert "SPARK_GRAFT_BENCH_FULL_PATH" in src


def test_bench_boot_stamp_shape():
    from bench import _boot_stamp

    stamp = _boot_stamp()
    assert stamp == "unknown" or (
        "+" in stamp and stamp.endswith("h") and len(stamp.split("+")[0]) == 8
    )
