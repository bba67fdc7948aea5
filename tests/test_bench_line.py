"""bench.py's stdout line: a plain JSON reader gets the name-keyed
"queries" dict (the NAMED subset), ``bench.decode_line`` recovers all
80 HEADLINE queries through the index-coded "qx" remainder, and the
line stays within 1900 bytes under worst-case timings."""

from __future__ import annotations

import json

import pytest


def _record(timings: dict[str, float], total: float = 99.999) -> dict:
    from bench import encode_line

    return json.loads(encode_line(timings, total, 0.1))


def test_named_subset_is_consistent():
    from bench import HEADLINE, NAMED

    assert len(NAMED) == len(set(NAMED)), "duplicate NAMED entries"
    missing = set(NAMED) - set(HEADLINE)
    assert not missing, f"NAMED entries not in HEADLINE: {missing}"


def test_worst_case_line_fits_driver_tail_window():
    """Every value at its realistic maximum width (99.999 — a 100 s
    single query means the bench is broken anyway), and the total they
    add up to, must still leave headroom inside a 2000-byte window."""
    from bench import HEADLINE, encode_line

    timings = {n: 99.999 for n in HEADLINE}
    line = encode_line(timings, sum(timings.values()), 0.1)
    assert len(line) <= 1900, f"worst-case bench line {len(line)}B > 1900B"


def test_hybrid_record_decodes_to_full_query_dict():
    from bench import HEADLINE, decode_line

    timings = {n: round(0.1 + i * 0.001, 3) for i, n in enumerate(HEADLINE)}
    line = json.dumps(_record(timings), separators=(",", ":"))
    doc = decode_line(line + "\n")
    assert doc["queries"] == timings, "merge of queries+qx lost rows"
    assert doc["value"] == 99.999


def test_encode_decode_round_trip():
    from bench import HEADLINE, decode_line, encode_line

    timings = {n: round(0.05 + 0.37 * i, 3) for i, n in enumerate(HEADLINE)}
    total = sum(timings.values())
    doc = decode_line(encode_line(timings, total, 0.01))
    assert doc["queries"] == timings
    assert doc["value"] == round(total, 3)
    assert doc["sf"] == 0.01


def test_driver_generic_parse_sees_named_slowest():
    """What a generic parser (plain json.loads, no repo code) reads
    from the line: a name-keyed queries dict covering the NAMED
    subset — non-empty per-query data."""
    from bench import HEADLINE, NAMED

    timings = {n: 0.5 for n in HEADLINE}
    doc = json.loads(json.dumps(_record(timings), separators=(",", ":")))
    assert set(doc["queries"]) == set(NAMED)
    assert all(isinstance(v, float) for v in doc["queries"].values())


def test_overlapping_queries_and_qx_rejected():
    from bench import HEADLINE, NAMED, decode_line

    timings = {n: 0.5 for n in HEADLINE}
    rec = _record(timings)
    rec["qx"][str(HEADLINE.index(NAMED[0]))] = 0.5
    with pytest.raises(ValueError, match="BOTH"):
        decode_line(json.dumps(rec, separators=(",", ":")))


def test_bench_hl_crc_rejects_zeroed_field():
    """crc32(b'') == 0, so a zeroed/corrupt 'hl' field must not vouch
    for a line: only the crc of the current HEADLINE does."""
    from bench import decode_line

    with pytest.raises(ValueError, match="crc"):
        decode_line(json.dumps({"queries": {}, "qx": {"0": 1.0, "1": 2.0}, "hl": 0}))


def test_bench_hl_decode_rejects_out_of_range_index():
    """An index beyond the current HEADLINE must raise the loud
    diagnostic, not a bare IndexError."""
    from bench import HL_CRC, decode_line

    with pytest.raises(ValueError, match="HEADLINE"):
        decode_line(json.dumps({"queries": {}, "qx": {"99999": 1.0}, "hl": HL_CRC}))


def test_bench_hl_decode_accepts_valid_record():
    from bench import HEADLINE, HL_CRC, decode_line

    line = json.dumps(
        {"queries": {}, "qx": {"0": 1.5, str(len(HEADLINE) - 1): 2.5}, "hl": HL_CRC}
    )
    out = decode_line(line)
    assert out["queries"][HEADLINE[0]] == 1.5
    assert out["queries"][HEADLINE[-1]] == 2.5


def test_bench_never_writes_committed_full_mirror():
    """Local bench runs write their full-name record to the ignored
    scratch path (or $SPARK_GRAFT_BENCH_FULL_PATH), never to a tracked
    BENCH_FULL.json."""
    import inspect
    import re as _re

    import bench

    src = inspect.getsource(bench)
    # quote-agnostic: single/double-quoted literals both count (the
    # docstring's ``BENCH_FULL.json`` backtick mentions do not)
    assert not _re.search(r"['\"]BENCH_FULL\.json['\"]", src), (
        "bench.py writes the committed mirror directly again"
    )
    assert "BENCH_FULL_latest.json" in src
    assert "SPARK_GRAFT_BENCH_FULL_PATH" in src
