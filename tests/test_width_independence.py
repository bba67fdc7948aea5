"""Width-independence sweep for the r13 fan-out conversions.

Every module that routes a pre-explode repartition through the shared
``operators._width.fanout_width`` must produce IDENTICAL results at
shuffle-partition settings well below, at, and well above core count
(8 / 64 / 200) — the same invariant ``tests/test_dedup_semantics.py``
pins for the dedup module. One converted query per module keeps the
sweep cheap while covering each conversion site:

- selection.py  → dsir_weights        (token-bucket fan-out)
- text.py       → doc_chunking        (chunk-explode fan-out)
- multimodal.py → media_feature_summary (binary-encode fan-out)
- retrieval.py  → cms_token_counts    (sketch-build fan-out)
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR

CASES = [
    ("selection", "dsir_weights"),
    ("text", "doc_chunking"),
    ("multimodal", "media_feature_summary"),
    ("retrieval", "cms_token_counts"),
    # the conditional-rebalance site: the core-count guard fires on the
    # single-row-group fixture at every width, and the repartition
    # target (fanout_width) must not change the quantile report
    ("retrieval-guarded", "ddsketch_quantiles"),
    # r14 offset-literal conversion: the pid-indexed offset ARRAYS are
    # sized to shuffle.partitions (8/64/200-wide literals across this
    # sweep), so these pin that positions/cumsums — and everything
    # downstream of them — are invariant to the array width, including
    # the NULL slots empty partitions leave at widths >> |rows-ranges|
    ("corpus-offset-pos", "seq_packing"),
    ("corpus-offset-shuffle", "deterministic_shuffle"),
    ("corpus-offset-ntile", "curriculum_buckets"),
]


@pytest.mark.parametrize("module,name", CASES, ids=[c[1] for c in CASES])
def test_converted_fanout_is_width_independent(spark, module, name):
    from pb_etl_spark.registry import all_queries

    fn = all_queries()[name]
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    results = {}
    try:
        for width in ("8", "64", "200"):
            spark.conf.set(key, width)
            rows = fn(spark, SF_DIR).collect()
            results[width] = sorted(tuple(r) for r in rows)
    finally:
        spark.conf.set(key, prev)
    assert results["8"] == results["64"] == results["200"]
    assert results["8"], f"{name} must return rows on the fixture"


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
