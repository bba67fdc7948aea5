"""Central query registry: merges every operator module's QUERIES/ORACLES.

``queries()`` / ``oracle_sql()`` in ``__spark_entry__.py`` delegate here.
Invariant (driver contract): every oracle key exists in queries; column
names match exactly between the Spark DataFrame and the oracle SQL; floats
are rounded identically on both sides.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pb_etl_spark.cache import release
from pb_etl_spark.sources import pyds
from pb_etl_spark.operators import (
    advanced,
    affinity,
    bucketing,
    insights,
    cdc,
    clustering,
    composite,
    composite_ext,
    corpus,
    dedup,
    events,
    governance,
    layout,
    multimodal,
    relational,
    reshape,
    retrieval,
    scalar_funcs,
    selection,
    semdedup,
    similarity,
    skew,
    temporal,
    text,
    timeseries,
    tokenize,
    vectors,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

# Registry order is the fixed _MODULES order below, then each module's
# QUERIES insertion order.
_MODULES = [
    affinity,
    governance,
    insights,
    bucketing,
    layout,
    cdc,
    pyds,
    composite,
    composite_ext,
    corpus,
    retrieval,
    selection,
    semdedup,
    dedup,
    clustering,
    temporal,
    timeseries,
    skew,
    multimodal,
    similarity,
    vectors,
    scalar_funcs,
    advanced,
    tokenize,
    text,
    relational,
    reshape,
    events,
]


def _released(fn: QueryFn) -> QueryFn:
    """Every invocation first drops the frames the previous one pinned
    (see pb_etl_spark/cache.py)."""

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        release(spark)
        return fn(spark, sf_dir)

    return run


def all_queries() -> dict[str, QueryFn]:
    merged: dict[str, QueryFn] = {}
    for m in _MODULES:
        overlap = set(merged) & set(m.QUERIES)
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        merged.update(m.QUERIES)
    return {name: _released(fn) for name, fn in merged.items()}


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLES)
    qnames = set(all_queries())
    stray = set(out) - qnames
    if stray:
        raise ValueError(f"oracles without queries: {stray}")
    return out
