"""One cache lifecycle: a pinned frame lives for exactly one query invocation.

Some operators read one derived frame from several plan legs (RFM's
keyed base, the shingle table, the range-partitioned frame behind the
running sums). ``pin(df)`` persists such a frame and records it under
its SparkSession; ``release(spark)`` unpersists everything recorded for
that session. ``registry.all_queries()`` wraps every query function so
that each invocation begins with ``release``. A pin is therefore
dropped at the start of the NEXT invocation, not at the end of its own:
the caller's action runs after the query function has returned.

Caveat: acting on a query's frame after a later registry call recomputes
its pinned frames. For the running-sum consumers that recomputation
resamples the range boundaries and the span guard raises loudly. Build,
then act, before the next query is built.

``localCheckpoint`` is used instead of a pin where the frame must be cut
off from its lineage: a loop that would otherwise grow its plan every
round, or a nondeterministic column that must be frozen before the plan
branches. A few small frames that several legs share stay eager
checkpoints because a pin measured slower there; ``BUILD_JOBS_WHITELIST``
in tests/test_plan_lint.py lists them with the numbers.
"""

from __future__ import annotations

from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession

_PINNED: "WeakKeyDictionary[SparkSession, list[DataFrame]]" = WeakKeyDictionary()


def pin(df: DataFrame) -> DataFrame:
    out = df.persist()
    _PINNED.setdefault(df.sparkSession, []).append(out)
    return out


def release(spark: SparkSession) -> None:
    for df in _PINNED.pop(spark, []):
        df.unpersist()
