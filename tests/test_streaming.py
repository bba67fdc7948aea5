"""Structured Streaming semantics: stream results must equal the batch
twins on the same bounded fixture (complete mode), and the custom stateful
operator must match a batch groupBy."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    """File-source streams need a directory; stage the single-file fixture."""
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(os.path.join(SF_DIR, "events.parquet"), d / "part-0.parquet")
    return str(d)


def _canon(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_stream_equals_batch(spark, events_dir):
    from pb_etl_spark.operators.events import q_tumbling_window
    from pb_etl_spark.streaming.windows import (
        read_event_stream,
        run_to_memory,
        tumbling_counts,
    )

    stream = run_to_memory(
        tumbling_counts(read_event_stream(spark, events_dir)), "t_tumbling", output_mode="complete"
    )
    batch = q_tumbling_window(spark, SF_DIR)
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    assert _canon(stream, cols) == _canon(batch, cols)


def test_sliding_stream_equals_batch(spark, events_dir):
    from pb_etl_spark.operators.events import q_sliding_window
    from pb_etl_spark.streaming.windows import (
        read_event_stream,
        run_to_memory,
        sliding_counts,
    )

    stream = run_to_memory(
        sliding_counts(read_event_stream(spark, events_dir)), "t_sliding", output_mode="complete"
    )
    batch = q_sliding_window(spark, SF_DIR)
    cols = ["window_start", "n_events", "sum_value"]
    assert _canon(stream, cols) == _canon(batch, cols)


def test_session_stream_equals_batch(spark, events_dir):
    from pb_etl_spark.operators.events import q_session_window
    from pb_etl_spark.streaming.windows import (
        read_event_stream,
        run_to_memory,
        session_counts,
    )

    stream = run_to_memory(
        session_counts(read_event_stream(spark, events_dir)), "t_session", output_mode="complete"
    )
    batch = q_session_window(spark, SF_DIR)
    cols = ["user_id", "session_start", "n_events"]
    assert _canon(stream, cols) == _canon(batch, cols)


def test_watermark_append_closes_windows(spark, events_dir):
    """Append mode emits only watermark-closed windows — a strict subset of
    the complete result, and non-empty on a 30-day fixture."""
    from pb_etl_spark.streaming.windows import (
        read_event_stream,
        run_to_memory,
        tumbling_counts,
    )

    appended = run_to_memory(
        tumbling_counts(read_event_stream(spark, events_dir)),
        "t_append",
        output_mode="append",
    )
    complete = run_to_memory(
        tumbling_counts(read_event_stream(spark, events_dir)),
        "t_complete2",
        output_mode="complete",
    )
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    a, c = set(_canon(appended, cols)), set(_canon(complete, cols))
    assert a <= c
    assert len(a) > 0
    # only the final (unclosed-by-watermark) windows may be missing
    assert len(c) - len(a) < 20


def test_stateful_user_totals(spark, events_dir):
    from pyspark.sql import functions as F

    from pb_etl_spark.catalog import read_table
    from pb_etl_spark.streaming.windows import (
        read_event_stream,
        run_to_memory,
        user_totals_stateful,
    )

    stream = run_to_memory(
        user_totals_stateful(read_event_stream(spark, events_dir)),
        "t_state",
        output_mode="update",
    )
    batch = (
        read_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )
    cols = ["user_id", "n_events", "total_value"]
    # update mode may emit a row per micro-batch per key; availableNow on a
    # static dir yields one batch, so last-value == batch agg
    sdata = {r["user_id"]: (r["n_events"], r["total_value"]) for r in stream.collect()}
    bdata = {r["user_id"]: (r["n_events"], r["total_value"]) for r in batch.collect()}
    assert set(sdata) == set(bdata)
    for k, (n, t) in bdata.items():
        assert sdata[k][0] == n
        assert abs(sdata[k][1] - t) < 1e-6


def test_run_to_memory_state_partitions_override_and_restore(spark):
    import pandas as pd

    from pb_etl_spark.streaming.windows import run_to_memory

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    pdf = pd.DataFrame({"k": ["a", "b", "a"], "v": [1, 2, 3]})
    src_dir = "/tmp/r14_stream_src"
    shutil.rmtree(src_dir, ignore_errors=True)
    spark.createDataFrame(pdf).write.parquet(src_dir)
    sdf = (
        spark.readStream.schema("k string, v bigint").parquet(src_dir)
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
    )
    out = run_to_memory(
        sdf, "r14_state_override", output_mode="complete", state_partitions=3
    )
    got = {r["k"]: r["s"] for r in out.collect()}
    assert got == {"a": 4, "b": 2}
    # the caller's conf must be restored whatever width the drain pinned
    assert spark.conf.get(key) == prev
