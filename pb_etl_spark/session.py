"""SparkSession factory.

One place to set the scale-aware defaults (AQE, shuffle partitions, Arrow,
UTC session timezone, the local core count ``LOCAL_CPUS``: $SPARK_GRAFT_CPUS,
else every core). Library code never hard-codes a master: tests and bench
pass ``local[N]``; on a cluster ``getOrCreate`` picks up spark-submit's.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

LOCAL_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())


def get_spark(
    app_name: str = "pb_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime partition coalescing, skew-join splitting, and
      dynamic join-strategy switching — the knobs that keep a fixed
      logical plan efficient from sf0.001 up to 100 TB.
    - ``spark.sql.shuffle.partitions`` sized to local cores here; on a
      cluster AQE coalesces from this initial number, so a larger initial
      value (e.g. 2000) is the only change needed.
    - Session timezone UTC so timestamp semantics match the DuckDB oracle
      and are cluster-location-independent.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    n_shuffle = shuffle_partitions or LOCAL_CPUS
    conf = {
        # local mode = ONE JVM doing driver AND executor work: the 1g
        # driver default OOMs on iterative workloads (checkpoint blocks +
        # plan metadata across rounds). Applies only at JVM start.
        "spark.driver.memory": "8g",
        "spark.sql.shuffle.partitions": str(n_shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Runtime (bloom) filtering: a selective dim-side predicate is
        # turned into a bloom filter pushed into the fact-side scan — at
        # 100 TB this skips most row groups of a shuffle join's big side.
        # The size thresholds stay at their scale-sane defaults (the
        # filter only pays off when the application side is huge); the
        # flag just lets the optimizer consider it.
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate IGNORES every builder.config when a session already
    # exists in the JVM — which would silently drop the runtime-settable
    # confs this engine's correctness depends on (UTC session timezone:
    # the oracle parity of every timestamp-rendered column; Arrow;
    # AQE; shuffle sizing). Re-apply them on the live session: a no-op
    # on a fresh session, the fix on a reused one. Static (JVM-start)
    # confs like driver.memory genuinely cannot change — skip those
    # silently (Spark raises CANNOT_MODIFY_CONFIG). (r13 review finding)
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: PERF203 — static conf on a live JVM
            pass
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stats_reset_checkpoint(df):
    """Eager localCheckpoint that DROPS the plan-statistics snapshot.

    ``Dataset.checkpoint`` copies the optimized plan's ``Statistics``
    into the resulting ``LogicalRDD`` (SPARK-39834) so broadcast
    decisions keep working across a checkpoint. In an ITERATIVE loop
    whose round plan joins the previous round's frame with itself
    (connected components: hook + pointer-jump), that snapshot is fed
    back into the next round's join-size estimate — a PRODUCT of the
    two sides — so the carried ``sizeInBytes`` squares every round.
    The estimate is a ``BigInt``: around round ~25 its magnitude
    crosses java.math.BigInteger's 2^31-bit ceiling and PLANNING
    (not execution) dies with "BigInteger would overflow supported
    range". sf0.1 name chains converge in ~24 rounds — just under;
    the ×4 scaled fixture crosses it (caught by
    test_entity_resolution_hybrid_both_paths_at_scale).

    Rebuilding the frame over the SAME checkpointed RDD via
    ``internalCreateDataFrame`` drops ``originStats``: every round then
    re-plans from ``defaultSizeInBytes`` (constant 63-bit estimate,
    measured flat across 12 probe rounds). The joins in such loops are
    same-sized-frame equi-joins where broadcast was never the right
    strategy, so losing the snapshot costs nothing.

    The rebuilt frame also loses the checkpoint's outputPartitioning
    hint, so a follow-up join on the same key re-shuffles where the
    plain checkpoint might not have. In the CC loop each phase joins on
    a DIFFERENT key (nbr.src, then the label-as-pid self-join), so the
    carried partitioning rarely matched anyway; measured loop cost is
    job-scheduling-bound at fixture scale and the forced all-CC ×10 run
    (150k entities, ~28 rounds) completes in 71 s. One extra hash
    exchange per round is the price of an unbounded round count.

    Falls back to the plain checkpoint if the internal JVM API moves."""
    from pyspark.sql import DataFrame as _DF

    cp = df.localCheckpoint(eager=True)
    try:
        spark = cp.sparkSession
        jdf = cp._jdf
        new_jdf = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return _DF(new_jdf, spark)
    except Exception as e:  # pragma: no cover - version-drift guard
        # Loudly degrade: without the stats reset, an unbounded iterative
        # checkpoint loop re-inherits the SPARK-39834 plan-Statistics
        # carry and can overflow BigInteger after ~25 self-join rounds.
        import warnings

        warnings.warn(
            "stats_reset_checkpoint: internal JVM API unavailable "
            f"({type(e).__name__}: {e}); falling back to plain "
            "localCheckpoint — long iterative loops may hit the "
            "SPARK-39834 statistics overflow",
            RuntimeWarning,
            stacklevel=2,
        )
        return cp
