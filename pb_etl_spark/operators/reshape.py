"""Reshaping + collection-aggregate surface: unpivot (wide→long melt),
collection aggregates (sorted distinct lists), and range-frame windows.

The reference has no reshaping at all (SURVEY.md §2.7); these are the
Spark built-ins a training-data pipeline leans on for metric long-tables
and per-key rollups. All JVM-side: unpivot is a Catalyst Expand (one scan,
no shuffle), collect aggregates are hash-agg buffers, range frames are
window-exec with a sliding frame bound — no UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from pb_etl_spark.catalog import read_table
from pb_etl_spark.operators import money


def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt of three lineitem measures via unpivot (Expand:
    one scan emits 3 rows/input row; no shuffle, no UDF)."""
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 200)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "value",
    ).select(
        "l_orderkey",
        "l_linenumber",
        "measure",
        F.round("value", 2).alias("value"),
    )


def q_collect_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection aggregates per group: sorted distinct list (rendered as
    a joined string for a deterministic cross-engine value), plus counts."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.array_join(F.array_sort(F.collect_set("l_linestatus")), ",").alias(
            "statuses"
        ),
        F.count_distinct("l_linestatus").alias("n_statuses"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame keyed on days: per customer, rolling 30-day order spend.
    Unlike a ROWS frame, peers are bounded by the *value* of the ordering
    key — the shape of every trailing-window business metric."""
    o = read_table(spark, sf_dir, "orders")
    day = F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date"))
    w = (
        W.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-30, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        day.cast("long").alias("day_no"),
        # exact integer-cents window sum (windowed double sums associate
        # differently across engines — the trailing_rows_avg rule)
        (
            F.sum(money.cents(F.col("o_totalprice"))).over(w).cast("double")
            / 100.0
        ).alias("spend_30d"),
        F.count(F.lit(1)).over(w).alias("orders_30d"),
    )


def q_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window over an aggregate: monthly revenue, previous month, and
    absolute growth — agg first (tiny result), window second (over the
    ~24-row monthly series, not the fact table)."""
    o = read_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month")
    ).agg(
        money.money_sum(
            money.cents(F.col("o_totalprice")), money.CENTS, "monthly_growth"
        ).alias("revenue")
    )
    # constant partition key: bounded input (~24 monthly rows) and it
    # silences the unpartitioned-WindowExec warning in the bench tail
    w = W.partitionBy(F.lit(0)).orderBy("month")
    return monthly.select(
        "month",
        "revenue",
        F.lag("revenue").over(w).alias("prev_revenue"),
        F.round(F.col("revenue") - F.coalesce(F.lag("revenue").over(w), F.lit(0.0)), 2).alias(
            "growth"
        ),
    )


def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-struct JSON round-trip: pack order fields into a struct,
    serialize with to_json, parse back with from_json (explicit schema),
    extract — values must survive bit-exact. The serialization path every
    event producer/consumer pair exercises."""
    from pyspark.sql import types as T

    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 300)
    schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("status", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    packed = o.select(
        "o_orderkey",
        F.to_json(
            F.struct(
                F.col("o_orderkey").alias("key"),
                F.col("o_orderstatus").alias("status"),
                F.round("o_totalprice", 2).alias("price"),
            )
        ).alias("js"),
    )
    return packed.select(
        "o_orderkey",
        F.from_json("js", schema).alias("s"),
    ).select(
        "o_orderkey",
        F.col("s.key").alias("key"),
        F.col("s.status").alias("status"),
        F.col("s.price").alias("price"),
    )


def q_trailing_rows_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded ROWS frame: 3-row trailing average per customer ordered by
    (date, key) — O(frame) per row, state never exceeds the frame."""
    o = read_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    # integer-cents arithmetic end-to-end: windowed double-sums associate
    # differently across engines (segment tree vs sequential) and even
    # ROUND(double, 2) differs at binary half-boundaries — exact integers
    # sidestep both (avg emitted as whole cents)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return o.withColumn("__cents", cents).select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("__cents").over(w) / F.count(F.lit(1)).over(w))
        .cast("long")
        .alias("avg_cents_3"),
        F.count(F.lit(1)).over(w).alias("n_in_frame"),
    )


def q_higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over embeddings: transform / filter /
    exists / aggregate lambdas, evaluated JVM-side (interpreted, outside
    whole-stage codegen) — the no-UDF way to do per-element math on
    array columns."""
    e = read_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    return e.select(
        "vec_id",
        F.round(
            F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x),
            6,
        ).alias("sum_sq"),
        F.size(F.filter(v, lambda x: x > 0)).cast("long").alias("n_positive"),
        F.exists(v, lambda x: x > 2.5).alias("has_gt_2_5"),
        F.round(F.array_max(F.transform(v, F.abs)), 6).alias("max_abs"),
    )


def q_interval_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval arithmetic over events: shifted timestamps and exact
    integer-minute differences (micros-exact on both engines)."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    ts = F.col("ts").cast("timestamp")
    return ev.select(
        "event_id",
        F.date_format(ts + F.expr("INTERVAL 90 MINUTES"), "yyyy-MM-dd HH:mm:ss").alias(
            "plus_90m"
        ),
        F.date_format(ts - F.expr("INTERVAL 1 DAY"), "yyyy-MM-dd HH:mm:ss").alias(
            "minus_1d"
        ),
        (F.unix_micros(ts) / F.lit(60_000_000)).cast("long").alias("epoch_min"),
    )


def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: quartile bucket (ntile), relative
    rank (percent_rank), cumulative distribution (cume_dist) of order
    totals per customer segment. Ordering includes the unique orderkey:
    ntile assigns ties by position, so a non-deterministic tie order
    would diverge between engines."""
    from pyspark.sql.window import Window as W

    o = read_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


TOPK_OTHERS_K = 3


def q_topk_with_others(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reporting rollup every dashboard needs: top-K groups by
    revenue kept by name, the long tail collapsed into one 'OTHER' row
    (whose n_groups records how many it absorbed). Revenue on the
    integer-cents grid; ranking over the BOUNDED aggregated frame
    (|priorities| rows), never the facts."""
    o = read_table(spark, sf_dir, "orders")
    per_group = o.groupBy(
        F.col("o_orderpriority").alias("grp")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = W.orderBy(F.col("cents").desc(), F.col("grp"))  # bounded frame
    ranked = per_group.withColumn("rk", F.row_number().over(w))
    return (
        ranked.withColumn(
            "grp",
            F.when(F.col("rk") <= TOPK_OTHERS_K, F.col("grp")).otherwise(
                F.lit("OTHER")
            ),
        )
        .groupBy("grp")
        .agg(
            (F.sum("cents").cast("double") / F.lit(100.0)).alias("revenue"),
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.count(F.lit(1)).alias("n_groups"),
        )
    )


ROLLCORR_HOURS = 24


def q_rolling_corr_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 24-hour Pearson correlation between hourly purchase and
    click volumes — the co-movement monitor of a metrics platform.

    Exactness: the windowed sums feeding the correlation (Σx, Σy, Σxy,
    Σx², Σy², n) are sums of INTEGERS over the bounded hourly frame, so
    they are exact in any association order — the one case where a
    bounded-frame windowed SUM is cross-engine-safe (cf. the
    trailing_rows_avg rule for doubles). The final formula is one
    deterministic double chain per row; zero-variance windows yield
    NULL. Scale shape: facts shrink to ≤ |hours| rows first; the global
    hour-ordered window runs on that bounded frame."""
    ev = read_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("x"),
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("y"),
        )
    )
    w = W.orderBy("h").rowsBetween(-(ROLLCORR_HOURS - 1), W.currentRow)
    s = hourly.select(
        "h",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    )
    varx = s["n"] * s["sxx"] - s["sx"] * s["sx"]
    vary = s["n"] * s["syy"] - s["sy"] * s["sy"]
    corr = (s["n"] * s["sxy"] - s["sx"] * s["sy"]).cast("double") / (
        F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double"))
    )
    return s.select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("h"),
        F.col("n").cast("long").alias("n_hours"),
        F.when((varx > 0) & (vary > 0), F.round(corr, 6)).alias("corr_24h"),
    )


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of per-source document-length
    distributions onto the POOLED distribution: a doc at within-source
    rank r (of n_s) maps to the pooled value at position
    ceil(r·N/n_s) — after which every source has the same length
    distribution (the batch-effect correction of bioinformatics,
    applied here to make per-source corpus stats comparable).

    Everything is INTEGER: within-source ranks come from
    ``grouped_running_sum`` over a constant-1 weight (re-shaped r09 —
    the former ``Window.partitionBy(source)`` row_number would sort each
    source's entire corpus in ONE task; the keyed helper keeps
    |partitions| parallelism and its ``gtot`` literal IS the per-source
    count, dropping the second full-frame count window), pooled
    positions come from the distributed ``global_positions`` primitive
    (no single-partition window), and the mapping join is an equi-join
    on the computed position — linear, grid-exact, no floats anywhere."""
    from pb_etl_spark.operators.corpus import global_positions, grouped_running_sum

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    rs = grouped_running_sum(
        spark,
        d.withColumn("one", F.lit(1).cast("long")),
        ["source"],
        ["n_chars", "doc_id"],
        "one",
    )
    # the pooled corpus size N equals the helper's all-groups grand
    # total over the constant-1 weight (_gr_all — same integer the old
    # code read back from global_positions' driver-side collect), so
    # the target-position arithmetic folds in-plan with no extra leg
    ranked = rs.select(
        "doc_id",
        "source",
        "n_chars",
        F.col("cum").alias("r"),
        F.col("gtot").alias("ns"),
        "_gr_all",
    )
    pooled = global_positions(spark, d, ["n_chars", "doc_id"]).select(
        F.col("pos"), F.col("n_chars").alias("norm_chars")
    )
    target = F.expr("(r * _gr_all + ns - 1) div ns")
    return (
        ranked.withColumn("pos", target)
        .join(pooled, "pos")
        .select("doc_id", "source", "n_chars", "norm_chars")
    )


ORACLES: dict[str, str] = {
    "quantile_normalize": """
        WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        ranked AS (
            SELECT doc_id, source, n_chars,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY n_chars, doc_id) AS r,
                   COUNT(*) OVER (PARTITION BY source) AS ns
            FROM d
        ),
        pooled AS (
            SELECT n_chars AS norm_chars,
                   ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS pos
            FROM d
        ),
        nt AS (SELECT COUNT(*) AS n FROM d)
        SELECT rk.doc_id, rk.source, rk.n_chars, p.norm_chars
        FROM ranked rk CROSS JOIN nt
        JOIN pooled p ON p.pos = (rk.r * nt.n + rk.ns - 1) // rk.ns
    """,
    "topk_with_others": f"""
        WITH per_group AS (
            SELECT o_orderpriority AS grp,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents,
                   COUNT(*) AS n_orders
            FROM orders GROUP BY 1
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (ORDER BY cents DESC, grp) AS rk
            FROM per_group
        )
        SELECT CASE WHEN rk <= {TOPK_OTHERS_K} THEN grp ELSE 'OTHER' END AS grp,
               CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE) / 100.0 AS revenue,
               CAST(SUM(n_orders) AS BIGINT) AS n_orders,
               COUNT(*) AS n_groups
        FROM ranked GROUP BY 1
    """,
    "rolling_corr_events": f"""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS h,
                   SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x,
                   SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS y
            FROM events GROUP BY 1
        ), s AS (
            SELECT h,
                   COUNT(*) OVER w AS n,
                   SUM(x) OVER w AS sx,
                   SUM(y) OVER w AS sy,
                   SUM(x * y) OVER w AS sxy,
                   SUM(x * x) OVER w AS sxx,
                   SUM(y * y) OVER w AS syy
            FROM hourly
            WINDOW w AS (ORDER BY h
                         ROWS BETWEEN {ROLLCORR_HOURS - 1} PRECEDING
                              AND CURRENT ROW)
        )
        SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS h,
               CAST(n AS BIGINT) AS n_hours,
               CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
                   ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                         / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                            * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6)
               END AS corr_24h
        FROM s
    """,
    "window_distribution": """
        SELECT o_custkey, o_orderkey,
               CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
               ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
               ROUND(CUME_DIST() OVER w, 6) AS cume
        FROM orders
        WHERE o_custkey < 100
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
    "trailing_rows_avg": """
        SELECT o_orderkey, o_custkey,
               CAST(ROUND(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) OVER w
                          * 1.0 / COUNT(*) OVER w, 0) AS BIGINT) AS avg_cents_3,
               COUNT(*) OVER w AS n_in_frame
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    "higher_order_funcs": """
        SELECT vec_id,
               ROUND(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                                                   x -> x * x), 'sum'), 6) AS sum_sq,
               LEN(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0)) AS n_positive,
               LEN(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 2.5)) > 0
                   AS has_gt_2_5,
               ROUND(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                                                   x -> ABS(x)), 'max'), 6) AS max_abs
        FROM embeddings
    """,
    "interval_funcs": """
        SELECT event_id,
               strftime(ts + INTERVAL 90 MINUTE, '%Y-%m-%d %H:%M:%S') AS plus_90m,
               strftime(ts - INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS minus_1d,
               CAST(FLOOR(epoch_us(ts) / 60000000) AS BIGINT) AS epoch_min
        FROM events WHERE event_id < 500
    """,
    "monthly_growth": f"""
        WITH monthly AS (
            SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
                   {money.sql_money_sum(
                       money.sql_cents("o_totalprice"), money.CENTS
                   )} AS revenue
            FROM orders GROUP BY 1
        )
        SELECT month, revenue,
               LAG(revenue) OVER (ORDER BY month) AS prev_revenue,
               ROUND(revenue - COALESCE(LAG(revenue) OVER (ORDER BY month), 0.0), 2)
                   AS growth
        FROM monthly
    """,
    "json_roundtrip": """
        SELECT o_orderkey,
               o_orderkey AS key,
               o_orderstatus AS status,
               ROUND(o_totalprice, 2) AS price
        FROM orders WHERE o_orderkey <= 300
    """,
    "unpivot_measures": """
        SELECT l_orderkey, l_linenumber, measure, ROUND(value, 2) AS value
        FROM (
            SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
                   l_quantity AS value FROM lineitem WHERE l_orderkey <= 200
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_extendedprice',
                   l_extendedprice FROM lineitem WHERE l_orderkey <= 200
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_discount',
                   l_discount FROM lineitem WHERE l_orderkey <= 200
        )
    """,
    "collect_agg": """
        SELECT l_returnflag,
               string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus)
                   AS statuses,
               COUNT(DISTINCT l_linestatus) AS n_statuses,
               COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    """,
    "window_range_frame": f"""
        SELECT o_orderkey, o_custkey,
               date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
                   AS day_no,
               CAST(SUM({money.sql_cents('o_totalprice')}) OVER w AS DOUBLE)
                   / 100.0 AS spend_30d,
               COUNT(*) OVER w AS orders_30d
        FROM orders
        WINDOW w AS (
            PARTITION BY o_custkey
            ORDER BY date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
            RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
    """,
}

QUERIES = {
    "quantile_normalize": q_quantile_normalize,
    "topk_with_others": q_topk_with_others,
    "rolling_corr_events": q_rolling_corr_events,
    "trailing_rows_avg": q_trailing_rows_avg,
    "window_distribution": q_window_distribution,
    "higher_order_funcs": q_higher_order_funcs,
    "interval_funcs": q_interval_funcs,
    "monthly_growth": q_monthly_growth,
    "json_roundtrip": q_json_roundtrip,
    "unpivot_measures": q_unpivot_measures,
    "collect_agg": q_collect_agg,
    "window_range_frame": q_window_range_frame,
}
