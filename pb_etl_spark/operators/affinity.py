"""Customer/product affinity analytics: market-basket association rules,
item-item similarity, RFM segmentation, and smoothed target encoding.

Reference parity note: the reference pipeline (``/root/reference/pb_etl/
tasks.py``) has no affinity surface; these extend the analytics catalog
the way a warehouse team actually uses a TPC-H-shaped schema — orders as
baskets, parts as items, customers as the scored population.

Scale design, per operator:

- ``association_rules``: the basket relation is first shrunk to DISTINCT
  (order, brand) pairs (one hash aggregate — the big shrink), so the
  within-order self-join explodes each order by at most |brands| and the
  pair counting shuffle carries O(orders × brands²_per_order) rows, never
  a parts² cross product. Item counts and the basket total are bounded
  (≤ |brands| rows / 1 row) broadcast sides; support/confidence/lift are
  projections over integer counts.
- ``item_item_cosine``: the classic co-occurrence recommender — the
  (customer, item) interaction matrix is one grouped sum, the item-item
  dot products come from a self-join on customer (per-customer item
  vectors are bounded by |item types|), and norms are a ≤ |items|-row
  broadcast. All sums are integer (quantity grid); only the final cosine
  divides as double.
- ``rfm_segments``: per-customer Recency/Frequency/Monetary from one
  grouped pass over orders, then all three exact quintiles in ONE
  ``exact_quintiles`` pass: the metrics are stacked into one row per
  (score, customer) and ranked by ``grouped_running_sum`` grouped by
  score name (range partition + per-partition running count +
  broadcast-back offsets; NO single-partition global window). Every
  emitted column is an integer — cross-engine hash parity needs no
  float reasoning at all.
- ``target_encoding``: the leakage-safe categorical encoder (smoothed
  category mean toward the global prior). Aggregates are integer cents;
  the encoding is one double chain per category over a ≤ |categories|
  output. Applying it to rows is a broadcast join by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pb_etl_spark.cache import pin
from pb_etl_spark.catalog import read_table

# association-rule knobs: brand-level items, 1% minimum support
# (integer cross-multiplied in both engines — no double threshold compare)
AR_MIN_SUPPORT_PCT = 1

# target-encoding smoothing weight (pseudo-observations of the prior)
TE_PRIOR_WEIGHT = 20.0

RFM_BUCKETS = 5


def exact_quintiles(spark, stacked: DataFrame, key_col: str, outs: list[str]):
    """Exact rank-based quintiles 1..5 for several populations in ONE
    grouped pass — the one place the integer bucket formula
    ``1 + ((pos - 1) * 5) div n`` lives (its DuckDB twin is
    ``1 + ((ROW_NUMBER() - 1) * 5) // n``).

    ``stacked`` holds one row per (output name ``_q``, key) with the
    bigint rank value ``_q_ord`` (ascending; negate it for DESC — ties
    break on ``key_col`` ASC) plus any columns that are constant per
    key. Positions come from ``grouped_running_sum`` over a constant 1
    grouped by ``_q``, so populations of different sizes each get their
    own n. The result has one row per key: ``key_col``, the carried
    columns, and one score column per name in ``outs`` (NULL where the
    key is absent from that population)."""
    from pb_etl_spark.operators.corpus import grouped_running_sum

    carried = [c for c in stacked.columns if c not in (key_col, "_q", "_q_ord")]
    ranked = grouped_running_sum(
        spark,
        stacked.withColumn("_q_one", F.lit(1)),
        ["_q"],
        ["_q_ord", key_col],
        "_q_one",
    )
    score = F.expr(f"1L + ((cum - 1) * {RFM_BUCKETS}) div gtot")
    return ranked.groupBy(key_col, *carried).agg(
        *[F.max(F.when(F.col("_q") == o, score)).alias(o) for o in outs]
    )


def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over orders-as-baskets and
    p_brand-as-items: directed rules a→b with support, confidence and
    lift, filtered to support ≥ 1%.

    All three measures derive from four integers (pair count, both item
    counts, basket total), so each output value is a single double
    division chain rounded at 6 dp — grid-exact across engines. See
    module docstring for the shuffle shape."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # distinct (basket, item) FIRST: every downstream cost is driven by
    # this relation's size, not the raw lineitem count. Four subtrees
    # consume it (pair sides a/b, item counts, basket total) — at
    # fixture scale recomputing the cheap join+distinct beats cache
    # materialization (r08: 2.1 s vs 2.6 s persisted; r14 re-tested an
    # upfront-count build like the shingle table's: one isolated A/B
    # favored it (2.5 vs 3.1 s) but the full warm bench showed +0.9 s
    # and repeat A/Bs under load were a wash — the racing recomputes
    # overlap on idle cores here, so the upfront pass serializes more
    # than it saves). At 100 TB pin it so the corpus is scanned once
    # instead of four times.
    baskets = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("bid"), F.col("p_brand").alias("item"))
        .distinct()
    )
    n_baskets = baskets.select(F.count_distinct("bid").alias("n"))
    item_cnt = baskets.groupBy("item").agg(F.count(F.lit(1)).alias("item_n"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pair_cnt = (
        a.join(b, (F.col("a.bid") == F.col("b.bid")) & (F.col("a.item") != F.col("b.item")))
        .groupBy(
            F.col("a.item").alias("antecedent"), F.col("b.item").alias("consequent")
        )
        .agg(F.count(F.lit(1)).alias("pair_n"))
    )
    return (
        pair_cnt.join(
            F.broadcast(item_cnt.withColumnRenamed("item_n", "ant_n")),
            pair_cnt.antecedent == item_cnt.item,
        )
        .drop("item")
        .join(
            F.broadcast(item_cnt.withColumnRenamed("item_n", "con_n")),
            pair_cnt.consequent == item_cnt.item,
        )
        .drop("item")
        .crossJoin(F.broadcast(n_baskets))
        # integer cross-multiply: pair_n / n >= pct/100, no double compare
        .filter(F.col("pair_n") * 100 >= F.col("n") * AR_MIN_SUPPORT_PCT)
        .select(
            "antecedent",
            "consequent",
            "pair_n",
            F.round(F.col("pair_n").cast("double") / F.col("n"), 6).alias("support"),
            F.round(F.col("pair_n").cast("double") / F.col("ant_n"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("pair_n").cast("double")
                * F.col("n")
                / (F.col("ant_n").cast("double") * F.col("con_n")),
                6,
            ).alias("lift"),
        )
    )


def q_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-occurrence similarity (the memory-based recommender
    core): cosine between p_type columns of the (customer × item-type)
    quantity matrix.

    Dot products and squared norms are INTEGER sums (l_quantity is an
    integral grid); only the final cosine divides as double (round 6).
    The self-join key is the customer, whose per-customer item vector is
    bounded by |types| = 6 — linear shuffle, bounded explode."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # pinned: the interaction matrix feeds both self-join sides and the
    # norms — three consumers, one computation (plan_audit-caught)
    # deliberately LAZY (no upfront count): A/B'd r14 — with only three
    # consumer legs the racing recomputations overlap on idle cores and
    # the critical path stays ~one build, while an upfront count()
    # serializes build-then-legs (+0.2 s at sf0.1)
    v = pin(
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("o_custkey").alias("cust"), F.col("p_type").alias("item"))
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("w"))
    )
    norms = v.groupBy("item").agg(F.sum(F.col("w") * F.col("w")).alias("nrm2"))
    a, b = v.alias("a"), v.alias("b")
    dots = (
        a.join(b, (F.col("a.cust") == F.col("b.cust")) & (F.col("a.item") < F.col("b.item")))
        .groupBy(F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b"))
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    return (
        dots.join(
            F.broadcast(norms.withColumnRenamed("nrm2", "nrm2_a")),
            dots.item_a == norms.item,
        )
        .drop("item")
        .join(
            F.broadcast(norms.withColumnRenamed("nrm2", "nrm2_b")),
            dots.item_b == norms.item,
        )
        .drop("item")
        .select(
            "item_a",
            "item_b",
            "dot",
            F.round(
                F.col("dot").cast("double")
                / F.sqrt(F.col("nrm2_a").cast("double") * F.col("nrm2_b")),
                6,
            ).alias("cos"),
        )
    )


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, Recency (days since last order,
    relative to the dataset's max order date), Frequency (order count)
    and Monetary (lifetime spend in cents), each scored into exact
    quintiles 1..5 (5 = best), segment = r·100 + f·10 + m.

    Quintiles are EXACT (rank-based: score = 1 + (pos-1)·5 div n over
    the total order (metric, custkey)) and all three come from one
    ``exact_quintiles`` pass over the metrics stacked per customer, which
    carries the metrics along so the scores pivot back without a join;
    no single-partition window. Every output column is an integer: no
    float appears anywhere in the query."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    mx = orders.select(F.max("o_orderdate").alias("mxd"))
    rfm = (
        orders.crossJoin(F.broadcast(mx))
        .groupBy(F.col("o_custkey").alias("c"))
        .agg(
            F.min(F.datediff(F.col("mxd"), F.col("o_orderdate")))
            .cast("long")
            .alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "monetary_cents"
            ),
        )
    )
    # one stacked row per (score, customer), carrying the three metrics
    # so the scores pivot back without a join. Recency: fewer days =
    # better = score 5, so it ranks DESC (negated) and the most recent
    # customers take the largest positions (highest quintile)
    stacked = rfm.select(
        "*",
        F.inline(
            F.array(
                *[
                    F.struct(F.lit(out).alias("_q"), ord_.cast("long").alias("_q_ord"))
                    for out, ord_ in (
                        ("r_score", -F.col("recency_days")),
                        ("f_score", F.col("frequency")),
                        ("m_score", F.col("monetary_cents")),
                    )
                ]
            )
        ),
    )
    scored = exact_quintiles(spark, stacked, "c", ["r_score", "f_score", "m_score"])
    return scored.select(
        F.col("c").alias("c_custkey"),
        "recency_days",
        "frequency",
        "monetary_cents",
        "r_score",
        "f_score",
        "m_score",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")).alias(
            "segment"
        ),
    )


def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding of c_mktsegment against customer lifetime
    spend: enc(cat) = (sum_cat + W·global_mean) / (n_cat + W) with
    W = TE_PRIOR_WEIGHT pseudo-observations of the prior — the standard
    high-cardinality categorical encoder (here on a bounded category so
    the whole decision table is oracle-checkable).

    Customers with no orders contribute target 0 (left join + coalesce),
    exactly as an encoder over the full scoring population must. Sums
    are integer cents; each output is one double chain (round 6). The
    encoder table is ≤ |categories| rows — applying it to 100 TB of rows
    is a broadcast join by construction."""
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = read_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    per_cust = cust.join(spend, cust.c_custkey == spend.o_custkey, "left").select(
        "c_mktsegment", F.coalesce(F.col("cents"), F.lit(0)).alias("cents")
    )
    g = per_cust.agg(
        F.sum("cents").alias("gcents"), F.count(F.lit(1)).alias("gn")
    )
    cat = per_cust.groupBy("c_mktsegment").agg(
        F.sum("cents").alias("ccents"), F.count(F.lit(1)).alias("cn")
    )
    gmean = F.col("gcents").cast("double") / 100.0 / F.col("gn")
    return (
        cat.crossJoin(F.broadcast(g))
        .select(
            "c_mktsegment",
            F.col("cn").alias("n_customers"),
            F.round(F.col("ccents").cast("double") / 100.0 / F.col("cn"), 6).alias(
                "raw_mean"
            ),
            F.round(
                (F.col("ccents").cast("double") / 100.0 + TE_PRIOR_WEIGHT * gmean)
                / (F.col("cn") + TE_PRIOR_WEIGHT),
                6,
            ).alias("encoded"),
        )
    )


def q_gini_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-NATION revenue-concentration: the Gini coefficient of
    customer lifetime spend within each market — the keyed sibling of
    ``q_gini_concentration`` for per-segment fairness / whale audits
    ("is APAC revenue more concentrated than EMEA's?").

    Same rank formula G = (2·Σ pos·x − (n+1)·Σx) / (n·Σx) over spend
    sorted ascending WITHIN the nation, but positions come from
    ``grouped_running_sum`` over a constant-1 weight (range partition +
    per-(pid, nation) driver offsets) — a ``Window.partitionBy(nation)``
    row_number would sort every nation's customers in one task, the
    |nations|-value-key shape the plan lint bans. Spend compaction is a
    map-side-combinable groupBy; the Gini sums are one grouped pass over
    the positioned frame. Σ pos·cents is accumulated EXACTLY in
    decimal(38,0) (pos·cents can pass int64 at scale), and the cast to
    double for the final division raise_errors past 2^53 instead of
    silently drifting — at that point recompute on a dollars grid (the
    ``q_gini_concentration`` caveat, now enforced, not just noted)."""
    from pb_etl_spark.operators.corpus import grouped_running_sum

    orders = read_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    spend = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_nationkey", "cents", F.col("o_custkey").alias("c"))
        .withColumn("one", F.lit(1).cast("long"))
    )
    pos_df = grouped_running_sum(
        spark, spend, ["c_nationkey"], ["cents", "c"], "one"
    )
    rep = pos_df.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("total_cents"),
        F.sum(
            F.col("cum").cast("decimal(19,0)")
            * F.col("cents").cast("decimal(19,0)")
        ).alias("pos_cents"),
    )
    n = F.col("n_customers")
    total_d = F.col("total_cents").cast("double")
    # pos_cents >= total_cents always (pos >= 1), so this single guard
    # also covers total_cents; when/otherwise evaluates lazily, so the
    # raise_error only fires past the exact-double threshold
    pos_d = F.when(
        F.col("pos_cents") < F.lit(2**53).cast("decimal(38,0)"),
        F.col("pos_cents").cast("double"),
    ).otherwise(
        F.raise_error(
            F.lit(
                "gini_by_group: sum(pos*cents) >= 2^53 — double gini "
                "would drift silently; recompute on a dollars grid"
            )
        ).cast("double")
    )
    gini = (2.0 * pos_d - (n + 1) * total_d) / (n * total_d)
    return rep.select(
        "c_nationkey",
        "n_customers",
        "total_cents",
        F.round(gini, 6).alias("gini"),
    )


_GINI_GROUP_ORACLE = """
    WITH spend AS (
        SELECT o.o_custkey AS c, cu.c_nationkey AS nk,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o JOIN customer cu ON o.o_custkey = cu.c_custkey
        GROUP BY o.o_custkey, cu.c_nationkey
    ), ranked AS (
        SELECT nk, cents,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY nk ORDER BY cents, c
               ) AS BIGINT) AS pos
        FROM spend
    )
    SELECT nk AS c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           ROUND(
               (2.0 * SUM(pos * cents)
                   - (COUNT(*) + 1) * CAST(SUM(cents) AS DOUBLE))
               / (COUNT(*) * CAST(SUM(cents) AS DOUBLE)), 6) AS gini
    FROM ranked GROUP BY nk
"""


def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration report: the Gini coefficient of customer
    lifetime spend plus top-1% / top-10% revenue shares — the
    inequality measures behind "whale" analyses and fairness audits.

    Gini via the rank formula G = (2·Σ pos·x − (n+1)·Σx) / (n·Σx) over
    spend sorted ascending: positions come from the distributed
    ``global_positions`` primitive and every sum is INTEGER
    (Σ pos·cents stays < 2^63 while n·max_spend_cents < 6·10^18 — at
    larger scales swap the cents grid for dollars). One grouped pass,
    one range shuffle, a 1-row report."""
    from pb_etl_spark.operators.corpus import global_positions

    orders = read_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    spend = orders.groupBy(F.col("o_custkey").alias("c")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    pos_df = global_positions(spark, spend, ["cents", "c"])
    # ceil(n/k) folded in-plan over the helper's _gp_tot column:
    # (n + k - 1) div k equals the old driver-side -(-n // k) for every
    # n ≥ 0, so the selected top-k sets are identical
    top1_k = F.expr("(_gp_tot + 99) div 100")
    top10_k = F.expr("(_gp_tot + 9) div 10")
    n_col = F.col("_gp_tot")
    agg = pos_df.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("total_cents"),
        F.sum(F.col("pos") * F.col("cents")).alias("pos_cents"),
        F.sum(
            F.when(F.col("pos") > n_col - top1_k, F.col("cents")).otherwise(0)
        ).alias("top1_cents"),
        F.sum(
            F.when(F.col("pos") > n_col - top10_k, F.col("cents")).otherwise(0)
        ).alias("top10_cents"),
    )
    # n_customers == the helper's total by construction (count over the
    # positioned frame), so the report arithmetic reads it post-agg
    n = F.col("n_customers")
    gini = (
        (2.0 * F.col("pos_cents") - (n + 1) * F.col("total_cents").cast("double"))
        / (n * F.col("total_cents").cast("double"))
    )
    return agg.select(
        "n_customers",
        "total_cents",
        F.round(gini, 6).alias("gini"),
        F.round(F.col("top1_cents").cast("double") / F.col("total_cents"), 6).alias(
            "top1pct_share"
        ),
        F.round(
            F.col("top10_cents").cast("double") / F.col("total_cents"), 6
        ).alias("top10pct_share"),
    )


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers grouped by first-order
    YEAR, cumulative revenue per customer tracked by cohort age in
    years — the LTV triangle every growth team maintains (read down a
    column to compare cohort quality at equal age).

    All sums are integer cents; the cumulative window runs over the
    bounded (cohort × age) triangle (≤ |years|² rows), never the
    facts. Shape: one per-customer first-order aggregate, one
    broadcastable join back, one grouped rollup + triangle cumsum."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    firsts = orders.groupBy("o_custkey").agg(
        F.year(F.min("o_orderdate")).cast("long").alias("cohort")
    )
    cohort_sizes = firsts.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    aged = (
        orders.join(firsts, "o_custkey")
        .select(
            "cohort",
            (F.year("o_orderdate").cast("long") - F.col("cohort")).alias("age"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("cohort", "age")
        .agg(F.sum("cents").alias("age_cents"))
    )
    from pyspark.sql.window import Window as W

    w_cum = (
        W.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        aged.withColumn("cum_cents", F.sum("age_cents").over(w_cum))
        .join(F.broadcast(cohort_sizes), "cohort")
        .select(
            "cohort",
            "age",
            "n_customers",
            "age_cents",
            "cum_cents",
            # integer half-away rounding on the micro-unit grid:
            # round(a/b, 6) as ((2·a·10⁴ + b) div (2·b)) / 10⁶ — a
            # plain ROUND(double, 6) can land exactly on a half
            # boundary (e.g. cents/2^k cohort sizes) where the engines
            # disagree; the integer form cannot
            (
                F.expr(
                    "(2 * cum_cents * 10000 + n_customers)"
                    " div (2 * n_customers)"
                ).cast("double")
                / 1000000.0
            ).alias("cum_ltv_per_customer"),
        )
    )


def q_order_cycle_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-cycle-time distribution: days between a customer's
    consecutive orders (the repeat-purchase cadence), summarized as
    count / mean / exact P50 / P90 / max — the replenishment metric
    behind churn-risk and campaign timing.

    Gaps are INTEGER day counts from one keyed lag window (shuffle on
    customer); the distribution summary is a single 1-row aggregate
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont``, the
    histogram_quantiles-established identity)."""
    from pyspark.sql.window import Window as W

    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey"
    )
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.withColumn("prev", F.lag("o_orderdate").over(w))
        .filter(F.col("prev").isNotNull())
        .select(F.datediff("o_orderdate", "prev").cast("long").alias("gap"))
    )
    return gaps.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.avg("gap"), 6).alias("mean_days"),
        F.round(F.percentile("gap", F.lit(0.5)), 6).alias("p50_days"),
        F.round(F.percentile("gap", F.lit(0.9)), 6).alias("p90_days"),
        F.max("gap").alias("max_days"),
    )


SEG_SPLIT_DATE = "1998-05-01"  # period boundary for segment migration


def q_supplier_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier reliability scorecard: per supplier, line counts and the
    LATE-shipment rate (shipped > 90 days after the order date) — the
    vendor-performance rollup sourcing teams rank on. One fact-fact
    equi-join (lineitem⋈orders on orderkey, both filtered projections),
    one grouped aggregate to the |suppliers| frame; the rate is one
    integer-derived division."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(
                (
                    F.datediff("l_shipdate", "o_orderdate") > 90
                ).cast("long")
            ).alias("n_late"),
        )
        .select(
            "suppkey",
            "n_lines",
            "n_late",
            F.round(F.col("n_late").cast("double") / F.col("n_lines"), 6).alias(
                "late_rate"
            ),
        )
    )


DUP_INV_BAND_CENTS = 1_000_000  # $10k amount band for the similarity key
DUP_INV_WINDOW_DAYS = 30


def q_duplicate_invoice_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suspicious-invoice screen (double-billing / split-billing): pairs
    of orders by the SAME customer with totals in the SAME $10k band
    within 30 days. The join key is (customer, amount-band) — the
    classic blocking key whose collision groups are tiny — so the pair
    join is linear; the date-window predicate verifies candidates.
    Emits each pair once (lower orderkey first). Note a same-BAND key
    can miss pairs straddling a band boundary; a production screen
    also joins on band±1 (doubling keys, same linear shape)."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).withColumn("band", F.expr(f"cents div {DUP_INV_BAND_CENTS}"))
    a, b = o.alias("a"), o.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .select(
            F.col("a.o_custkey").alias("custkey"),
            F.col("a.o_orderkey").alias("orderkey_a"),
            F.col("b.o_orderkey").alias("orderkey_b"),
            F.col("a.cents").alias("cents_a"),
            F.col("b.cents").alias("cents_b"),
            F.abs(
                F.datediff(F.col("b.o_orderdate"), F.col("a.o_orderdate"))
            )
            .cast("long")
            .alias("day_gap"),
        )
        .filter(F.col("day_gap") <= DUP_INV_WINDOW_DAYS)
    )


def q_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer segment-migration matrix: monetary quintile in the
    EARLY period (orders before SEG_SPLIT_DATE) vs the LATE period,
    counted over customers active in both — the upgrade/downgrade flow
    behind retention programs. One aggregate yields each customer's
    spend per period; both periods' exact rank-based quintiles come from
    one ``exact_quintiles`` pass grouped by period, so each period ranks
    over its own population (integer arithmetic). The matrix is a ≤ 5×5
    grouped count."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    early = F.col("o_orderdate") < F.lit(SEG_SPLIT_DATE).cast("timestamp")
    stacked = orders.filter(F.col("o_orderdate").isNotNull()).groupBy(
        F.col("o_custkey").alias("c"),
        F.when(early, "from_q").otherwise("to_q").alias("_q"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("_q_ord")
    )
    return (
        exact_quintiles(spark, stacked, "c", ["from_q", "to_q"])
        .filter(F.col("from_q").isNotNull() & F.col("to_q").isNotNull())
        .groupBy("from_q", "to_q")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def q_new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into NEW (first-ever active day) vs
    RETURNING — the top-left tile of every growth dashboard. One
    (user, day) dedup, one per-user min, one grouped count; all
    integers."""
    ev = read_table(spark, sf_dir, "events")
    pairs = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    firsts = pairs.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        pairs.join(firsts, "user_id")
        .groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(
            F.sum((F.col("day") == F.col("first_day")).cast("long")).alias(
                "new_users"
            ),
            F.sum((F.col("day") != F.col("first_day")).cast("long")).alias(
                "returning_users"
            ),
        )
    )


def q_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume revenue bridge per brand between the two halves of
    the order history (split at SEG_SPLIT_DATE): Δrevenue decomposed as
    volume effect (Δqty·p₀) + price effect (q₀·Δp) + joint effect
    (Δqty·Δp) — the FP&A walk from last period's revenue to this
    period's. Brands present in both periods only (a bridge needs both
    endpoints; entering/exiting brands are a separate line in practice).

    Per brand, everything derives from four integers (period revenue
    cents and quantities); each effect is one double chain (round 6),
    and the three effects sum IDENTICALLY to Δrev (pinned in tests).
    Shape: two filtered joins+aggregates to |brands| rows, one
    broadcastable join between them."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    joined = li.join(part, li.l_partkey == part.p_partkey).join(
        orders, li.l_orderkey == orders.o_orderkey
    )

    def period(df, tag):
        return df.groupBy(F.col("p_brand").alias("brand")).agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                f"rev{tag}"
            ),
            F.sum(F.col("l_quantity").cast("long")).alias(f"qty{tag}"),
        )

    split = F.lit(SEG_SPLIT_DATE).cast("timestamp")
    p0 = period(joined.filter(F.col("o_orderdate") < split), "0")
    p1 = period(joined.filter(F.col("o_orderdate") >= split), "1")
    price0 = F.col("rev0").cast("double") / F.col("qty0")
    price1 = F.col("rev1").cast("double") / F.col("qty1")
    return (
        p0.join(p1, "brand")
        .select(
            "brand",
            "rev0",
            "rev1",
            "qty0",
            "qty1",
            F.round(
                (F.col("qty1") - F.col("qty0")) * price0 / 100.0, 6
            ).alias("volume_effect"),
            F.round(F.col("qty0") * (price1 - price0) / 100.0, 6).alias(
                "price_effect"
            ),
            F.round(
                (F.col("qty1") - F.col("qty0")) * (price1 - price0) / 100.0, 6
            ).alias("joint_effect"),
        )
    )


QUERIES = {
    "association_rules": q_association_rules,
    "item_item_cosine": q_item_item_cosine,
    "rfm_segments": q_rfm_segments,
    "target_encoding": q_target_encoding,
    "gini_concentration": q_gini_concentration,
    "gini_by_group": q_gini_by_group,
    "cohort_ltv": q_cohort_ltv,
    "order_cycle_time": q_order_cycle_time,
    "supplier_reliability": q_supplier_reliability,
    "duplicate_invoice_detector": q_duplicate_invoice_detector,
    "segment_migration": q_segment_migration,
    "new_vs_returning_daily": q_new_vs_returning_daily,
    "revenue_bridge": q_revenue_bridge,
}

ORACLES: dict[str, str] = {
    "revenue_bridge": f"""
        WITH joined AS (
            SELECT p.p_brand AS brand, o.o_orderdate,
                   CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS cents,
                   CAST(l.l_quantity AS BIGINT) AS qty
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
        ), p0 AS (
            SELECT brand, CAST(SUM(cents) AS BIGINT) AS rev0,
                   CAST(SUM(qty) AS BIGINT) AS qty0
            FROM joined WHERE o_orderdate < TIMESTAMP '{SEG_SPLIT_DATE}'
            GROUP BY brand
        ), p1 AS (
            SELECT brand, CAST(SUM(cents) AS BIGINT) AS rev1,
                   CAST(SUM(qty) AS BIGINT) AS qty1
            FROM joined WHERE o_orderdate >= TIMESTAMP '{SEG_SPLIT_DATE}'
            GROUP BY brand
        )
        SELECT p0.brand, rev0, rev1, qty0, qty1,
               ROUND((qty1 - qty0) * (CAST(rev0 AS DOUBLE) / qty0) / 100.0, 6)
                   AS volume_effect,
               ROUND(qty0 * (CAST(rev1 AS DOUBLE) / qty1
                             - CAST(rev0 AS DOUBLE) / qty0) / 100.0, 6)
                   AS price_effect,
               ROUND((qty1 - qty0) * (CAST(rev1 AS DOUBLE) / qty1
                                      - CAST(rev0 AS DOUBLE) / qty0) / 100.0,
                     6) AS joint_effect
        FROM p0 JOIN p1 ON p0.brand = p1.brand
    """,
    "supplier_reliability": """
        SELECT l.l_suppkey AS suppkey,
               COUNT(*) AS n_lines,
               CAST(SUM(CASE WHEN date_diff('day', o.o_orderdate,
                                            l.l_shipdate) > 90
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
               ROUND(CAST(SUM(CASE WHEN date_diff('day', o.o_orderdate,
                                                  l.l_shipdate) > 90
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS late_rate
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY l.l_suppkey
    """,
    "duplicate_invoice_detector": f"""
        SELECT a.o_custkey AS custkey,
               a.o_orderkey AS orderkey_a,
               b.o_orderkey AS orderkey_b,
               CAST(ROUND(a.o_totalprice * 100) AS BIGINT) AS cents_a,
               CAST(ROUND(b.o_totalprice * 100) AS BIGINT) AS cents_b,
               CAST(ABS(date_diff('day', a.o_orderdate, b.o_orderdate))
                    AS BIGINT) AS day_gap
        FROM orders a JOIN orders b
          ON a.o_custkey = b.o_custkey
         AND CAST(ROUND(a.o_totalprice * 100) AS BIGINT)
             // {DUP_INV_BAND_CENTS}
             = CAST(ROUND(b.o_totalprice * 100) AS BIGINT)
               // {DUP_INV_BAND_CENTS}
         AND a.o_orderkey < b.o_orderkey
        WHERE ABS(date_diff('day', a.o_orderdate, b.o_orderdate))
              <= {DUP_INV_WINDOW_DAYS}
    """,
    "segment_migration": f"""
        WITH early AS (
            SELECT o_custkey AS c,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
            FROM orders WHERE o_orderdate < TIMESTAMP '{SEG_SPLIT_DATE}'
            GROUP BY o_custkey
        ), late AS (
            SELECT o_custkey AS c,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
            FROM orders WHERE o_orderdate >= TIMESTAMP '{SEG_SPLIT_DATE}'
            GROUP BY o_custkey
        ), eq AS (
            SELECT c, 1 + ((ROW_NUMBER() OVER (ORDER BY cents, c) - 1)
                           * {RFM_BUCKETS}) // COUNT(*) OVER () AS from_q
            FROM early
        ), lq AS (
            SELECT c, 1 + ((ROW_NUMBER() OVER (ORDER BY cents, c) - 1)
                           * {RFM_BUCKETS}) // COUNT(*) OVER () AS to_q
            FROM late
        )
        SELECT eq.from_q, lq.to_q, COUNT(*) AS n_customers
        FROM eq JOIN lq ON eq.c = lq.c
        GROUP BY 1, 2
    """,
    "new_vs_returning_daily": """
        WITH pairs AS (
            SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
        ), firsts AS (
            SELECT user_id, MIN(day) AS first_day FROM pairs GROUP BY user_id
        )
        SELECT strftime(p.day, '%Y-%m-%d') AS day,
               CAST(SUM(CASE WHEN p.day = f.first_day THEN 1 ELSE 0 END)
                    AS BIGINT) AS new_users,
               CAST(SUM(CASE WHEN p.day != f.first_day THEN 1 ELSE 0 END)
                    AS BIGINT) AS returning_users
        FROM pairs p JOIN firsts f ON p.user_id = f.user_id
        GROUP BY 1
    """,
    "order_cycle_time": """
        WITH gaps AS (
            SELECT CAST(date_diff('day',
                        LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                               ORDER BY o_orderdate,
                                                        o_orderkey),
                        o_orderdate) AS BIGINT) AS gap
            FROM orders
        )
        SELECT COUNT(gap) AS n_gaps,
               ROUND(AVG(gap), 6) AS mean_days,
               ROUND(quantile_cont(gap, 0.5), 6) AS p50_days,
               ROUND(quantile_cont(gap, 0.9), 6) AS p90_days,
               MAX(gap) AS max_days
        FROM gaps WHERE gap IS NOT NULL
    """,
    "cohort_ltv": """
        WITH firsts AS (
            SELECT o_custkey,
                   CAST(year(MIN(o_orderdate)) AS BIGINT) AS cohort
            FROM orders GROUP BY o_custkey
        ), sizes AS (
            SELECT cohort, COUNT(*) AS n_customers FROM firsts GROUP BY cohort
        ), aged AS (
            SELECT f.cohort,
                   CAST(year(o.o_orderdate) AS BIGINT) - f.cohort AS age,
                   SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                       AS age_cents
            FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
            GROUP BY 1, 2
        ), cum AS (
            SELECT cohort, age, age_cents,
                   CAST(SUM(age_cents) OVER (PARTITION BY cohort ORDER BY age
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum_cents
            FROM aged
        )
        SELECT c.cohort, c.age, s.n_customers,
               CAST(c.age_cents AS BIGINT) AS age_cents, c.cum_cents,
               CAST((2 * c.cum_cents * 10000 + s.n_customers)
                    // (2 * s.n_customers) AS DOUBLE) / 1000000.0
                   AS cum_ltv_per_customer
        FROM cum c JOIN sizes s ON c.cohort = s.cohort
    """,
    "gini_by_group": _GINI_GROUP_ORACLE,
    "gini_concentration": """
        WITH spend AS (
            SELECT o_custkey AS c,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
            FROM orders GROUP BY o_custkey
        ), pos AS (
            SELECT c, cents,
                   ROW_NUMBER() OVER (ORDER BY cents, c) AS pos
            FROM spend
        ), nt AS (SELECT COUNT(*) AS n FROM spend)
        SELECT COUNT(*) AS n_customers,
               CAST(SUM(cents) AS BIGINT) AS total_cents,
               ROUND((2.0 * CAST(SUM(pos * cents) AS DOUBLE)
                      - (nt.n + 1) * CAST(SUM(cents) AS DOUBLE))
                     / (nt.n * CAST(SUM(cents) AS DOUBLE)), 6) AS gini,
               ROUND(CAST(SUM(CASE WHEN pos > nt.n - CEIL(nt.n / 100.0)
                                   THEN cents ELSE 0 END) AS DOUBLE)
                     / SUM(cents), 6) AS top1pct_share,
               ROUND(CAST(SUM(CASE WHEN pos > nt.n - CEIL(nt.n / 10.0)
                                   THEN cents ELSE 0 END) AS DOUBLE)
                     / SUM(cents), 6) AS top10pct_share
        FROM pos CROSS JOIN nt
        GROUP BY nt.n
    """,
    "association_rules": f"""
        WITH baskets AS (
            SELECT DISTINCT l.l_orderkey AS bid, p.p_brand AS item
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ), tot AS (
            SELECT COUNT(DISTINCT bid) AS n FROM baskets
        ), items AS (
            SELECT item, COUNT(*) AS item_n FROM baskets GROUP BY item
        ), pairs AS (
            SELECT a.item AS antecedent, b.item AS consequent,
                   COUNT(*) AS pair_n
            FROM baskets a JOIN baskets b
              ON a.bid = b.bid AND a.item != b.item
            GROUP BY 1, 2
        )
        SELECT p.antecedent, p.consequent, p.pair_n,
               ROUND(CAST(p.pair_n AS DOUBLE) / t.n, 6) AS support,
               ROUND(CAST(p.pair_n AS DOUBLE) / ia.item_n, 6) AS confidence,
               ROUND(CAST(p.pair_n AS DOUBLE) * t.n
                     / (CAST(ia.item_n AS DOUBLE) * ic.item_n), 6) AS lift
        FROM pairs p
        JOIN items ia ON p.antecedent = ia.item
        JOIN items ic ON p.consequent = ic.item
        CROSS JOIN tot t
        WHERE p.pair_n * 100 >= t.n * {AR_MIN_SUPPORT_PCT}
    """,
    "item_item_cosine": """
        WITH v AS (
            SELECT o.o_custkey AS cust, p.p_type AS item,
                   SUM(CAST(l.l_quantity AS BIGINT)) AS w
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY 1, 2
        ), norms AS (
            SELECT item, SUM(w * w) AS nrm2 FROM v GROUP BY item
        ), dots AS (
            SELECT a.item AS item_a, b.item AS item_b,
                   CAST(SUM(a.w * b.w) AS BIGINT) AS dot
            FROM v a JOIN v b ON a.cust = b.cust AND a.item < b.item
            GROUP BY 1, 2
        )
        SELECT d.item_a, d.item_b, d.dot,
               ROUND(CAST(d.dot AS DOUBLE)
                     / sqrt(CAST(na.nrm2 AS DOUBLE) * nb.nrm2), 6) AS cos
        FROM dots d
        JOIN norms na ON d.item_a = na.item
        JOIN norms nb ON d.item_b = nb.item
    """,
    "rfm_segments": f"""
        WITH mx AS (SELECT MAX(o_orderdate) AS mxd FROM orders),
        rfm AS (
            SELECT o_custkey AS c,
                   CAST(MIN(date_diff('day', o_orderdate, mx.mxd)) AS BIGINT)
                       AS recency_days,
                   COUNT(*) AS frequency,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS monetary_cents
            FROM orders CROSS JOIN mx GROUP BY 1, mx.mxd
        ), n AS (SELECT COUNT(*) AS n FROM rfm),
        scored AS (
            SELECT c, recency_days, frequency, monetary_cents,
                   1 + ((ROW_NUMBER() OVER (ORDER BY recency_days DESC, c ASC)
                         - 1) * {RFM_BUCKETS}) // n.n AS r_score,
                   1 + ((ROW_NUMBER() OVER (ORDER BY frequency ASC, c ASC)
                         - 1) * {RFM_BUCKETS}) // n.n AS f_score,
                   1 + ((ROW_NUMBER() OVER (ORDER BY monetary_cents ASC, c ASC)
                         - 1) * {RFM_BUCKETS}) // n.n AS m_score
            FROM rfm CROSS JOIN n
        )
        SELECT c AS c_custkey, recency_days, frequency, monetary_cents,
               r_score, f_score, m_score,
               r_score * 100 + f_score * 10 + m_score AS segment
        FROM scored
    """,
    "target_encoding": f"""
        WITH per_cust AS (
            SELECT c.c_mktsegment,
                   COALESCE(s.cents, 0) AS cents
            FROM customer c
            LEFT JOIN (
                SELECT o_custkey,
                       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
                FROM orders GROUP BY o_custkey
            ) s ON c.c_custkey = s.o_custkey
        ), g AS (
            SELECT SUM(cents) AS gcents, COUNT(*) AS gn FROM per_cust
        )
        SELECT p.c_mktsegment,
               COUNT(*) AS n_customers,
               ROUND(CAST(SUM(p.cents) AS DOUBLE) / 100.0 / COUNT(*), 6)
                   AS raw_mean,
               ROUND((CAST(SUM(p.cents) AS DOUBLE) / 100.0
                      + {TE_PRIOR_WEIGHT} * (CAST(g.gcents AS DOUBLE) / 100.0 / g.gn))
                     / (COUNT(*) + {TE_PRIOR_WEIGHT}), 6) AS encoded
        FROM per_cust p CROSS JOIN g
        GROUP BY p.c_mktsegment, g.gcents, g.gn
    """,
}
