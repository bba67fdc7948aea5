"""Advanced aggregation + subquery surface: cube / grouping sets / pivot,
scalar + correlated + IN subqueries, statistical aggregates, exact
percentiles, min_by/max_by.

Subquery queries are written through ``spark.sql`` over registered views —
same Catalyst plans as the DataFrame API, and it exercises the SQL front
end the engine also exposes. Statistical aggregates use the standard
sample-variance definitions shared by Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pb_etl_spark.cache import pin
from pb_etl_spark.catalog import read_table, register_views
from pb_etl_spark.operators import money

SCRIPT_T0 = 100.0  # SQL-scripting demo: starting threshold
SCRIPT_MAX_K = 30  # oracle unroll bound for the doubling loop
PARAM_MIN_PRICE = 150_000.0  # parameterized-SQL demo binding
PARAM_STATUS = "F"


def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two keys: all 4 grouping combinations in one pass
    (Catalyst Expand — no 4 separate scans)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        money.money_sum(
            money.cents(F.col("l_extendedprice")), money.CENTS, "cube_agg"
        ).alias("sum_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL front end."""
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
               {money.spark_sql_money_sum(
                   money.sql_cents("o_totalprice"), money.CENTS, "grouping_sets"
               )} AS spend
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


def q_pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot linestatus into columns (explicit value list keeps the plan
    static — no driver-side distinct scan)."""
    li = read_table(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return p.select(
        "l_returnflag",
        F.col("O").alias("qty_open"),
        F.col("F").alias("qty_filled"),
    )


def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders above 1.5× the global average price."""
    register_views(spark, sf_dir)
    # both the threshold mean and the reported mean divide EXACT integer
    # cent sums — a double AVG is order-dependent, and a boundary order
    # admitted by one engine but not the other changes n_big outright
    cents = money.sql_cents("o_totalprice")
    guarded_sum = money.spark_sql_exact_double(
        money.spark_sql_exact_sum(cents, "scalar_subquery"),
        "scalar_subquery",
    )
    exact_avg = f"({guarded_sum} / COUNT(*) / 100.0)"
    return spark.sql(
        f"""
        SELECT o_orderstatus, COUNT(*) AS n_big,
               ROUND({exact_avg}, 6) AS avg_big_price
        FROM orders
        WHERE o_totalprice > 1.5 * (SELECT {exact_avg} FROM orders)
        GROUP BY o_orderstatus
        """
    )


def q_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS: customers having at least one urgent open order."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderpriority = '1-URGENT' AND o.o_orderstatus = 'O'
        )
        """
    )


def q_not_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated NOT EXISTS (anti-join plan): customers with no
    finished order — Catalyst rewrites to a broadcast/shuffled anti join,
    never a per-row subquery execution."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment
        FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
        )
        """
    )


def q_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN subquery: parts that appear in returned lineitems."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT p_partkey, p_brand
        FROM part
        WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R')
        """
    )


def q_bool_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates per group: bool_and / bool_or / conditional
    counts — the data-quality-assertion shape (\"is every row in this
    partition valid?\") that runs as a cheap partial-aggregated pass."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_deep_discount"),
        F.bool_and(F.col("l_shipdate").isNotNull()).alias("all_dated"),
    )


def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=>): keys where NULL must match NULL —
    the reconciliation-join semantics SQL's = silently drops. Built by
    nulling a derived key on both sides and joining with eqNullSafe."""
    o = read_table(spark, sf_dir, "orders")
    # derived key: priority digit for urgent/high, NULL otherwise
    keyed = o.withColumn(
        "prio_key",
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
            F.substring("o_orderpriority", 1, 1),
        ),
    )
    summary = keyed.groupBy("prio_key").agg(F.count(F.lit(1)).alias("n_orders"))
    classes = spark.createDataFrame(
        [("1", "urgent"), ("2", "high"), (None, "routine")],
        "prio_key string, class string",
    )
    return (
        summary.join(
            F.broadcast(classes), summary.prio_key.eqNullSafe(classes.prio_key)
        )
        .select("class", "n_orders")
    )


def q_struct_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct pack/extract battery: nested field construction and access
    stay columnar (no serialization) — the typed-record shape of event
    payloads."""
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 300)
    s = F.struct(
        F.col("o_orderstatus").alias("status"),
        F.round("o_totalprice", 2).alias("price"),
        F.struct(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.month("o_orderdate").cast("long").alias("mo"),
        ).alias("when"),
    )
    return o.select(
        "o_orderkey",
        s.getField("status").alias("status"),
        s.getField("price").alias("price"),
        s.getField("when").getField("yr").alias("yr"),
        s.getField("when").getField("mo").alias("mo"),
    )


def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram: bucket = floor(price/50k) — one grouped pass
    (integer arithmetic, no CASE ladder), the distribution-profile query
    run before choosing normalization or clipping bounds."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "bucket", F.floor(F.col("o_totalprice") / 50000).cast("long")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


def q_stats_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: sample stddev/variance, correlation,
    sample covariance."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("qty_stddev"),
        F.round(F.var_samp("l_quantity"), 6).alias("qty_var"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("qty_price_covar"),
    )


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``). The approx_percentile variant is the
    100 TB path (t-digest, no full sort) — tested separately since its
    values are engine-specific."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("qty_p50"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 6).alias("qty_p90"),
        F.round(F.percentile("l_extendedprice", F.lit(0.99)), 6).alias("price_p99"),
    )


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust preprocessing: per-group winsorization — clip
    l_extendedprice into its group's [p01, p99] band, report the clip
    bounds, the clipped mean, and how many rows each tail clipped. The
    standard outlier-taming transform before training on heavy-tailed
    features. One percentile pass per group (exact interpolated — the
    100 TB variant swaps in approx_percentile) + a broadcast join-back
    of the 3-row bound table + a shuffle-free clip projection."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    bounds = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.01)).alias("p01"),
        F.percentile("l_extendedprice", F.lit(0.99)).alias("p99"),
    )
    clipped = li.join(F.broadcast(bounds), "l_returnflag").select(
        "l_returnflag",
        "p01",
        "p99",
        F.greatest(F.least(F.col("l_extendedprice"), F.col("p99")), F.col("p01")).alias(
            "w"
        ),
        (F.col("l_extendedprice") < F.col("p01")).cast("long").alias("lo"),
        (F.col("l_extendedprice") > F.col("p99")).cast("long").alias("hi"),
    )
    return clipped.groupBy("l_returnflag").agg(
        F.round(F.first("p01"), 2).alias("p01"),
        F.round(F.first("p99"), 2).alias("p99"),
        F.round(F.avg("w"), 2).alias("winsorized_mean"),
        F.sum("lo").alias("n_clipped_low"),
        F.sum("hi").alias("n_clipped_high"),
    )


def q_per_source_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Many-small-models: an OLS fit of n_chars ~ n_tokens PER SOURCE in
    one grouped pass, via the REGR_* aggregate family (JVM codegen, map-
    side combinable — the closed-form 'train a model per entity' shape
    that needs no Python and no per-group collect). At 100 TB with 10⁶
    groups this is one shuffle of per-group moment partials; the
    applyInPandas per-group-sklearn variant is only needed for models
    with no aggregate closed form."""
    doc = read_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " ")).cast("double")
    d = doc.select(
        "source", n_tok.alias("x"), F.col("n_chars").cast("double").alias("y")
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.regr_slope("y", "x"), 6).alias("slope"),
        F.round(F.regr_intercept("y", "x"), 6).alias("intercept"),
        F.round(F.regr_r2("y", "x"), 6).alias("r2"),
    )


def q_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native recursive CTE (Spark 4) — hierarchy walk: parts form a
    tree via parent(k) = k div 10; the recursion assigns every part its
    root ancestor and depth. The BOM-explosion / org-chart shape that
    previously needed a driver-side iteration loop (cf.
    clustering.py's iterative connected components, which PRE-dates
    native recursion and remains the right tool when each step needs
    aggregation — recursive terms cannot aggregate). Linear work: each
    row joins the frontier exactly once; no transitive-closure blow-up."""
    read_table(spark, sf_dir, "part").createOrReplaceTempView(
        "__rec_part"
    )
    return spark.sql(
        """
        WITH RECURSIVE tree(p_partkey, root, depth) AS (
            SELECT p_partkey, p_partkey AS root, 0 AS depth
            FROM __rec_part WHERE p_partkey < 10
            UNION ALL
            SELECT p.p_partkey, t.root, t.depth + 1
            FROM __rec_part p JOIN tree t ON p.p_partkey DIV 10 = t.p_partkey
            WHERE p.p_partkey >= 10
        )
        SELECT p_partkey, root, CAST(depth AS BIGINT) AS depth FROM tree
        """
    )


def q_collated_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 collations): customer names are
    case-mangled deterministically (every even key uppercased), then
    grouped under UTF8_LCASE — case variants collapse WITHOUT rewriting
    the data through lower() (at scale, collation is metadata the
    optimizer understands: comparisons, joins, and aggregations on the
    collated column stay codegen'd, and the original bytes survive for
    display). The oracle expresses the same grouping via LOWER()."""
    cust = read_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    mangled = F.when(
        F.col("c_custkey") % 2 == 0, F.upper(F.col("c_name"))
    ).otherwise(F.col("c_name"))
    return (
        cust.select(F.collate(mangled, "UTF8_LCASE").alias("name_ci"))
        .groupBy("name_ci")
        .agg(F.count(F.lit(1)).alias("n"))
        # normalize the grouping key for comparison: collation affects
        # EQUALITY, not the stored bytes — either variant may surface
        .select(F.lower("name_ci").alias("name_lc"), "n")
    )


def q_pipe_syntax_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4, SQL:2023-era |> operators): the same
    filter → aggregate → having shape expressed as a linear pipeline —
    parses to the identical Catalyst plan as the nested-SELECT oracle,
    demonstrating the surface is syntax, not a new engine path."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("__pipe_orders")
    cents = money.sql_cents("o_totalprice")
    guarded_sum = money.spark_sql_exact_double(
        money.spark_sql_exact_sum(cents, "pipe_syntax_agg"),
        "pipe_syntax_agg",
    )
    return spark.sql(
        f"""
        FROM __pipe_orders
        |> WHERE o_orderstatus = 'F'
        |> AGGREGATE COUNT(*) AS n_orders,
                     {money.spark_sql_money_sum(
                         cents, money.CENTS, "pipe_syntax_agg"
                     )} AS total_price,
                     ROUND({guarded_sum} / COUNT(*) / 100.0, 6) AS avg_price
           GROUP BY o_orderpriority
        |> WHERE n_orders > 10
        """
    )


def q_sql_udf_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative SQL UDFs (Spark 4 CREATE FUNCTION … RETURN expr):
    named, typed scalar functions whose BODY is SQL — Catalyst inlines
    them into the calling plan, so unlike Python UDFs they stay inside
    whole-stage codegen and cost nothing at 100 TB. The oracle inlines
    the same expressions by hand, proving the UDF layer is pure
    naming/reuse, not an execution boundary."""
    # the UDF bodies live on the exact integer grid (1e-4 / 1e-6 dollar
    # units) — same inlining demonstration, cross-engine-exact sums
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION __disc_price(p DOUBLE, d DOUBLE) "
        f"RETURNS BIGINT RETURN {money.sql_cents('p')} "
        f"* (100 - {money.sql_pct100('d')})"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION __charged(p DOUBLE, d DOUBLE, t DOUBLE) "
        "RETURNS BIGINT RETURN __disc_price(p, d) "
        f"* (100 + {money.sql_pct100('t')})"
    )
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView("__udf_li")
    return spark.sql(
        f"""
        SELECT l_returnflag,
               {money.spark_sql_money_sum(
                   "__disc_price(l_extendedprice, l_discount)",
                   money.E4,
                   "sql_udf_pricing",
               )} AS sum_disc_price,
               {money.spark_sql_money_sum(
                   "__charged(l_extendedprice, l_discount, l_tax)",
                   money.E6,
                   "sql_udf_pricing",
               )} AS sum_charged
        FROM __udf_li GROUP BY l_returnflag
        """
    )


SESSVAR_MIN_SHIP = "1998-01-01 00:00:00"
SESSVAR_MAX_DISC = 0.06


def q_session_variable_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized queries via BOTH Spark-4 binding surfaces: a SQL
    session variable (DECLARE … / SET VAR …, referenced by name in the
    WHERE clause) and a named parameter marker (:max_disc bound through
    ``spark.sql(..., args=...)``). The ops-parameterization layer a
    scheduled 100 TB job needs — thresholds land as PLAN LITERALS, so
    partition pruning / predicate pushdown see their values (unlike
    driver-side string interpolation, which loses typing, or a config
    lookup UDF, which blinds the optimizer). The oracle inlines the
    same constants, proving binding is free."""
    spark.sql("DECLARE OR REPLACE VARIABLE __min_ship TIMESTAMP")
    spark.sql(f"SET VAR __min_ship = TIMESTAMP'{SESSVAR_MIN_SHIP}'")
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView("__var_li")
    return spark.sql(
        f"""
        SELECT l_returnflag,
               COUNT(*) AS n_lines,
               {money.spark_sql_money_sum(
                   money.SQL_DISC_PRICE_E4, money.E4, "session_variable_agg"
               )} AS revenue
        FROM __var_li
        WHERE l_shipdate >= __min_ship AND l_discount <= :max_disc
        GROUP BY l_returnflag
        """,
        args={"max_disc": SESSVAR_MAX_DISC},
    )


def q_mad_outlier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion per group: median + MAD (median absolute
    deviation) of o_totalprice per order priority, and the count of
    rows beyond median ± 3·1.4826·MAD — the outlier rule that, unlike
    z-scores (see value_outliers), is not itself dragged by the
    outliers. Exact MAD is inherently sequential — three scans (median;
    median of |x − median|; flag) — each joining the previous stage's
    broadcast 5-row per-priority table, all in one lazy plan. The
    approx_percentile swap applies at 100 TB."""
    o = read_table(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    med = o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("med")
    )
    dev = o.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority",
        "o_totalprice",
        "med",
        F.abs(F.col("o_totalprice") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("o_orderpriority").agg(
        F.first("med").alias("med"), F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    flagged = o.join(F.broadcast(mad), "o_orderpriority")
    return flagged.groupBy("o_orderpriority").agg(
        F.round(F.first("med"), 2).alias("median_price"),
        F.round(F.first("mad"), 2).alias("mad"),
        F.sum(
            (
                F.abs(F.col("o_totalprice") - F.col("med"))
                > 3 * 1.4826 * F.col("mad")
            ).cast("long")
        ).alias("n_outliers"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin/argmax aggregates: per-customer orderkey of the cheapest
    order and price of the newest orderkey. (o_totalprice is tie-free per
    customer in this data; max_by's ordering key is the unique orderkey —
    both deterministic.)"""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.min_by("o_orderkey", "o_totalprice").alias("cheapest_orderkey"),
        F.round(F.max_by("o_totalprice", "o_orderkey"), 2).alias("latest_order_price"),
    )


_PROFILE_UNION = "\n        UNION ALL ".join(
    f"SELECT '{c}' AS col_name, COUNT(*) AS n_rows, "
    f"CAST(SUM(CAST({c} IS NULL AS BIGINT)) AS BIGINT) AS n_nulls, "
    f"COUNT(DISTINCT {c}) AS n_distinct FROM orders"
    for c in ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]
)

_CONSTRAINT_UNION = "\n        UNION ALL ".join(
    f"SELECT '{name}' AS rule, "
    f"CAST(SUM(CAST(NOT COALESCE({pred}, FALSE) AS BIGINT)) AS BIGINT) AS n_violations, "
    f"COUNT(*) AS n_rows FROM orders"
    for name, pred in [
        ("positive_price", "o_totalprice > 0"),
        ("known_status", "o_orderstatus IN ('F','O','P')"),
        ("custkey_not_null", "o_custkey IS NOT NULL"),
        ("key_in_range", "o_orderkey >= 0"),
    ]
)

ORACLES: dict[str, str] = {
    "table_checksum": """
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CAST('0x' || substring(md5(
                   COALESCE(CAST(o_orderkey AS VARCHAR), chr(0)) || chr(31) ||
                   COALESCE(CAST(o_custkey AS VARCHAR), chr(0)) || chr(31) ||
                   COALESCE(o_orderstatus, chr(0)) || chr(31) ||
                   COALESCE(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                                 AS VARCHAR), chr(0))
               ), 1, 8) AS BIGINT)) AS BIGINT) AS checksum
        FROM orders
    """,
    "constraint_check": f"""
        {_CONSTRAINT_UNION}
    """,
    "table_profile": f"""
        {_PROFILE_UNION}
    """,
    "value_outliers": """
        WITH s AS (
            SELECT user_id, AVG(value) AS mu, STDDEV_SAMP(value) AS sd
            FROM events GROUP BY user_id
        )
        SELECT e.event_id, e.user_id, ROUND(e.value, 6) AS value,
               ROUND((e.value - s.mu) / s.sd, 6) AS z
        FROM events e JOIN s USING (user_id)
        WHERE s.sd > 0 AND ABS((e.value - s.mu) / s.sd) > 3.0
    """,
    "cube_agg": f"""
        SELECT l_returnflag, l_linestatus,
               {money.sql_money_sum(money.SQL_EXT_CENTS, money.CENTS)} AS sum_price,
               COUNT(*) AS n_rows
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "grouping_sets": f"""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
               {money.sql_money_sum(
                   money.sql_cents("o_totalprice"), money.CENTS
               )} AS spend
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    "pivot_agg": """
        SELECT l_returnflag,
               ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_open,
               ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_filled
        FROM lineitem GROUP BY l_returnflag
    """,
    "scalar_subquery": f"""
        SELECT o_orderstatus, COUNT(*) AS n_big,
               ROUND(CAST(SUM({money.sql_cents('o_totalprice')}) AS DOUBLE)
                     / COUNT(*) / 100.0, 6) AS avg_big_price
        FROM orders
        WHERE o_totalprice > 1.5 *
              (SELECT CAST(SUM({money.sql_cents('o_totalprice')}) AS DOUBLE)
                      / COUNT(*) / 100.0 FROM orders)
        GROUP BY o_orderstatus
    """,
    "exists_correlated": """
        SELECT c_custkey, c_mktsegment
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderpriority = '1-URGENT' AND o.o_orderstatus = 'O'
        )
    """,
    "not_exists_correlated": """
        SELECT c_custkey, c_mktsegment
        FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
        )
    """,
    "in_subquery": """
        SELECT p_partkey, p_brand
        FROM part
        WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R')
    """,
    "bool_aggs": """
        SELECT l_returnflag,
               BOOL_AND(l_quantity > 0) AS all_positive_qty,
               BOOL_OR(l_discount > 0.09) AS any_deep_discount,
               BOOL_AND(l_shipdate IS NOT NULL) AS all_dated
        FROM lineitem GROUP BY l_returnflag
    """,
    "null_safe_join": """
        WITH keyed AS (
            SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN SUBSTRING(o_orderpriority, 1, 1) END AS prio_key
            FROM orders
        ),
        summary AS (
            SELECT prio_key, COUNT(*) AS n_orders FROM keyed GROUP BY prio_key
        ),
        classes(prio_key, class) AS (
            VALUES ('1', 'urgent'), ('2', 'high'), (NULL, 'routine')
        )
        SELECT class, n_orders
        FROM summary JOIN classes
          ON summary.prio_key IS NOT DISTINCT FROM classes.prio_key
    """,
    "struct_funcs": """
        SELECT o_orderkey,
               o_orderstatus AS status,
               ROUND(o_totalprice, 2) AS price,
               CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
               CAST(MONTH(o_orderdate) AS BIGINT) AS mo
        FROM orders WHERE o_orderkey <= 300
    """,
    "price_histogram": """
        SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket,
               COUNT(*) AS n_orders,
               ROUND(MIN(o_totalprice), 2) AS lo,
               ROUND(MAX(o_totalprice), 2) AS hi
        FROM orders GROUP BY 1
    """,
    "stats_aggs": """
        SELECT ROUND(STDDEV_SAMP(l_quantity), 6) AS qty_stddev,
               ROUND(VAR_SAMP(l_quantity), 6) AS qty_var,
               ROUND(CORR(l_quantity, l_extendedprice), 6) AS qty_price_corr,
               ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS qty_price_covar
        FROM lineitem
    """,
    "percentiles": """
        SELECT l_returnflag,
               ROUND(quantile_cont(l_quantity, 0.5), 6) AS qty_p50,
               ROUND(quantile_cont(l_quantity, 0.9), 6) AS qty_p90,
               ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS price_p99
        FROM lineitem GROUP BY l_returnflag
    """,
    "mad_outlier_stats": """
        WITH med AS (
            SELECT o_orderpriority,
                   quantile_cont(o_totalprice, 0.5) AS med
            FROM orders GROUP BY o_orderpriority
        ), dev AS (
            SELECT o.o_orderpriority, med.med, o.o_totalprice,
                   ABS(o.o_totalprice - med.med) AS adev
            FROM orders o JOIN med USING (o_orderpriority)
        ), mad AS (
            SELECT o_orderpriority, ANY_VALUE(med) AS med,
                   quantile_cont(adev, 0.5) AS mad
            FROM dev GROUP BY o_orderpriority
        )
        SELECT d.o_orderpriority,
               ROUND(ANY_VALUE(m.med), 2) AS median_price,
               ROUND(ANY_VALUE(m.mad), 2) AS mad,
               CAST(SUM(CAST(ABS(d.o_totalprice - m.med) > 3 * 1.4826 * m.mad
                        AS BIGINT)) AS BIGINT) AS n_outliers,
               COUNT(*) AS n_rows
        FROM dev d JOIN mad m USING (o_orderpriority)
        GROUP BY d.o_orderpriority
    """,
    "parameterized_sql_agg": f"""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders
        WHERE o_totalprice > {PARAM_MIN_PRICE!r} AND o_orderstatus = '{PARAM_STATUS}'
        GROUP BY o_orderpriority
    """,
    "sql_table_udf_agg": """
        SELECT o_custkey,
               COUNT(*) AS n_big_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS big_cents
        FROM orders
        WHERE o_totalprice > 200000.0
        GROUP BY o_custkey
        HAVING COUNT(*) >= 2
    """,
    "sql_scripting_threshold": f"""
        WITH ks AS (
            SELECT UNNEST(RANGE(0, {SCRIPT_MAX_K + 1})) AS k
        ), cand AS (
            SELECT k, {SCRIPT_T0!r} * POWER(2.0, k) AS th FROM ks
        ), counted AS (
            SELECT c.k, c.th,
                   (SELECT COUNT(*) FROM orders WHERE o_totalprice > c.th)
                       AS n,
                   (SELECT COUNT(*) // 10 FROM orders) AS target
            FROM cand c
        )
        SELECT th AS threshold, n AS n_above, target AS target_max
        FROM counted
        WHERE n <= target
        ORDER BY k LIMIT 1
    """,
    "sql_udf_pricing": f"""
        SELECT l_returnflag,
               {money.sql_money_sum(money.SQL_DISC_PRICE_E4, money.E4)}
                   AS sum_disc_price,
               {money.sql_money_sum(money.SQL_CHARGE_E6, money.E6)}
                   AS sum_charged
        FROM lineitem GROUP BY l_returnflag
    """,
    "session_variable_agg": f"""
        SELECT l_returnflag,
               COUNT(*) AS n_lines,
               {money.sql_money_sum(money.SQL_DISC_PRICE_E4, money.E4)} AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP'{SESSVAR_MIN_SHIP}'
          AND l_discount <= {SESSVAR_MAX_DISC}
        GROUP BY l_returnflag
    """,
    "pipe_syntax_agg": f"""
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               {money.sql_money_sum(
                   money.sql_cents("o_totalprice"), money.CENTS
               )} AS total_price,
               ROUND(CAST(SUM({money.sql_cents('o_totalprice')}) AS DOUBLE)
                     / COUNT(*) / 100.0, 6) AS avg_price
        FROM orders WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority
        HAVING COUNT(*) > 10
    """,
    "collated_group": """
        WITH mangled AS (
            SELECT CASE WHEN c_custkey % 2 = 0 THEN UPPER(c_name)
                        ELSE c_name END AS name
            FROM customer WHERE c_custkey <= 200
        )
        SELECT LOWER(name) AS name_lc, COUNT(*) AS n
        FROM mangled GROUP BY LOWER(name)
    """,
    "recursive_hierarchy": """
        WITH RECURSIVE tree(p_partkey, root, depth) AS (
            SELECT p_partkey, p_partkey AS root, 0 AS depth
            FROM part WHERE p_partkey < 10
            UNION ALL
            SELECT p.p_partkey, t.root, t.depth + 1
            FROM part p JOIN tree t ON p.p_partkey // 10 = t.p_partkey
            WHERE p.p_partkey >= 10
        )
        SELECT p_partkey, root, CAST(depth AS BIGINT) AS depth FROM tree
    """,
    "per_source_regression": """
        WITH d AS (
            SELECT source,
                   CAST(len(string_split(text, ' ')) AS DOUBLE) AS x,
                   CAST(n_chars AS DOUBLE) AS y
            FROM documents
        )
        SELECT source, COUNT(*) AS n,
               ROUND(REGR_SLOPE(y, x), 6) AS slope,
               ROUND(REGR_INTERCEPT(y, x), 6) AS intercept,
               ROUND(REGR_R2(y, x), 6) AS r2
        FROM d GROUP BY source
    """,
    "winsorized_stats": """
        WITH b AS (
            SELECT l_returnflag,
                   quantile_cont(l_extendedprice, 0.01) AS p01,
                   quantile_cont(l_extendedprice, 0.99) AS p99
            FROM lineitem GROUP BY l_returnflag
        ), c AS (
            SELECT li.l_returnflag, b.p01, b.p99,
                   GREATEST(LEAST(li.l_extendedprice, b.p99), b.p01) AS w,
                   CAST(li.l_extendedprice < b.p01 AS BIGINT) AS lo,
                   CAST(li.l_extendedprice > b.p99 AS BIGINT) AS hi
            FROM lineitem li JOIN b USING (l_returnflag)
        )
        SELECT l_returnflag,
               ROUND(ANY_VALUE(p01), 2) AS p01,
               ROUND(ANY_VALUE(p99), 2) AS p99,
               ROUND(AVG(w), 2) AS winsorized_mean,
               CAST(SUM(lo) AS BIGINT) AS n_clipped_low,
               CAST(SUM(hi) AS BIGINT) AS n_clipped_high
        FROM c GROUP BY l_returnflag
    """,
    "min_max_by": """
        SELECT o_custkey,
               min_by(o_orderkey, o_totalprice) AS cheapest_orderkey,
               ROUND(max_by(o_totalprice, o_orderkey), 2) AS latest_order_price
        FROM orders GROUP BY o_custkey
    """,
}

PROFILE_COLS = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling pass: per-column row/null/distinct counts for a
    fixed column list, ONE scan. All per-column aggregates ride the same
    partial-aggregation tree; the wide one-row result explodes to long
    format driver-free. The first query any pipeline runs against an
    unfamiliar 100 TB table — full scans of it must not multiply per
    column."""
    aggs = []
    for c in PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"__rows_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}"),
            F.countDistinct(F.col(c)).alias(f"__distinct_{c}"),
        ]
    wide = read_table(spark, sf_dir, "orders").agg(*aggs)
    cols = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"__rows_{c}").alias("n_rows"),
                F.col(f"__nulls_{c}").alias("n_nulls"),
                F.col(f"__distinct_{c}").alias("n_distinct"),
            )
            for c in PROFILE_COLS
        ]
    )
    return wide.select(F.explode(cols).alias("p")).select(
        "p.col_name", "p.n_rows", "p.n_nulls", "p.n_distinct"
    )


OUTLIER_Z = 3.0


def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score outliers: events whose value deviates > 3 sample
    stddevs from that user's mean. Stats via grouped agg joined back
    (AQE picks broadcast vs shuffle by actual stats size — user count
    scales with the corpus, so no hard-coded hint)."""
    ev = read_table(spark, sf_dir, "events")
    stats = ev.groupBy("user_id").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sd"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        ev.join(stats, "user_id")
        .filter(F.col("sd") > 0)
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > OUTLIER_Z)
        .select("event_id", "user_id", F.round("value", 6).alias("value"), F.round("z", 6).alias("z"))
    )


def q_constraint_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality rules compiled to ONE validation scan
    (``pb_etl_spark.quality``): per-rule violation counts for the orders
    load — the CHECK-constraint surface of a managed table, for flat
    parquet."""
    from pb_etl_spark.quality import Rule, check_rules

    o = read_table(spark, sf_dir, "orders")
    return check_rules(
        o,
        [
            Rule("positive_price", F.col("o_totalprice") > 0),
            Rule("known_status", F.col("o_orderstatus").isin("F", "O", "P")),
            Rule("custkey_not_null", F.col("o_custkey").isNotNull()),
            Rule("key_in_range", F.col("o_orderkey") >= 0),
        ],
    )


def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksum per table slice — the
    migration-validation primitive: two engines holding the same rows
    produce the same (n_rows, checksum) regardless of partitioning or
    row order, because the per-row digests are SUMMED (commutative).
    Row digest = md5 over a delimited, null-marked column rendering;
    the first 8 hex chars become an int64 term. One scan, one 1-row agg."""
    o = read_table(spark, sf_dir, "orders")
    rendered = F.concat_ws(
        "\x1f",
        F.coalesce(F.col("o_orderkey").cast("string"), F.lit("\x00")),
        F.coalesce(F.col("o_custkey").cast("string"), F.lit("\x00")),
        F.coalesce(F.col("o_orderstatus"), F.lit("\x00")),
        # money rendered as integer cents: double→string formatting is
        # engine-specific, integer strings are not
        F.coalesce(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
            F.lit("\x00"),
        ),
    )
    term = F.conv(F.substring(F.md5(rendered), 1, 8), 16, 10).cast("long")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(term).alias("checksum"),
    )


# ---------------------------------------------------------------------------
# histogram_quantiles — mergeable fixed-bucket quantile estimator
# ---------------------------------------------------------------------------

HQ_BUCKETS = 100
HQ_QS = [0.5, 0.9, 0.99]


def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based quantile estimates over o_totalprice (P50/P90/P99
    via linear interpolation inside a fixed 100-bucket histogram) next
    to the exact interpolated quantile — est error bounded by one bucket
    width.

    This is the DETERMINISTIC mergeable-quantile architecture: the
    histogram is one grouped count (cell-wise additive — per-partition/
    day histograms merge by summing buckets, the same rollup contract as
    kmv/cms sketches), and any quantile is answered from the ≤
    HQ_BUCKETS cumulative table without re-sorting the data. The exact
    column (Spark ``percentile`` ≡ DuckDB ``quantile_cont``) is the
    accuracy report; approx_percentile is the library alternative whose
    t-digest values are engine-specific — this estimator the driver can
    value-check.

    Scale shape: one min/max/count scan (1-row broadcast), one grouped
    count to the bounded histogram, a cumulative window over ≤ 100
    bucket rows, and a 3-row quantile probe join."""
    from pyspark.sql.window import Window as W

    o = read_table(spark, sf_dir, "orders").select("o_totalprice")
    mm = o.agg(
        F.min("o_totalprice").alias("mn"),
        F.max("o_totalprice").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    width = (F.col("mx") - F.col("mn")) / HQ_BUCKETS
    bucket = F.least(
        F.floor((F.col("o_totalprice") - F.col("mn")) / width),
        F.lit(HQ_BUCKETS - 1),
    ).cast("long")
    hist = (
        o.crossJoin(F.broadcast(mm))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_cum = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = hist.select(
        "bucket",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
    )
    probes = spark.createDataFrame([(q,) for q in HQ_QS], "q double")
    # per probe: the first bucket whose cumulative count reaches q·N,
    # interpolated inside that bucket
    interp = (
        F.col("mn")
        + width
        * (
            F.col("bucket")
            + (F.col("q") * F.col("n") - (F.col("cum") - F.col("cnt")))
            / F.col("cnt")
        )
    )
    # min_by(interp, bucket): interpolate inside the FIRST bucket whose
    # cumulative count reaches q·N — MIN(interp) would be wrong (later
    # buckets' negative remainders interpolate to spuriously small
    # values; caught by the bucket-width error-bound invariant test)
    est = (
        probes.crossJoin(F.broadcast(mm))
        .join(F.broadcast(cum), F.col("cum") >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(F.round(F.min_by(interp, F.col("bucket")), 6).alias("est_quantile"))
    )
    # exact side: one percentile aggregate, exploded to (q, value) rows
    exact = (
        o.agg(
            F.percentile(
                "o_totalprice", F.array(*[F.lit(q) for q in HQ_QS])
            ).alias("ps")
        )
        .select(F.posexplode("ps").alias("pos", "exact_quantile"))
        .select(
            F.element_at(
                F.array(*[F.lit(q) for q in HQ_QS]), F.col("pos") + 1
            ).alias("q"),
            F.round("exact_quantile", 6).alias("exact_quantile"),
        )
    )
    return est.join(exact, "q").select("q", "est_quantile", "exact_quantile")


_HQ_QS_SQL = ", ".join(f"({q})" for q in HQ_QS)

_HQ_ORACLE = f"""
    WITH mm AS (
        SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx,
               COUNT(*) AS n,
               (MAX(o_totalprice) - MIN(o_totalprice)) / {HQ_BUCKETS} AS w
        FROM orders
    ),
    hist AS (
        SELECT LEAST(CAST(FLOOR((o_totalprice - mn) / w) AS BIGINT),
                     {HQ_BUCKETS - 1}) AS bucket,
               COUNT(*) AS cnt
        FROM orders CROSS JOIN mm GROUP BY 1
    ),
    cum AS (
        SELECT bucket, cnt,
               SUM(cnt) OVER (ORDER BY bucket
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cum
        FROM hist
    ),
    probes AS (SELECT * FROM (VALUES {_HQ_QS_SQL}) AS p(q)),
    est AS (
        -- arg_min on bucket: interpolate in the FIRST crossing bucket
        SELECT q,
               ROUND(arg_min(mn + w * (bucket
                                       + (q * n - (cum - cnt))
                                         / CAST(cnt AS DOUBLE)), bucket), 6)
                   AS est_quantile
        FROM probes CROSS JOIN mm
        JOIN cum ON cum >= q * n
        GROUP BY q
    ),
    exact AS (
        -- DuckDB quantile_cont requires a CONSTANT q: one UNION leg each
        {" UNION ALL ".join(
            f"SELECT CAST({q} AS DOUBLE) AS q,"
            f" ROUND(quantile_cont(o_totalprice, {q}), 6) AS exact_quantile"
            f" FROM orders"
            for q in HQ_QS
        )}
    )
    SELECT est.q, est.est_quantile, exact.exact_quantile
    FROM est JOIN exact ON est.q = exact.q
"""


def q_join_cardinality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based-optimizer hygiene report: for each core equi-join of
    the star schema, the TEXTBOOK cardinality estimate
    |A|·|B| / max(ndv_A(k), ndv_B(k)) next to the actual join size —
    the estimation-quality readout that tells you where a CBO's
    containment assumption breaks (FK joins ≈ exact, skewed or filtered
    joins drift). Every input is an exact integer (counts + exact NDVs);
    the estimate is one division per row.

    Scale shape: one plan; each table side's (count, count_distinct on
    the key) and each join's size is a scalar subquery — at 100 TB the
    NDVs come from the stored KMV/HLL sketches instead, same formula."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")

    def side_stats(df, key):
        return df.select(
            F.struct(
                F.count(F.lit(1)).alias("n"), F.count_distinct(key).alias("ndv")
            )
        ).scalar()

    joins = [
        ("lineitem*orders@orderkey", li, "l_orderkey", o, "o_orderkey"),
        ("orders*customer@custkey", o, "o_custkey", c, "c_custkey"),
    ]
    rows = []
    for name, a, ka, b, kb in joins:
        sa, sb = side_stats(a, ka), side_stats(b, kb)
        max_ndv = F.greatest(sa["ndv"], sb["ndv"])
        actual = a.join(b, a[ka] == b[kb]).select(F.count(F.lit(1))).scalar()
        rows.append(
            spark.range(1).select(
                F.lit(name).alias("join_name"),
                sa["n"].alias("n_left"),
                sb["n"].alias("n_right"),
                max_ndv.alias("max_ndv"),
                F.round(sa["n"].cast("double") * sb["n"] / max_ndv, 6).alias(
                    "est_rows"
                ),
                actual.alias("actual_rows"),
            )
        )
    return rows[0].unionByName(rows[1])


_JOIN_CARD_ORACLE = """
    WITH li AS (SELECT COUNT(*) n, COUNT(DISTINCT l_orderkey) ndv FROM lineitem),
    o_ok AS (SELECT COUNT(*) n, COUNT(DISTINCT o_orderkey) ndv FROM orders),
    o_ck AS (SELECT COUNT(*) n, COUNT(DISTINCT o_custkey) ndv FROM orders),
    c AS (SELECT COUNT(*) n, COUNT(DISTINCT c_custkey) ndv FROM customer),
    j1 AS (SELECT COUNT(*) a FROM lineitem JOIN orders
           ON l_orderkey = o_orderkey),
    j2 AS (SELECT COUNT(*) a FROM orders JOIN customer
           ON o_custkey = c_custkey)
    SELECT 'lineitem*orders@orderkey' AS join_name,
           CAST(li.n AS BIGINT) AS n_left, CAST(o_ok.n AS BIGINT) AS n_right,
           CAST(GREATEST(li.ndv, o_ok.ndv) AS BIGINT) AS max_ndv,
           ROUND(CAST(li.n AS DOUBLE) * o_ok.n
                 / GREATEST(li.ndv, o_ok.ndv), 6) AS est_rows,
           CAST(j1.a AS BIGINT) AS actual_rows
    FROM li, o_ok, j1
    UNION ALL
    SELECT 'orders*customer@custkey',
           CAST(o_ck.n AS BIGINT), CAST(c.n AS BIGINT),
           CAST(GREATEST(o_ck.ndv, c.ndv) AS BIGINT),
           ROUND(CAST(o_ck.n AS DOUBLE) * c.n
                 / GREATEST(o_ck.ndv, c.ndv), 6),
           CAST(j2.a AS BIGINT)
    FROM o_ck, c, j2
"""




def q_sql_table_udf_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL TABLE functions (Spark 4 CREATE FUNCTION … RETURNS TABLE):
    a named, parameterized relation whose body is SQL — Catalyst
    inlines the body into the calling plan exactly like a
    parameterized view, so the abstraction costs nothing at 100 TB
    (same reasoning as q_sql_udf_pricing for scalars). The function
    filters orders above a price floor; the caller aggregates per
    customer segment-of-one (custkey) and keeps repeat buyers. The
    oracle inlines the body by hand."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("__tf_orders")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION __big_orders(minprice DOUBLE) "
        "RETURNS TABLE (o_custkey BIGINT, cents BIGINT) "
        "RETURN SELECT o_custkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) "
        "FROM __tf_orders WHERE o_totalprice > minprice"
    )
    return spark.sql(
        """
        SELECT o_custkey,
               COUNT(*) AS n_big_orders,
               SUM(cents) AS big_cents
        FROM __big_orders(200000.0)
        GROUP BY o_custkey
        HAVING COUNT(*) >= 2
        """
    )


def q_sql_scripting_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 BEGIN…END with DECLARE/SET/WHILE): an
    adaptive-threshold search written as a procedural script — double
    the price threshold until at most 10% of orders exceed it. The
    script's control flow runs on the DRIVER; each iteration's body is
    an ordinary Catalyst-planned aggregate, so the pattern scales as
    k × (one scan-aggregate), exactly like the hand-written loop in
    pagerank/k-core but expressed in pure SQL.

    The DuckDB oracle unrolls the doubling schedule (thresholds
    100·2^k), computes each candidate's count, and picks the first
    that meets the target — value-proving the script's fixpoint."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("__sc_orders")
    return spark.sql(
        f"""
        BEGIN
          DECLARE t DOUBLE DEFAULT {SCRIPT_T0!r};
          DECLARE n BIGINT DEFAULT 0;
          DECLARE target BIGINT DEFAULT 0;
          SET target = (SELECT COUNT(*) div 10 FROM __sc_orders);
          SET n = (SELECT COUNT(*) FROM __sc_orders WHERE o_totalprice > t);
          WHILE n > target DO
            SET t = t * 2;
            SET n = (SELECT COUNT(*) FROM __sc_orders
                     WHERE o_totalprice > t);
          END WHILE;
          SELECT t AS threshold, n AS n_above, target AS target_max;
        END
        """
    )




def q_parameterized_sql_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 4 named parameter markers): the query
    text carries ``:min_price`` / ``:status`` placeholders and the
    values arrive via ``spark.sql(..., args=...)`` — the
    injection-safe pattern for templated production SQL (parameters
    are bound as literals by the parser, never string-spliced). The
    oracle inlines the same literals."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("__pq_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        FROM __pq_orders
        WHERE o_totalprice > :min_price AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"min_price": PARAM_MIN_PRICE, "status": PARAM_STATUS},
    )


def _flag_cents_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared (flag, cents)-grid compaction for the weighted order
    statistics: one map-side-combinable pass collapses the lineitem fact
    to Σqty per (l_returnflag, price-cents) — the bounded frame both
    ``q_weighted_median_by_group`` and ``q_grouped_quantiles_exact``
    run their keyed cumsum over (one definition, so the grid can never
    silently diverge between the p50 member and the family)."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return li.groupBy("l_returnflag", "cents").agg(F.sum("qty").alias("qty"))


def q_weighted_median_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group WEIGHTED median: the price (in cents) at which
    half the shipped QUANTITY of each return flag sits at or below —
    the robust location statistic behind quantity-weighted price
    monitoring (an unweighted median over line rows would let many
    tiny lines outvote a few bulk lines). No built-in aggregate
    expresses it in either engine, so it is the window-algebra test
    case: per group, order by (value, tiebreak), running weight cumsum,
    pick the FIRST value whose cumulative weight reaches half the
    group total (the lower weighted median — an integer rule with no
    0.5-quantile interpolation to diverge on).

    All int64: cents values, integer quantities, and the half test is
    the cross-multiplied ``2·cum ≥ total`` (no division). Scale shape:
    the fact is FIRST compacted with a map-side-combinable
    ``groupBy(flag, cents).agg(sum(qty))`` — the qualifying-cents set is
    invariant under this compaction because the per-(flag, cents) LAST
    running-weight row dominates every partial row at the same cents —
    so the cumsum input is bounded by the price grid
    (|groups|·|distinct cents| rows ≪ fact). Without the compaction the
    3-value key would funnel the entire fact into 3 single-task sorts at
    100 TB. The cumsum itself rides ``grouped_running_sum`` — the exact
    machinery ``grouped_quantiles_exact`` uses over the SAME shared
    compaction (this query IS the family's p50 member, pytest-pinned) —
    and its ``gtot`` literal carries the per-group total, so there is no
    second aggregation, no broadcast join, and no keyed window left in
    the plan."""
    from pb_etl_spark.operators.corpus import grouped_running_sum

    rs = grouped_running_sum(
        spark, _flag_cents_compact(spark, sf_dir), ["l_returnflag"], ["cents"], "qty"
    )
    return (
        rs.filter(F.col("cum") * 2 >= F.col("gtot"))
        .groupBy("l_returnflag")
        .agg(
            F.min("cents").alias("wmedian_cents"),
            F.min("gtot").alias("total_qty"),
        )
    )


_WMEDIAN_ORACLE = """
    WITH src AS (
        SELECT l_returnflag,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem
    ), cum AS (
        SELECT l_returnflag, cents, qty,
               SUM(qty) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY cents, qty
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cw
        FROM src
    ), tot AS (
        SELECT l_returnflag, CAST(SUM(qty) AS BIGINT) AS tw
        FROM src GROUP BY l_returnflag
    )
    SELECT c.l_returnflag,
           CAST(MIN(c.cents) AS BIGINT) AS wmedian_cents,
           CAST(MIN(t.tw) AS BIGINT) AS total_qty
    FROM cum c JOIN tot t USING (l_returnflag)
    WHERE c.cw * 2 >= t.tw
    GROUP BY c.l_returnflag
"""


# Exact grouped-quantile fractions (label, numerator, denominator):
# integer cross-multiplication 'cum·den ≥ num·total' picks the lower
# weighted quantile with zero float interpolation to diverge on.
QUANTILE_FRACS = (("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p90", 9, 10))


def q_grouped_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group WEIGHTED quantile family (p25/p50/p75/p90):
    generalizes ``weighted_median_by_group`` from the single 1/2
    fraction to an arbitrary fraction list — the distribution-summary
    primitive behind per-source corpus length/quality profiles where
    sketches (``ddsketch_quantiles``) are not allowed to drift.

    Same scale discipline as the median: compact the fact per (group,
    value) first — map-side-combinable, output bounded by
    |groups|·|value grid| ≪ fact — then run ``grouped_running_sum``
    (range partition + broadcast-back offsets, corpus.py) over the
    compacted frame so even the cumsum avoids per-group single-task
    sorts. Each quantile is then the minimal value whose inclusive
    cumulative weight satisfies the integer rule ``cum·den ≥ num·gtot``;
    one explode over a 4-element literal array fans the compacted rows
    out per fraction — no extra scan, no join. All int64."""
    from pb_etl_spark.operators.corpus import grouped_running_sum

    rs = grouped_running_sum(
        spark, _flag_cents_compact(spark, sf_dir), ["l_returnflag"], ["cents"], "qty"
    )
    fracs = F.array(
        *[
            F.struct(
                F.lit(lbl).alias("quantile"),
                F.lit(num).cast("long").alias("num"),
                F.lit(den).cast("long").alias("den"),
            )
            for lbl, num, den in QUANTILE_FRACS
        ]
    )
    return (
        rs.select(
            "l_returnflag", "cents", "cum", "gtot", F.explode(fracs).alias("q")
        )
        .filter(F.col("cum") * F.col("q.den") >= F.col("q.num") * F.col("gtot"))
        .groupBy("l_returnflag", F.col("q.quantile").alias("quantile"))
        .agg(F.min("cents").alias("q_cents"))
    )


_GQE_ORACLE = f"""
    WITH src AS (
        SELECT l_returnflag,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem
    ), compact AS (
        SELECT l_returnflag, cents, CAST(SUM(qty) AS BIGINT) AS qty
        FROM src GROUP BY l_returnflag, cents
    ), cum AS (
        SELECT l_returnflag, cents,
               CAST(SUM(qty) OVER (
                   PARTITION BY l_returnflag ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cw,
               CAST(SUM(qty) OVER (
                   PARTITION BY l_returnflag
               ) AS BIGINT) AS tw
        FROM compact
    ), fr(quantile, num, den) AS (VALUES {", ".join(
        f"('{lbl}', CAST({num} AS BIGINT), CAST({den} AS BIGINT))"
        for lbl, num, den in QUANTILE_FRACS
    )})
    SELECT c.l_returnflag, fr.quantile,
           CAST(MIN(c.cents) AS BIGINT) AS q_cents
    FROM cum c CROSS JOIN fr
    WHERE c.cw * fr.den >= fr.num * c.tw
    GROUP BY c.l_returnflag, fr.quantile
"""


ALLOC_SEATS = 10_000  # integer budget distributed by largest remainder


def q_largest_remainder_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hare) apportionment: distribute an integer
    budget of ``ALLOC_SEATS`` sampling slots across nations proportional
    to customer counts — the exact-integer allocator behind corpus
    mixture quotas ("give each source floor(share) docs, then the
    leftovers to the largest fractional remainders"). Every step is
    int64 arithmetic (floor = integer div, remainder = mod), so the
    result is engine-exact with no float apportionment drift, and
    Σ seats == ALLOC_SEATS by construction.

    Scale shape: one grouped count over the fact (map-side combinable),
    then all allocation math lives on the one-row-per-nation aggregate;
    the 1-row totals frame rides a broadcast crossJoin (the
    maxabs_normalize pattern) and the remainder rank is a window over
    the ≤|nations| aggregate — bounded by construction. The ≤|nations|
    aggregate is pinned: the totals, leftover, and final legs all
    consume it, and without the pin each leg re-runs the full fact
    scan + count (plan audit showed 4 customer scans)."""
    cust = read_table(spark, sf_dir, "customer")
    per = pin(cust.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_cust")))
    totals = per.agg(F.sum("n_cust").alias("_t"))
    scored = per.crossJoin(F.broadcast(totals)).select(
        "c_nationkey",
        "n_cust",
        F.expr(f"(n_cust * {ALLOC_SEATS}L) div _t").alias("base"),
        F.expr(f"(n_cust * {ALLOC_SEATS}L) % _t").alias("rem"),
    )
    from pyspark.sql.window import Window as W

    leftover = scored.agg(
        (F.lit(ALLOC_SEATS) - F.sum("base")).alias("_left")
    )
    ranked = scored.crossJoin(F.broadcast(leftover)).withColumn(
        "rk",
        F.row_number().over(
            W.orderBy(F.col("rem").desc(), F.col("c_nationkey").asc())
        ),
    )
    return ranked.select(
        "c_nationkey",
        "n_cust",
        (
            F.col("base") + F.when(F.col("rk") <= F.col("_left"), 1).otherwise(0)
        ).alias("seats"),
    )


_LRA_ORACLE = f"""
    WITH per AS (
        SELECT c_nationkey, COUNT(*) AS n_cust FROM customer
        GROUP BY c_nationkey
    ), t AS (
        SELECT SUM(n_cust) AS w FROM per
    ), scored AS (
        SELECT c_nationkey, n_cust,
               CAST((n_cust * {ALLOC_SEATS}) // w AS BIGINT) AS base,
               CAST((n_cust * {ALLOC_SEATS}) % w AS BIGINT) AS rem
        FROM per CROSS JOIN t
    ), lo AS (
        SELECT {ALLOC_SEATS} - SUM(base) AS leftover FROM scored
    )
    SELECT c_nationkey, n_cust,
           CAST(base + CASE WHEN ROW_NUMBER() OVER (
                    ORDER BY rem DESC, c_nationkey ASC) <= leftover
                THEN 1 ELSE 0 END AS BIGINT) AS seats
    FROM scored CROSS JOIN lo
"""


QUERIES = {
    "weighted_median_by_group": q_weighted_median_by_group,
    "grouped_quantiles_exact": q_grouped_quantiles_exact,
    "largest_remainder_alloc": q_largest_remainder_alloc,
    "histogram_quantiles": q_histogram_quantiles,
    "join_cardinality_report": q_join_cardinality_report,
    "table_checksum": q_table_checksum,
    "constraint_check": q_constraint_check,
    "table_profile": q_table_profile,
    "value_outliers": q_value_outliers,
    "cube_agg": q_cube_agg,
    "grouping_sets": q_grouping_sets,
    "pivot_agg": q_pivot_agg,
    "scalar_subquery": q_scalar_subquery,
    "exists_correlated": q_exists_correlated,
    "not_exists_correlated": q_not_exists_correlated,
    "bool_aggs": q_bool_aggs,
    "null_safe_join": q_null_safe_join,
    "struct_funcs": q_struct_funcs,
    "price_histogram": q_price_histogram,
    "in_subquery": q_in_subquery,
    "stats_aggs": q_stats_aggs,
    "percentiles": q_percentiles,
    "winsorized_stats": q_winsorized_stats,
    "per_source_regression": q_per_source_regression,
    "recursive_hierarchy": q_recursive_hierarchy,
    "collated_group": q_collated_group,
    "pipe_syntax_agg": q_pipe_syntax_agg,
    "sql_udf_pricing": q_sql_udf_pricing,
    "sql_table_udf_agg": q_sql_table_udf_agg,
    "parameterized_sql_agg": q_parameterized_sql_agg,
    "sql_scripting_threshold": q_sql_scripting_threshold,
    "session_variable_agg": q_session_variable_agg,
    "mad_outlier_stats": q_mad_outlier_stats,
    "min_max_by": q_min_max_by,
}

# defined below the ORACLES literal, so registered by assignment
ORACLES["weighted_median_by_group"] = _WMEDIAN_ORACLE
ORACLES["grouped_quantiles_exact"] = _GQE_ORACLE
ORACLES["largest_remainder_alloc"] = _LRA_ORACLE
ORACLES["histogram_quantiles"] = _HQ_ORACLE
ORACLES["join_cardinality_report"] = _JOIN_CARD_ORACLE
