"""Round-5 analytics additions: lateral top-k joins, map-typed
aggregation, deterministic mode, interval coverage (gaps-and-islands),
inter-arrival burstiness, label-propagation communities, multi-source
BFS hops, Theil–Sen robust trend, OOV-rate, and ABC (Pareto)
classification.

Reference parity note: the reference pipeline (``/root/reference/
pb_etl/tasks.py``) has none of these surfaces; they extend the catalog
with the event/graph/corpus analytics a 100 TB data platform layers on
the same tables (the ``operators/events.py`` / ``clustering.py``
lineages).

Cross-engine determinism (the repo float rules):

- All money/time math is integer (cents, centi-cents, microseconds,
  whole seconds via integer ``div``); sums are int64 so both engines
  associate identically.
- Ratios emitted as doubles are single local chains from identical
  integers (safe to ROUND 6); grid-valued results are emitted AS
  integers, never re-rounded.
- Iterative operators (label propagation, BFS) run a FIXED number of
  synchronous rounds with deterministic tie-breaks; the DuckDB oracle
  replays the identical unrolled rounds as MATERIALIZED CTEs (plain
  CTEs are inlined per reference → exponential blowup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from pb_etl_spark.catalog import read_table
from pb_etl_spark.operators.similarity import _dot_sql, _let, _norm
from pb_etl_spark.operators.timeseries import _cents  # the shared cents grid


# --------------------------------------------------------------------------
# lateral_topk_join — Spark 4 correlated LATERAL subquery with LIMIT
# --------------------------------------------------------------------------

def _lateral_sql(cust: str, orders: str) -> str:
    return f"""
    SELECT c.c_custkey,
           c.c_name,
           t.o_orderkey,
           t.total_cents
    FROM {cust} c,
    LATERAL (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents
        FROM {orders} o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2
    ) t
"""


def q_lateral_topk_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer top-2 orders via a correlated LATERAL subquery with
    ORDER BY + LIMIT — the Spark-4 SQL surface for "top-k rows of a
    correlated lookup"; DuckDB runs the identical statement (modulo
    prefixed temp-view names on the Spark side).

    Money is emitted as exact CENTS (o_totalprice is a 2-dp grid), so
    no float leaves the query. Catalyst rewrites the correlated limit
    into a ranked window join keyed on o_custkey — one fact-sized
    shuffle, no per-customer subquery execution, which is exactly the
    100 TB-safe plan."""
    read_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "__lat_customer"
    )
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("__lat_orders")
    return spark.sql(_lateral_sql("__lat_customer", "__lat_orders"))


# --------------------------------------------------------------------------
# map_funcs — map-typed column surface (build / filter / transform /
# concat / entries), checked relationally
# --------------------------------------------------------------------------

MF_MIN = 5  # map_filter keeps event types with at least this many events


def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column pipeline per user: build event_type→count with
    ``map_from_entries``, drop rare types with ``map_filter``, scale
    values with ``transform_values``, append an ``__all`` total with
    ``map_concat``, then explode ``map_entries`` back to rows.

    Exploding the final map makes the whole map algebra value-checked
    by a purely RELATIONAL oracle (a map is its entry set). All counts
    are integers. One grouped count (fact-sized) + per-user map ops
    over bounded |event-types| maps — scale-safe.

    ``__all`` is a RESERVED key: a literal ``'__all'`` event type would
    collide with the appended total in ``map_concat`` (a runtime error
    under the default map-key dedup policy EXCEPTION), so it is filtered
    out up front — mirrored in the oracle. The plain ``!=`` is
    deliberate: it also drops NULL event types on BOTH engines (NULL
    comparison → NULL → filtered), which ``map_from_entries`` would
    otherwise reject as a map key while the SQL side happily emitted a
    NULL-key row — the same fixture-proofing convention as
    mode_per_group."""
    ev = read_table(spark, sf_dir, "events")
    counts = (
        ev.filter(F.col("event_type") != "__all")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_user = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("m"),
        F.sum("n").alias("total"),
    )
    m3 = (
        per_user.withColumn(
            "m", F.map_filter("m", lambda k, v: v >= F.lit(MF_MIN))
        )
        .withColumn("m", F.transform_values("m", lambda k, v: v * 10))
        .withColumn(
            "m",
            F.map_concat(
                "m", F.create_map(F.lit("__all"), F.col("total"))
            ),
        )
    )
    entry = F.explode(F.map_entries("m")).alias("e")
    return m3.select("user_id", entry).select(
        "user_id",
        F.col("e.key").alias("event_type"),
        F.col("e.value").alias("n_scaled"),
    )


# --------------------------------------------------------------------------
# mode_per_group — deterministic built-in mode() aggregate
# --------------------------------------------------------------------------


def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user modal event type using Spark's built-in
    ``mode(expr, deterministic=true)`` aggregate (ties → SMALLEST
    value, pinned by test probes) alongside the event count. The
    oracle replays the same semantics explicitly (max count, min value
    tie-break) — DuckDB's own ``mode()`` leaves ties unspecified, so
    it is not used. NULL event types are excluded EXPLICITLY on both
    sides: Spark's mode() ignores NULLs while a SQL GROUP BY would rank
    the NULL group, so without the shared filter a fixture that ever
    ships NULL types would diverge. One hash aggregate keyed on
    user_id."""
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    return ev.groupBy("user_id").agg(
        F.mode("event_type", True).alias("mode_event_type"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --------------------------------------------------------------------------
# interval_coverage — gaps-and-islands merged interval coverage
# --------------------------------------------------------------------------


def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user merged busy-time coverage: each event occupies
    [ts, ts + value-cents SECONDS); overlapping/touching intervals
    merge into islands (classic gaps-and-islands). Emits per user the
    island count, total covered microseconds, and the longest island —
    all exact int64 (timestamps are integer micros, durations integer
    seconds), so the hash check is bulletproof.

    Plan: one keyed window pass (running MAX of interval end — integer
    max is order-independent under the (ts, event_id) total order) to
    flag island starts, a running SUM of flags for island ids, then two
    keyed aggregates. Everything shuffles once on user_id and reuses
    that partitioning; island ids never leave their user partition."""
    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s_us"),
        (F.unix_micros("ts") + _cents(F.col("value")) * F.lit(1_000_000)).alias(
            "e_us"
        ),
    )
    w = W.partitionBy("user_id").orderBy("s_us", "event_id")
    prev_max = F.max("e_us").over(w.rowsBetween(W.unboundedPreceding, -1))
    flagged = base.withColumn(
        "new_island",
        F.when(prev_max.isNull() | (F.col("s_us") > prev_max), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    per_island = islands.groupBy("user_id", "island").agg(
        (F.max("e_us") - F.min("s_us")).alias("span_us")
    )
    return per_island.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum("span_us").alias("covered_us"),
        F.max("span_us").alias("longest_island_us"),
    )


# --------------------------------------------------------------------------
# burstiness_stats — inter-arrival CV and Goh–Barabási burstiness
# --------------------------------------------------------------------------


def q_burstiness_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival statistics: mean gap, coefficient of
    variation, and the Goh–Barabási burstiness B = (σ−μ)/(σ+μ)
    (B→−1 periodic, 0 Poisson, →1 bursty) — the event-stream health
    screen for bot/scraper detection.

    Determinism: gaps are INTEGER whole seconds (microsecond
    difference ``div`` 1e6 — integer div, matching truncation on both
    engines); Σgap and Σgap² are int64 and the population-variance
    numerator n·Σg²−(Σg)² is computed in decimal(38,0) (oracle:
    HUGEINT) so it stays EXACT even where n·Σg² passes int64, and
    every emitted double is one identical local chain (sqrt/div) from
    the same integers. One keyed window (lag) + one keyed aggregate."""
    ev = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    gaps = (
        ev.select("user_id", "event_id", F.unix_micros("ts").alias("us"))
        .withColumn("prev_us", F.lag("us").over(w))
        .filter(F.col("prev_us").isNotNull())
        .select(
            "user_id",
            F.expr("(us - prev_us) div 1000000").alias("gap_s"),
        )
    )
    agg = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_s").alias("sum_s"),
        F.sum(F.col("gap_s") * F.col("gap_s")).alias("sumsq_s"),
    )
    n, s, ss = F.col("n_gaps"), F.col("sum_s"), F.col("sumsq_s")
    # population-variance numerator in decimal(38,0): n·Σg² alone can
    # pass int64 at ~100 gaps of ~3e8 s (decade-idle users), and Spark
    # 4's ANSI mode would throw; decimal keeps the arithmetic EXACT
    # integers on both engines (oracle: HUGEINT) with one double cast
    # at the end
    dec = "decimal(38,0)"
    var_num = n.cast(dec) * ss.cast(dec) - s.cast(dec) * s.cast(dec)
    mean = s.cast("double") / n
    std = F.sqrt(var_num.cast("double")) / n
    # s > 0 alongside n >= 2: a user whose events all land inside one
    # whole second has every gap 0 → mean 0 → cv is 0/0, which the two
    # engines disagree on (Spark double 0/0 → NaN, DuckDB → NULL);
    # such users have no meaningful inter-arrival stats, so both
    # engines drop them instead
    return agg.filter((n >= 2) & (s > 0)).select(
        "user_id",
        "n_gaps",
        F.round(mean, 6).alias("mean_gap_s"),
        F.round(std / mean, 6).alias("cv"),
        F.round((std - mean) / (std + mean), 6).alias("burstiness"),
    )


# --------------------------------------------------------------------------
# label_propagation_knn / bfs_hops_knn — cosine-threshold graph over the
# bounded embedding slice (the pagerank/k-core graph family)
# --------------------------------------------------------------------------

LP_NODES = 200  # vec_id bound for the checkable slice (= PR_NODES)
LP_TAU = 0.25  # similarity-threshold edge bar (= the k-core graph)
LP_ROUNDS = 4  # fixed synchronous label-propagation rounds
BFS_ROUNDS = 6  # fixed BFS relaxation rounds
BFS_SEED_MOD = 40  # seeds: vec_id % 40 == 0 (5 seeds in the slice)
BFS_INF = 1_000_000  # unreached sentinel inside the relaxation


def _threshold_graph_pass(
    spark: SparkSession,
    sf_dir: str,
    rounds: int,
    init: str,
    step: str,
    emit: str,
) -> DataFrame:
    """Fixed-round synchronous pass over the cosine-threshold graph of the
    bounded slice (vec_id < ``LP_NODES``, edge iff cos ≥ ``LP_TAU``), run
    in-plan as one row: the slice is collected into ``g`` (structs of
    id, norm, vector, sorted by id), adjacency ``nb[i]`` is the array of
    neighbor POSITIONS in ``g`` (so sparse ids need no special case),
    and ``rounds`` rounds fold the per-node state ``s`` with the SQL
    lambdas ``init`` (over ``g``), ``step`` (``s`` → ``s``) and ``emit``
    (``s`` → array of output-row structs, inlined into rows). No
    self-join, no checkpoint, no per-round job.

    The cosine chain is ``_dot``/``_norm``'s sequential fold, so the
    ``>= LP_TAU`` edge test matches the oracle's edge set bit-for-bit.

    Scale: the bounded slice is the contract; on a full-corpus graph
    each round becomes a join of the state frame onto a partitioned
    edge list (the textbook Pregel step)."""
    nodes = (
        read_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < LP_NODES)
        .select(
            F.col("vec_id").alias("id"),
            F.col("embedding").cast("array<double>").alias("v"),
        )
        .withColumn("n", _norm("v"))
    )
    cos = f"{_dot_sql('x.v', 'g[j].v')} / (x.n * g[j].n)"
    adj = (
        "transform(g, (x, i) -> filter(sequence(0, size(g) - 1), "
        f"j -> j != i AND {cos} >= {LP_TAU!r}D))"
    )
    passes = f"aggregate(sequence(1, {rounds}), {init}, (s, r) -> {step}, s -> {emit})"
    return (
        nodes.groupBy()
        .agg(F.collect_list(F.struct("id", "n", "v")).alias("gs"))
        .select(F.inline(F.expr(_let("g", "array_sort(gs)", _let("nb", adj, passes)))))
    )


def q_label_propagation_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation on the
    cosine-threshold graph: every node starts labeled with its own id;
    each round it adopts the most frequent label among its neighbors
    (ties → smallest label; isolated nodes keep their label). A FIXED
    ``LP_ROUNDS`` synchronous rounds with deterministic tie-breaks make
    the result engine-exact; the oracle unrolls the identical rounds.

    Runs in-plan (``_threshold_graph_pass``): per node, the neighbor
    labels are bound once, and the new label is ``array_max`` over
    (count, −label) structs of the distinct neighbor labels — highest
    count, ties to the smallest label; NULL (no neighbors) keeps the
    old label."""
    mode = _let(
        "ls",
        "transform(nb[i], j -> s[j])",
        "-array_max(transform(array_distinct(ls), "
        "c -> named_struct('n', size(filter(ls, x -> x = c)), 'neg', -c))).neg",
    )
    return _threshold_graph_pass(
        spark,
        sf_dir,
        LP_ROUNDS,
        init="transform(g, x -> x.id)",
        step=f"transform(s, (l, i) -> coalesce({mode}, l))",
        emit="transform(g, (x, i) -> named_struct('node', x.id, 'label', s[i]))",
    )


def q_bfs_hops_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance on the cosine-threshold graph from
    the seed set {vec_id % BFS_SEED_MOD == 0}: ``BFS_ROUNDS`` rounds of
    the monotone relaxation dist(v) ← min(dist(v), min over neighbors
    dist(u)+1). Rounds past the fixpoint are identity steps, so the
    unrolled oracle agrees; unreached nodes emit hops = −1.

    Runs in-plan (``_threshold_graph_pass``): each round is one
    ``transform`` over the distance array (pure int64 min, engine-
    neutral)."""
    return _threshold_graph_pass(
        spark,
        sf_dir,
        BFS_ROUNDS,
        init=f"transform(g, x -> IF(x.id % {BFS_SEED_MOD} = 0, 0L, {BFS_INF}L))",
        step=(
            "transform(s, (d, i) -> least(d, "
            f"coalesce(array_min(transform(nb[i], j -> s[j])) + 1, {BFS_INF}L)))"
        ),
        emit=(
            "transform(g, (x, i) -> named_struct('node', x.id, "
            f"'hops', IF(s[i] >= {BFS_INF}, -1L, s[i])))"
        ),
    )


# --------------------------------------------------------------------------
# theil_sen_trend — robust per-group slope (median of pairwise slopes)
# --------------------------------------------------------------------------


def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily revenue per event type: the
    median of all pairwise slopes (cents_j − cents_i)/(day_j − day_i)
    — outlier-resistant where OLS (per_source_regression) is not.

    Determinism: daily revenue is an integer cents sum; each slope is
    ONE double division of integers (IEEE-identical both engines); the
    median picks by POSITION among sorted slope values (even count →
    mean of the two middles, again one identical chain), so no
    order-dependent float sum exists. Unrounded doubles hash-match.

    Scale: the pairwise self-join is per-group over the DAILY AGGREGATE
    (≤366 rows/group/year — bounded by calendar, not data); the fact
    table is touched once by the grouped cents sum."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(_cents(F.col("value"))).alias("cents"))
    d = daily.select(
        "event_type", F.datediff("day", F.lit("2024-01-01")).alias("d"), "cents"
    )
    i, j = d.alias("i"), d.alias("j")
    pairs = i.join(
        j,
        (F.col("i.event_type") == F.col("j.event_type"))
        & (F.col("i.d") < F.col("j.d")),
    ).select(
        F.col("i.event_type").alias("event_type"),
        (
            (F.col("j.cents") - F.col("i.cents")).cast("double")
            / (F.col("j.d") - F.col("i.d")).cast("double")
        ).alias("slope"),
    )
    w = W.partitionBy("event_type").orderBy("slope")
    ranked = pairs.withColumn("rn", F.row_number().over(w)).withColumn(
        "m", F.count(F.lit(1)).over(W.partitionBy("event_type"))
    )
    # keep exactly the middle one (odd m) or two (even m) positions:
    # rn == floor((m+1)/2) or rn == floor(m/2)+1
    mid = ranked.filter(
        (F.col("rn") == F.floor((F.col("m") + 1) / 2))
        | (F.col("rn") == F.floor(F.col("m") / 2) + 1)
    )
    return mid.groupBy("event_type").agg(
        F.max("m").alias("n_pairs"),
        ((F.min("slope") + F.max("slope")) / 2).alias("theil_sen_slope"),
    )


# --------------------------------------------------------------------------
# oov_rate — out-of-vocabulary rate per source against the global top-K
# --------------------------------------------------------------------------

OOV_VOCAB_K = 12  # global vocabulary size (fixture has 31 distinct tokens)


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source out-of-vocabulary rate against the global top-K
    token vocabulary (ties → lexicographic) — the corpus-mix screen
    run before tokenizer training: a source whose OOV rate spikes is
    drifting away from the vocabulary the tokenizer was fit on.

    Plan: one fact-sized token explode + grouped count builds the
    global counts; the top-K vocabulary (a K-row frame) broadcasts
    back as a membership FLAG onto the exploded frame, and ONE grouped
    pass per source counts totals and OOV together — two fact scans in
    all (the vocabulary must precede membership), not three. Integer
    counts, one off-grid ratio rounded at 6 dp."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(OOV_VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    flagged = toks.join(F.broadcast(vocab), "tok", "left")
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        F.round(
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("oov_rate"),
    )


# --------------------------------------------------------------------------
# abc_classification — Pareto/ABC revenue classes without a
# single-partition window
# --------------------------------------------------------------------------


def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of parts by lineitem revenue:
    class A = parts whose running cumulative revenue share (ordered by
    revenue desc, part key asc) stays ≤ 60%, B ≤ 90%, C the tail —
    the inventory-analytics standard cut. Emits one row per class.

    Determinism: revenue is exact integer CENTI-CENTS
    (cents(extendedprice) × (100 − cents-pct(discount))); the class
    boundaries are INTEGER comparisons against arbitrary-precision
    thresholds computed driver-side (cum·5 ≤ tot·3 ⟺ cum ≤ ⌊3·tot/5⌋
    for integer cum — the floor-div form never multiplies a COLUMN, so
    no int64 overflow exists at any corpus size where the running sum
    itself fits; the oracle mirrors it in HUGEINT). No float ever
    decides a class. The one emitted ratio is an off-grid quotient,
    safe at 6 dp. The remaining int64 budget is Σrevenue_cc itself
    (~9.2e18 centi-cents ≈ $9.2e11): beyond that, widen the sums to
    decimal(38,0) — the plan shape is unchanged.

    Scale: the running total uses ``global_running_sum`` (range
    partition + per-partition cumsum + broadcast-back offsets, one
    action since r15) — NO single-partition global window, so the plan
    holds at a 100 TB part dimension. The grand total rides the
    helper's ``_gr_tot`` plan column, keeping both the old per-
    invocation collect job and the broadcast-nested-loop one-row cross
    join out of the plan."""
    from pb_etl_spark.operators.corpus import global_running_sum

    li = read_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            _cents(F.col("l_extendedprice"))
            * (F.lit(100) - _cents(F.col("l_discount")))
        ).alias("revenue_cc")
    )
    ordered = rev.select(
        "l_partkey", "revenue_cc", (-F.col("revenue_cc")).alias("neg_rev")
    )
    # the grand total rides the helper's _gr_tot plan column (r15 —
    # previously a driver-side scalar from the collect the one-action
    # reformulation removed). The class bounds cum <= (3·tot) div 5 and
    # cum <= (9·tot) div 10 are folded as integer CROSS-MULTIPLICATIONS
    # (cum·5 <= tot·3, cum·10 <= tot·9 — exactly equivalent for
    # integers: cum <= floor(a/b) iff cum·b <= a) in decimal(38,0) so no
    # int64 headroom is lost to the ×10 (the old Python-bigint bound had
    # none to lose; DuckDB's oracle runs the same comparison in HUGEINT)
    cum = global_running_sum(spark, ordered, ["neg_rev", "l_partkey"], "revenue_cc")
    cum_d = F.col("cum").cast("decimal(38,0)")
    tot_d = F.col("_gr_tot").cast("decimal(38,0)")
    classed = cum.select(
        "revenue_cc",
        "_gr_tot",
        F.when(cum_d * 5 <= tot_d * 3, F.lit("A"))
        .when(cum_d * 10 <= tot_d * 9, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("revenue_cc").alias("revenue_cc"),
        F.round(
            F.sum("revenue_cc").cast("double")
            / F.max("_gr_tot").cast("double"),
            6,
        ).alias("revenue_share"),
    )


# --------------------------------------------------------------------------
# oracles
# --------------------------------------------------------------------------

_GRAPH_CTES = f"""
        pairs AS MATERIALIZED (
            SELECT a.vec_id AS lo, b.vec_id AS hi
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE a.vec_id < {LP_NODES} AND b.vec_id < {LP_NODES}
              AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[]))
                  >= {LP_TAU}
        ),
        nbr AS MATERIALIZED (
            SELECT lo AS a, hi AS b FROM pairs
            UNION ALL
            SELECT hi AS a, lo AS b FROM pairs
        ),
        nodes AS (SELECT vec_id AS node FROM embeddings
                  WHERE vec_id < {LP_NODES})
"""


def _lp_round(prev: str, cur: str) -> str:
    return f"""
        {cur} AS MATERIALIZED (
            SELECT c.node, COALESCE(best.lbl, c.label) AS label
            FROM {prev} c LEFT JOIN (
                SELECT node, lbl FROM (
                    SELECT nbr.a AS node, l.label AS lbl,
                           ROW_NUMBER() OVER (
                               PARTITION BY nbr.a
                               ORDER BY COUNT(*) DESC, l.label ASC) AS rn
                    FROM nbr JOIN {prev} l ON l.node = nbr.b
                    GROUP BY nbr.a, l.label
                ) WHERE rn = 1
            ) best ON best.node = c.node
        )"""


def _bfs_round(prev: str, cur: str) -> str:
    return f"""
        {cur} AS MATERIALIZED (
            SELECT c.node,
                   LEAST(c.dist, COALESCE(r.mind + 1, {BFS_INF})) AS dist
            FROM {prev} c LEFT JOIN (
                SELECT nbr.a AS node, MIN(d.dist) AS mind
                FROM nbr JOIN {prev} d ON d.node = nbr.b
                GROUP BY nbr.a
            ) r ON r.node = c.node
        )"""


_LP_CHAIN = ",".join(
    _lp_round(f"l{i}", f"l{i + 1}") for i in range(LP_ROUNDS)
)
_BFS_CHAIN = ",".join(
    _bfs_round(f"d{i}", f"d{i + 1}") for i in range(BFS_ROUNDS)
)

QUERIES = {
    "lateral_topk_join": q_lateral_topk_join,
    "map_funcs": q_map_funcs,
    "mode_per_group": q_mode_per_group,
    "interval_coverage": q_interval_coverage,
    "burstiness_stats": q_burstiness_stats,
    "label_propagation_knn": q_label_propagation_knn,
    "bfs_hops_knn": q_bfs_hops_knn,
    "theil_sen_trend": q_theil_sen_trend,
    "oov_rate": q_oov_rate,
    "abc_classification": q_abc_classification,
}

ORACLES: dict[str, str] = {
    "lateral_topk_join": _lateral_sql("customer", "orders"),
    "map_funcs": f"""
        WITH counts AS (
            SELECT user_id, event_type, COUNT(*) AS n
            FROM events
            -- plain != drops NULL event types too (mirrors Spark: a
            -- NULL map key would crash map_from_entries there)
            WHERE event_type != '__all'
            GROUP BY 1, 2
        )
        SELECT user_id, event_type, CAST(n * 10 AS BIGINT) AS n_scaled
        FROM counts WHERE n >= {MF_MIN}
        UNION ALL
        SELECT user_id, '__all' AS event_type,
               CAST(SUM(n) AS BIGINT) AS n_scaled
        FROM counts GROUP BY user_id
    """,
    "mode_per_group": """
        SELECT user_id, mode_event_type, CAST(n_events AS BIGINT) AS n_events
        FROM (
            SELECT user_id, event_type AS mode_event_type,
                   SUM(COUNT(*)) OVER (PARTITION BY user_id) AS n_events,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY COUNT(*) DESC,
                                               event_type ASC) AS rn
            FROM events WHERE event_type IS NOT NULL
            GROUP BY user_id, event_type
        ) WHERE rn = 1
    """,
    "interval_coverage": """
        WITH base AS (
            SELECT user_id, event_id, epoch_us(ts) AS s_us,
                   epoch_us(ts)
                   + CAST(ROUND(value * 100) AS BIGINT) * 1000000 AS e_us
            FROM events
        ), flagged AS (
            SELECT user_id, s_us, e_us,
                   CASE WHEN MAX(e_us) OVER (
                            PARTITION BY user_id ORDER BY s_us, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ) IS NULL
                        OR s_us > MAX(e_us) OVER (
                            PARTITION BY user_id ORDER BY s_us, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   THEN 1 ELSE 0 END AS new_island,
                   event_id
            FROM base
        ), islands AS (
            SELECT user_id, s_us, e_us,
                   SUM(new_island) OVER (
                       PARTITION BY user_id ORDER BY s_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS island
            FROM flagged
        ), per_island AS (
            SELECT user_id, island, MAX(e_us) - MIN(s_us) AS span_us
            FROM islands GROUP BY user_id, island
        )
        SELECT user_id,
               COUNT(*) AS n_islands,
               CAST(SUM(span_us) AS BIGINT) AS covered_us,
               MAX(span_us) AS longest_island_us
        FROM per_island GROUP BY user_id
    """,
    "burstiness_stats": """
        WITH gaps AS (
            SELECT user_id,
                   (us - LAG(us) OVER (PARTITION BY user_id
                                       ORDER BY us, event_id)) // 1000000
                       AS gap_s
            FROM (SELECT user_id, event_id, epoch_us(ts) AS us FROM events)
        ), agg AS (
            SELECT user_id,
                   COUNT(*) AS n_gaps,
                   CAST(SUM(gap_s) AS BIGINT) AS s,
                   CAST(SUM(gap_s * gap_s) AS BIGINT) AS ss
            FROM gaps WHERE gap_s IS NOT NULL GROUP BY user_id
        )
        SELECT user_id, n_gaps,  -- s > 0 / HUGEINT: see Spark-side comments
               ROUND(CAST(s AS DOUBLE) / n_gaps, 6) AS mean_gap_s,
               ROUND((SQRT(CAST(CAST(n_gaps AS HUGEINT) * ss - CAST(s AS HUGEINT) * s AS DOUBLE)) / n_gaps)
                     / (CAST(s AS DOUBLE) / n_gaps), 6) AS cv,
               ROUND((SQRT(CAST(CAST(n_gaps AS HUGEINT) * ss - CAST(s AS HUGEINT) * s AS DOUBLE)) / n_gaps
                      - CAST(s AS DOUBLE) / n_gaps)
                     / (SQRT(CAST(CAST(n_gaps AS HUGEINT) * ss - CAST(s AS HUGEINT) * s AS DOUBLE)) / n_gaps
                        + CAST(s AS DOUBLE) / n_gaps), 6) AS burstiness
        FROM agg WHERE n_gaps >= 2 AND s > 0
    """,
    "label_propagation_knn": f"""
        WITH {_GRAPH_CTES},
        l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes),
        {_LP_CHAIN}
        SELECT node, label FROM l{LP_ROUNDS}
    """,
    "bfs_hops_knn": f"""
        WITH {_GRAPH_CTES},
        d0 AS MATERIALIZED (
            SELECT node,
                   CAST(CASE WHEN node % {BFS_SEED_MOD} = 0 THEN 0
                             ELSE {BFS_INF} END AS BIGINT) AS dist
            FROM nodes
        ),
        {_BFS_CHAIN}
        SELECT node,
               CAST(CASE WHEN dist >= {BFS_INF} THEN -1 ELSE dist END
                    AS BIGINT) AS hops
        FROM d{BFS_ROUNDS}
    """,
    "theil_sen_trend": """
        WITH daily AS (
            SELECT event_type,
                   datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM events GROUP BY 1, 2
        ), pairs AS (
            SELECT i.event_type,
                   CAST(j.cents - i.cents AS DOUBLE)
                   / CAST(j.d - i.d AS DOUBLE) AS slope
            FROM daily i JOIN daily j
              ON i.event_type = j.event_type AND i.d < j.d
        ), ranked AS (
            SELECT event_type, slope,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY slope) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS m
            FROM pairs
        )
        SELECT event_type,
               CAST(MAX(m) AS BIGINT) AS n_pairs,
               (MIN(slope) + MAX(slope)) / 2 AS theil_sen_slope
        FROM ranked
        WHERE rn = (m + 1) // 2 OR rn = m // 2 + 1
        GROUP BY event_type
    """,
    "oov_rate": f"""
        WITH toks AS (
            SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ), toks2 AS (
            SELECT source, tok FROM toks WHERE tok <> ''
        ), vocab AS (
            SELECT tok FROM (
                SELECT tok, COUNT(*) AS c FROM toks2 GROUP BY tok
                ORDER BY c DESC, tok ASC LIMIT {OOV_VOCAB_K}
            )
        )
        SELECT source,
               COUNT(*) AS n_tokens,
               CAST(SUM(CASE WHEN tok NOT IN (SELECT tok FROM vocab)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
               ROUND(CAST(SUM(CASE WHEN tok NOT IN (SELECT tok FROM vocab)
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS oov_rate
        FROM toks2 GROUP BY source
    """,
    "abc_classification": """
        WITH rev AS (
            SELECT l_partkey,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                            * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                        AS BIGINT) AS revenue_cc
            FROM lineitem GROUP BY l_partkey
        ), cum AS (
            SELECT revenue_cc,
                   CAST(SUM(revenue_cc) OVER (
                       ORDER BY revenue_cc DESC, l_partkey ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum,
                   CAST(SUM(revenue_cc) OVER () AS BIGINT) AS tot
            FROM rev
        )
        SELECT CASE WHEN cum <= CAST(tot AS HUGEINT) * 3 // 5 THEN 'A'
                    WHEN cum <= CAST(tot AS HUGEINT) * 9 // 10 THEN 'B'
                    ELSE 'C' END AS abc_class,
               COUNT(*) AS n_parts,
               CAST(SUM(revenue_cc) AS BIGINT) AS revenue_cc,
               ROUND(CAST(SUM(revenue_cc) AS DOUBLE) / CAST(MAX(tot) AS DOUBLE),
                     6) AS revenue_share
        FROM cum GROUP BY 1
    """,
}
