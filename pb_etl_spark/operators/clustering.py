"""Dedup clustering: connected components over the near-duplicate pair
graph → one cluster id per document (min doc_id of its component).

This is the step after candidate generation in a real dedup pipeline:
near-dup *pairs* (operators.dedup) must become *groups* so that exactly one
representative per group survives. Components are computed by iterative
min-label propagation — the standard large-graph method (hash-join +
groupBy per round, state truncated with localCheckpoint), NOT a driver-side
union-find: at 100 TB the edge list is a DataFrame like any other and each
round is one shuffle. Converges in O(diameter) rounds; near-dup components
are shallow (dup clusters are cliques-ish), so 3-5 rounds in practice.

The DuckDB oracle expresses the same fixpoint as a recursive CTE, so this
iterative operator is *exactly* oracle-checked, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from pb_etl_spark.catalog import read_table
from pb_etl_spark.operators.dedup import q_minhash_near_dup_pairs
from pb_etl_spark.operators.insights import LP_TAU, _threshold_graph_pass
from pb_etl_spark.operators.similarity import _let
from pb_etl_spark.session import stats_reset_checkpoint

MAX_ROUNDS = 64  # hook+jump needs roughly O(log diameter) rounds with a
# ~2x constant (measured: sf0.1 name chains 24 rounds, x10 chains ~28),
# so 64 covers diameters orders of magnitude past any fixture while
# still failing loud on true divergence. Raising past 40 became safe
# once stats_reset_checkpoint removed the ~25-round BigInteger ceiling
# the carried checkpoint Statistics used to impose.


def connected_components(
    vertices: DataFrame, edges: DataFrame, max_rounds: int = MAX_ROUNDS
) -> DataFrame:
    """Min-label propagation with pointer jumping.

    ``vertices``: one column ``id``; ``edges``: columns ``src``/``dst``
    (undirected; symmetrized here). Returns (id, cluster_id) where
    cluster_id is the component's minimum id. Each round: (1) hooking —
    take the min label over neighbors, (2) pointer jumping — replace my
    label by MY LABEL'S label. Hooking alone converges in O(diameter)
    rounds, which a 15k-member name CHAIN blows past (found by the
    sf0.1 bench: >20 rounds); the jump step shortens every label path
    each round, giving roughly logarithmic convergence in practice —
    but min-label hooking+jumping does not halve paths as aggressively
    as true pointer-doubling CC (measured: ~24 rounds on sf0.1 name
    chains, hence MAX_ROUNDS=40 headroom rather than a tight log2
    bound). One shuffle per phase; lineage truncated per round so the
    plan stays O(1) deep.
    """
    # materialize the edge list once: each round re-evaluates its plan, and
    # edges often come from an expensive upstream (LSH candidate generation)
    # that must not re-run per iteration
    # stats_reset_checkpoint, not plain localCheckpoint: the loop joins
    # each round's frame with itself, so a carried-over Statistics
    # snapshot SQUARES per round and overflows BigInteger near round
    # ~25 (see the helper's docstring). All three loop checkpoints and
    # the edge materialization reset stats to keep round plans O(1).
    sym = stats_reset_checkpoint(
        edges.select("src", "dst")
        .unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    )
    labels = vertices.select(F.col("id"), F.col("id").alias("cluster_id"))
    for _ in range(max_rounds):
        nbr = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        hooked = stats_reset_checkpoint(
            labels.join(nbr, labels.id == nbr.src, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
            # truncate: the jump self-joins hooked with itself — without
            # this the round's plan embeds the 3-join subtree twice
        )
        # pointer jumping: cluster_id ← label(cluster_id). Labels only
        # ever DECREASE (min semantics), so jumping is safe and strictly
        # accelerating.
        parents = hooked.select(
            F.col("id").alias("pid"), F.col("cluster_id").alias("parent")
        )
        new_labels = stats_reset_checkpoint(
            hooked.join(parents, hooked.cluster_id == parents.pid, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("parent"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        # release this round's intermediates and the previous round's
        # labels — otherwise executor storage accumulates O(rounds)
        # copies of the vertex set
        hooked.unpersist()
        if labels is not vertices:
            labels.unpersist()
        labels = new_labels
        if changed == 0:
            return labels
    # fail loud: returning unconverged labels would silently split
    # components whose diameter exceeds max_rounds
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds; "
        "raise max_rounds (diameter of the largest component exceeds it)"
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster id per document from the MinHash near-dup pair graph;
    singletons keep their own id. Downstream keeps doc_id == cluster_id
    rows as the deduplicated corpus."""
    docs = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id")
    )
    pairs = q_minhash_near_dup_pairs(spark, sf_dir).select(
        F.col("da").alias("src"), F.col("db").alias("dst")
    )
    return connected_components(docs, pairs).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )


def q_dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus summary: one row per cluster with its size
    and representative (min doc_id) — what a 100 TB dedup job emits."""
    clusters = q_dedup_clusters(spark, sf_dir)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .withColumnRenamed("cluster_id", "rep_doc_id")
    )


# Members-per-nation bound for the in-row ``nation_components`` path,
# which holds a nation's whole row (sorted members, neighbour
# positions, label arrays) in one task. Its cost is one window and two
# aggregates over members + 2·edges rows, then rounds × (members +
# 2·edges) × ~0.3 µs on one core. Both paths run the same rounds (31 at
# most on the ×4 fixture), so rounds cancel when comparing them.
# Measured at local[4] on a random tree with 2 directed edges per
# member, 17-18 rounds: in-row 18.6 s against 79.9 s distributed at 1M
# members, 7.9 s against 35.0 s at 300k. The bound is the largest size
# measured; its row is about 100 MB.
ER_UF_MAX_MEMBERS = 1_000_000


def nation_components(members: DataFrame, pairs: DataFrame) -> DataFrame:
    """Connected components inside each nation, in-plan: ``members``
    (nat, id) and undirected ``pairs`` (nat, ia, ib) between members →
    (c_custkey, entity_id), the component's minimum id.

    Each nation becomes ONE row ``g``: its members sorted by id, each
    with its neighbours' POSITIONS in ``g``. A fold then runs rounds of
    min-label hooking (take the least label over self and neighbours)
    plus one pointer jump (label ← label's label). Labels are positions,
    so the least is the minimum id. They never exceed plain min-label
    propagation's, which converges in < |members| rounds, and a
    converged flag makes later rounds no-ops. The hooking + jumping
    scheme is Rastogi et al. (ICDE 2013), "Finding Connected Components
    in Map-Reduce in Logarithmic Rounds", run inside one row."""
    # both directions from ONE read of the pairs (a union would plan the
    # matcher twice), plus a self-loop per member so that every member
    # gets a row and a position; its own label is harmless to the min
    ends = pairs.select(
        "nat",
        F.inline(
            F.array(
                F.struct(F.col("ia").alias("id"), F.col("ib").alias("y")),
                F.struct(F.col("ib").alias("id"), F.col("ia").alias("y")),
            )
        ),
    ).unionByName(members.select("nat", "id", F.col("id").alias("y")))
    # the window's exchange on nat also serves both aggregates: one shuffle
    rows = (
        ends.withColumn("q", F.dense_rank().over(W.partitionBy("nat").orderBy("y")) - 1)
        .groupBy("nat", "id")
        .agg(F.collect_list("q").alias("nb"))
        .groupBy("nat")
        .agg(F.array_sort(F.collect_list(F.struct("id", "nb"))).alias("g"))
    )
    step = _let(
        "h",
        "transform(g, x -> array_min(transform(x.nb, q -> s.l[q])))",
        _let("j", "transform(h, v -> h[v])", "named_struct('l', j, 'done', j = s.l)"),
    )
    # ArrayAggregate copies its state every iteration, so one flat fold
    # of |members| rounds copies the labels |members| times even after
    # the fixpoint (50 s for a 100k-member nation done in 17 rounds).
    # Four nested folds of k = ⌈|members|^¼⌉ + 1 rounds each hold more
    # than |members| rounds, and a done state skips whole inner folds:
    # at most rounds + 4k copies.
    k = "sequence(1, int(ceil(pow(size(g), 0.25))) + 1)"
    for _ in range(3):
        step = f"aggregate({k}, s, (s, _) -> IF(s.done, s, {step}))"
    fold = (
        f"aggregate({k}, named_struct('l', sequence(0, size(g) - 1), 'done', false), "
        f"(s, _) -> IF(s.done, s, {step}), "
        "s -> transform(g, (x, i) -> named_struct('c_custkey', x.id, 'entity_id', g[s.l[i]].id)))"
    )
    return rows.select(F.inline(F.expr(fold)))


def _parquet_rows_at_most(path: str, bound: int) -> bool:
    """True iff the parquet data at ``path`` provably holds ≤ ``bound``
    rows, decided from FILE FOOTERS alone — driver-side metadata IO, no
    Spark job. Short-circuits as soon as the running total exceeds the
    bound, so at 100 TB this touches a handful of footers before handing
    off to an exact distributed count. Returns False on any read error
    (remote FS, permissions) so callers fall back to the exact count."""
    import os

    import pyarrow.parquet as pq

    try:
        files = [path]
        if os.path.isdir(path):
            entries = os.listdir(path)
            if any(
                os.path.isdir(os.path.join(path, e))
                for e in entries
                if not e.startswith((".", "_"))
            ):
                # partitioned/nested layout (Hive subdirs — flat, mixed,
                # or fully nested): rows hide below the top level, so a
                # top-level-only footer total would UNDERCOUNT and
                # wrongly "prove" the bound; fall back to the exact
                # distributed count instead
                return False
            data_files = [e for e in entries if not e.startswith((".", "_"))]
            if any(not f.endswith(".parquet") for f in data_files):
                # non-parquet data files (orc/csv/json side-outputs):
                # their rows are invisible to a parquet-footer total,
                # which would UNDERCOUNT and wrongly "prove" the bound —
                # route to the exact distributed count instead
                return False
            files = [os.path.join(path, f) for f in data_files]
            if not files:
                return False
        total = 0
        for f in files:
            total += pq.ParquetFile(f).metadata.num_rows
            if total > bound:
                return False
        return True
    except Exception:
        return False


def q_entity_resolution(
    spark: SparkSession,
    sf_dir: str,
    uf_max_members: int = ER_UF_MAX_MEMBERS,
    big_nats: list[int] | None = None,
) -> DataFrame:
    """End-to-end entity resolution: fuzzy name matching feeds per-nation
    clustering, producing one canonical entity id (the component-minimum
    custkey) per customer — the block → match → cluster pipeline of a
    record-linkage system. Singletons resolve to themselves.

    Matching is ``edit1_pairs`` BLOCKED BY NATION, so cross-nation
    candidates never form. Unconstrained edit-distance-1 closure would
    chain-collapse the sequentially-numbered fixture names into ONE
    component; the blocking attribute breaks those chains and bounds
    every component inside one nation.

    Clustering is SIZE-THRESHOLDED. Nations with ≤ ``uf_max_members``
    members run ``nation_components`` (one in-plan row each, no Python
    worker, no per-round job); larger ones fall back to the distributed
    ``connected_components`` on their edge subset. Both label by the
    minimum custkey, so the result does not depend on the threshold.
    When the customer footers prove total rows ≤ the bound, the split is
    decided from metadata and building this query runs NO Spark job;
    otherwise a per-nation count runs. Callers can pass ``big_nats``.

    Oracle: the quadratic levenshtein pair join + a recursive CTE — the
    Spark side's blocking AND its clustering are both proven against
    brute force."""
    from pb_etl_spark.operators.dedup import edit1_pairs

    members = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nat"), F.col("c_custkey").alias("id")
    )
    pairs = edit1_pairs(spark, sf_dir, ["c_nationkey"]).select(
        F.col("c_nationkey").alias("nat"), "ia", "ib"
    )

    if big_nats is None:
        cust_path = f"{sf_dir.rstrip('/')}/customer.parquet"
        if _parquet_rows_at_most(cust_path, uf_max_members):
            big_nats = []
        else:
            counts = members.groupBy("nat").count().collect()
            big_nats = [r["nat"] for r in counts if r["count"] > uf_max_members]
    if not big_nats:
        return nation_components(members, pairs)
    big = F.col("nat").isin(sorted(big_nats))
    cc_part = connected_components(
        members.filter(big).select("id"),
        pairs.filter(big).select(F.col("ia").alias("src"), F.col("ib").alias("dst")),
    ).select(F.col("id").alias("c_custkey"), F.col("cluster_id").alias("entity_id"))
    return nation_components(members.filter(~big), pairs.filter(~big)).unionAll(cc_part)


def q_entity_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship: one golden record per resolved entity — the merge
    step that follows entity_resolution in every MDM pipeline. Rules
    here: canonical name from the minimum-key member (first-registered
    wins), balance summed on the exact cents grid, nation from the
    minimum-key member, member count kept for audit.

    One join of the member map onto the dimension + one grouped pass
    with min_by pickers — no windows, no per-entity loops. Oracle
    replays the same rules over the recursive-CTE clusters."""
    cust = read_table(spark, sf_dir, "customer")
    ents = q_entity_resolution(spark, sf_dir)
    return (
        cust.join(ents, "c_custkey")
        .groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min_by("c_name", "c_custkey").alias("canonical_name"),
            F.min_by("c_nationkey", "c_custkey")
            .cast("long")
            .alias("nationkey"),
            (
                F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).cast(
                    "double"
                )
                / F.lit(100.0)
            ).alias("total_acctbal"),
        )
    )


PR_NODES = 200  # vec_id bound for the checkable PageRank slice
PR_K = 5  # out-degree (kNN edges per node)
PR_D = 0.85  # damping
PR_ITERS = 3  # fixed iterations — unrolled in the oracle


def q_pagerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the exact-kNN similarity graph (fixed 3 iterations)
    — the iterative-join family beyond connected components, and
    ORACLE-CHECKED because the iteration count is fixed (the DuckDB side
    unrolls the same three steps as CTEs over identical edges).

    Edges: each of the first 200 vectors points to its 5 nearest
    neighbours (cosine, deterministic tie-break), so out-degree is
    exactly PR_K and there are no dangling nodes. Each iteration is one
    equi-join (ranks ⋈ edges on src) + grouped sum — the standard
    distributed PageRank step; at scale you'd pre-partition both sides
    by node id so every iteration reuses the partitioning, and build
    edges with the ANN tiers instead of exact kNN."""
    from pb_etl_spark.operators.similarity import cosine_topk

    emb = read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < PR_NODES)
    # checkpoint the bounded edge/node sets (≤ PR_NODES·PR_K rows): the
    # edge subtree is referenced once PER ITERATION in the final plan,
    # and without truncation the kNN build would run PR_ITERS times.
    # Eager, not cache.pin: pinned, build+collect measured 0.15-0.3 s
    # slower at sf0.01
    edges = (
        cosine_topk(emb, emb, k=PR_K, corpus_bound=PR_NODES)
        .select(F.col("q_id").alias("src"), F.col("n_id").alias("dst"))
        .localCheckpoint(eager=True)
    )
    nodes = emb.select(F.col("vec_id").alias("node")).localCheckpoint(eager=True)
    n = nodes.select(F.count(F.lit(1))).scalar().cast("double")
    ranks = nodes.withColumn("pr", F.lit(1.0) / n)
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / PR_K).alias("inbound"))
        )
        ranks = nodes.join(
            contrib, nodes.node == contrib.dst, "left"
        ).select(
            "node",
            # each iteration snaps to a 1e-9 grid on BOTH engines:
            # grouped double sums associate differently across engines
            # (~1e-16 drift/step) and three iterations can push a value
            # across a ROUND(...,6) boundary — quantizing per step keeps
            # the engines bit-identical
            F.round(
                F.lit(1.0 - PR_D) / n
                + F.lit(PR_D) * F.coalesce(F.col("inbound"), F.lit(0.0)),
                9,
            ).alias("pr"),
        )
    return ranks.select("node", F.round("pr", 6).alias("pr"))


def _pairs_cte() -> str:
    """The minhash near-dup pair SQL as a CTE body (reuses the oracle
    pipeline from operators.dedup so both engines see identical edges)."""
    from pb_etl_spark.operators.dedup import ORACLES

    inner = ORACLES["minhash_near_dup_pairs"].strip()
    return f"pair_q AS ({inner})"


ORACLES: dict[str, str] = {
    "entity_resolution": """
        WITH RECURSIVE fuzzy AS (
            SELECT a.c_custkey AS ia, b.c_custkey AS ib
            FROM customer a JOIN customer b
              ON a.c_custkey < b.c_custkey
             AND a.c_nationkey = b.c_nationkey
             AND levenshtein(a.c_name, b.c_name) <= 1
        ),
        edges AS (
            SELECT ia AS src, ib AS dst FROM fuzzy
            UNION
            SELECT ib, ia FROM fuzzy
        ),
        reach(id, r) AS (
            SELECT c_custkey, c_custkey FROM customer
            UNION
            SELECT e.src, reach.r
            FROM edges e JOIN reach ON reach.id = e.dst
        )
        SELECT id AS c_custkey, MIN(r) AS entity_id
        FROM reach GROUP BY id
    """,
    "entity_golden_record": """
        WITH RECURSIVE fuzzy AS (
            SELECT a.c_custkey AS ia, b.c_custkey AS ib
            FROM customer a JOIN customer b
              ON a.c_custkey < b.c_custkey
             AND a.c_nationkey = b.c_nationkey
             AND levenshtein(a.c_name, b.c_name) <= 1
        ),
        edges AS (
            SELECT ia AS src, ib AS dst FROM fuzzy
            UNION
            SELECT ib, ia FROM fuzzy
        ),
        reach(id, r) AS (
            SELECT c_custkey, c_custkey FROM customer
            UNION
            SELECT e.src, reach.r
            FROM edges e JOIN reach ON reach.id = e.dst
        ),
        ents AS (
            SELECT id AS c_custkey, MIN(r) AS entity_id
            FROM reach GROUP BY id
        )
        SELECT e.entity_id,
               COUNT(*) AS n_members,
               arg_min(c.c_name, c.c_custkey) AS canonical_name,
               CAST(arg_min(c.c_nationkey, c.c_custkey) AS BIGINT)
                   AS nationkey,
               CAST(CAST(SUM(CAST(ROUND(c.c_acctbal * 100) AS BIGINT))
                         AS BIGINT) AS DOUBLE) / 100.0 AS total_acctbal
        FROM customer c JOIN ents e ON c.c_custkey = e.c_custkey
        GROUP BY e.entity_id
    """,
    "dedup_clusters": f"""
        WITH RECURSIVE {_pairs_cte()},
        edges AS (
            SELECT da AS src, db AS dst FROM pair_q
            UNION
            SELECT db, da FROM pair_q
        ),
        reach(id, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.src, reach.r
            FROM edges e JOIN reach ON reach.id = e.dst
        )
        SELECT id AS doc_id, MIN(r) AS cluster_id
        FROM reach GROUP BY id
    """,
    "dedup_representatives": f"""
        WITH RECURSIVE {_pairs_cte()},
        edges AS (
            SELECT da AS src, db AS dst FROM pair_q
            UNION
            SELECT db, da FROM pair_q
        ),
        reach(id, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.src, reach.r
            FROM edges e JOIN reach ON reach.id = e.dst
        ),
        clusters AS (
            SELECT id AS doc_id, MIN(r) AS cluster_id
            FROM reach GROUP BY id
        )
        SELECT cluster_id AS rep_doc_id, COUNT(*) AS cluster_size
        FROM clusters GROUP BY cluster_id
    """,
}

_PR_EDGES = f"""
        pairs AS (
            SELECT q.vec_id AS src, c.vec_id AS dst,
                   list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])) AS cos
            FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
            WHERE q.vec_id < {PR_NODES} AND c.vec_id < {PR_NODES}
        ),
        edges AS (
            SELECT src, dst FROM (
                SELECT src, dst,
                       ROW_NUMBER() OVER (PARTITION BY src
                                          ORDER BY cos DESC, dst ASC) AS rn
                FROM pairs
            ) WHERE rn <= {PR_K}
        ),
        nodes AS (SELECT vec_id AS node FROM embeddings WHERE vec_id < {PR_NODES}),
        nn AS (SELECT COUNT(*) AS n FROM nodes)
"""


def _pr_iter(prev: str, cur: str) -> str:
    return f"""
        {cur} AS (
            SELECT nodes.node,
                   ROUND((1.0 - {PR_D}) / nn.n
                         + {PR_D} * COALESCE(SUM({prev}.pr / {PR_K}), 0.0),
                         9) AS pr
            FROM nodes CROSS JOIN nn
            LEFT JOIN edges ON edges.dst = nodes.node
            LEFT JOIN {prev} ON {prev}.node = edges.src
            GROUP BY nodes.node, nn.n
        )
"""


ORACLES_PAGERANK = (
    "WITH "
    + _PR_EDGES
    + ", r0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn)"
    + "".join("," + _pr_iter(f"r{i}", f"r{i+1}") for i in range(PR_ITERS))
    + f" SELECT node, ROUND(pr, 6) AS pr FROM r{PR_ITERS}"
)


def q_triangle_count_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the (undirected) kNN similarity
    graph — the clustering-coefficient numerator, a standard corpus-graph
    density signal (tight triangles ≈ near-duplicate neighborhoods that
    survived pairwise dedup).

    Same edge set as ``pagerank_knn`` (each of the first 200 vectors →
    its 5 cosine-nearest neighbours, deterministic tie-break), so the
    oracle reuses the identical edge SQL. Shape: symmetrize to unique
    ``lo<hi`` pairs, then the classic two-join triangle enumeration over
    ordered edges (ab.hi=bc.lo, ac=(ab.lo,bc.hi)) — each triangle a<b<c
    is emitted exactly once. At scale the ordered-edge form bounds wedge
    generation by out-degree (k), so the first join emits O(E·k) rows
    and the second is an equi-join on (lo,hi) — no all-pairs step; both
    joins shuffle on node ids and reuse the same partitioning."""
    from pb_etl_spark.operators.similarity import cosine_topk

    emb = read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < PR_NODES)
    edges = cosine_topk(emb, emb, k=PR_K, corpus_bound=PR_NODES).select(
        F.col("q_id").alias("src"), F.col("n_id").alias("dst")
    )
    # checkpoint: ``und`` is self-joined three times — without lineage
    # truncation the kNN edge build would run once per join branch
    # (eager, not cache.pin: pinned measured ~0.15 s slower at sf0.01)
    und = (
        edges.select(
            F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    ab, bc, ac = und.alias("ab"), und.alias("bc"), und.alias("ac")
    tri = (
        ab.join(bc, F.col("ab.hi") == F.col("bc.lo"))
        .join(
            ac,
            (F.col("ac.lo") == F.col("ab.lo")) & (F.col("ac.hi") == F.col("bc.hi")),
        )
        .select(
            F.col("ab.lo").alias("a"), F.col("ab.hi").alias("b"), F.col("bc.hi").alias("c")
        )
    )
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nodes = emb.select(F.col("vec_id").alias("node"))
    return nodes.join(per_node, "node", "left").select(
        "node", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles")
    )


ORACLES_TRIANGLES = (
    "WITH "
    + _PR_EDGES
    + """,
        und AS (
            SELECT DISTINCT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi
            FROM edges
        ),
        tri AS (
            SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
            FROM und ab
            JOIN und bc ON ab.hi = bc.lo
            JOIN und ac ON ac.lo = ab.lo AND ac.hi = bc.hi
        ),
        tn AS (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ),
        cnt AS (SELECT node, COUNT(*) AS n FROM tn GROUP BY node)
        SELECT nodes.node, COALESCE(cnt.n, 0) AS n_triangles
        FROM nodes LEFT JOIN cnt ON cnt.node = nodes.node
"""
)


KC_TAU = LP_TAU  # the shared threshold graph's edge bar (0.25)
KC_K = 3  # degree threshold: the 3-core
KC_ROUNDS = 12  # fixed peel rounds, unrolled in the oracle — measured
#   fixpoint is ≤ 9 rounds at sf0.1/0.25/3 (see test_k_core_converges);
#   extra rounds past the fixpoint are identity steps, so both engines
#   emit the true k-core, and the test pins that the budget still holds


def q_k_core_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (the 3-core) of the cosine-threshold
    similarity graph over the first 200 vectors — the density filter
    community detection and spam/bot-cluster mining start from:
    iteratively peel nodes with degree < k until the remainder is
    mutually k-connected.

    Unlike the fixed-kNN graph (uniform out-degree 5 — its k-core is
    all-or-nothing), the THRESHOLD graph (cos ≥ 0.25) has heterogeneous
    degrees, so the peel genuinely iterates (4-9 rounds on the
    fixtures). The peel runs ``KC_ROUNDS`` fixed rounds in-plan over
    the shared threshold-graph pass (``insights._threshold_graph_pass``,
    the label-propagation/BFS graph): each round keeps a node iff it is
    still in and has ≥ k neighbors still in, so the DuckDB oracle replays the
    identical unrolled rounds; rounds past the fixpoint are no-ops.
    Output: every node with its final in-3-core flag and its degree
    within the core (0 outside).

    Scale: the slice is bounded (like pagerank_knn); on a full-corpus
    graph the right algorithm becomes distributed bucket peeling (delete
    all sub-k nodes per round — exactly this step) with the edge list
    pre-partitioned by node id so every round reuses the partitioning."""
    live_deg = "size(filter(nb[i], j -> s[j]))"
    return _threshold_graph_pass(
        spark,
        sf_dir,
        KC_ROUNDS,
        init="transform(g, x -> true)",
        step=f"transform(s, (on, i) -> on AND {live_deg} >= {KC_K})",
        emit=(
            "transform(g, (x, i) -> named_struct('node', x.id, 'in_core', s[i], "
            f"'core_degree', CAST(IF(s[i], {live_deg}, 0) AS BIGINT)))"
        ),
    )


def _k_core_oracle_sql() -> str:
    rounds = []
    prev = "act0"
    for r in range(1, KC_ROUNDS + 1):
        # MATERIALIZED: DuckDB inlines plain CTEs, and each round
        # references its predecessor four times — without materialization
        # the expansion is 4^rounds and the planner exhausts file handles
        rounds.append(f"""
        deg{r} AS MATERIALIZED (
            SELECT node, COUNT(*) AS deg FROM (
                SELECT lo AS node FROM und
                WHERE lo IN (SELECT node FROM {prev})
                  AND hi IN (SELECT node FROM {prev})
                UNION ALL
                SELECT hi FROM und
                WHERE lo IN (SELECT node FROM {prev})
                  AND hi IN (SELECT node FROM {prev})
            ) GROUP BY node
        ),
        act{r} AS MATERIALIZED (SELECT node FROM deg{r} WHERE deg >= {KC_K})""")
        prev = f"act{r}"
    return (
        "WITH "
        + f"""emb AS MATERIALIZED (
            SELECT vec_id, embedding FROM embeddings
            WHERE vec_id < {PR_NODES}
        ),
        und AS MATERIALIZED (
            SELECT a.vec_id AS lo, b.vec_id AS hi
            FROM emb a JOIN emb b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[]))
                  >= {KC_TAU}
        ),
        act0 AS MATERIALIZED (SELECT vec_id AS node FROM emb),{",".join(rounds)},
        core_deg AS (
            SELECT node, COUNT(*) AS core_degree FROM (
                SELECT lo AS node FROM und
                WHERE lo IN (SELECT node FROM {prev})
                  AND hi IN (SELECT node FROM {prev})
                UNION ALL
                SELECT hi FROM und
                WHERE lo IN (SELECT node FROM {prev})
                  AND hi IN (SELECT node FROM {prev})
            ) GROUP BY node
        )
        SELECT n.node,
               n.node IN (SELECT node FROM {prev}) AS in_core,
               COALESCE(cd.core_degree, 0) AS core_degree
        FROM act0 n LEFT JOIN core_deg cd ON cd.node = n.node
    """
    )


QUERIES = {
    "dedup_clusters": q_dedup_clusters,
    "dedup_representatives": q_dedup_representatives,
    "entity_resolution": q_entity_resolution,
    "entity_golden_record": q_entity_golden_record,
    "pagerank_knn": q_pagerank_knn,
    "triangle_count_knn": q_triangle_count_knn,
    "k_core_knn": q_k_core_knn,
}
ORACLES["pagerank_knn"] = ORACLES_PAGERANK
ORACLES["triangle_count_knn"] = ORACLES_TRIANGLES
ORACLES["k_core_knn"] = _k_core_oracle_sql()
