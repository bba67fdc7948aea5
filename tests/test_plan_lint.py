"""Fleet-wide physical-plan lint: EVERY registered batch query must be
free of scale anti-patterns, not just the handful with dedicated plan
tests. Guards all future registry additions automatically.

Rules:
- no ``CartesianProduct`` ever (an unbroadcast cross product is a
  cluster-killer at any scale);
- no ``BatchEvalPython`` (row-at-a-time Python; every Python touchpoint
  must be Arrow-batched: ArrowEvalPython / mapInPandas / applyInPandas);
- ``BroadcastNestedLoopJoin`` only where the broadcast side is provably
  tiny by construction (whitelisted below with the reason);
- no single-partition Exchange feeding a Window unless the window's
  input is bounded by construction (whitelisted below) — the pattern
  that made round 2's ``deterministic_shuffle`` a one-task stage at any
  cluster size; fact-sized total orders must use
  ``corpus.global_positions`` instead;
- no ``explode``/``posexplode`` over a per-element lambda (interpreted
  outside whole-stage codegen; explode the sequence instead).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR, job_group

# BNLJ is acceptable only when the broadcast side is O(1) rows by
# construction — these are deliberate, documented shapes:
BNLJ_WHITELIST = {
    "embedding_near_dup",  # brute-force cross-CHECK tier (dedup.py): the
    #   registered scale path is embedding_near_dup_lsh
    "knn_cosine",  # exact baseline: 5-row query set broadcast vs corpus
    "hard_negative_mining",  # same 5-row broadcast query set; the
    #   label-mismatch predicate rides the same one-corpus-scan shape
    "matryoshka_knn",  # same 5-row broadcast query set; coarse stage is
    #   the one corpus scan, re-rank touches only top-MAT_CAND candidates
    "mmr_diverse_topk",  # same 5-row query set broadcast vs corpus by
    #   cosine_topk; the greedy re-rank runs on ≤MMR_CAND rows per query
    "tpch_q22_idle_balances",  # 1-row scalar-subquery crossJoin
    "tpch_q11_important_parts",  # 1-row scalar-subquery crossJoin
    "maxabs_normalize",  # 1-row global-aggregate crossJoin (fit constants)
    "zscore_normalize",  # same shape: 1-row (mean, stddev) crossJoin
    # (pagerank_knn / triangle_count_knn: their PR_NODES-bounded kNN
    #  edge-build BNLJ runs inside an eager localCheckpoint job at build
    #  time — see BUILD_JOBS_WHITELIST — so it is not in the plan)
    "bm25_topk",  # 1-row corpus-stats (N, avgdl) crossJoin
    "psi_drift",  # 1-row (tot_a, tot_b) totals crossJoin over the
    #   ≤|buckets| counts frame
    "chi2_independence",  # 1-row grand-total crossJoin over the ≤r·c
    #   contingency-cell frame
    "histogram_quantiles",  # 1-row (min,max,n) crossJoin + 3-row probe
    #   join onto the ≤100-bucket cumulative table
    "kmv_distinct_sketch",  # union row = k-row merged sketch crossJoined
    #   with the 1-row global exact count (accuracy report column)
    "dataset_card",  # 1-row corpus summary crossJoined with the 1-row
    #   top-language pick
    "negative_sampling",  # 1-row corpus-count crossJoin feeding the
    #   hash-ring offsets
    "source_mix_report",  # 1-row corpus-token-total crossJoin (replaced
    #   the unpartitioned total window, round 3)
    "mixture_resample",  # same: 1-row (total, n_sources) rate constants
    #   crossJoined onto the per-source table
    "temperature_mixture",  # same: 1-row total + 1-row normalizer
    #   crossJoined onto the per-language table
    "kmv_jaccard_sources",  # |sources|² pair build (inequality join on
    #   the dimension-sized source list); all pairwise work runs on
    #   |sources|·k sketch rows, never the corpus
    "association_rules",  # 1-row basket-total crossJoin onto the
    #   ≤|brands|² rule table
    "target_encoding",  # 1-row global-prior crossJoin onto the
    #   ≤|categories| encoder table
    "ddsketch_quantiles",  # 1-row n crossJoin + 3-probe inequality join
    #   onto the ≤|γ-buckets| cumulative sketch table
    "rfm_segments",  # 1-row max-orderdate crossJoin onto the orders
    #   before the per-customer aggregate
    "ucb_bandit_scores",  # 1-row trial-total crossJoin onto the
    #   |arms|-row score table
    "kaplan_meier",  # 1-row (N, end-day) crossJoins onto the ≤|days|
    #   duration table
    "training_set_assembly",  # |cutoffs|-row (3) broadcast inequality
    #   join — the deliberate ×|cutoffs| multi-snapshot fact explode
    "benford_digit_test",  # 1-row digit-total crossJoin onto the
    #   9-row report
    "activity_heatmap",  # 1-row total crossJoin onto the 7×24 matrix
    "roc_curve_points",  # |thresholds|-row (11) broadcast sweep — the
    #   deliberate ×|thresholds| explode of the classifier eval
    "roc_auc",  # same sweep + 1-row (P, N) totals crossJoin
    "largest_remainder_alloc",  # 1-row total + 1-row leftover crossJoins
    #   onto the ≤|nations| allocation table
    # (pps_systematic_sample: its step/u constants now come from the
    #  total global_running_sum already prefix-summed on the driver, so
    #  the 1-row crossJoin leg is gone from the plan)
    "priority_sample_topk",  # 1-row (count, threshold-boundary) crossJoin
    #   onto the cached K+1-row TakeOrdered frame
    "ks_mann_whitney",  # 1-row (n_a, n_b) totals crossJoin onto the
    #   ≤|distinct values| compacted frame
    "source_drift_matrix",  # |sources|-row × |distinct values|-row grid
    #   crossJoin — both dimension-sized aggregates, never the fact
}


# an UNPARTITIONED window is fine ONLY when its input is bounded by
# construction (post-aggregation frames). r15 refined the rule from the
# old "Exchange SinglePartition + Window co-occurrence" heuristic to the
# actual hazard — a windowspecdefinition with no partition columns —
# which removed the keyed-window false positives (strict_funnel,
# event_pattern_match, chi2_independence, rfm_segments,
# gini_concentration, order_cycle_time, kmv_distinct_sketch) from this
# list and surfaced zipf_slope (real, bounded).
GLOBAL_WINDOW_WHITELIST = {
    "source_mix_report",  # cumulative share over one row per source
    "monthly_growth",  # lag over the ~monthly revenue series
    "histogram_quantiles",  # cumulative window over the ≤100-bucket
    #   histogram — bounded by construction
    "topk_with_others",  # rank over the |priorities|-row aggregate
    "rolling_corr_events",  # 24h frame over the ≤|hours| hourly rollup
    "ddsketch_quantiles",  # cumulative window over the ≤|γ-buckets|
    #   (~630-row) sketch histogram — bounded by construction
    "kaplan_meier",  # cumulative risk/survival windows over the
    #   ≤|days| (30-row) duration table — bounded by construction
    "roc_auc",  # lead window over the 11-row threshold frame — bounded
    #   by construction
    "largest_remainder_alloc",  # remainder rank over the ≤|nations|
    #   (25-row) allocation aggregate — bounded by construction
    "ks_mann_whitney",  # cumulative window over the ≤|distinct values|
    #   (~90-row) compacted count frame — bounded by construction
    "zipf_slope",  # rank window over the TakeOrderedAndProject
    #   ZIPF_TOP(=200)-row head — bounded by construction
}


# Window nodes whose FIRST partition expression is a known
# low-cardinality fixture column (the weighted-median flaw class, fixed
# round 9): an UNBOUNDED cumsum/rank there sorts each group's entire
# fact in one task no matter the cluster size. Allowed ONLY when the
# window's input is bounded by construction — a post-aggregation frame,
# or a rank ≤ k filter Spark bounds via WindowGroupLimit pushdown.
# Fact-sized per-group cumsums must use corpus.grouped_running_sum.
LOWCARD_WINDOW_COLS = (
    "source",
    "lang",
    "true_lang",
    "guess_lang",
    "l_returnflag",
    "l_linestatus",
    "o_orderpriority",
    "o_orderstatus",
    "event_type",
    "weekday",
    "cohort",
    "r_name",
    "n_name",
)
LOWCARD_WINDOW_WHITELIST = {
    "chi2_independence",  # row/col windows over the ≤r·c cell frame
    "cohort_ltv",  # cumsum over the ≤|cohorts|·|ages| aggregate
    "kmv_distinct_sketch",  # rank ≤ k per source — WindowGroupLimit
    #   bounds the per-group sort input to k rows per map partition
    "kmv_jaccard_sources",  # rank over the |sources|·k sketch rows
    "lang_id_confusion",  # share window over the ≤|langs|² cell frame
    "theil_sen_trend",  # median-rank window over the ≤|days|²-per-type
    #   daily-pair slope frame (days are bounded by the fixture epoch)
    "topk_hash_sample",  # rank ≤ K per source — WindowGroupLimit
    "priority_sample_per_source",  # rank ≤ K+1 per source —
    #   WindowGroupLimit bounds the per-group sort to K+1 rows per map
    #   partition
    "source_drift_matrix",  # cumulative CDF window over the bounded
    #   |sources|·|distinct values| post-aggregation grid
}
import re  # noqa: E402 — used by the window and generator rules below

_LOWCARD_RE = re.compile(
    r"windowspecdefinition\((" + "|".join(LOWCARD_WINDOW_COLS) + r")#"
)

# The spec slice up to its frame clause is what we inspect.
_WINDOWSPEC_RE = re.compile(r"windowspecdefinition\((.*?)specifiedwindowframe")
# an unpartitioned spec starts with a SORT expression (col#id ASC/DESC);
# a keyed spec lists bare partition columns first
_UNPART_RE = re.compile(r"^(\w+)#\d+L? (?:ASC|DESC)")


def _lowcard_window_hit(plan: str) -> str | None:
    m = _LOWCARD_RE.search(plan)
    return m.group(1) if m else None


def _unpartitioned_window_hit(plan: str) -> str | None:
    """First unpartitioned window — the all-rows-to-one-task hazard the
    old SinglePartition+Window co-occurrence heuristic approximated (this
    form no longer false-positives on keyed windows that merely share a
    plan with a 1-row summary aggregate, but those whitelist entries are
    kept)."""
    for m in _WINDOWSPEC_RE.finditer(plan):
        um = _UNPART_RE.match(m.group(1))
        if um:
            return um.group(1)
    return None


def _batch_queries():
    from pb_etl_spark.registry import all_queries

    # stream_* execute an availableNow drain inside the query function —
    # they are plan-audited in tests/test_streaming*.py instead
    return {n: f for n, f in all_queries().items() if not n.startswith("stream_")}


def test_no_scale_antipatterns_in_any_registered_plan(spark):
    offenders: dict[str, list[str]] = {}
    for name, fn in _batch_queries().items():
        plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        hits = []
        if "CartesianProduct" in plan:
            hits.append("CartesianProduct")
        if "BatchEvalPython" in plan:
            hits.append("BatchEvalPython(row-at-a-time Python)")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_WHITELIST:
            hits.append("BroadcastNestedLoopJoin(unwhitelisted)")
        unpart = _unpartitioned_window_hit(plan)
        if unpart and name not in GLOBAL_WINDOW_WHITELIST:
            hits.append(f"UnpartitionedWindow({unpart}, unwhitelisted)")
        lowcard = _lowcard_window_hit(plan)
        if lowcard and name not in LOWCARD_WINDOW_WHITELIST:
            hits.append(f"LowCardinalityWindow({lowcard}, unwhitelisted)")
        if hits:
            offenders[name] = hits
    assert not offenders, offenders


def test_global_window_whitelist_is_not_stale(spark):
    """Whitelisted bounded-global-window queries must still exist and
    still exercise the pattern, or the exemption silently rots. (r15:
    the pattern is now a real unpartitioned window — the old
    SinglePartition+Window co-occurrence entries that were false
    positives of keyed windows were pruned with the rule refinement.)"""
    queries = _batch_queries()
    for name in GLOBAL_WINDOW_WHITELIST:
        assert name in queries, f"whitelisted query {name} no longer registered"
        plan = queries[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        if _unpartitioned_window_hit(plan) is None:
            pytest.fail(
                f"{name} no longer has an unpartitioned window — remove "
                "it from GLOBAL_WINDOW_WHITELIST"
            )


def test_bnlj_whitelist_is_not_stale(spark):
    """Every whitelisted query must still exist and still need the
    exemption — a stale entry would silently re-admit the pattern."""
    queries = _batch_queries()
    for name in BNLJ_WHITELIST:
        assert name in queries, f"whitelisted query {name} no longer registered"
        plan = queries[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        if "BroadcastNestedLoopJoin" not in plan:
            pytest.fail(f"{name} no longer uses BNLJ — remove it from the whitelist")


def test_lowcard_window_whitelist_is_not_stale(spark):
    """Every whitelisted low-cardinality-window query must still exist
    and still exercise the pattern, or the exemption silently rots."""
    queries = _batch_queries()
    for name in LOWCARD_WINDOW_WHITELIST:
        assert name in queries, f"whitelisted query {name} no longer registered"
        plan = queries[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        if _lowcard_window_hit(plan) is None:
            pytest.fail(
                f"{name} no longer windows over a low-cardinality key — "
                "remove it from LOWCARD_WINDOW_WHITELIST"
            )


# ---------------------------------------------------------------------------
# Hardcoded fan-out width (the r11/r12 verdict class) — two guards:
# source-level (no bare defaultParallelism outside the sanctioned sites)
# and plan-level (no exchange sized to the core count when the session's
# shuffle setting differs).
# ---------------------------------------------------------------------------

# The only sanctioned bare-defaultParallelism sites in the package
# (r12 verdict item 2 pinned both exemptions explicitly):
# - operators/_width.py: the shared helper's own core-count floor;
# - operators/retrieval._scan_width: models Spark's FilePartition
#   maxSplitBytes formula, which itself divides by defaultParallelism —
#   converting it would make the model disagree with the engine;
# - streaming/windows.run_to_memory: bounded min(32, ·) state-partition
#   pin for test drains (state stores, not a data fan-out).
_WIDTH_SOURCE_WHITELIST = {
    ("pb_etl_spark/operators/_width.py", None),
    ("pb_etl_spark/operators/retrieval.py", "_scan_width"),
    ("pb_etl_spark/streaming/windows.py", "run_to_memory"),
}


def test_no_bare_default_parallelism_in_package():
    """Tokenize every package module (comments/docstrings drop out as
    COMMENT/STRING tokens — ADVICE r12 item 4 killed the positional
    string-split approach that could go silently inert) and assert every
    remaining ``defaultParallelism`` NAME token sits inside a
    whitelisted (file, function) site."""
    import inspect
    import io
    import tokenize
    from pathlib import Path

    import pb_etl_spark
    from pb_etl_spark.operators import retrieval
    from pb_etl_spark.streaming import windows

    pkg_root = Path(inspect.getfile(pb_etl_spark)).parent.parent
    spans: dict[str, range] = {}
    for rel, fn in _WIDTH_SOURCE_WHITELIST:
        if fn is None:
            continue
        mod = retrieval if "retrieval" in rel else windows
        lines, start = inspect.getsourcelines(getattr(mod, fn))
        spans[rel] = range(start, start + len(lines))

    offenders = []
    for py in sorted((pkg_root / "pb_etl_spark").rglob("*.py")):
        rel = str(py.relative_to(pkg_root))
        if (rel, None) in _WIDTH_SOURCE_WHITELIST:
            continue
        toks = tokenize.generate_tokens(io.StringIO(py.read_text()).readline)
        for tok in toks:
            if tok.type == tokenize.NAME and tok.string == "defaultParallelism":
                if tok.start[0] in spans.get(rel, range(0)):
                    continue
                offenders.append(f"{rel}:{tok.start[0]}")
    assert not offenders, (
        "bare defaultParallelism fan-out (use operators._width.fanout_width "
        f"or whitelist with a reason): {offenders}"
    )


def test_width_source_whitelist_is_not_stale():
    """Each whitelisted (file, function) must still exist and still
    reference defaultParallelism, or the exemption silently rots."""
    import inspect

    from pb_etl_spark.operators import _width, retrieval
    from pb_etl_spark.streaming import windows

    assert "defaultParallelism" in inspect.getsource(_width)
    assert "defaultParallelism" in inspect.getsource(retrieval._scan_width)
    assert "defaultParallelism" in inspect.getsource(windows.run_to_memory)


# One full-registry plan walk under a sentinel shuffle-partitions
# setting serves BOTH width rules below and the build-jobs rule
# (building ~300 plans is the expensive part; the rule checks are
# string scans and job counts). 96 is chosen to (a) differ from
# defaultParallelism and every fixture width, and (b) exceed the
# 64-entry literal-map threshold, so a reintroduced
# O(shuffle.partitions)-wide CreateMap probe (the r13→r14 verdict
# item 1 class) is visible at the sentinel width.
_SENTINEL = "96"
_sentinel_plans_cache: dict[str, str] = {}
_sentinel_build_jobs: dict[str, int] = {}

# Building a registered frame launches no Spark job: plan-only consumers
# (these sweeps, tools/capture_plans.py) then pay for analysis alone, and
# the build/action split of a query's time stays clean. An entry names a
# query whose build must act, and why.
BUILD_JOBS_WHITELIST: dict[str, str] = {
    "sql_scripting_threshold": "its driver-side control flow is the feature",
    "dedup_clusters": "connected components run until the labels stop "
    "changing, which depends on the data",
    "dedup_representatives": "the same connected-components loop",
    "shingle_containment_pairs": "counts its pinned shingle table up front "
    "on purpose",
    "dynamic_partition_pruning": "DPP needs a plain literal threshold, and "
    "the partitioned read lists files",
    "ann_ivf_topk": "its trained centroids are shipped in a closure",
    "ann_pq_topk": "its trained codebooks are shipped in a closure",
    "sprt_decision": "bakes a |variants|-entry offset map",
    "asof_join": "freezes a nondeterministic row id before the plan branches",
    "session_variable_agg": "SET VAR runs a job",
    "partition_pruned_scan": "the partitioned read lists its directory",
    "binaryfile_ingest": "the binaryFile read lists its directory",
    # a frame that several legs share stays an eager localCheckpoint where
    # cache.pin measured slower (build+collect, min of 6-8 interleaved
    # runs at sf0.01, 4 cores)
    "dsir_weights": "checkpoints its bucket model: pinned 0.67 s vs 0.56 s",
    "vocab_drift": "checkpoints its token cells and collects their two "
    "totals: pinned 0.63 s vs 0.45 s; scalar totals ~0.1 s slower (median)",
    "pagerank_knn": "checkpoints its kNN edges and nodes: pinned 1.27 s vs "
    "1.12 s",
    "triangle_count_knn": "checkpoints its undirected edges: pinned 0.99 s "
    "vs 0.82 s",
    "kmv_distinct_sketch": "checkpoints its (source, token) set: pinned "
    "0.69 s vs 0.58 s",
}


def _warm_reads(spark) -> None:
    """Pay the once-per-JVM and once-per-fixture costs up front, so a
    build's job count is its own: the first read of a table runs a
    schema job, and the bucketed and ORC copies are written once."""
    from pathlib import Path

    from pb_etl_spark.catalog import read_table
    from pb_etl_spark.operators.bucketing import bucketed_tables
    from pb_etl_spark.operators.layout import orc_orders_path

    for table in sorted(Path(SF_DIR).glob("*.parquet")):
        read_table(spark, SF_DIR, table.stem)
    bucketed_tables(spark, SF_DIR)
    orc_orders_path(spark, SF_DIR)


def _sentinel_plans(spark) -> dict[str, str]:
    if _sentinel_plans_cache:
        return _sentinel_plans_cache
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, _SENTINEL)
        # drop InMemoryRelations registered by earlier tests' sessions:
        # a .persist() frame cached under the 4-partition conf would be
        # re-served here with its old hashpartitioning(..., 4) — a false
        # positive of the width lint, not a hardcoded width
        spark.catalog.clearCache()
        # build into a LOCAL dict and publish only when the walk
        # completed: a mid-loop failure would otherwise leave a partial
        # cache that the OTHER width lint silently accepts as complete,
        # never linting the unbuilt remainder (review finding)
        _warm_reads(spark)
        built: dict[str, str] = {}
        jobs: dict[str, int] = {}
        for name, fn in _batch_queries().items():
            with job_group(spark, f"sentinel-build-{name}") as n_jobs:
                df = fn(spark, SF_DIR)
            jobs[name] = n_jobs()
            built[name] = df._jdf.queryExecution().executedPlan().toString()
        _sentinel_plans_cache.update(built)
        _sentinel_build_jobs.update(jobs)
    finally:
        spark.conf.set(key, prev)
        # symmetric: don't serve sentinel-width caches to later tests
        spark.catalog.clearCache()
    return _sentinel_plans_cache


def test_no_core_count_sized_exchange_in_any_registered_plan(spark):
    """Plan-level twin of the source lint (r12 verdict item 3): build
    every registered batch plan under a shuffle-partitions setting that
    DIFFERS from defaultParallelism (the driver's vanilla 200 vs a
    cluster's core count is exactly this situation) and flag any
    exchange whose explicit width equals the core count — the signature
    of a hardcoded ``repartition(defaultParallelism, ...)`` that a
    data-proportional deployment knob can no longer reach."""
    dp = spark.sparkContext.defaultParallelism
    assert str(dp) != _SENTINEL
    offenders = {}
    for name, plan in _sentinel_plans(spark).items():
        hit = next((w for w in _partitioning_widths(plan) if w[1] == dp), None)
        if hit:
            offenders[name] = hit[0]
    assert not offenders, (
        f"core-count-sized exchange under a {_SENTINEL}-partition session "
        f"(route the width through operators._width.fanout_width): {offenders}"
    )


def test_building_a_registered_query_launches_no_job(spark):
    """Each batch query's frame is built under its own job group in the
    sentinel walk; outside BUILD_JOBS_WHITELIST the build must launch 0
    jobs (a collected scalar becomes a ``DataFrame.scalar()`` subquery,
    and a frame several legs share is a ``cache.pin`` unless a pin
    measured slower)."""
    _sentinel_plans(spark)
    offenders = {
        name: n
        for name, n in _sentinel_build_jobs.items()
        if n and name not in BUILD_JOBS_WHITELIST
    }
    assert not offenders, f"Spark jobs launched while building: {offenders}"


def test_build_jobs_whitelist_is_not_stale(spark):
    """Every whitelisted query must still exist and still launch a job
    while it is built, or the exemption silently rots."""
    _sentinel_plans(spark)
    for name in BUILD_JOBS_WHITELIST:
        assert name in _sentinel_build_jobs, f"{name} no longer registered"
        if not _sentinel_build_jobs[name]:
            pytest.fail(
                f"{name} no longer launches a job while built — remove it "
                "from BUILD_JOBS_WHITELIST"
            )


# A generator over a higher-order function's array (``explode(transform(
# sequence(...), i -> ...))``) evaluates every element's lambda outside
# whole-stage codegen (Spark 4.1's ArrayTransform, ZipWith, ArrayFilter
# and ArrayAggregate are CodegenFallback). Row expansions explode the
# sequence itself and compute each element with built-ins on the
# exploded row instead (``text.ngram_rows``); no registered query needs
# an exemption.
_GENERATOR_RE = re.compile(r"Generate (?:pos)?explode(?:_outer)?\(")


def _lambda_explode_hit(plan: str) -> str | None:
    """The first explode/posexplode whose generator argument holds a
    lambda, as a snippet; None if there is none."""
    for m in _GENERATOR_RE.finditer(plan):
        depth, i = 1, m.end()
        while i < len(plan) and depth:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        if "lambdafunction" in plan[m.end() : i - 1]:
            return plan[m.start() : min(i, m.start() + 120)]
    return None


def test_no_explode_over_a_lambda_in_any_registered_plan(spark):
    offenders = {
        name: hit
        for name, plan in _sentinel_plans(spark).items()
        if (hit := _lambda_explode_hit(plan))
    }
    assert not offenders, (
        "explode over a per-element lambda (explode the sequence and use "
        f"built-ins per row, see text.ngram_rows): {offenders}"
    )


def test_lambda_explode_extractor():
    plan = (
        "Generate explode(transform(sequence(0, n#1), lambdafunction(concat("
        "x#2, lambda i#3), lambda i#3, false))), [id#0], false, [k#4]\n"
        "Generate explode(sequence(1, n#1)), [id#0], false, [pos#5]\n"
        "Project [transform(a#6, lambdafunction(x#7, lambda x#7, false))]"
    )
    assert _lambda_explode_hit(plan).startswith("Generate explode(transform(")
    assert _lambda_explode_hit(plan.split("\n", 1)[1]) is None


# No registered plan may probe a literal map wider than this: GetMapValue
# on a literal map is a LINEAR key scan per evaluation (no hash index),
# so a map sized to shuffle.partitions costs O(P) per output row at a
# 20k-partition deployment. Legitimately-bounded maps (|variants|-row
# sprt offsets, raise_error's 1-entry message map, per-pid group maps
# inside array literals) all sit far below the threshold.
_MAP_LITERAL_MAX = 64
WIDE_MAP_WHITELIST: dict[str, str] = {}


def test_no_wide_literal_map_in_any_registered_plan(spark):
    """r13 verdict item 1 regression guard: the global_positions-family
    offset lookups were converted from CreateMap literals probed per
    output row to array literals indexed by spark_partition_id (O(1)
    GetArrayItem; count-time-empty pids hold NULL so the drift
    trip-wire survives; the grouped variant nests per-pid group maps
    bounded by groups-per-partition). This lint scans every registered
    plan built under the {_SENTINEL}-partition sentinel — wider than
    the threshold, so the banned shape cannot hide at fixture width —
    and flags any map expression with more than 64 entries."""
    offenders = {}
    for name, plan in _sentinel_plans(spark).items():
        widths = [w for w in _map_literal_widths(plan) if w > _MAP_LITERAL_MAX]
        if widths and name not in WIDE_MAP_WHITELIST:
            offenders[name] = max(widths)
    assert not offenders, (
        f"literal map wider than {_MAP_LITERAL_MAX} entries in a "
        "registered plan (O(width) linear scan per row — build a "
        "keyed frame and broadcast-join it instead, see corpus._running_sum): "
        f"{offenders}"
    )


def _map_literal_widths(plan: str) -> list[int]:
    """Entry count of every ``map(...)`` expression printed in a
    physical-plan string. Folded literals print
    ``map(keys: [k1,k2,...], values: [...])`` (count the keys);
    unfolded CreateMap prints ``map(k1, v1, k2, v2, ...)`` (entries =
    top-level args / 2). Balanced-delimiter extraction for the same
    reason as ``_partitioning_widths``; truncated plans skip. Maps
    nested inside folded ARRAY literals print bare
    ``keys: [...], values: [...]`` with no ``map(`` prefix and are
    deliberately not counted — those are the sanctioned per-pid bounded
    maps."""
    out = []
    i = 0
    while True:
        m = plan.find("map(", i)
        if m < 0:
            return out
        i = m + 4
        if m and (plan[m - 1].isalnum() or plan[m - 1] == "_"):
            continue  # map_from_entries( / *_map( — a different function
        depth, j, commas = 1, i, 0
        while j < len(plan) and depth:
            ch = plan[j]
            if ch in "([{":
                depth += 1
            elif ch in ")]}":
                depth -= 1
            elif ch == "," and depth == 1:
                commas += 1
            j += 1
        if depth:  # truncated plan string — nothing to extract
            continue
        inner = plan[i : j - 1]
        if inner.startswith("keys: ["):
            close = inner.find("]", len("keys: ["))
            if close < 0:
                continue
            keys = inner[len("keys: [") : close]
            out.append(0 if not keys.strip() else keys.count(",") + 1)
        else:
            out.append((commas + 1) // 2)


def _partitioning_widths(plan: str) -> list[tuple[str, int]]:
    """(snippet, explicit partition count) for every partitioning node
    in a physical-plan string. Paren-balanced last-argument extraction
    rather than a `[^)]*?` regex: a partitioning key containing its own
    parens (e.g. ``hashpartitioning(abs(x#1)#5, 200)``) would hide the
    trailing count from a non-nesting regex (r13 review finding)."""
    import re as _re

    out = []
    for m in _re.finditer(
        r"(?:hashpartitioning|rangepartitioning|RoundRobinPartitioning)\(", plan
    ):
        depth, i = 1, m.end()
        while i < len(plan) and depth:
            if plan[i] == "(":
                depth += 1
            elif plan[i] == ")":
                depth -= 1
            i += 1
        if depth:  # truncated plan string — nothing to extract
            continue
        inner = plan[m.end() : i - 1]
        last = inner.rsplit(",", 1)[-1].strip()
        if last.isdigit():
            out.append((plan[m.start() : i], int(last)))
    return out


def test_partitioning_width_extractor_handles_nested_parens():
    got = _partitioning_widths(
        "Exchange hashpartitioning(abs(x#1)#5, 37), REPARTITION\n"
        "Exchange rangepartitioning(y#2 ASC NULLS FIRST, 4), ...\n"
        "Exchange RoundRobinPartitioning(4), REPARTITION_BY_NUM\n"
        "Exchange hashpartitioning(coalesce(a#3, b#4), 200), ..."
    )
    assert [w for _, w in got] == [37, 4, 4, 200]


def test_map_literal_width_extractor():
    got = _map_literal_widths(
        # folded literal: count the keys list
        "Project [map(keys: [0,1,2], values: [10,20,30])[pid#1] AS x#9]\n"
        # unfolded CreateMap: top-level args / 2 (nested parens ignored)
        "Project [map(a#1, concat(b#2, c#3), d#4, e#5)[k#6]]\n"
        # raise_error's internal 1-entry message map
        "cast(raise_error(USER_RAISED_EXCEPTION, map(errorMessage, m#7)))\n"
        # different functions sharing the suffix must not match
        "map_from_entries(arr#8)\n"
        # maps nested in a folded ARRAY literal print WITHOUT map( —
        # deliberately not counted (sanctioned per-pid bounded maps)
        "[keys: [a,b], values: [1,2],keys: [c], values: [3]][pid#1]\n"
        # truncated tail: skipped, no crash
        "Project [map(q#1, r#2"
    )
    assert got == [3, 2, 1]
