"""Benchmark harness: times the HEADLINE queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on ``local[N]``, N = ``session.LOCAL_CPUS``
($SPARK_GRAFT_CPUS, else every core), and prints ONE JSON line,
``encode_line``'s: the fixed ``NAMED`` subset name-keyed in "queries",
the rest index-coded in "qx" ({<HEADLINE index>: secs}), "hl" (the
crc32 of HEADLINE), then "metric", "value" (the total, s), "unit" and
"sf". A plain JSON reader gets the NAMED rows by name; ``decode_line``
recovers all of them. The line stays within 1900 bytes for any timings
up to 99.999 s (pinned by tests/test_bench_line.py), so a 2000-byte
tail capture of the output keeps it whole. Each run also writes the
decoded full-name record to ``.bench/BENCH_FULL_latest.json`` (ignored;
override with $SPARK_GRAFT_BENCH_FULL_PATH).

Each query is executed with a noop-format write: unlike ``count()`` —
which Catalyst rewrites to Aggregate(count(1)) and then PRUNES the
query's own aggregates/projections out of the plan — the noop sink
materializes every output column (full real work), with no driver-side
pandas conversion or disk cost in the measurement.

Each query is timed ``N_RUNS`` times ($SPARK_GRAFT_BENCH_RUNS, default
3) and the MINIMUM is recorded: the min is the least-noise estimator of
the engine's actual cost (ambient load on a shared host only ever adds
time, never subtracts), which keeps a same-host A/B about plan changes
rather than scheduler luck.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import zlib

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pb_etl_spark.registry import all_queries
from pb_etl_spark.session import LOCAL_CPUS, get_spark

HEADLINE = [
    "tpch_q1_pricing",
    "tpch_q6_revenue",
    "tpch_q3_shipping",
    "tpch_q18_large_orders",
    "star_join_revenue",
    "groupby_agg",
    "filter_pushdown",
    "maxabs_normalize",
    "left_join",
    "window_topk_per_group",
    "sort_limit",
    "json_extract_agg",
    "tumbling_window",
    "session_window",
    "dedup_exact",
    "text_quality",
    "knn_cosine",
    "backtest_rates",
    # round-2 additions: the LLM-pipeline families now have headline
    # representation (r1 entries above are unchanged for comparability)
    "minhash_near_dup_pairs",
    "embedding_near_dup_lsh",
    "seq_packing",
    "quality_filter_chain",
    "vector_quantize",
    "pq_codes",
    "fuzzy_match_pairs",
    "gap_fill_resample",
    # round-2 late additions: sketches, retrieval cascade, CDC diff,
    # storage-layout math
    "kmv_distinct_sketch",
    "matryoshka_knn",
    "snapshot_diff",
    "zorder_key",
    "mixture_resample",
    # round-3 additions: the remaining heavy families, tracked before the
    # driver ever times them (BPE encode, substring/semantic dedup,
    # graph), plus the queries rewritten scale-safe this round
    "bpe_encode_counts",
    "substring_dup_spans",
    "semantic_dedup",
    "pagerank_knn",
    "deterministic_shuffle",
    "curriculum_buckets",
    # round-3 new operators: selection / monitoring / sketch set-ops
    "ols2_per_group",
    "dsir_weights",
    "vocab_drift",
    "shard_manifest",
    "kmv_jaccard_sources",
    "ewma_user_value",
    # round-3 event-analytics family: the sliding COUNT DISTINCT is the
    # scale-interesting one (x7 explode of the deduped pair set), and the
    # SCD2 merge tracks the union+join cost of dimension maintenance
    "rolling_active_users",
    "scd2_merge_orders",
    "interval_overlap_join",
    # late round-3: the iterative record-linkage pipeline (heaviest new
    # entry — tracked before the driver ever times it) and the
    # delta-maintenance path
    "entity_resolution",
    "incremental_agg_maintenance",
    # round-4 additions (r03 verdict directive #7): golden-record rides
    # the heaviest pipeline (re-runs entity_resolution + survivorship),
    # and DPP's benefit heuristic gets a timed row
    "entity_golden_record",
    "dynamic_partition_pruning",
    # round-4 new operators, tracked before the driver ever times them:
    # basket self-join, interaction-matrix self-join, 3-quintile running sum,
    # sketch insert path, unrolled greedy re-rank, iterative peel
    "association_rules",
    "item_item_cosine",
    "rfm_segments",
    "ddsketch_quantiles",
    "mmr_diverse_topk",
    "k_core_knn",
    # round-5 new operators, tracked before the driver ever times them:
    # the two fixed-round graph loops (4-round LPA, 6-round BFS — per-
    # round join+agg cost), the calendar-bounded pairwise slope join,
    # the gaps-and-islands window pass, and the global_running_sum
    # consumer
    "label_propagation_knn",
    "bfs_hops_knn",
    "theil_sen_trend",
    "interval_coverage",
    "abc_classification",
    # round-8 new operators, tracked before the driver ever times them:
    # the one-sided-prefix shingle self-join, the bitmap partial→merge
    # cascade, the global_running_sum pointer sampler, the per-row
    # XML codec pass, and the (bounded-math) apportionment rollup
    "shingle_containment_pairs",
    "bitmap_distinct_counts",
    "pps_systematic_sample",
    "xml_roundtrip_agg",
    "largest_remainder_alloc",
    "weighted_median_by_group",
    # round-9 new operators: the grouped_running_sum primitive's four
    # faces — the full-fact per-priority cumsum, the compacted grouped
    # exact-quantile family, the exact-quota stratified split, and the
    # per-nation Gini over constant-1 positions
    "grouped_running_revenue",
    "grouped_quantiles_exact",
    "exact_stratified_split",
    "gini_by_group",
    # round-10 new operators: the exact-K weighted samplers (global
    # TakeOrderedAndProject pass; per-source WindowGroupLimit rank) and
    # the compacted drift tests (two-sample KS + Mann-Whitney; pairwise
    # source KS matrix)
    "priority_sample_topk",
    "priority_sample_per_source",
    "ks_mann_whitney",
    "source_drift_matrix",
    # round-11: embedding_near_dup_lsh above is now the production-
    # regime face (16 planes x 8 tables, cos >= 0.9, twin-planted
    # corpus — expect a step CHANGE vs r10 records: different, linear
    # workload); the old 0.4-threshold quadratic face keeps a timed row
    # under its new sweep-tier name, and the streaming drift gate is
    # tracked before the driver ever times it
    "embedding_near_dup_lsh_lowt",
    "stream_drift_monitor",
    # late round-11: the wallet scan's plan changed wholesale (per-user
    # Python loop -> closed-form JVM window identity, 3.3 s -> 0.6 s at
    # sf0.1) — give the driver a timed row on the new plan
    "capped_running_balance",
    # round-12: the PSI face of the streaming retrain-gate family,
    # tracked before the driver ever times it (same compacted-cells
    # drain pattern as stream_drift_monitor — expect micro-batch fixed
    # cost, not data cost)
    "stream_psi_monitor",
    # round-13: the Dunning-G² face completing the streaming monitor
    # trio — same drain pattern, but vocab-sized (not bucket-sized)
    # complete-mode state, so its timing tracks the token explode
    "stream_vocab_drift",
]

# The name-keyed subset of the stdout line: the 45 slowest queries as of
# r14, a FIXED list so every run emits the same names whatever its core
# count. Append new heavyweights here only while the worst-case line
# stays under 1900 B (tests/test_bench_line.py pins it).
NAMED = [
    "mmr_diverse_topk",
    "shingle_containment_pairs",
    "entity_golden_record",
    "association_rules",
    "entity_resolution",
    "fuzzy_match_pairs",
    "ddsketch_quantiles",
    "rfm_segments",
    "item_item_cosine",
    "stream_vocab_drift",
    "embedding_near_dup_lsh_lowt",
    "stream_drift_monitor",
    "embedding_near_dup_lsh",
    "rolling_active_users",
    "k_core_knn",
    "substring_dup_spans",
    "stream_psi_monitor",
    "pagerank_knn",
    "ewma_user_value",
    "tpch_q1_pricing",
    "grouped_quantiles_exact",
    "kmv_distinct_sketch",
    "weighted_median_by_group",
    "gini_by_group",
    "star_join_revenue",
    "semantic_dedup",
    "scd2_merge_orders",
    "tpch_q3_shipping",
    "bfs_hops_knn",
    "seq_packing",
    "grouped_running_revenue",
    "dsir_weights",
    "label_propagation_knn",
    "incremental_agg_maintenance",
    "minhash_near_dup_pairs",
    "snapshot_diff",
    "matryoshka_knn",
    "exact_stratified_split",
    "maxabs_normalize",
    "source_drift_matrix",
    "dynamic_partition_pruning",
    "tpch_q18_large_orders",
    "shard_manifest",
    "largest_remainder_alloc",
    "interval_overlap_join",
]


# "hl" of every line: a line decodes only against the HEADLINE that wrote
# it, so reordering or editing HEADLINE fails loudly instead of
# mislabeling the index-coded rows.
HL_CRC = zlib.crc32(";".join(HEADLINE).encode())


def encode_line(timings: dict[str, float], total: float, sf: float) -> str:
    """The stdout line for per-query ``timings`` over all of HEADLINE."""
    named = set(NAMED)
    return json.dumps(
        {
            "queries": {n: timings[n] for n in NAMED},
            "qx": {
                str(i): timings[n] for i, n in enumerate(HEADLINE) if n not in named
            },
            "hl": HL_CRC,
            "metric": "headline_queries_total",
            "value": round(total, 3),
            "unit": "sec",
            "sf": sf,
        },
        separators=(",", ":"),
    )


def decode_line(text: str) -> dict:
    """``encode_line``'s record with "qx" merged back into "queries" under
    full names. ``text`` is the line itself or captured output holding
    it (the first line that starts with ``{``)."""
    line = next((ln for ln in text.splitlines() if ln.startswith("{")), None)
    if line is None:
        raise ValueError("no bench JSON line in the input")
    doc = json.loads(line)
    qx = doc.pop("qx")
    max_idx = max((int(i) for i in qx), default=-1)
    if max_idx >= len(HEADLINE):
        raise ValueError(
            f"bench line indexes up to {max_idx} but the current HEADLINE "
            f"has only {len(HEADLINE)} entries — the line was written "
            "against a longer list"
        )
    if doc.pop("hl", None) != HL_CRC:
        raise ValueError(
            "bench line's HEADLINE crc does not match the current HEADLINE — "
            "it was reordered/edited or the line is corrupt; index decode "
            "would mislabel queries"
        )
    decoded = {HEADLINE[int(i)]: v for i, v in qx.items()}
    overlap = set(doc["queries"]) & set(decoded)
    if overlap:
        raise ValueError(
            f"bench line has {sorted(overlap)[:3]} in BOTH queries and qx — "
            "corrupt line or stale NAMED/HEADLINE lists"
        )
    doc["queries"].update(decoded)
    return doc


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        "bench", master=f"local[{LOCAL_CPUS}]", shuffle_partitions=LOCAL_CPUS
    )
    queries = all_queries()

    # steady-state warm-up: JIT/codegen + parquet footer caches, untimed.
    # Warm with NON-headline queries so no timed entry gets a free warm
    # second run the others don't. conditional_agg (a money aggregate
    # over lineitem) takes part of the fresh JVM's cold start off the
    # first timed query, tpch_q1_pricing.
    spark.read.parquet(f"{sf_dir.rstrip('/')}/region.parquet").count()
    for name in ("semi_join", "conditional_agg"):
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    total = 0.0
    for name in HEADLINE:
        fn = queries[name]
        best = float("inf")
        for _ in range(n_runs):
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
        total += best
        print(f"# {name}: {best:.3f}s", file=sys.stderr)

    m = re.search(r"sf(\d+(?:\.\d+)?)/?$", sf_dir.rstrip("/"))
    sf = float(m.group(1)) if m else 0.0
    line = encode_line(timings, total, sf)
    here = os.path.dirname(os.path.abspath(__file__))
    full_path = os.environ.get(
        "SPARK_GRAFT_BENCH_FULL_PATH",
        os.path.join(here, ".bench", "BENCH_FULL_latest.json"),
    )
    os.makedirs(os.path.dirname(full_path) or ".", exist_ok=True)
    with open(full_path, "w") as f:
        json.dump(decode_line(line), f, indent=1)
    print(line)


if __name__ == "__main__":
    main()
