"""Same-boot scaling smoke: time the heaviest queries at sf0.1 and at a
K×-scaled fixture, report per-query scaling exponents.

    python tools/make_scaled_fixture.py 4          # once
    python tools/scale_smoke.py [BIG_DIR] [K]

Defaults: BIG_DIR=<repo>/.scale/sf0.4, K inferred from dir name.

exponent = log(t_big / t_base) / log(K) — a linear plan lands near 1.0
(plus fixed-overhead dilution pushing it BELOW 1 on sub-second
queries); anything much above 1 is super-linear and needs a look.
Both fixtures are timed in ONE session back-to-back (min-of-2), so
host drift cancels.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pb_etl_spark.registry import all_queries
from pb_etl_spark.session import LOCAL_CPUS, get_spark

# the heaviest headline families (r03 bench tail) + the iterative /
# collision-neighborhood plans where super-linear degradation would hide
SMOKE = [
    "bpe_encode_counts",
    "semantic_dedup",
    "substring_dup_spans",
    "embedding_near_dup_lsh",
    "minhash_near_dup_pairs",
    "fuzzy_match_pairs",
    "entity_resolution",
    "entity_golden_record",
    "pagerank_knn",
    "tpch_q1_pricing",
    "rolling_active_users",
    "kmv_distinct_sketch",
    # round-4 additions: basket self-join, interaction-matrix self-join,
    # capped per-key scan (Arrow), one 3-quintile grouped running sum
    "association_rules",
    "item_item_cosine",
    "capped_running_balance",
    "rfm_segments",
    # r04 verdict directive #4: the remaining heavy r04 families —
    # iterative peel, grouped-sketch build, unrolled greedy re-rank
    "k_core_knn",
    "ddsketch_quantiles",
    "mmr_diverse_topk",
    # round-5 additions: the iterative graph ops (fixed-round loops),
    # the daily-aggregate pairwise self-join, the gaps-and-islands
    # window pass, and the global_running_sum consumer
    "label_propagation_knn",
    "bfs_hops_knn",
    "theil_sen_trend",
    "interval_coverage",
    "abc_classification",
    # round-8 additions: the one-sided-prefix shingle self-join +
    # array-intersect verify, the bitmap partial→merge cascade, and the
    # global_running_sum pointer sampler
    "shingle_containment_pairs",
    "bitmap_distinct_counts",
    "pps_systematic_sample",
    "weighted_median_by_group",
    # round-9 additions: the grouped_running_sum primitive (range
    # partition + per-(pid, group) offsets), full-fact and compacted,
    # plus the three queries migrated onto it off low-cardinality
    # keyed windows
    # round-10 additions: the two biggest exact-money-layer consumers
    # beyond q1 (already above) — grouped and star-join money sums on
    # the new split-radix primitive
    "star_join_revenue",
    "groupby_agg",
    "grouped_running_revenue",
    "grouped_quantiles_exact",
    "exact_stratified_split",
    "gini_by_group",
    "seq_packing",
    "top_p_quality_sample",
    "quantile_normalize",
    "window_ranking",
    # round-10 additions: the exact-K priority samplers (TakeOrdered
    # global; WindowGroupLimit per-source), the compacted two-sample
    # KS + Mann-Whitney pass, and the pairwise source KS matrix
    "priority_sample_topk",
    "priority_sample_per_source",
    "ks_mann_whitney",
    "source_drift_matrix",
    # round-13 additions: the queries whose pre-explode fan-outs moved
    # onto the shared fanout_width this round (exponents re-measured
    # post-conversion), plus the new streaming G² face and its batch twin
    "dsir_weights",
    "cms_token_counts",
    "doc_chunking",
    "repetition_ratio",
    "vocab_topk",
    "media_feature_summary",
    "vocab_drift",
    "stream_vocab_drift",
    # round-14 additions: the two heaviest offset-literal-conversion
    # consumers not already listed (seq_packing is above) — exponents
    # re-measured after the CreateMap→array-literal plan change
    "deterministic_shuffle",
    "curriculum_buckets",
    # r14 OPTIMIZATION round: queries whose plans changed (guarded
    # repartitions, sketch-state width, one-parse literals) and were
    # not already tracked above — exponents re-measured post-change
    "xml_roundtrip_agg",
    "stream_drift_monitor",
    "stream_psi_monitor",
    "knn_cosine",
    # r15 OPTIMIZATION round: the remaining one-action running-sum
    # consumers not already tracked above, the minhash expr-scaffold
    # twin, and the r14-touched money twin not already listed —
    # exponents re-measured after the plan changes
    "shard_manifest",
    "sprt_decision",
    "segment_migration",
    "gini_concentration",
    "minhash_signatures",
    "tpch_q3_shipping",
]


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    big = sys.argv[1] if len(sys.argv) > 1 else os.path.join(repo, ".scale", "sf0.4")
    base = "/root/testdata/sf0.1"
    k = float(sys.argv[2]) if len(sys.argv) > 2 else float(
        big.rstrip("/").rsplit("sf", 1)[1]
    ) / 0.1
    only = set(sys.argv[3:])  # optional name subset: BIG_DIR K NAME...
    smoke = [n for n in SMOKE if not only or n in only]
    unknown = only - set(SMOKE)
    if unknown:
        print(f"names not in SMOKE: {sorted(unknown)}", file=sys.stderr)
        raise SystemExit(2)
    spark = get_spark(
        "scale-smoke", master=f"local[{LOCAL_CPUS}]", shuffle_partitions=LOCAL_CPUS
    )
    queries = all_queries()
    spark.read.parquet(f"{base}/region.parquet").count()  # JVM warmup

    def best_of(fn, d, n=2):
        t = float("inf")
        for _ in range(n):
            t0 = time.time()
            fn(spark, d).write.format("noop").mode("overwrite").save()
            t = min(t, time.time() - t0)
        return t

    rows = {}
    for name in smoke:
        fn = queries[name]
        t_base = best_of(fn, base)
        t_big = best_of(fn, big)
        exp = math.log(t_big / t_base) / math.log(k)
        rows[name] = {
            "sf0.1_s": round(t_base, 3),
            f"sf{0.1 * k:g}_s": round(t_big, 3),
            "exponent": round(exp, 2),
        }
        print(f"# {name}: {t_base:.3f}s -> {t_big:.3f}s  exp={exp:.2f}",
              file=sys.stderr)
    print(json.dumps({"k": k, "queries": rows}))


if __name__ == "__main__":
    main()
