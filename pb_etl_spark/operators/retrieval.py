"""Corpus retrieval + mergeable-aggregate operators: BM25 ranking,
cross-document duplicate-span detection, and the partial-aggregate merge
algebra behind incremental materialized views.

Reference parity note: the reference pipeline
(``/root/reference/pb_etl/tasks.py``) has no text-retrieval surface; these
extend the training-data-pipeline family the brief names as first-class
(the `tfidf_top_terms` / `contamination_check` lineage in
``operators/text.py``).

Scale design, per operator:

- ``bm25_topk``: the classic two-statistic ranking — per-(doc, term) TF
  from one explode + grouped count, per-term DF from a grouped distinct
  count. Both join-side statistics are bounded: DF has ≤ |query terms|
  rows and the corpus stats (N, avgdl) are one row, so both are broadcast
  and the whole score is a projection over the TF rows; the only
  unbounded shuffle is the TF groupBy on (doc_id, term), which is the
  map-side-combinable minimum any engine needs. Top-k is
  TakeOrderedAndProject (no global sort materialization).
- ``dup_span_ratio``: sliding 10-token spans via sequence/slice (all
  JVM-side), duplicate spans = grouped distinct-doc count ≥ 2. Shuffles
  hash-partition raw span text at fixture scale so the DuckDB oracle can
  group the identical key; at 100 TB you shuffle ``xxhash64(span)``
  digests (8 B vs ~60 B, same grouping semantics, collision-negligible) —
  the exact trade `doc_fingerprint`/`incremental_dedup` already make.
- ``partial_agg_merge``: proves the merge algebra (sum⊕sum, count⊕count,
  min⊕min, max⊕max, avg derived at read time) by aggregating two disjoint
  corpus halves independently and merging the partials — the incremental
  materialized-view maintenance path: at 100 TB the nightly batch
  aggregates ONLY its delta and merges into the stored partials, never
  rescanning the corpus. AVG must be stored as (sum, count), never
  averaged-of-averages; this query is the regression test for that rule.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from pb_etl_spark.cache import pin
from pb_etl_spark.catalog import read_table
from pb_etl_spark.operators._width import core_count, fanout_width
from pb_etl_spark.operators.text import _tokens, ngram_rows

# BM25 free parameters (the universal defaults from Robertson & Zaragoza)
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("spark", "join", "merge")
BM25_TOPK = 10

SPAN_W = 10  # tokens per duplicate-detection span

# _scan_width's URI-mismatch re-probe is one getFileStatus RPC per file;
# past this many files that costs more than the guard saves, so it
# degrades to the warned file-count estimate instead (ADVICE r08).
_REPROBE_MAX = 256


def _scan_width(spark: SparkSession, df: DataFrame) -> int:
    """Job-free estimate of how many partitions ``df``'s file scan yields.

    ADVICE r07: ``df.rdd.getNumPartitions()`` is only job-free while the
    plan is a bare scan+project — under AQE, ``DataFrame.rdd`` executes
    intermediate query stages whenever the plan contains an exchange, so
    any future upstream transformation would silently turn the guard into
    a construction-time Spark job. Derive the width from the scan's file
    listing instead: per file, ``ceil(len / maxPartitionBytes)`` splits
    (parquet is splittable; mirrors FilePartition packing closely enough
    for a narrower-than-cluster test), summed. ``inputFiles()`` reads the
    analyzed plan's already-materialized file index — no job, any plan.
    The split size mirrors FilePartition's actual formula — ``min(
    maxPartitionBytes, max(openCostInBytes, (Σlen + n·openCost) /
    defaultParallelism))`` — NOT bare maxPartitionBytes: on a cluster
    with more cores than 128 MB chunks Spark shrinks the split to fill
    the cores, so dividing by maxPartitionBytes alone would UNDERCOUNT
    the real width and re-introduce the spurious full-fact repartition
    this guard exists to avoid (e.g. 10×200 MB files on 32 cores scan
    as ~32 partitions, not 20). Falls back to the file count — with a
    visible warning, so a Spark-internals rename can't silently degrade
    the guard — if the conf/FS probe fails.
    """
    files = df.inputFiles()
    if not files:
        return 1
    try:
        jvm = spark._jvm
        jconf = spark._jsc.hadoopConfiguration()
        sql_conf = spark._jsparkSession.sessionState().conf()
        max_bytes = int(sql_conf.filesMaxPartitionBytes())
        open_cost = int(sql_conf.filesOpenCostInBytes())
        # ONE listStatus per parent directory, not one getFileStatus per
        # file: a 100 TB table has 10⁴-10⁶ files and per-file HEADs would
        # stall plan construction for minutes on object stores; directory
        # listings batch ~1000 entries per RPC (r08 review)
        wanted = set(files)
        by_dir: dict[str, list[str]] = {}
        for f in files:
            by_dir.setdefault(f.rsplit("/", 1)[0], []).append(f)
        sizes = []
        for d in by_dir:
            p = jvm.org.apache.hadoop.fs.Path(d)
            fs = p.getFileSystem(jconf)
            for st in fs.listStatus(p):
                uri = st.getPath().toUri().toString()
                if uri in wanted or st.getPath().toString() in wanted:
                    sizes.append(int(st.getLen()))
        if len(sizes) != len(files):  # listing/URI-form mismatch: re-probe
            # The per-file getFileStatus fallback is exactly the
            # per-file-HEAD pattern the batching above exists to avoid, so
            # it is BOUNDED: past _REPROBE_MAX files the mismatch case
            # degrades to the warned file-count estimate instead of
            # stalling plan construction on 10⁴-10⁶ RPCs (ADVICE r08).
            if len(files) > _REPROBE_MAX:
                raise RuntimeError(
                    f"listStatus matched {len(sizes)}/{len(files)} files and "
                    f"the set is too large ({len(files)} > {_REPROBE_MAX}) "
                    "for a per-file re-probe"
                )
            sizes = []
            for f in files:
                p = jvm.org.apache.hadoop.fs.Path(f)
                fs = p.getFileSystem(jconf)
                sizes.append(int(fs.getFileStatus(p).getLen()))
        total_padded = sum(sizes) + len(sizes) * open_cost
        # deliberately defaultParallelism, NOT the shared fanout_width:
        # this mirrors Spark's own FilePartition maxSplitBytes formula
        # (bytesPerCore = totalBytes / defaultParallelism), so converting
        # it would make the scan-width MODEL disagree with the engine it
        # models (r12 verdict item 2 pinned this exemption explicitly)
        bytes_per_core = total_padded / max(
            1, spark.sparkContext.defaultParallelism
        )
        split = max(1, min(max_bytes, max(open_cost, int(bytes_per_core))))
        # two bounds on FilePartition's greedy bin packing: the per-file
        # split sum ignores packing (many tiny files would each count as
        # a partition Spark actually merges), the padded-total quotient
        # ignores file boundaries (two 100 MB files can't share a 128 MB
        # split). The actual count sits between them; take the packed
        # (lower) bound — for the narrower-than-cluster guard a slight
        # undercount errs toward the cheap repartition, never toward an
        # under-parallel heavy map stage (r08 review).
        per_file = sum(max(1, math.ceil(s / split)) for s in sizes)
        packed = math.ceil(total_padded / split)
        return min(per_file, packed)
    except Exception as e:  # noqa: BLE001 — estimate only; never fail the plan
        import warnings

        warnings.warn(
            f"_scan_width probe failed ({e!r}); falling back to file count",
            RuntimeWarning,
            stacklevel=2,
        )
        return len(files)


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by BM25 for a fixed 3-term query. See module
    docstring for the bounded-statistic broadcast shape."""
    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", _tokens().alias("toks"))
        .select("doc_id", "toks", F.size("toks").alias("dl"))
    )
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )  # 1 row
    tf = (
        d.select("doc_id", "dl", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(
        F.count_distinct("doc_id").alias("df")
    )  # ≤ |terms| rows
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    weight = idf * (
        F.col("tf")
        * (BM25_K1 + 1.0)
        / (
            F.col("tf")
            + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(weight), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id"))
        .limit(BM25_TOPK)
    )


def q_dup_span_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span ratio: the fraction of a doc's
    10-token sliding windows whose text also appears in ≥ 1 OTHER
    document — the span-level (substring-dedup) signal training-data
    pipelines use to find boilerplate that survives doc-level dedup."""
    # spread docs across cores before the window explode, or the compact
    # documents file runs it in the scan's single task
    docs = read_table(spark, sf_dir, "documents").repartition(
        fanout_width(spark), "doc_id"
    )
    spans = ngram_rows(docs, SPAN_W).select("doc_id", F.col("gram").alias("span"))
    dup = (
        spans.groupBy("span")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("span", F.lit(True).alias("__dup"))
    )
    return (
        spans.join(dup, "span", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count(F.col("__dup")).alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 6).alias("dup_ratio"),
        )
    )


def q_partial_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate two disjoint halves of lineitem independently, then merge
    the partial states — value-identical to one full-scan aggregation
    (the incremental-MV maintenance algebra; see module docstring)."""
    li = read_table(spark, sf_dir, "lineitem")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("l_returnflag").agg(
            F.sum("l_quantity").alias("p_sum_qty"),
            F.count(F.lit(1)).alias("p_n_rows"),
            F.min("l_extendedprice").alias("p_min_price"),
            F.max("l_extendedprice").alias("p_max_price"),
        )

    halves = partial(li.filter(F.col("l_orderkey") % 2 == 0)).unionAll(
        partial(li.filter(F.col("l_orderkey") % 2 != 0))
    )
    return (
        halves.groupBy("l_returnflag")
        .agg(
            F.sum("p_sum_qty").alias("raw_sum"),
            F.sum("p_n_rows").alias("n_rows"),
            F.min("p_min_price").alias("raw_min"),
            F.max("p_max_price").alias("raw_max"),
        )
        .select(
            "l_returnflag",
            F.round("raw_sum", 2).alias("sum_qty"),
            "n_rows",
            F.round(F.col("raw_sum") / F.col("n_rows"), 6).alias("avg_qty"),
            F.round("raw_min", 2).alias("min_price"),
            F.round("raw_max", 2).alias("max_price"),
        )
    )


KMV_K = 64  # sketch size: k minimum hash values
_KMV_SCALE = float(1 << 52)  # 13 hex chars = 52 bits — exact in a double


def q_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketches over each source's
    token vocabulary, plus a ``__union__`` row estimated from the MERGED
    per-source sketches — never re-scanning the corpus.

    The deterministic twin of ``hll_mergeable_counts``: same mergeable
    rollup-table architecture (store a tiny sketch per partition/day,
    answer any coarser cell by sketch union), but the sketch is k md5-
    derived minima, so DuckDB reproduces the estimate BIT-FOR-BIT and the
    driver value-checks what HLL's library-specific registers cannot.

    Estimator: distinct ≈ (k-1)/u_(k) for a full sketch; exact k when the
    sketch holds the whole set. Hashes are deduplicated as VALUES (52-bit
    prefixes) on both engines, so even a prefix collision cannot diverge.
    Scale shape: one distinct shuffle on (source, token), one windowed
    top-k per source (state = k values per group), merge = k smallest of
    the ≤ k×n_sources kept values — driver-sized. The exact_distinct
    column (the accuracy report) is the only full distinct count; a
    production rollup drops it."""
    from pyspark.sql.window import Window as W

    doc = read_table(spark, sf_dir, "documents")
    # materialize the distinct (source, token) set ONCE: it feeds four
    # consumers (hash minima, per-source exact counts, global exact
    # count, merge) and would otherwise re-run the explode+distinct per
    # branch — 4 corpus scans / 9 exchanges measured by tools/plan_audit.
    # Eager, not cache.pin: pinned measured ~0.1 s slower at sf0.01
    tok = (
        doc.select("source", F.explode(_tokens()).alias("tok"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    u = F.conv(F.substring(F.md5("tok"), 1, 13), 16, 10).cast("double") / F.lit(
        _KMV_SCALE
    )
    hu = tok.select("source", u.alias("u")).distinct()
    w = W.partitionBy("source").orderBy("u")
    kept = hu.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= KMV_K)

    est = F.when(
        F.col("k") < KMV_K, F.col("k").cast("double")
    ).otherwise((F.col("k") - 1) / F.col("kth"))
    per_src = (
        kept.groupBy("source")
        .agg(F.count(F.lit(1)).alias("k"), F.max("u").alias("kth"))
        .join(
            tok.groupBy("source").agg(F.count(F.lit(1)).alias("exact_distinct")),
            "source",
        )
        .select("source", "k", F.round(est, 4).alias("est_distinct"), "exact_distinct")
    )

    merged = kept.select("u").distinct().orderBy("u").limit(KMV_K)
    union_row = merged.agg(
        F.lit("__union__").alias("source"),
        F.count(F.lit(1)).alias("k"),
        F.max("u").alias("kth"),
    ).crossJoin(
        tok.select("tok").distinct().agg(F.count(F.lit(1)).alias("exact_distinct"))
    ).select(
        "source", "k", F.round(est, 4).alias("est_distinct"), "exact_distinct"
    )
    return per_src.unionByName(union_row)


_KMV_ORACLE = f"""
    WITH tok AS (
        SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    hu AS (
        SELECT DISTINCT source,
               CAST(CAST('0x' || substring(md5(tok), 1, 13) AS BIGINT) AS DOUBLE)
                   / {_KMV_SCALE!r} AS u
        FROM tok
    ),
    kept AS (
        SELECT source, u FROM (
            SELECT source, u, ROW_NUMBER() OVER (PARTITION BY source ORDER BY u) AS rn
            FROM hu
        ) WHERE rn <= {KMV_K}
    ),
    per AS (
        SELECT source, COUNT(*) AS k, MAX(u) AS kth FROM kept GROUP BY source
    ),
    ex AS (
        SELECT source, COUNT(*) AS exact_distinct FROM tok GROUP BY source
    ),
    merged AS (
        SELECT u FROM (SELECT DISTINCT u FROM kept ORDER BY u LIMIT {KMV_K})
    )
    SELECT per.source, per.k,
           ROUND(CASE WHEN per.k < {KMV_K} THEN CAST(per.k AS DOUBLE)
                      ELSE (per.k - 1) / per.kth END, 4) AS est_distinct,
           ex.exact_distinct
    FROM per JOIN ex USING (source)
    UNION ALL
    SELECT '__union__' AS source, m.k,
           ROUND(CASE WHEN m.k < {KMV_K} THEN CAST(m.k AS DOUBLE)
                      ELSE (m.k - 1) / m.kth END, 4) AS est_distinct,
           (SELECT COUNT(DISTINCT tok) FROM tok) AS exact_distinct
    FROM (SELECT COUNT(*) AS k, MAX(u) AS kth FROM merged) m
"""


_BM25_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    dl AS (SELECT doc_id, toks, len(toks) AS dl FROM d),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (
        SELECT doc_id, dl, t.term, count(*) AS tf
        FROM dl, unnest(toks) AS t(term)
        WHERE t.term IN {BM25_TERMS!r}
        GROUP BY doc_id, dl, t.term
    ),
    idf AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term)
    SELECT tf.doc_id,
           ROUND(SUM(
               LN((stats.n_docs - idf.df + 0.5) / (idf.df + 0.5) + 1.0)
               * tf.tf * ({BM25_K1} + 1.0)
                 / (tf.tf + {BM25_K1}
                    * (1.0 - {BM25_B} + {BM25_B} * tf.dl / stats.avgdl))
           ), 6) AS bm25
    FROM tf JOIN idf USING (term) CROSS JOIN stats
    GROUP BY tf.doc_id
    ORDER BY bm25 DESC, tf.doc_id
    LIMIT {BM25_TOPK}
"""

_DUP_SPAN_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents
    ),
    d2 AS (SELECT * FROM d WHERE n >= {SPAN_W}),
    c AS (
        SELECT doc_id, toks,
               unnest(generate_series(1, n - {SPAN_W - 1})) AS i
        FROM d2
    ),
    w AS (
        SELECT doc_id,
               array_to_string(toks[i : i + {SPAN_W - 1}], ' ') AS span
        FROM c
    ),
    dup AS (
        SELECT span FROM w GROUP BY span HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT w.doc_id,
           count(*) AS n_spans,
           count(dup.span) AS n_dup_spans,
           ROUND(count(dup.span)::DOUBLE / count(*), 6) AS dup_ratio
    FROM w LEFT JOIN dup ON w.span = dup.span
    GROUP BY w.doc_id
"""

_PARTIAL_MERGE_ORACLE = """
    SELECT l_returnflag,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           COUNT(*) AS n_rows,
           ROUND(SUM(l_quantity) / COUNT(*), 6) AS avg_qty,
           ROUND(MIN(l_extendedprice), 2) AS min_price,
           ROUND(MAX(l_extendedprice), 2) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
"""

KMV_JACCARD_K = 128  # per-source sketch size for the pairwise estimates


def q_kmv_jaccard_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary-overlap (Jaccard) estimates between every
    pair of sources, computed ENTIRELY from per-source KMV sketches —
    the sketch set-operation that answers "which crawls duplicate each
    other" without ever joining token sets. Estimator (Beyer et al.
    2007): rank the UNION of the two k-minima sketches, keep the k
    smallest, and count how many of those sit in both sketches:
    J ≈ |sketch_k(A∪B) ∩ sig_A ∩ sig_B| / k.

    Determinism: minima are 52-bit md5-prefix INTEGERS (no float
    anywhere until the final exact-ratio round), so DuckDB reproduces
    every sketch and the estimate bit-for-bit — the same property
    ``kmv_distinct_sketch`` exploits.

    Scale shape: the corpus is touched ONCE (distinct (source, token)
    shuffle + per-source top-k window whose state is k values/group);
    everything pairwise runs on |sources|·k sketch rows — driver-sized
    however big the corpus is, which is the entire point of sketch
    set-ops at 100 TB. The source-pair frame is |sources|² by
    construction (inequality join on a dimension-sized input —
    BNLJ-whitelisted, like negative_sampling's bounded crossJoin)."""
    from pyspark.sql.window import Window as W

    doc = read_table(spark, sf_dir, "documents")
    # bare explode (md5 runs AFTER the distinct shuffle, parallel) — a
    # pre-explode repartition measured slower, see vocab_drift's note
    tok = (
        doc.select("source", F.explode(_tokens()).alias("tok"))
        .distinct()
    )
    u = F.conv(F.substring(F.md5("tok"), 1, 13), 16, 10).cast("long")
    hu = tok.select("source", u.alias("u")).distinct()
    w = W.partitionBy("source").orderBy("u")
    kept = pin(  # feeds pair build + both tag branches
        hu.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_JACCARD_K)
        .select("source", "u")
    )
    srcs = kept.select("source").distinct()
    # the hint fixes the |sources|-row build side: chosen by AQE at run
    # time, it followed whichever stage finished first, and the plan
    # (13 or 15 jobs at sf0.001) varied between identical invocations
    pairs = srcs.select(F.col("source").alias("sa")).join(
        F.broadcast(srcs.select(F.col("source").alias("sb"))),
        F.col("sa") < F.col("sb"),
    )
    tag_a = pairs.join(kept.withColumnRenamed("source", "sa"), "sa").select(
        "sa", "sb", "u", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    )
    tag_b = pairs.join(kept.withColumnRenamed("source", "sb"), "sb").select(
        "sa", "sb", "u", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
    )
    uni = (
        tag_a.unionByName(tag_b)
        .groupBy("sa", "sb", "u")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wr = W.partitionBy("sa", "sb").orderBy("u")  # bounded: ≤ 2k rows/pair
    topk = uni.withColumn("rn", F.row_number().over(wr)).filter(
        F.col("rn") <= KMV_JACCARD_K
    )
    return (
        topk.groupBy("sa", "sb")
        .agg(
            F.count(F.lit(1)).alias("k_union"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("k_both"),
        )
        .select(
            "sa",
            "sb",
            "k_union",
            "k_both",
            F.round(F.col("k_both") / F.col("k_union"), 4).alias("jaccard_est"),
        )
    )


_KMV_JACCARD_ORACLE = f"""
    WITH tok AS (
        SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    hu AS (
        SELECT DISTINCT source,
               CAST('0x' || substring(md5(tok), 1, 13) AS BIGINT) AS u
        FROM tok
    ),
    kept AS (
        SELECT source, u FROM (
            SELECT source, u,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY u) AS rn
            FROM hu
        ) WHERE rn <= {KMV_JACCARD_K}
    ),
    srcs AS (SELECT DISTINCT source FROM kept),
    pairs AS (
        SELECT a.source AS sa, b.source AS sb
        FROM srcs a JOIN srcs b ON a.source < b.source
    ),
    tagged AS (
        SELECT p.sa, p.sb, k.u, 1 AS in_a, 0 AS in_b
        FROM pairs p JOIN kept k ON k.source = p.sa
        UNION ALL
        SELECT p.sa, p.sb, k.u, 0 AS in_a, 1 AS in_b
        FROM pairs p JOIN kept k ON k.source = p.sb
    ),
    uni AS (
        SELECT sa, sb, u, MAX(in_a) AS in_a, MAX(in_b) AS in_b
        FROM tagged GROUP BY sa, sb, u
    ),
    topk AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY u) AS rn
            FROM uni
        ) WHERE rn <= {KMV_JACCARD_K}
    )
    SELECT sa, sb,
           COUNT(*) AS k_union,
           CAST(SUM(in_a * in_b) AS BIGINT) AS k_both,
           ROUND(CAST(SUM(in_a * in_b) AS BIGINT) / CAST(COUNT(*) AS DOUBLE), 4)
               AS jaccard_est
    FROM topk GROUP BY sa, sb
"""


# ---------------------------------------------------------------------------
# cms_token_counts — deterministic count-min sketch
# ---------------------------------------------------------------------------

CMS_D = 4  # hash rows
CMS_W = 256  # columns per row
CMS_PROBES = ["the", "a", "of", "and", "to", "in"]  # STOPWORDS — high-count


def q_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream, probed for the
    stopword set: per probe token, the CMS estimate (min over CMS_D
    hashed counters) next to the exact count — est ≥ exact always, the
    overestimate bounded by εN with ε = e/CMS_W.

    Completes the sketch shelf: HLL/KMV answer DISTINCT counts, CMS
    answers FREQUENCY queries from the same mergeable-rollup
    architecture (per-partition/day sketches are cell-wise ADDITIVE —
    merging is a groupBy sum over ≤ D·W cells, never a corpus rescan).
    Hashes are md5-prefix derived (the engine-portable family), so the
    whole sketch and every estimate is integer-exact cross-engine and
    the driver value-checks what a library sketch could not.

    Scale shape: one explode (pre-repartitioned — the row-multiplying
    rule) → ×D hash fanout → ONE grouped count to the bounded D·W cell
    table; probes broadcast onto it. The exact_count column is the
    accuracy report; a production rollup drops it."""
    doc = read_table(spark, sf_dir, "documents")
    n_parts = fanout_width(spark)
    tok = pin(  # feeds sketch build AND exact counts
        doc.repartition(n_parts, "doc_id").select(
            F.explode(_tokens()).alias("tok")
        )
    )
    js = F.array(*[F.lit(j) for j in range(CMS_D)])
    cell_col = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("j").cast("string"), F.lit(":"), F.col("tok"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % CMS_W
    )
    sketch = (
        tok.select("tok", F.explode(js).alias("j"))
        .select("j", cell_col.alias("col"))
        .groupBy("j", "col")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    probes = spark.createDataFrame(
        [(t,) for t in CMS_PROBES], "tok string"
    ).select("tok", F.explode(js).alias("j")).select(
        "tok", "j", cell_col.alias("col")
    )
    # broadcast the SKETCH (≤ D·W cells): a left outer join can only
    # broadcast its right side
    est = (
        probes.join(F.broadcast(sketch), ["j", "col"], "left")
        .groupBy("tok")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est_count"))
    )
    exact = (
        tok.filter(F.col("tok").isin(CMS_PROBES))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return est.join(exact, "tok", "left").select(
        F.col("tok").alias("token"),
        F.col("est_count").cast("long").alias("est_count"),
        F.coalesce(F.col("exact_count"), F.lit(0)).cast("long").alias(
            "exact_count"
        ),
    )


BLOOM_K = 4  # hash functions
BLOOM_M = 4096  # bits


def q_bloom_doc_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bloom filter, end to end: the EVEN-doc_id half of
    the corpus builds an m=4096/k=4 filter over content fingerprints;
    every document then probes it. One summary row reports probes,
    Bloom positives, true members (exact), false positives, and the
    realized false-positive rate — membership completes the sketch
    trio (KMV/HLL: distinct, CMS: frequency, Bloom: membership).

    The filter is materialized as the DISTINCT set of set bit positions
    (≤ m rows) — cell-wise OR-mergeable across partitions/days exactly
    like the CMS counter table, and engine-portable because positions
    come from the md5-prefix hash family. A probe is positive iff all k
    of its positions are set: the probe join is positions ⋈ bitmap
    (broadcast, ≤ m rows) with a count-k check — no per-row Python, no
    library bitset. Scale shape: one grouped distinct to build, one
    broadcast join to probe."""
    doc = read_table(spark, sf_dir, "documents")
    fp = doc.select(
        "doc_id", F.md5(F.col("text")).alias("fp")
    )
    js = F.array(*[F.lit(j) for j in range(BLOOM_K)])
    pos = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("j").cast("string"), F.lit("#"), F.col("fp"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % BLOOM_M
    )
    bits = (
        fp.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode(js).alias("j"), "fp")
        .select(pos.alias("bit"))
        .distinct()
    )
    probes = fp.select("doc_id", "fp", F.explode(js).alias("j")).select(
        "doc_id", "fp", pos.alias("bit")
    )
    hits = (
        probes.join(F.broadcast(bits), "bit")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("k_set"))
        .filter(F.col("k_set") == BLOOM_K)
        .select("doc_id")
    )
    # exact membership: same fingerprint AND even id (duplicate texts
    # make fingerprint membership broader than id parity)
    member_fps = fp.filter(F.col("doc_id") % 2 == 0).select("fp").distinct()
    truth = fp.join(member_fps, "fp").select("doc_id")
    flagged = hits.withColumn("flagged", F.lit(1))
    actual = truth.withColumn("actual", F.lit(1))
    joined = (
        fp.select("doc_id")
        .join(flagged, "doc_id", "left")
        .join(actual, "doc_id", "left")
    )
    fp_count = F.sum(
        F.when(
            F.col("flagged").isNotNull() & F.col("actual").isNull(), 1
        ).otherwise(0)
    )
    neg = F.sum(F.when(F.col("actual").isNull(), 1).otherwise(0))
    return joined.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum(F.when(F.col("flagged").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_flagged"),
        F.sum(F.when(F.col("actual").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_members"),
        fp_count.cast("long").alias("n_false_positives"),
        F.round(
            fp_count.cast("double") / F.greatest(neg, F.lit(1)), 6
        ).alias("false_positive_rate"),
    )


_BLOOM_ORACLE = f"""
    WITH fp AS (
        SELECT doc_id, md5(text) AS fp FROM documents
    ),
    js AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS j(j)),
    bits AS (
        SELECT DISTINCT
               CAST('0x' || substring(md5(CAST(j AS VARCHAR) || '#' || fp),
                                      1, 8) AS BIGINT) % {BLOOM_M} AS bit
        FROM fp CROSS JOIN js WHERE doc_id % 2 = 0
    ),
    probes AS (
        SELECT doc_id,
               CAST('0x' || substring(md5(CAST(j AS VARCHAR) || '#' || fp),
                                      1, 8) AS BIGINT) % {BLOOM_M} AS bit
        FROM fp CROSS JOIN js
    ),
    hits AS (
        SELECT doc_id FROM probes JOIN bits USING (bit)
        GROUP BY doc_id HAVING COUNT(*) = {BLOOM_K}
    ),
    member_fps AS (
        SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0
    ),
    truth AS (
        SELECT f.doc_id FROM fp f JOIN member_fps m ON f.fp = m.fp
    ),
    j AS (
        SELECT f.doc_id,
               CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END AS flagged,
               CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END AS actual
        FROM fp f
        LEFT JOIN hits h ON f.doc_id = h.doc_id
        LEFT JOIN truth t ON f.doc_id = t.doc_id
    )
    SELECT COUNT(*) AS n_probes,
           CAST(SUM(flagged) AS BIGINT) AS n_flagged,
           CAST(SUM(actual) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN flagged = 1 AND actual = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positives,
           ROUND(CAST(SUM(CASE WHEN flagged = 1 AND actual = 0
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / GREATEST(SUM(CASE WHEN actual = 0 THEN 1 ELSE 0 END), 1),
                 6) AS false_positive_rate
    FROM j
"""


_CMS_PROBE_SQL = ", ".join(f"('{t}')" for t in CMS_PROBES)

_CMS_ORACLE = f"""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    js AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS j(j)),
    cells AS (
        SELECT j,
               CAST('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || tok),
                                      1, 8) AS BIGINT) % {CMS_W} AS col,
               COUNT(*) AS c
        FROM tok CROSS JOIN js GROUP BY 1, 2
    ),
    probes AS (SELECT * FROM (VALUES {_CMS_PROBE_SQL}) AS p(tok)),
    pr AS (
        SELECT tok, j,
               CAST('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || tok),
                                      1, 8) AS BIGINT) % {CMS_W} AS col
        FROM probes CROSS JOIN js
    ),
    est AS (
        SELECT pr.tok, MIN(COALESCE(cells.c, 0)) AS est_count
        FROM pr LEFT JOIN cells ON pr.j = cells.j AND pr.col = cells.col
        GROUP BY pr.tok
    ),
    ex AS (
        SELECT tok, COUNT(*) AS exact_count FROM tok
        WHERE tok IN ({", ".join(f"'{t}'" for t in CMS_PROBES)})
        GROUP BY tok
    )
    SELECT est.tok AS token,
           CAST(est.est_count AS BIGINT) AS est_count,
           CAST(COALESCE(ex.exact_count, 0) AS BIGINT) AS exact_count
    FROM est LEFT JOIN ex ON est.tok = ex.tok
"""


# ---------------------------------------------------------------------------
# DDSketch-style relative-error quantile sketch

DD_ALPHA = 0.01  # relative-error guarantee of the γ-geometric buckets
DD_QS = (0.5, 0.9, 0.99)
DD_MAX_CENTS = 20_000_000  # bound-table ceiling (fixture max ~10.5M cents)
DD_MIN_CENTS = 64  # min indexable value: (0, 64] collapses to bucket 0
DD_GAMMA = (1 + DD_ALPHA) / (1 - DD_ALPHA)
DD_LNG = math.log(DD_GAMMA)


def _dd_bounds() -> list[int]:
    """Integer bucket upper bounds: ceil(64·γ^i) in cents,
    γ = (1+α)/(1-α). Starting the geometric ladder at 64 makes every
    increment > 64·(γ-1) ≈ 1.29 > 1, so the bounds are strictly
    increasing with NO duplicate collapse; values ≤ 64 cents share
    bucket 0 (DDSketch's min-indexable-value collapse). Computed ONCE
    in Python and embedded as the same literal table in the Spark plan
    and the DuckDB oracle, so the final bucket decision is pure INTEGER
    comparison in both engines."""
    bounds, x = [], float(DD_MIN_CENTS)
    while x <= DD_MAX_CENTS:
        bounds.append(math.ceil(x))
        x *= DD_GAMMA
    return bounds


def _dd_ests(bounds: list[int]) -> list[int]:
    """Integer midpoint estimate per bucket: index 0 covers
    (0, bounds[0]], index j covers (bounds[j-1], bounds[j]], and the
    final overflow index len(bounds) clamps to the last bound."""
    ests = [(DD_MIN_CENTS + 1) // 2]
    for lo, hi in zip(bounds, bounds[1:]):
        ests.append((lo + hi + 1) // 2)
    ests.append(bounds[-1])
    return ests


def dd_bucket_expr(cents_col):
    """The DDSketch bucket decision as a reusable Column expression
    (ln-candidate + exact ±1 integer-bound correction) — shared by the
    batch sketch and the streaming twin."""
    bounds = _dd_bounds()
    # One F.expr-rendered foldable array literal: still not a per-row
    # CreateArray (the old F.array(*lits) rebuilt the ~600-element array
    # PER ROW), and unlike F.lit(list) — which PySpark expands into one
    # py4j lit() call per element (~600 driver roundtrips, 0.9 s of the
    # query's build, r14 profile) — the rendered string costs a single
    # roundtrip
    bounds_arr = F.expr(f"array({','.join(f'{b}L' for b in bounds)})")
    last = len(bounds) - 1
    j0 = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.lit(last).cast("long"),
            F.ceil(F.round(F.log(cents_col / 64.0) / DD_LNG, 9)),
        ),
    )
    b_at_j0 = F.element_at(bounds_arr, (j0 + 1).cast("int"))
    b_below = F.element_at(
        bounds_arr, F.greatest(j0, F.lit(1).cast("long")).cast("int")
    )
    # non-positive values collapse into bucket 0 (the min-indexable
    # region) BEFORE the log-candidate branch runs — ln(≤0) is NULL on
    # Spark and an ERROR on DuckDB; CASE is lazy on both
    return (
        F.when(cents_col <= 0, F.lit(0).cast("long"))
        .when((j0 >= 1) & (cents_col <= b_below), j0 - 1)
        .when(cents_col > b_at_j0, j0 + 1)
        .otherwise(j0)
    )


def dd_bucket_sql(cents_expr: str) -> str:
    """DuckDB SQL fragment computing the identical bucket for
    ``cents_expr`` (used as a correlated projection in oracles)."""
    bounds = _dd_bounds()
    arr = f"[{', '.join(map(str, bounds))}]"
    j0 = (
        f"GREATEST(CAST(0 AS BIGINT), LEAST(CAST({len(bounds) - 1} AS BIGINT), "
        f"CAST(CEIL(ROUND(LN(({cents_expr}) / 64.0) / {DD_LNG!r}, 9)) AS BIGINT)))"
    )
    return (
        f"CASE WHEN ({cents_expr}) <= 0 THEN CAST(0 AS BIGINT) "
        f"WHEN {j0} >= 1 AND ({cents_expr}) <= "
        f"({arr})[CAST(GREATEST({j0}, 1) AS INT)] THEN {j0} - 1 "
        f"WHEN ({cents_expr}) > ({arr})[CAST({j0} + 1 AS INT)] THEN {j0} + 1 "
        f"ELSE {j0} END"
    )


def dd_quantiles_from_hist(spark, hist: DataFrame) -> DataFrame:
    """Quantile extraction over a (bucket, cnt) sketch table — shared by
    the batch and streaming paths (bounded ≤ |γ-buckets| input)."""
    ests = _dd_ests(_dd_bounds())
    # single-roundtrip foldable array literal (see dd_bucket_expr)
    ests_arr = F.expr(f"array({','.join(f'{e}L' for e in ests)})")
    # n rides the SAME window pass as cum (full frame vs running frame,
    # one Window node): a separate hist.agg(sum) branch made Spark
    # re-run the whole upstream fact scan+groupBy — AQE did not reuse
    # the exchange across the two hist references (measured 2× the
    # fact-pass cost at sf0.1); hist is ≤ |γ-buckets| rows, so the
    # extra full-frame sum is free
    w_cum = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.orderBy("bucket").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = hist.select(
        "bucket",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    # literal explode, not createDataFrame: the latter ships the probe
    # list through a Python RDD (applySchemaToPythonRDD), paying a
    # Python-worker round-trip on every action; this stays JVM-side
    probes = spark.range(1).select(
        F.explode(F.array(*[F.lit(float(q)) for q in DD_QS])).alias("q")
    )
    return (
        probes.join(
            F.broadcast(cum),
            F.col("cum") >= F.ceil(F.col("q") * F.col("n")).cast("long"),
        )
        .groupBy("q", "n")
        .agg(F.min("bucket").alias("bucket"))
        .select(
            "q",
            "bucket",
            F.round(
                F.element_at(ests_arr, (F.col("bucket") + 1).cast("int"))
                .cast("double")
                / 100.0,
                2,
            ).alias("est_price"),
            F.col("n").alias("n_rows"),
        )
    )


def q_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch-style quantiles of l_extendedprice (P50/P90/P99) from a
    γ-geometric bucket histogram — the RELATIVE-error member of the
    mergeable-sketch shelf (the fixed-width histogram's error is
    absolute; DDSketch guarantees |est−true| ≤ α·true at every scale of
    the value, which is what latency/price distributions need).

    The sketch itself is one grouped count over the ``dd_bucket_expr``
    decision (O(1) per row: DDSketch's own ceil(ln·) candidate, then an
    EXACT ±1 correction by integer comparison against the literal bound
    table — the ceil and a libm-ulp can each shift the candidate by
    one; the correction makes the final bucket identical across engines
    regardless of their ln implementations). Cells are ADDITIVE, so
    per-partition/day sketches merge by summing bucket counts (the same
    rollup contract as kmv/cms/bloom; merge-equality is pinned in
    ``tests/test_approx.py``, and ``stream_ddsketch_quantiles`` runs
    the identical cells as streaming state). Quantile extraction walks
    the ≤ |buckets| cumulative table: first bucket whose cumulative
    count reaches ceil(q·n)."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    )
    # The bucket decision (ln + two bound lookups per row) is the heavy
    # map work, and the fixture's single-row-group parquet scans as ONE
    # task — rebalance the 8-byte cents column across cores first, but
    # ONLY when the scan is narrower than the cluster (job-free
    # plan-build-time check via the file listing, see _scan_width): at
    # real scale the fact arrives in thousands of partitions and an
    # unconditional repartition would shuffle the whole fact for nothing
    # (unlike word_shingles' small-doc-table case, this input IS the
    # fact). The GUARD threshold is the core count — "is the scan
    # under-parallel for this machine?" — while the repartition TARGET
    # is the data-proportional fanout_width: comparing against
    # fanout_width instead would re-shuffle any fact narrower than the
    # shuffle knob (e.g. a 160-partition scan under a 2000-partition
    # session), exactly the full-fact shuffle this branch exists to
    # avoid (r13 review finding).
    if _scan_width(spark, li) < core_count(spark):
        li = li.repartition(fanout_width(spark), F.col("cents"))
    hist = li.groupBy(dd_bucket_expr(F.col("cents")).alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return dd_quantiles_from_hist(spark, hist)


def _dd_oracle() -> str:
    bounds = _dd_bounds()
    ests = _dd_ests(bounds)
    qs_sql = ", ".join(f"({q})" for q in DD_QS)
    arr = f"[{', '.join(map(str, bounds))}]"
    return f"""
        WITH src AS (
            SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
            FROM lineitem
        ),
        cand AS (
            SELECT cents,
                   GREATEST(CAST(0 AS BIGINT),
                            LEAST(CAST({len(bounds) - 1} AS BIGINT),
                                  CAST(CEIL(ROUND(LN(cents / 64.0)
                                                  / {DD_LNG!r}, 9)) AS BIGINT)))
                       AS j0
            FROM src
        ),
        hist AS (
            SELECT CASE
                     WHEN j0 >= 1
                          AND cents <= ({arr})[CAST(GREATEST(j0, 1) AS INT)]
                       THEN j0 - 1
                     WHEN cents > ({arr})[CAST(j0 + 1 AS INT)] THEN j0 + 1
                     ELSE j0
                   END AS bucket,
                   COUNT(*) AS cnt
            FROM cand GROUP BY 1
        ),
        n AS (SELECT COUNT(*) AS n FROM src),
        cum AS (
            SELECT bucket,
                   SUM(cnt) OVER (ORDER BY bucket
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS cum
            FROM hist
        ),
        probes AS (SELECT * FROM (VALUES {qs_sql}) AS p(q)),
        hit AS (
            SELECT q, n.n, MIN(bucket) AS bucket
            FROM probes CROSS JOIN n
            JOIN cum ON cum >= CAST(CEIL(q * n.n) AS BIGINT)
            GROUP BY q, n.n
        )
        SELECT q, bucket,
               ROUND(CAST(([{", ".join(map(str, ests))}])[CAST(bucket + 1 AS INT)]
                          AS DOUBLE) / 100.0, 2) AS est_price,
               n AS n_rows
        FROM hit
    """


def q_bitmap_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type via Spark's bitmap aggregate
    family — the EXACT member of the mergeable-cardinality shelf
    (``hll_mergeable_counts`` trades exactness for fixed size; bitmaps
    stay exact at ~1 bit per live id within a 32k bucket).

    Shape proves the rollup contract end-to-end: per (event_type, day,
    bucket) partials from one scan (``bitmap_construct_agg`` over
    ``bitmap_bit_position``), then days merge with ``bitmap_or_agg`` —
    the idempotent OR means re-merging a replayed day cannot double
    count, the property a nightly 100 TB ingest needs — and the final
    count is the sum of per-bucket ``bitmap_count``. Every stage is a
    keyed grouped agg (map-side combinable); state per group is the
    4 KiB bucket bitmap, never a row list. The DuckDB oracle is the
    direct COUNT(DISTINCT user_id), so the hash match proves the
    partial→merge→count algebra exact."""
    ev = read_table(spark, sf_dir, "events").selectExpr(
        "event_type",
        "CAST(ts AS DATE) AS d",
        "bitmap_bucket_number(user_id) AS b",
        "bitmap_bit_position(user_id) AS p",
    )
    daily = ev.groupBy("event_type", "d", "b").agg(
        F.expr("bitmap_construct_agg(p)").alias("bm")
    )
    merged = daily.groupBy("event_type", "b").agg(
        F.expr("bitmap_count(bitmap_or_agg(bm))").alias("bucket_cnt")
    )
    return merged.groupBy("event_type").agg(
        F.sum("bucket_cnt").alias("n_distinct_users")
    )


_BITMAP_ORACLE = """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_distinct_users
    FROM events
    GROUP BY event_type
"""


QUERIES = {
    "ddsketch_quantiles": q_ddsketch_quantiles,
    "bitmap_distinct_counts": q_bitmap_distinct_counts,
    "cms_token_counts": q_cms_token_counts,
    "bloom_doc_filter": q_bloom_doc_filter,
    "bm25_topk": q_bm25_topk,
    "dup_span_ratio": q_dup_span_ratio,
    "partial_agg_merge": q_partial_agg_merge,
    "kmv_distinct_sketch": q_kmv_distinct_sketch,
    "kmv_jaccard_sources": q_kmv_jaccard_sources,
}

ORACLES: dict[str, str] = {
    "ddsketch_quantiles": _dd_oracle(),
    "bitmap_distinct_counts": _BITMAP_ORACLE,
    "cms_token_counts": _CMS_ORACLE,
    "bloom_doc_filter": _BLOOM_ORACLE,
    "bm25_topk": _BM25_ORACLE,
    "dup_span_ratio": _DUP_SPAN_ORACLE,
    "partial_agg_merge": _PARTIAL_MERGE_ORACLE,
    "kmv_distinct_sketch": _KMV_ORACLE,
    "kmv_jaccard_sources": _KMV_JACCARD_ORACLE,
}
