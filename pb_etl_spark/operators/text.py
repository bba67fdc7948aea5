"""Text-analysis operators over the ``documents`` table: token statistics,
quality scoring, language-ID heuristic, fingerprinting, exact dedup.

Part of the training-data-pipeline surface (dedup / quality filtering /
lang-ID are what a 100 TB corpus pipeline runs before training). Everything
here is built-in ``pyspark.sql.functions``; there is no Python UDF in any of
these paths. Array lambdas (``F.filter``, ``F.transform``, ``F.aggregate``)
run JVM-side but outside whole-stage codegen (Spark 4.1 evaluates them
interpreted, per element), so row-multiplying paths — token windows above
all — expand with ``explode(sequence(...))`` and plain built-ins per row
instead (``ngram_rows``).

Oracle parity: every expression is chosen to have an exactly-equivalent
DuckDB formulation (same split semantics, same rounding), so these are all
hash-checkable — not rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pb_etl_spark.catalog import read_table
from pb_etl_spark.operators._width import fanout_width

# Tiny per-language marker vocabularies for the n-gram/stopword language-ID
# heuristic. Deterministic and shared verbatim with the oracle SQL.
LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "fast"],
    "de": ["der", "und", "die", "das", "ein"],
    "es": ["el", "la", "de", "que", "los"],
}

STOPWORDS = ["the", "a", "of", "and", "to", "in"]


def _tokens(col: str = "text"):
    """Split on single spaces — identical semantics in Spark and DuckDB
    (consecutive spaces yield empty tokens in both; documents are
    single-spaced)."""
    return F.split(F.col(col), " ")


def ngram_rows(doc: DataFrame, n: int) -> DataFrame:
    """(doc_id, pos, gram): one row per n-token window of ``text``, stride
    1, ``pos`` 1-based — the one token-window expansion behind shingling,
    repeated-span and repetition scoring. ``explode(sequence(...))`` then
    ``concat_ws(slice(...))`` per row keeps the window inside whole-stage
    codegen, where a ``transform`` lambda over the window starts would be
    evaluated interpreted. A document with fewer than n tokens (or NULL
    text) yields no rows: ``sequence(1, size - n + 1)`` would count DOWN
    for size < n. Rows multiply ~|tokens|×, so callers spread documents
    across cores first."""
    return (
        doc.select("doc_id", _tokens().alias("_toks"))
        .select(
            "doc_id",
            "_toks",
            F.explode(
                F.when(
                    F.size("_toks") >= n,
                    F.sequence(F.lit(1), F.size("_toks") - n + 1),
                )
            ).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            F.concat_ws(" ", F.slice("_toks", F.col("pos"), F.lit(n))).alias("gram"),
        )
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + length stats (training-data quality features)."""
    doc = read_table(spark, sf_dir, "documents")
    toks = _tokens()
    return doc.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_calc"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(
            (F.length("text") - F.size(toks) + 1) / F.size(toks), 6
        ).alias("avg_token_len"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio + distinct-token ratio. Low stopword
    ratio or low lexical diversity flags machine-generated/boilerplate text."""
    doc = read_table(spark, sf_dir, "documents")
    toks = _tokens()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return doc.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(n_stop / F.size(toks), 6).alias("stopword_ratio"),
        F.round(F.size(F.array_distinct(toks)) / F.size(toks), 6).alias("distinct_ratio"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-vocabulary language-ID heuristic: count per-language marker
    tokens, argmax with a fixed precedence (en > de > es). Returns the
    prediction next to the labeled lang for downstream accuracy checks."""
    doc = read_table(spark, sf_dir, "documents")
    toks = _tokens()
    def _marker_count(markers: list[str]):
        arr = F.array(*[F.lit(m) for m in markers])
        # single-arg lambda: F.filter would treat a second parameter as the
        # element index, not a closure slot
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    counts = {lang: _marker_count(m) for lang, m in LANG_MARKERS.items()}
    pred = (
        F.when(
            (counts["en"] >= counts["de"]) & (counts["en"] >= counts["es"]), F.lit("en")
        )
        .when(counts["de"] >= counts["es"], F.lit("de"))
        .otherwise(F.lit("es"))
    )
    return doc.select("doc_id", "lang", pred.alias("predicted_lang"))


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + per-class recall for the lang-ID heuristic
    against the labeled ``lang`` column — the evaluation harness every
    classifier-backed curation step needs (the same query shape scores a
    trained replacement model). Bounded output (|langs|² cells); recall
    normalizes over the true-language partition of the aggregated
    frame, never the corpus."""
    from pyspark.sql.window import Window as W

    pred = q_lang_id(spark, sf_dir)
    cells = pred.groupBy(
        F.col("lang").alias("true_lang"),
        "predicted_lang",
    ).agg(F.count(F.lit(1)).alias("n"))
    w_true = W.partitionBy("true_lang")  # bounded: |langs|² rows
    return cells.select(
        "true_lang",
        "predicted_lang",
        "n",
        F.round(F.col("n") / F.sum("n").over(w_true), 6).alias("recall"),
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: md5 of the lowercased text (stable across
    engines, unlike xxhash64/DuckDB-hash). The join key for exact dedup at
    scale — group on the 16-byte digest, not the document body."""
    doc = read_table(spark, sf_dir, "documents")
    return doc.select("doc_id", F.md5(F.lower(F.col("text"))).alias("fingerprint"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication via group-by on the content fingerprint, keeping
    the smallest doc_id (deterministic winner, unlike dropDuplicates which
    keeps an arbitrary partition-order row). At scale this shuffles 16-byte
    digests + ids — not document bodies."""
    doc = read_table(spark, sf_dir, "documents")
    return (
        doc.select("doc_id", F.md5(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_doc_id", "n_copies")
    )


ROLL_B = 1_000_003  # polynomial base
ROLL_M = (1 << 31) - 1  # Mersenne modulus keeps products < 2^52 (exact)


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Karp–Rabin rolling-hash fingerprints with fixed-block min-hash
    selection: 4-token window hashes by Horner's rule over 32-bit token
    codes (mod 2^31-1 keeps every product in exact-integer range on both
    engines), then the minimum window hash per 8-token position block is
    kept as the document's fingerprint set. Edits shift downstream block
    boundaries (unlike true winnowing's local guarantee) — the sketch
    detects shared prefixes/blocks, not arbitrary-offset overlap. All
    integer math: oracle-exact. Token codes are computed BEFORE the
    window so each token is hashed once and the doc_id shuffle carries
    8-byte longs, not token strings."""
    from pyspark.sql.window import Window as W

    doc = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    tok = doc.select(
        "doc_id", F.posexplode(_tokens()).alias("pos", "tok")
    ).select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long").alias("c"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    c0 = F.col("c")
    c1 = F.lead("c", 1).over(w)
    c2 = F.lead("c", 2).over(w)
    c3 = F.lead("c", 3).over(w)
    h = (
        ((((c0 % ROLL_M) * ROLL_B + c1) % ROLL_M) * ROLL_B + c2) % ROLL_M
    ) * ROLL_B + c3
    return (
        tok.select("doc_id", "pos", (h % ROLL_M).alias("wh"))
        .filter(F.col("wh").isNotNull())
        .groupBy("doc_id", F.floor(F.col("pos") / 8).cast("long").alias("block"))
        .agg(F.min("wh").alias("fp"))
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document (bounded slice): tf from one
    grouped pass, df from a distinct pass, idf = ln(N/df), per-doc top-k
    via window. The inverted-index/feature-weighting shape of a text
    pipeline — all joins on the token key, no Python."""
    from pyspark.sql.window import Window as W

    doc = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    n_docs = doc.select(F.count(F.lit(1))).scalar()
    tok = doc.select(
        "doc_id", F.explode(_tokens()).alias("tok")
    )
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.distinct().groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = W.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("tok").asc()
    )
    return (
        tf.join(df_, "tok")
        .withColumn(
            "tfidf", F.round(F.col("tf") * F.log(n_docs.cast("double") / F.col("df")), 6)
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "tok", "tf", "df", "tfidf", F.col("rnk").cast("long").alias("rnk"))
    )


CHUNK_W = 32  # tokens per chunk
CHUNK_S = 24  # stride (8-token overlap)


def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (32-token chunks, stride 24) —
    the doc→training-sample explosion every LLM data pipeline runs before
    tokenization. All JVM-side: sequence/explode for chunk starts, slice +
    concat_ws for the chunk text; rows multiply ~|tokens|/stride ×, so the
    input is repartitioned first (compact-file guard, same reason as
    word_shingles)."""
    doc = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    n_parts = fanout_width(spark)
    w, s = CHUNK_W, CHUNK_S
    return (
        doc.repartition(n_parts, "doc_id")
        .select("doc_id", _tokens().alias("toks"))
        .withColumn("n", F.size("toks"))
        .withColumn(
            "n_chunks",
            F.when(F.col("n") <= w, F.lit(1)).otherwise(
                F.floor((F.col("n") - w + s - 1) / s) + 1
            ),
        )
        .select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.expr(f"slice(toks, chunk_id * {s} + 1, {w})").alias("chunk"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size("chunk").cast("long").alias("n_tokens"),
            F.concat_ws(" ", "chunk").alias("chunk_text"),
        )
    )


def q_udtf_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same chunking contract as ``doc_chunking``, expressed through
    the PySpark 4 Python UDTF surface (``@udtf(useArrow=True)`` +
    LATERAL table function) instead of sequence/explode — registered so
    the engine exercises and verifies the table-function API end-to-end
    against the identical DuckDB oracle. The built-in-expression twin
    remains the hot path (JVM codegen beats even an Arrow UDTF); this is
    the extension point users reach for when chunking logic outgrows
    SQL expressions (tokenizer-aware splits, sentence boundaries)."""
    from pyspark.sql.functions import udtf

    w, s = CHUNK_W, CHUNK_S

    @udtf(
        returnType="chunk_id: bigint, n_tokens: bigint, chunk_text: string",
        useArrow=True,
    )
    class Chunker:
        def eval(self, text: str):
            toks = text.split(" ")
            n = len(toks)
            n_chunks = 1 if n <= w else (n - w + s - 1) // s + 1
            for c in range(n_chunks):
                piece = toks[c * s : c * s + w]
                yield c, len(piece), " ".join(piece)

    spark.udtf.register("pb_etl_chunker", Chunker)
    doc = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    doc.createOrReplaceTempView("__udtf_chunk_docs")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_id, c.n_tokens, c.chunk_text
        FROM __udtf_chunk_docs d, LATERAL pb_etl_chunker(d.text) c
        """
    )


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: corpus documents sharing ≥ 3 distinct
    3-gram shingles with any document of a 'benchmark' set (doc_id < 10
    here) — the decontamination pass run before training so eval data
    does not leak into the corpus. Join keyed on the shingle (inverted
    index), then a grouped count per (corpus doc, benchmark doc) — the
    benchmark side is tiny and broadcasts; no document-pair cross join."""
    from pb_etl_spark.operators.dedup import word_shingles

    docs = read_table(spark, sf_dir, "documents")
    sh = word_shingles(docs)
    bench = sh.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("bench_id"), "sh"
    )
    corpus = sh.filter(F.col("doc_id") >= 10)
    return (
        corpus.join(F.broadcast(bench), "sh")
        .groupBy("doc_id", "bench_id")
        .agg(F.count_distinct("sh").alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition score (Gopher-style quality signal): the
    fraction of 3-gram occurrences that are repeats of an earlier 3-gram
    in the same document — high values flag boilerplate/spam for corpus
    pruning. One explode + one grouped pass (count vs count-distinct)."""
    doc = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    n_parts = fanout_width(spark)
    return (
        ngram_rows(doc.repartition(n_parts, "doc_id"), 3)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(
                1 - F.count_distinct("gram") / F.count(F.lit(1)), 6
            ).alias("rep_ratio"),
        )
    )


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build: top-50 non-stopword tokens by total
    occurrences with document frequency — the tokenizer-vocab /
    frequency-table pass. Token-keyed two-level aggregation; the shuffle
    carries (token, partial counts), never documents."""
    docs = read_table(spark, sf_dir, "documents")
    n_parts = fanout_width(spark)
    tok = (
        docs.repartition(n_parts, "doc_id")
        .select("doc_id", F.explode(_tokens()).alias("tok"))
        .filter(~F.col("tok").isin(*STOPWORDS))
    )
    return (
        tok.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.count_distinct("doc_id").alias("df"),
        )
        .orderBy(F.col("tf").desc(), F.col("tok").asc())
        .limit(50)
    )


ROC_THRESHOLDS = tuple(range(0, 101, 10))  # en-marker rate per mille


def _en_score_int():
    """Integer per-mille EN-marker rate: floor(1000·|en-marker tokens|
    / |tokens|), returned as LONG — the deterministic classifier score
    behind the ROC/AUC harness (integral, so threshold compares are
    engine-exact; the floor lives HERE so every consumer gets the same
    integer column)."""
    toks = _tokens()
    en_arr = F.array(*[F.lit(m) for m in LANG_MARKERS["en"]])
    n_en = F.size(F.filter(toks, lambda t: F.array_contains(en_arr, t)))
    return F.floor(
        F.expr("1000L") * n_en.cast("long") / F.size(toks)
    ).cast("long")


def q_roc_curve_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC sweep for the EN-marker language classifier (score =
    per-mille marker rate, label = lang == 'en'): per threshold, the
    confusion counts and TPR/FPR/precision — the model-eval harness
    beside lang_id_confusion, with every number integer-derived.

    Shape: one per-doc score projection, a bounded |thresholds|-row
    crossJoin (the sweep), one grouped count."""
    doc = read_table(spark, sf_dir, "documents")
    # y via CASE (not a bare boolean cast): a NULL lang must count as a
    # negative exactly like the oracle's CASE WHEN, not vanish from SUM
    scored = doc.select(
        _en_score_int().alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).cast("long").alias("y"),
    )
    th = spark.createDataFrame([(t,) for t in ROC_THRESHOLDS], "threshold long")
    return (
        scored.crossJoin(F.broadcast(th))
        .groupBy("threshold")
        .agg(
            F.sum(F.when(F.col("score") >= F.col("threshold"), F.col("y")).otherwise(0)).alias("tp"),
            F.sum(
                F.when(F.col("score") >= F.col("threshold"), 1 - F.col("y")).otherwise(0)
            ).alias("fp"),
            F.sum("y").alias("pos"),
            F.sum(F.lit(1) - F.col("y")).alias("neg"),
        )
        .select(
            "threshold",
            "tp",
            "fp",
            F.round(F.col("tp").cast("double") / F.col("pos"), 6).alias("tpr"),
            F.round(F.col("fp").cast("double") / F.col("neg"), 6).alias("fpr"),
            F.when(F.col("tp") + F.col("fp") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.col("tp").cast("double") / (F.col("tp") + F.col("fp")), 6
                )
            )
            .alias("precision"),
        )
    )


def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trapezoidal AUC over the threshold sweep — computed
    ENTIRELY in integers: AUC·2·P·N = Σ (FP_i − FP_{i+1})·(TP_i +
    TP_{i+1}) over thresholds sorted ascending (descending FP), an
    order-independent integer sum, divided once at the end. No double
    accumulates across rows, so the estimate is engine-exact by
    construction (the usual float trapezoid would be order-sensitive)."""
    from pyspark.sql.window import Window as W

    pts = q_roc_curve_points(spark, sf_dir).select("threshold", "tp", "fp")
    # (P, N) are exactly the threshold-0 row of the sweep (scores are
    # always >= 0): no second documents scan, one definition of y
    totals = pts.filter(F.col("threshold") == 0).select(
        F.col("tp").alias("pos"), F.col("fp").alias("neg")
    )
    w = W.orderBy("threshold")
    terms = (
        pts.withColumn("tp_next", F.lead("tp").over(w))
        .withColumn("fp_next", F.lead("fp").over(w))
        .filter(F.col("tp_next").isNotNull())
        .select(
            (
                (F.col("fp") - F.col("fp_next"))
                * (F.col("tp") + F.col("tp_next"))
            ).alias("units")
        )
    )
    return (
        terms.agg(F.sum("units").alias("units"))
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("pos").alias("n_pos"),
            F.col("neg").alias("n_neg"),
            F.round(
                F.col("units").cast("double")
                / (2.0 * F.col("pos") * F.col("neg")),
                6,
            ).alias("auc_partial"),
        )
    )


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table for the EN-marker score: documents bucketed by
    score band (per-mille div 100 → bands 0..10), each band's observed
    positive rate next to its mean score — the reliability-diagram
    input that tells you whether a score of 0.3 MEANS 30%. Completes
    the eval family (confusion matrix → ROC/AUC → calibration).

    Bands and counts are integers; mean score and observed rate are
    single divisions over band-local integer sums (round 6)."""
    doc = read_table(spark, sf_dir, "documents")
    scored = doc.select(
        _en_score_int().alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).cast("long").alias("y"),
    )
    return (
        scored.groupBy(F.expr("score div 100").alias("band"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("score").alias("score_sum"),
            F.sum("y").alias("n_pos"),
        )
        .select(
            "band",
            "n_docs",
            F.round(
                F.col("score_sum").cast("double") / 1000.0 / F.col("n_docs"), 6
            ).alias("mean_score"),
            F.round(F.col("n_pos").cast("double") / F.col("n_docs"), 6).alias(
                "observed_rate"
            ),
        )
    )


ZIPF_TOP = 200  # vocabulary head used for the log-log fit


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law diagnostic: OLS fit of ln(freq) against ln(rank) over
    the top-200 corpus terms — natural text tracks slope ≈ −1, and a
    corpus whose slope drifts (template spam flattens it, dedup
    over-pruning steepens it) fails the health check. The standard
    corpus-distribution monitor next to `vocab_drift`.

    Shape: one token explode + grouped count (the only fact-sized
    work), TakeOrderedAndProject to the 200-term head, rank + the five
    OLS sums over that bounded frame, closed-form slope/intercept/r²
    in one projection. Per-element ln values snap to a 1e-9 grid
    before summation (the bigram_loglik discipline) so the bounded
    double sums agree across engines."""
    from pyspark.sql.window import Window as W

    tok = (
        read_table(spark, sf_dir, "documents")
        .select(F.explode(_tokens()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("term"))
        .limit(ZIPF_TOP)
    )
    w = W.orderBy(F.col("cnt").desc(), F.col("term"))
    xy = tok.select(
        F.round(F.log(F.row_number().over(w).cast("double")), 9).alias("x"),
        F.round(F.log(F.col("cnt").cast("double")), 9).alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(cov / varx, 6).alias("slope"),
        F.round((F.col("sy") - (cov / varx) * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
        F.round(cov * cov / (varx * vary), 6).alias("r2"),
    )


ORACLES: dict[str, str] = {
    "calibration_bins": """
        WITH scored AS (
            SELECT CAST(FLOOR(1000 * len(list_filter(string_split(text, ' '),
                                   t -> t IN ('the', 'a', 'of', 'and', 'fast')))
                        / len(string_split(text, ' '))) AS BIGINT) AS score,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents
        )
        SELECT score // 100 AS band,
               COUNT(*) AS n_docs,
               ROUND(CAST(SUM(score) AS DOUBLE) / 1000.0 / COUNT(*), 6)
                   AS mean_score,
               ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS observed_rate
        FROM scored GROUP BY 1
    """,
    "roc_curve_points": """
        WITH scored AS (
            SELECT CAST(FLOOR(1000 * len(list_filter(string_split(text, ' '),
                                   t -> t IN ('the', 'a', 'of', 'and', 'fast')))
                        / len(string_split(text, ' '))) AS BIGINT) AS score,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents
        ), th AS (SELECT CAST(t.threshold AS BIGINT) AS threshold FROM (VALUES (0), (10), (20), (30), (40), (50), (60), (70), (80), (90), (100)) t(threshold))
        SELECT th.threshold,
               CAST(SUM(CASE WHEN score >= th.threshold THEN y ELSE 0 END)
                    AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN score >= th.threshold THEN 1 - y ELSE 0 END)
                    AS BIGINT) AS fp,
               ROUND(CAST(SUM(CASE WHEN score >= th.threshold THEN y
                                   ELSE 0 END) AS DOUBLE) / SUM(y), 6)
                   AS tpr,
               ROUND(CAST(SUM(CASE WHEN score >= th.threshold THEN 1 - y
                                   ELSE 0 END) AS DOUBLE) / SUM(1 - y), 6)
                   AS fpr,
               CASE WHEN SUM(CASE WHEN score >= th.threshold THEN 1
                                  ELSE 0 END) = 0 THEN 0.0
                    ELSE ROUND(CAST(SUM(CASE WHEN score >= th.threshold
                                            THEN y ELSE 0 END) AS DOUBLE)
                               / SUM(CASE WHEN score >= th.threshold
                                          THEN 1 ELSE 0 END), 6) END
                   AS precision
        FROM scored CROSS JOIN th
        GROUP BY th.threshold
    """,
    "roc_auc": """
        WITH scored AS (
            SELECT CAST(FLOOR(1000 * len(list_filter(string_split(text, ' '),
                                   t -> t IN ('the', 'a', 'of', 'and', 'fast')))
                        / len(string_split(text, ' '))) AS BIGINT) AS score,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents
        ), th AS (SELECT * FROM (VALUES (0), (10), (20), (30), (40), (50), (60), (70), (80), (90), (100)) t(threshold)),
        pts AS (
            SELECT th.threshold,
                   SUM(CASE WHEN score >= th.threshold THEN y ELSE 0 END)
                       AS tp,
                   SUM(CASE WHEN score >= th.threshold THEN 1 - y ELSE 0 END)
                       AS fp
            FROM scored CROSS JOIN th GROUP BY th.threshold
        ), terms AS (
            SELECT (fp - LEAD(fp) OVER (ORDER BY threshold))
                   * (tp + LEAD(tp) OVER (ORDER BY threshold)) AS units
            FROM pts
        ), tot AS (
            SELECT CAST(tp AS BIGINT) AS pos, CAST(fp AS BIGINT) AS neg
            FROM pts WHERE threshold = 0
        )
        SELECT t.pos AS n_pos, t.neg AS n_neg,
               ROUND(CAST(SUM(units) AS DOUBLE)
                     / (2.0 * CAST(t.pos AS DOUBLE) * t.neg), 6)
                   AS auc_partial
        FROM terms CROSS JOIN tot t
        WHERE units IS NOT NULL
        GROUP BY t.pos, t.neg
    """,
    "zipf_slope": f"""
        WITH tok AS (
            SELECT unnest(string_split(text, ' ')) AS term FROM documents
        ), cnts AS (
            SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term
            ORDER BY cnt DESC, term LIMIT {ZIPF_TOP}
        ), xy AS (
            SELECT ROUND(LN(CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term)
                               AS DOUBLE)), 9) AS x,
                   ROUND(LN(CAST(cnt AS DOUBLE)), 9) AS y
            FROM cnts
        ), s AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * x) AS sxx, SUM(y * y) AS syy,
                   SUM(x * y) AS sxy
            FROM xy
        )
        SELECT CAST(n AS BIGINT) AS n_terms,
               ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
               ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                     / n, 6) AS intercept,
               ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                     / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        FROM s
    """,
    "udtf_chunking": f"""
        WITH d AS (
            SELECT doc_id, string_split(text, ' ') AS toks,
                   len(string_split(text, ' ')) AS n
            FROM documents WHERE doc_id < 100
        ),
        c AS (
            SELECT doc_id, toks,
                   unnest(generate_series(0,
                       CASE WHEN n <= {CHUNK_W} THEN 0
                            ELSE CAST(FLOOR((n - {CHUNK_W} + {CHUNK_S} - 1)
                                            / {CHUNK_S}) AS BIGINT) END)) AS chunk_id
            FROM d
        )
        SELECT doc_id, chunk_id,
               len(toks[chunk_id * {CHUNK_S} + 1 : chunk_id * {CHUNK_S} + {CHUNK_W}])
                   AS n_tokens,
               array_to_string(
                   toks[chunk_id * {CHUNK_S} + 1 : chunk_id * {CHUNK_S} + {CHUNK_W}],
                   ' ') AS chunk_text
        FROM c
    """,
    "doc_chunking": f"""
        WITH d AS (
            SELECT doc_id, string_split(text, ' ') AS toks,
                   len(string_split(text, ' ')) AS n
            FROM documents WHERE doc_id < 100
        ),
        c AS (
            SELECT doc_id, toks,
                   unnest(generate_series(0,
                       CASE WHEN n <= {CHUNK_W} THEN 0
                            ELSE CAST(FLOOR((n - {CHUNK_W} + {CHUNK_S} - 1)
                                            / {CHUNK_S}) AS BIGINT) END)) AS chunk_id
            FROM d
        )
        SELECT doc_id, chunk_id,
               len(toks[chunk_id * {CHUNK_S} + 1 : chunk_id * {CHUNK_S} + {CHUNK_W}])
                   AS n_tokens,
               array_to_string(
                   toks[chunk_id * {CHUNK_S} + 1 : chunk_id * {CHUNK_S} + {CHUNK_W}],
                   ' ') AS chunk_text
        FROM c
    """,
    "contamination_check": """
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
        idx AS (SELECT doc_id, arr, unnest(generate_series(1, len(arr) - 2)) AS i FROM toks),
        sh AS (SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS sh
               FROM idx)
        SELECT c.doc_id, b.doc_id AS bench_id, COUNT(DISTINCT c.sh) AS n_shared
        FROM sh c JOIN sh b ON c.sh = b.sh
        WHERE b.doc_id < 10 AND c.doc_id >= 10
        GROUP BY c.doc_id, b.doc_id
        HAVING COUNT(DISTINCT c.sh) >= 3
    """,
    "repetition_ratio": """
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS arr
                      FROM documents WHERE doc_id < 200),
        idx AS (SELECT doc_id, arr, unnest(generate_series(1, len(arr) - 2)) AS i
                FROM toks WHERE len(arr) >= 3),
        g AS (SELECT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS g
              FROM idx)
        SELECT doc_id, COUNT(*) AS n_grams,
               ROUND(1 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*), 6)
                   AS rep_ratio
        FROM g GROUP BY doc_id
    """,
    "vocab_topk": f"""
        SELECT tok, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        WHERE tok NOT IN ({", ".join(f"'{s}'" for s in STOPWORDS)})
        GROUP BY tok
        ORDER BY tf DESC, tok ASC
        LIMIT 50
    """,
    "rolling_fingerprint": f"""
        WITH tok AS (
            SELECT doc_id,
                   generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
                   unnest(string_split(text, ' ')) AS tok
            FROM documents WHERE doc_id < 100
        ),
        coded AS (
            SELECT doc_id, pos,
                   CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) AS c
            FROM tok
        ),
        win AS (
            SELECT doc_id, pos, c AS c0,
                   LEAD(c, 1) OVER w AS c1,
                   LEAD(c, 2) OVER w AS c2,
                   LEAD(c, 3) OVER w AS c3
            FROM coded
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        )
        SELECT doc_id,
               CAST(FLOOR(pos / 8) AS BIGINT) AS block,
               MIN(((((((c0 % {ROLL_M}) * {ROLL_B} + c1) % {ROLL_M})
                      * {ROLL_B} + c2) % {ROLL_M}) * {ROLL_B} + c3) % {ROLL_M})
                   AS fp
        FROM win WHERE c3 IS NOT NULL
        GROUP BY doc_id, block
    """,
    "tfidf_top_terms": """
        WITH doc AS (SELECT * FROM documents WHERE doc_id < 50),
        n AS (SELECT COUNT(*) AS n_docs FROM doc),
        tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM doc),
        tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok),
        df AS (SELECT tok, COUNT(*) AS df
               FROM (SELECT DISTINCT doc_id, tok FROM tok) GROUP BY tok),
        scored AS (
            SELECT tf.doc_id, tf.tok, tf.tf, df.df,
                   ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
            FROM tf JOIN df USING (tok) CROSS JOIN n
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                         ORDER BY tfidf DESC, tok ASC) AS rnk
            FROM scored
        )
        SELECT doc_id, tok, tf, df, tfidf, rnk FROM ranked WHERE rnk <= 3
    """,
    "text_stats": """
        SELECT doc_id,
               LENGTH(text) AS n_chars_calc,
               LEN(string_split(text, ' ')) AS n_tokens,
               ROUND(CAST(LENGTH(text) - LEN(string_split(text, ' ')) + 1 AS DOUBLE)
                     / LEN(string_split(text, ' ')), 6) AS avg_token_len
        FROM documents
    """,
    "text_quality": """
        SELECT doc_id,
               LEN(toks) AS n_tokens,
               ROUND(CAST(LEN(list_filter(toks,
                   t -> t IN ('the','a','of','and','to','in'))) AS DOUBLE)
                   / LEN(toks), 6) AS stopword_ratio,
               ROUND(CAST(LEN(list_distinct(toks)) AS DOUBLE) / LEN(toks), 6)
                   AS distinct_ratio
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    """,
    "lang_id": """
        WITH scored AS (
            SELECT doc_id, lang,
                   LEN(list_filter(toks, t -> t IN ('the','a','of','and','fast'))) AS c_en,
                   LEN(list_filter(toks, t -> t IN ('der','und','die','das','ein'))) AS c_de,
                   LEN(list_filter(toks, t -> t IN ('el','la','de','que','los'))) AS c_es
            FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
        )
        SELECT doc_id, lang,
               CASE WHEN c_en >= c_de AND c_en >= c_es THEN 'en'
                    WHEN c_de >= c_es THEN 'de'
                    ELSE 'es' END AS predicted_lang
        FROM scored
    """,
    "lang_id_confusion": """
        WITH scored AS (
            SELECT doc_id, lang,
                   LEN(list_filter(toks, t -> t IN ('the','a','of','and','fast'))) AS c_en,
                   LEN(list_filter(toks, t -> t IN ('der','und','die','das','ein'))) AS c_de,
                   LEN(list_filter(toks, t -> t IN ('el','la','de','que','los'))) AS c_es
            FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
        ), pred AS (
            SELECT lang AS true_lang,
                   CASE WHEN c_en >= c_de AND c_en >= c_es THEN 'en'
                        WHEN c_de >= c_es THEN 'de'
                        ELSE 'es' END AS predicted_lang
            FROM scored
        ), cells AS (
            SELECT true_lang, predicted_lang, COUNT(*) AS n
            FROM pred GROUP BY 1, 2
        )
        SELECT true_lang, predicted_lang, n,
               ROUND(CAST(n AS DOUBLE)
                     / SUM(n) OVER (PARTITION BY true_lang), 6) AS recall
        FROM cells
    """,
    "doc_fingerprint": """
        SELECT doc_id, md5(LOWER(text)) AS fingerprint FROM documents
    """,
    "dedup_exact": """
        SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
}

QUERIES = {
    "zipf_slope": q_zipf_slope,
    "roc_curve_points": q_roc_curve_points,
    "roc_auc": q_roc_auc,
    "calibration_bins": q_calibration_bins,
    "text_stats": q_text_stats,
    "text_quality": q_text_quality,
    "lang_id": q_lang_id,
    "lang_id_confusion": q_lang_id_confusion,
    "doc_fingerprint": q_doc_fingerprint,
    "dedup_exact": q_dedup_exact,
    "tfidf_top_terms": q_tfidf_top_terms,
    "rolling_fingerprint": q_rolling_fingerprint,
    "doc_chunking": q_doc_chunking,
    "udtf_chunking": q_udtf_chunking,
    "contamination_check": q_contamination_check,
    "repetition_ratio": q_repetition_ratio,
    "vocab_topk": q_vocab_topk,
}
