"""Distributed BPE merge training — learning a byte-pair-encoding merge
table from the corpus (the tokenizer-training step of an LLM data
pipeline; ``scalar_funcs.q_bpe_token_count`` is the downstream
apply-side counting).

Scale shape (the reason BPE trains fine on 100 TB): only the FIRST step
touches the corpus — one explode + grouped count producing the word
vocabulary with frequencies. Every merge iteration after that operates
on the VOCAB table (|distinct words|, ~sqrt-ish of corpus mass), looping
driver-side over k merges:

  pair counts  : one grouped agg over the vocab's adjacent symbol pairs
                 (weighted by word frequency) — map-side combinable;
  argmax       : a driver-sized ``first()`` on the ordered pair counts
                 (deterministic: count desc, then lexicographic pair);
  apply merge  : Arrow-batched pandas UDF rewriting each word's symbol
                 array left-to-right (vocab-sized, not corpus-sized);
  checkpoint   : ``localCheckpoint`` truncates the growing lineage each
                 round — same discipline as clustering.py's iterative
                 connected components.

Determinism: ties broken lexicographically, so the merge table is a pure
function of the corpus. The exact-equivalence test
(tests/test_tokenize.py) replays the same algorithm in plain Python and
must match merge-for-merge; the registered query is rows-only for the
driver (an iterative argmax loop is not expressible as one SQL oracle).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pb_etl_spark.catalog import read_table

N_MERGES = 15


def word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """word → corpus frequency; the only corpus-sized pass."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _apply_merge(syms, a: str, b: str) -> list[str]:
    """Left-to-right non-overlapping replacement of adjacent (a, b) with
    a+b — the canonical BPE apply step. ONE implementation shared by the
    trainer's and the encoder's UDFs: the training/apply equivalence
    depends on both using identical overlap semantics."""
    merged, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            merged.append(a + b)
            i += 2
        else:
            merged.append(syms[i])
            i += 1
    return merged


def _merge_udf(a: str, b: str):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def apply_merge(sym_col: pd.Series) -> pd.Series:
        return pd.Series([_apply_merge(list(s), a, b) for s in sym_col])

    return apply_merge


def learn_bpe_merges(
    spark: SparkSession, docs: DataFrame, n_merges: int = N_MERGES
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns [(left, right, count)] in
    merge order."""
    vocab = word_vocab(docs)
    cur = vocab.select(
        "n", F.split(F.col("w"), "").alias("s")
    ).localCheckpoint(eager=True)

    pair_expr = F.expr(
        "transform(sequence(1, size(s) - 1), "
        "i -> struct(element_at(s, i) AS a, element_at(s, i + 1) AS b))"
    )
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        top = (
            cur.filter(F.size("s") >= 2)
            .select(F.explode(pair_expr).alias("p"), "n")
            .groupBy("p")
            .agg(F.sum("n").alias("c"))
            .orderBy(F.col("c").desc(), F.col("p.a").asc(), F.col("p.b").asc())
            .first()
        )
        if top is None:
            break
        a, b, c = top["p"]["a"], top["p"]["b"], int(top["c"])
        merges.append((a, b, c))
        prev = cur
        cur = cur.withColumn("s", _merge_udf(a, b)(F.col("s"))).localCheckpoint(
            eager=True
        )
        # drop the superseded round's blocks — same discipline as
        # clustering.py: without this, executor storage pins O(n_merges)
        # copies of the symbolized vocab
        prev.unpersist()
    return merges


def _merges_for(spark: SparkSession, sf_dir: str) -> list[tuple[str, str, int]]:
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return learn_bpe_merges(spark, docs)


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table as a DataFrame: (rank, left, right,
    pair_count). Hash-checked: the oracle unrolls the trainer's argmax
    loop into SQL CTE stages (see ``_bpe_cte_chain``); exact-equivalence
    vs a plain-Python reference implementation is additionally asserted
    in tests/test_tokenize.py."""
    merges = _merges_for(spark, sf_dir)
    return spark.createDataFrame(
        [(i + 1, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "rank long, left string, right string, pair_count long",
    )


def bpe_encode_udf(merges: list[tuple[str, str]]):
    """Arrow-batched encoder applying the learned merges in RANK ORDER
    to each whitespace word (the canonical BPE apply: training order =
    application priority). The merge list is a driver-side constant
    (KBs) shipped in the closure — the same pattern as the LSH
    hyperplanes and PQ codebooks."""
    from pyspark.sql.functions import pandas_udf

    pairs = [(a, b) for a, b, *_ in merges]

    @pandas_udf("long")
    def encode_count(text_col: pd.Series) -> pd.Series:
        def count_tokens(text: str) -> int:
            total = 0
            for w in text.split(" "):
                if not w:
                    continue
                syms = list(w)
                for a, b in pairs:
                    syms = _apply_merge(syms, a, b)
                total += len(syms)
            return total

        return text_col.map(count_tokens)

    return encode_count


def q_bpe_encode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY side: learn the merge table (once, driver-side
    loop over vocab-sized jobs), then encode every document with it —
    per-doc BPE token counts plus the compression ratio vs raw
    characters. The encode pass is embarrassingly parallel (merge table
    broadcast in the closure; one corpus scan). Hash-checked against
    the same SQL replay of the trainer (``_bpe_cte_chain``) extended
    with a per-word encode + per-doc rollup."""
    docs = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        # guard the ratio: an empty/all-space text has 0 char tokens and
        # would emit a NULL compression
        .filter(F.length(F.trim(F.col("text"))) > 0)
    )
    merges = _merges_for(spark, sf_dir)
    enc = bpe_encode_udf([(a, b) for a, b, _ in merges])
    n_char_tokens = F.length(F.regexp_replace(F.col("text"), " ", "")).cast("long")
    # two-step select: the encode UDF runs ONCE per row (Catalyst does
    # not CSE duplicate pandas-UDF calls across output columns)
    return docs.select(
        "doc_id",
        enc(F.col("text")).alias("bpe_tokens"),
        n_char_tokens.alias("char_tokens"),
    ).select(
        "doc_id",
        "bpe_tokens",
        "char_tokens",
        F.round(F.col("bpe_tokens") / F.col("char_tokens"), 6).alias("compression"),
    )


QUERIES = {
    "bpe_train_merges": q_bpe_train_merges,
    "bpe_encode_counts": q_bpe_encode_counts,
}


def _bpe_cte_chain(n_merges: int = N_MERGES) -> str:
    """DuckDB CTE chain that REPLAYS the whole distributed BPE trainer in
    SQL — the iterative argmax loop unrolled into ``n_merges`` stages, so
    both the learned merge table and the encode pass get a genuine
    value-checked oracle (sf-independent: the oracle re-derives the
    merges from whatever corpus slice it runs on, exactly like the Spark
    trainer does).

    Per stage k: ``pairs{{k}}`` counts adjacent symbol pairs weighted by
    word frequency, ``top{{k}}`` is the deterministic argmax (count desc,
    then lexicographic), ``vocab{{k}}`` applies the merge via a
    ``list_reduce`` whose accumulator is the chr(31)-joined symbol
    string. The reduce's "merge last symbol with x" step is equivalent
    to the trainer's left-to-right non-overlapping ``_apply_merge``:
    a freshly merged symbol (text a||b) can never equal the left operand
    a again (b is non-empty), so it is never re-merged within a stage —
    the same invariant the skip-2 scan enforces."""
    parts = [
        """words AS (
            SELECT w, COUNT(*) AS n FROM (
                SELECT unnest(string_split(text, ' ')) AS w
                FROM documents WHERE doc_id < 200
            ) WHERE w <> '' GROUP BY w
        ), vocab0 AS MATERIALIZED (
            SELECT w, n,
                   array_to_string(
                       list_transform(generate_series(1, length(w)), i -> w[i]),
                       chr(31)) AS s
            FROM words
        )"""
    ]
    for k in range(1, n_merges + 1):
        parts.append(f"""pairs{k} AS MATERIALIZED (
            SELECT v.a, v.b, CAST(SUM(v.n) AS BIGINT) AS c
            FROM (
                SELECT sy.n AS n, sy.syms[g.i] AS a, sy.syms[g.i + 1] AS b
                FROM (SELECT n, string_split(s, chr(31)) AS syms
                      FROM vocab{k - 1}) sy,
                     LATERAL unnest(generate_series(1, len(sy.syms) - 1)) AS g(i)
            ) v GROUP BY v.a, v.b
        ), top{k} AS MATERIALIZED (
            SELECT a, b, c FROM pairs{k} ORDER BY c DESC, a ASC, b ASC LIMIT 1
        ), vocab{k} AS MATERIALIZED (
            SELECT v.w, v.n,
                   list_reduce(string_split(v.s, chr(31)),
                       (acc, x) -> CASE
                           WHEN x = t.b AND (acc = t.a OR
                                right(acc, length(t.a) + 1) = chr(31) || t.a)
                           THEN left(acc, length(acc) - length(t.a)) || t.a || t.b
                           ELSE acc || chr(31) || x END) AS s
            FROM vocab{k - 1} v CROSS JOIN top{k} t
        )""")
    return ",\n        ".join(parts)


_TRAIN_UNION = "\n            UNION ALL ".join(
    f'SELECT CAST({k} AS BIGINT) AS "rank", a AS "left", b AS "right", '
    f"c AS pair_count FROM top{k}"
    for k in range(1, N_MERGES + 1)
)

ORACLES: dict[str, str] = {
    "bpe_train_merges": f"""
        WITH {_bpe_cte_chain()}
        SELECT * FROM ({_TRAIN_UNION}) ORDER BY "rank"
    """,
    "bpe_encode_counts": f"""
        WITH {_bpe_cte_chain()},
        doc_words AS (
            SELECT doc_id, w FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents WHERE doc_id < 200 AND length(trim(text)) > 0
            ) WHERE w <> ''
        ), wtok AS (
            SELECT w, CAST(len(string_split(s, chr(31))) AS BIGINT) AS n_tok
            FROM vocab{N_MERGES}
        ), counts AS (
            SELECT doc_id, CAST(SUM(n_tok) AS BIGINT) AS bpe_tokens
            FROM doc_words JOIN wtok USING (w) GROUP BY doc_id
        )
        SELECT d.doc_id, c.bpe_tokens,
               CAST(length(replace(d.text, ' ', '')) AS BIGINT) AS char_tokens,
               ROUND(CAST(c.bpe_tokens AS DOUBLE)
                     / length(replace(d.text, ' ', '')), 6) AS compression
        FROM documents d JOIN counts c USING (doc_id)
        WHERE d.doc_id < 200 AND length(trim(d.text)) > 0
    """,
}
