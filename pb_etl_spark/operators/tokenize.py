"""Distributed BPE merge training — learning a byte-pair-encoding merge
table from the corpus (the tokenizer-training step of an LLM data
pipeline; ``scalar_funcs.q_bpe_token_count`` is the downstream
apply-side counting).

Scale shape: only the FIRST step touches the corpus — one explode +
grouped count producing the word vocabulary with frequencies. The
merges then run in ONE grouped-map pass (``applyInPandas`` over a single
group) on that vocabulary, which the registered queries bound by the
``doc_id < 200`` slice (31 distinct words at sf0.001, sf0.01 and sf0.1).
Per round the pass counts adjacent symbol pairs weighted by word
frequency, takes the argmax (count desc, then lexicographic pair) and
rewrites every word with ``_apply_merge``. It emits the merge rows and,
per word, the token count after the last merge, so the trainer and the
encoder read one training, and building either frame runs no Spark job.

Determinism: ties broken lexicographically, so the merge table is a pure
function of the corpus. The exact-equivalence test
(tests/test_tokenize.py) replays the same algorithm in plain Python and
must match merge-for-merge.
"""

from __future__ import annotations

from collections import Counter

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
    a+b — the canonical BPE apply step."""
    merged, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            merged.append(a + b)
            i += 2
        else:
            merged.append(syms[i])
            i += 1
    return merged


_TRAINED = "rank long, left string, right string, pair_count long, w string, n_tok long"


def _bpe_train(docs: DataFrame, n_merges: int = N_MERGES) -> DataFrame:
    """One pass of ``n_merges`` BPE rounds over ``docs``' word vocabulary.
    Rows with a ``rank`` are the merges (left, right, pair_count) in merge
    order; rows with a ``w`` give that word's token count after the last
    merge, which equals applying the merges in rank order to the word."""

    def train(pdf: pd.DataFrame) -> pd.DataFrame:
        freq = dict(zip(pdf["w"], pdf["n"]))
        vocab = {w: list(s) for w, s in zip(pdf["w"], pdf["s"])}
        merges = []
        for rank in range(1, n_merges + 1):
            pairs: Counter = Counter()
            for w, syms in vocab.items():
                for pair in zip(syms, syms[1:]):
                    pairs[pair] += freq[w]
            if not pairs:
                break
            (a, b), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((rank, a, b, c, None, None))
            vocab = {w: _apply_merge(syms, a, b) for w, syms in vocab.items()}
        words = [(None, None, None, None, w, len(s)) for w, s in vocab.items()]
        return pd.DataFrame(
            merges + words,
            columns=["rank", "left", "right", "pair_count", "w", "n_tok"],
        ).astype({"rank": "Int64", "pair_count": "Int64", "n_tok": "Int64"})

    return (
        word_vocab(docs)
        .select("w", "n", F.split(F.col("w"), "").alias("s"))
        .groupBy()
        .applyInPandas(train, _TRAINED)
    )


def learn_bpe_merges(docs: DataFrame, n_merges: int = N_MERGES) -> DataFrame:
    """The merge table (rank, left, right, pair_count) in merge order."""
    return (
        _bpe_train(docs, n_merges)
        .filter(F.col("rank").isNotNull())
        .select("rank", "left", "right", "pair_count")
    )


def _slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table as a DataFrame: (rank, left, right,
    pair_count). Hash-checked: the oracle unrolls the trainer's argmax
    loop into SQL CTE stages (see ``_bpe_cte_chain``); exact-equivalence
    vs a plain-Python reference implementation is additionally asserted
    in tests/test_tokenize.py."""
    return learn_bpe_merges(_slice(spark, sf_dir))


def q_bpe_encode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY side: per-doc BPE token counts plus the
    compression ratio vs raw characters. The training pass's per-word
    token counts are joined onto each document's words and summed per
    document; the characters are the words' lengths summed, i.e. the
    text without its spaces. Hash-checked against the same SQL replay of
    the trainer (``_bpe_cte_chain``) extended with a per-word encode +
    per-doc rollup."""
    docs = _slice(spark, sf_dir)
    wtok = _bpe_train(docs).filter(F.col("w").isNotNull()).select("w", "n_tok")
    # guard the ratio: an empty/all-space text has 0 char tokens and
    # would emit a NULL compression
    words = docs.filter(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    return (
        words.join(wtok, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("n_tok").alias("bpe_tokens"),
            F.sum(F.length("w")).cast("long").alias("char_tokens"),
        )
        .select(
            "doc_id",
            "bpe_tokens",
            "char_tokens",
            F.round(F.col("bpe_tokens") / F.col("char_tokens"), 6).alias(
                "compression"
            ),
        )
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
