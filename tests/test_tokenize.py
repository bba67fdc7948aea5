"""BPE merge training (operators/tokenize.py): exact equivalence with a
plain-Python reference implementation of the same algorithm — the check
a rows-only registered query needs."""

from __future__ import annotations

import shutil
from collections import Counter

from pyspark.sql import functions as F

from pb_etl_spark.operators.tokenize import learn_bpe_merges, word_vocab
from tests.conftest import SF_DIR


def _python_bpe(word_counts: dict[str, int], n_merges: int):
    """Reference BPE: same tie-breaking (count desc, then lexicographic)."""
    vocab = {w: list(w) for w in word_counts}
    merges = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, syms in vocab.items():
            n = word_counts[w]
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += n
        if not pairs:
            break
        (a, b), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, c))
        for w, syms in vocab.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            vocab[w] = merged
    return merges


def test_bpe_merges_match_python_reference(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") < 100
    )
    got = [
        (r.left, r.right, r.pair_count)
        for r in learn_bpe_merges(docs, n_merges=8).collect()
    ]

    counts = {
        r.w: r.n for r in word_vocab(docs).collect()
    }
    want = _python_bpe(counts, 8)
    assert got == want, f"\nspark: {got}\npython: {want}"
    # merges must be well-formed: multi-char tokens appear as later merge
    # inputs only after being produced
    produced = set()
    for a, b, _ in got:
        for side in (a, b):
            if len(side) > 1:
                assert side in produced, f"{side} used before produced"
        produced.add(a + b)


def test_bpe_encode_compresses_and_bounds(spark):
    """Applying the learned merges can only shrink or keep the symbol
    count (each merge replaces 2 symbols with 1): for every doc,
    bpe_tokens <= char_tokens, and some doc actually compresses."""
    from pb_etl_spark.registry import all_queries

    out = all_queries()["bpe_encode_counts"](spark, SF_DIR).collect()
    assert len(out) > 0
    assert all(r.bpe_tokens <= r.char_tokens for r in out)
    assert any(r.bpe_tokens < r.char_tokens for r in out)
    assert all(0 < r.compression <= 1 for r in out)


def test_bpe_train_merges_follows_a_regenerated_corpus(spark, tmp_path):
    """The merge table is learned on every invocation: after
    ``documents`` is regenerated in place, the registered query returns
    the new corpus's table, not the old one."""
    from pb_etl_spark.operators.tokenize import N_MERGES
    from pb_etl_spark.registry import all_queries

    train = all_queries()["bpe_train_merges"]
    docs_path = tmp_path / "documents.parquet"
    shutil.copyfile(f"{SF_DIR}/documents.parquet", docs_path)
    first = train(spark, str(tmp_path)).orderBy("rank").collect()

    out = tmp_path / "reversed"
    (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .withColumn("text", F.reverse("text"))
        .coalesce(1)
        .write.parquet(str(out))
    )
    shutil.copyfile(next(out.glob("part-*.parquet")), docs_path)
    got = [
        (r.left, r.right, r.pair_count)
        for r in train(spark, str(tmp_path)).orderBy("rank").collect()
    ]

    docs = spark.read.parquet(str(docs_path)).filter(F.col("doc_id") < 200)
    want = _python_bpe({r.w: r.n for r in word_vocab(docs).collect()}, N_MERGES)
    assert got == want, f"\nfirst: {first}\nspark: {got}\npython: {want}"
