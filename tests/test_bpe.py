"""BPE vocabulary induction (operators/bpe.py): the distributed trainer
must reproduce the pure-Python Sennrich reference BIT-FOR-BIT (merge
sequence including tie-breaks and counts), and the Arrow encoder must
agree with the reference encoder on every document."""

from __future__ import annotations

import re

from spendinganalysisetl_spark.catalog import load_table
from spendinganalysisetl_spark.operators.bpe import (
    END,
    WORD_RE,
    bpe_encode_stats,
    bpe_ranks,
    bpe_train,
    encode_word,
    train_reference,
)

TEXTS = [
    "low lower lowest newer new news newest",
    "low low lower the news is new",
    "lowest of the low, newest of the new",
]


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _rows(merges_df):
    return [
        (r["merge_rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in merges_df.collect()
    ]


def test_train_matches_reference_tiny(spark):
    got = _rows(bpe_train(_docs(spark, TEXTS), n_merges=12))
    assert got == train_reference(TEXTS, n_merges=12)
    # learned order is rank-dense from 0
    assert [g[0] for g in got] == list(range(len(got)))


def test_train_matches_reference_real_corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    texts = [r["text"] for r in docs.select("text").collect()]
    got = _rows(bpe_train(docs, n_merges=16))
    assert got == train_reference(texts, n_merges=16)


def test_train_local_and_distributed_rounds_agree(spark, sf_dir):
    """The in-memory merge rounds (default: vocab fits
    driver_vocab_rows) and the distributed Catalyst-HOF rounds
    (driver_vocab_rows=0) implement the identical frequency/tie-break
    rule — merge sequence, tie-breaks, counts, early stop — on both
    the hand corpus and the real corpus."""
    tiny = _docs(spark, TEXTS)
    assert _rows(bpe_train(tiny, n_merges=12, driver_vocab_rows=0)) == _rows(
        bpe_train(tiny, n_merges=12)
    )
    docs = load_table(spark, sf_dir, "documents")
    assert _rows(bpe_train(docs, n_merges=6, driver_vocab_rows=0)) == _rows(
        bpe_train(docs, n_merges=6)
    )


def test_encode_stats_match_reference(spark):
    docs = _docs(spark, TEXTS)
    merges = bpe_train(docs, n_merges=12)
    ranks = {
        (r["left"], r["right"]): r["merge_rank"] for r in merges.collect()
    }
    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens"], r["n_chars"])
        for r in bpe_encode_stats(docs, bpe_ranks(merges)).collect()
    }
    for i, t in enumerate(TEXTS):
        words = re.findall(WORD_RE, t.lower())
        n_tokens = sum(len(encode_word(w, ranks)) for w in words)
        n_chars = sum(len(w) for w in words)
        assert got[i] == (len(words), n_tokens, n_chars)


def test_encode_roundtrip_and_overlap_rule(spark):
    """Tokens must concatenate back to word+END (no symbol lost or
    duplicated), and the overlap rule must match training: 'aaa' under
    merge (a,a) is [aa, a], never [a, aa] or [aa, aa]."""
    docs = _docs(spark, TEXTS)
    ranks = {
        (r["left"], r["right"]): r["merge_rank"]
        for r in bpe_train(docs, n_merges=12).collect()
    }
    for w in ("lowest", "newest", "unseenword", "a"):
        assert "".join(encode_word(w, ranks)) == w + END
    assert encode_word("aaa", {("a", "a"): 0}) == ["aa", "a", END]


def test_min_freq_stops_training(spark):
    """All-distinct words below min_freq leave nothing to merge."""
    docs = _docs(spark, ["alpha beta gamma"])
    assert _rows(bpe_train(docs, n_merges=8, min_freq=2)) == []
