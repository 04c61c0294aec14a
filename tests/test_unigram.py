"""Unigram-LM tokenizer (operators/unigram.py, r11): Viterbi DP
semantics, EM-pruning behavior, the likelihood certificate, and
refusals."""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F

from rippledb_engine.operators.unigram import (
    distinct_words,
    seed_vocab,
    unigram_train,
    viterbi_segment,
)


def _corpus(spark, rows):
    return spark.createDataFrame([(t,) for t in rows], "text string")


def test_viterbi_prefers_frequent_long_pieces(spark):
    df = _corpus(
        spark,
        ["the fast window window fastest the the", "slow window fast fast"],
    )
    w = distinct_words(df, "text")
    v = seed_vocab(w)
    seg = {r["word"]: list(r["pieces"]) for r in viterbi_segment(w, v).collect()}
    # whole words frequent enough to be single pieces stay whole
    assert seg["the"] == ["the"]
    assert seg["fast"] == ["fast"]
    # a rare word decomposes into frequent subpieces
    assert seg["fastest"][0] == "fast"
    # segmentation concatenates back to the word, always
    for word, pieces in seg.items():
        assert "".join(pieces) == word


def test_em_round_improves_likelihood_and_prunes(spark):
    df = _corpus(
        spark,
        ["the fast window window fastest the the", "slow window fast fast"],
    )
    _, stats = unigram_train(df, "text", rounds=2)
    rows = {r["round"]: r for r in stats.collect()}
    assert rows[2]["vocab_size"] < rows[1]["vocab_size"]  # pruning happened
    assert rows[2]["corpus_ll"] >= rows[1]["corpus_ll"]  # EM never worsens
    assert rows[1]["total_tokens"] > 0


def test_unigram_refusals(spark):
    df = _corpus(spark, ["short words only"])
    with pytest.raises(ValueError, match="rounds"):
        unigram_train(df, "text", rounds=0)
    long = _corpus(spark, ["a supercalifragilistic b"])
    with pytest.raises(ValueError, match="DP bound"):
        unigram_train(long, "text")
    empty = _corpus(spark, ["   "])
    with pytest.raises(ValueError, match="empty"):
        unigram_train(empty, "text")


def test_single_char_coverage_floor(spark):
    # a word whose chars appear nowhere else must still segment (chars
    # are always in the vocab) and survive the M-step floor
    df = _corpus(spark, ["aaa aaa aaa xyz"])
    vocab, stats = unigram_train(df, "text", rounds=2)
    pieces = {r["piece"] for r in vocab.collect()}
    for ch in "xyz":
        assert ch in pieces
    w = distinct_words(df, "text")
    seg = {r["word"]: list(r["pieces"]) for r in viterbi_segment(w, vocab).collect()}
    assert "".join(seg["xyz"]) == "xyz"


def test_registered_query_certificate(spark, sf_dir):
    from rippledb_engine.queries.pipeline9 import unigram_tokenize_accounting

    rows = unigram_tokenize_accounting(spark, sf_dir).collect()
    assert [r["round"] for r in rows] == [1, 2]
    assert rows[1]["vocab_size"] < rows[0]["vocab_size"]
    assert rows[1]["corpus_ll"] >= rows[0]["corpus_ll"]
    assert rows[0]["seg_md5"] is not None
