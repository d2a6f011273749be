"""BPE merge training/application: hand-pinned merges, greedy-overlap
semantics, and trainer/applier consistency."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from hainan_big_data_recommend_system_spark.operators.bpe import (
    bpe_apply,
    bpe_merge_table,
    bpe_train,
    word_counts,
)


@pytest.fixture()
def tiny_words(spark):
    # 'abab' x3, 'ab' x2, 'ba' x1 — pair counts: (a,b)=8? no:
    # abab: pairs (a,b),(b,a),(a,b) -> per word (a,b)x2,(b,a)x1
    # weighted: (a,b): 3*2 + 2*1 = 8, (b,a): 3*1 + 1 = 4
    return spark.createDataFrame(
        [Row(word="abab", freq=3), Row(word="ab", freq=2), Row(word="ba", freq=1)]
    )


def test_bpe_train_pinned_merges(tiny_words):
    merges = bpe_train(tiny_words, "word", "freq", n_merges=2)
    # step 1: (a,b) wins with 8; after merging, 'abab'->[ab,ab], 'ab'->[ab]
    assert merges[0] == (1, "a", "b", 8)
    # step 2: remaining pairs: (ab,ab) from 'abab' x3 = 3; (b,a) from 'ba' = 1
    assert merges[1] == (2, "ab", "ab", 3)


def test_bpe_greedy_overlap_semantics(spark):
    # 'aaa' with pair (a,a): greedy left-to-right gives [aa, a], so the
    # second-round pair space must contain (aa, a) — the str.replace
    # delimiter construction must not double-consume the shared symbol
    words = spark.createDataFrame([Row(word="aaa", freq=5)])
    merges = bpe_train(words, "word", "freq", n_merges=2)
    assert merges[0] == (1, "a", "a", 10)  # two adjacent pairs x freq 5
    assert merges[1] == (2, "aa", "a", 5)


def test_bpe_apply_counts(spark, tiny_words):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="abab ab"),
            Row(doc_id=2, text="ba"),
            Row(doc_id=3, text=""),
            Row(doc_id=4, text="xyz abab"),
        ]
    )
    merges = bpe_train(tiny_words, "word", "freq", n_merges=2)
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_apply(docs, "doc_id", "text", merges).collect()
    }
    # after (a,b)->ab and (ab,ab)->abab: 'abab'->1 token, 'ab'->1, 'ba'->2,
    # 'xyz'->3 chars untouched
    assert got == {1: 2, 2: 2, 3: 0, 4: 4}


def test_bpe_merge_table_schema(spark, tiny_words):
    df = bpe_merge_table(spark, tiny_words, "word", "freq", n_merges=2)
    assert df.columns == ["step", "merge_left", "merge_right", "pair_count"]
    assert df.count() == 2


def test_word_counts_drops_empties(spark):
    docs = spark.createDataFrame([Row(text="  a  b  a "), Row(text="")])
    got = {r["word"]: r["freq"] for r in word_counts(docs, "text").collect()}
    assert got == {"a": 2, "b": 1}


def test_bpe_exhaustion_raises(spark):
    words = spark.createDataFrame([Row(word="ab", freq=1)])
    with pytest.raises(ValueError, match="exhausted"):
        bpe_train(words, "word", "freq", n_merges=3)


def test_bpe_rejects_delimiter_in_words(spark):
    words = spark.createDataFrame([Row(word="a|b", freq=1), Row(word="ok", freq=1)])
    with pytest.raises(ValueError, match="delimiter"):
        bpe_train(words, "word", "freq", n_merges=1)


def test_bpe_apply_nulls_pipe_bearing_docs(spark, tiny_words):
    merges = bpe_train(tiny_words, "word", "freq", n_merges=1)
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="ab ok"), Row(doc_id=2, text="a|b ok")]
    )
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_apply(docs, "doc_id", "text", merges).collect()
    }
    assert got[1] is not None
    assert got[2] is None  # un-tokenizable under the delimiter scheme
