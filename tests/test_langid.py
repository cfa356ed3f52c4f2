"""Trained NB char-n-gram language ID laws (operators/langid.py).

Contract: fit = capped-vocab add-1-smoothed char-n-gram NB; predict =
argmax Σ logp + prior. Model cells are hand-checkable; predictions are
bit-stable under any partitioning; multibyte scripts use character
(not byte) gram positions.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from webcrawler_spark.operators.langid import char_ngrams, fit_nb_langid, nb_langid


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "the cat sat on the mat with the hat", "en"),
        (1, "the dog and the cat ate the food", "en"),
        (2, "el gato y el perro en el tejado", "es"),
        (3, "el sol y la luna sobre el mar", "es"),
        (4, "这是一个中文句子里面有很多字", "zh"),
        (5, "中文文本的另一个例子在这里", "zh"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_char_ngrams_positions(spark):
    df = spark.createDataFrame([("abcd",), ("ab",), ("",)], "t string")
    got = [r[0] for r in df.select(char_ngrams(F.col("t"), 3)).collect()]
    assert got == [["abc", "bcd"], [], []]


def test_char_ngrams_multibyte(spark):
    # positions are characters, not bytes (the DuckDB twin counts the same)
    df = spark.createDataFrame([("中文abc",)], "t string")
    got = df.select(char_ngrams(F.col("t"), 3)).collect()[0][0]
    assert got == ["中文a", "文ab", "abc"]


def test_model_cell_hand_computed(spark):
    # one lang, tiny text: grams of "aaab" = aaa, aab; V=2, T=2
    train = spark.createDataFrame([(0, "aaab", "xx")], "doc_id long, text string, lang string")
    model, priors = fit_nb_langid(train, max_vocab=10)
    cells = {(r["gram"], r["lang"]): r["logp"] for r in model.collect()}
    assert cells[("aaa", "xx")] == pytest.approx(math.log(2 / 4))  # (1+1)/(2+2)
    assert cells[("aab", "xx")] == pytest.approx(math.log(2 / 4))
    assert priors.collect()[0]["logprior"] == pytest.approx(0.0)


def test_vocab_cap_bounds_model(corpus):
    model, _ = fit_nb_langid(corpus, max_vocab=7)
    # dense: exactly cap × n_langs rows
    assert model.count() == 7 * 3
    assert model.select("gram").distinct().count() == 7


def test_lang_without_invocab_mass_keeps_dense_rows(spark):
    # "xyz" is xx's only gram and falls outside the top-2 vocab {aaa, bbb}:
    # xx keeps one row per vocab gram at logp = ln(1 / (0 + V))
    train = spark.createDataFrame(
        [(0, "aaaaaaaa", "en"), (1, "bbbbbbbb", "en"), (2, "xyz", "xx")],
        "doc_id long, text string, lang string",
    )
    model, _ = fit_nb_langid(train, max_vocab=2)
    rows = model.collect()
    assert len(rows) == 2 * 2  # V × n_langs
    xx = {r["gram"]: r["logp"] for r in rows if r["lang"] == "xx"}
    assert set(xx) == {"aaa", "bbb"}
    assert all(v == pytest.approx(-math.log(2)) for v in xx.values())


def test_predict_recovers_labels(corpus):
    model, priors = fit_nb_langid(corpus, max_vocab=300)
    # held-out texts in each language's style
    test = corpus.sparkSession.createDataFrame(
        [
            (10, "the cat and the dog sat on the mat"),
            (11, "el perro y el gato sobre el tejado"),
            (12, "这是另一个中文句子的例子"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["pred_lang"] for r in nb_langid(test, model, priors).collect()}
    assert got == {10: "en", 11: "es", 12: "zh"}


def test_partitioning_invariance(corpus):
    model, priors = fit_nb_langid(corpus, max_vocab=50)
    test = corpus.select("doc_id", "text")
    a = sorted(map(tuple, nb_langid(test, model, priors).collect()))
    b = sorted(
        map(
            tuple,
            nb_langid(test.repartition(7), model.repartition(3), priors).collect(),
        )
    )
    assert [r[:2] for r in a] == [r[:2] for r in b]
    for x, y in zip(a, b):
        assert x[2] == pytest.approx(y[2], abs=1e-9)


def test_no_invocab_grams_doc_absent(corpus):
    model, priors = fit_nb_langid(corpus, max_vocab=50)
    test = corpus.sparkSession.createDataFrame(
        [(20, "zzzzqqqq"), (21, "the cat sat")], "doc_id long, text string"
    )
    got = nb_langid(test, model, priors)
    ids = {r["doc_id"] for r in got.collect()}
    assert 21 in ids and 20 not in ids
