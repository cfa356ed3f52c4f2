"""Trained character-n-gram language identification — the Naive-Bayes
variant of Cavnar & Trenkle's n-gram text categorization (public:
"N-Gram-Based Text Categorization", SDAIR 1994; the same role
fastText's lid.176 plays in CCNet/RefinedWeb pipelines, which this
sandbox can't ship a binary model for).

Two halves, both pure DataFrame algebra:

* **fit** (:func:`fit_nb_langid`) — character n-gram counts per
  language over a labeled training slice, vocabulary capped to the
  ``max_vocab`` most frequent grams corpus-wide (Cavnar-Trenkle's
  top-K profile; the cap bounds the model to ``max_vocab × n_langs``
  rows REGARDLESS of corpus size, so the model always broadcasts).
  Add-1 smoothing over the capped vocabulary:
  ``logp(g|l) = ln((c_{l,g} + 1) / (T_l + V))`` with ``T_l`` the
  lang's total in-vocab gram count and ``V`` the vocabulary size,
  plus per-language document priors ``ln(n_l / n)``.
* **predict** (:func:`nb_langid`) — explode each doc into its char
  n-grams, broadcast-join the model, one hash aggregate to
  ``Σ logp`` per (doc, lang), add the prior, argmax per doc via a
  window over the ``n_langs`` candidate rows. Out-of-vocabulary
  grams are skipped (the standard NB treatment under a capped
  vocabulary). Docs with no in-vocab gram are absent from the output.

Plan shape at 100 TB: training is explode → one hash aggregate with
map-side partial combine, persisted and read by two small collects:
the vocab cap (a TakeOrderedAndProject, never a global sort) and the
≤ ``max_vocab × n_langs`` in-vocab counts, grouped per lang. The dense
vocab × langs model is built from those rows on the driver (no cross
join); it is kilobytes by construction, so scoring is scan → explode
→ **broadcast** join → partial-agg groupBy (doc, lang) → per-doc
window over ≤ n_langs rows. One shuffle of the per-doc partial sums;
the corpus text itself never shuffles.

Reference parity note: the reference crawler (Pendulun/WebCrawler)
has no language-ID stage; this extends the rebuilt engine toward the
LLM-training-pipeline tier alongside textstats.lang_id's marker-word
heuristic (textstats.py:82 — the zero-training fallback).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def char_ngrams(text: Column, n: int = 3, max_chars: int | None = None) -> Column:
    """array<string> of the text's overlapping character n-grams
    (character-based positions, so multibyte scripts are exact; the
    DuckDB twin ``substring(text, i, n)`` counts the same way).

    Linear construction: the obvious ``transform(sequence(1, cnt),
    i -> substr(text, i, n))`` is O(len²) per document — UTF-8
    ``substr`` must SCAN to character position i, so a 25 KB crawl
    page pays ~3·10⁸ char scans (found by the round-5 scale stress:
    the langid fit pinned 32 cores for 20+ min with zero task
    progress on the 252k-doc corpus). This splits the text into a
    char array once and reuses textstats.sliding_ngrams' shifted
    zip_with with an empty separator — identical gram sequence, O(len)
    slices.

    ``max_chars`` caps the text prefix that contributes grams (the
    fastText/CLD practice — language ID saturates within ~1-2 KB;
    None = whole text, the oracle tier)."""
    from webcrawler_spark.operators.textstats import sliding_ngrams

    t = text if max_chars is None else F.substr(text, F.lit(1), F.lit(max_chars))
    return sliding_ngrams(F.split(t, ""), n, sep="")


def fit_nb_langid(
    train: DataFrame,
    col: str = "text",
    label_col: str = "lang",
    n: int = 3,
    max_vocab: int = 500,
    max_chars: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Fit the model: returns ``(model, priors)`` where model is
    (gram, lang, logp) — dense over vocab × langs, ≤ max_vocab·L rows
    — and priors is (lang, logprior). Vocabulary = the ``max_vocab``
    grams with the highest corpus-wide count, ties broken by gram
    (deterministic at any parallelism)."""
    spark = train.sparkSession
    grams = train.select(
        F.col(label_col).alias("lang"),
        F.explode(char_ngrams(F.col(col), n, max_chars)).alias("gram"),
    )
    # ONE pass over the exploded gram stream: counts is persisted, the
    # vocab cap (TakeOrderedAndProject) collects ≤ max_vocab strings to
    # the driver, and the in-vocab counts are collected from the cache —
    # without this the explode+aggregate would run once per downstream
    # job (vocab, model, scoring), measured 3× at sf0.1
    counts = grams.groupBy("lang", "gram").agg(F.count("*").alias("c")).persist()
    vocab_rows = [
        r["gram"]
        for r in counts.groupBy("gram")
        .agg(F.sum("c").alias("tot"))
        .orderBy(F.col("tot").desc(), F.col("gram"))
        .limit(int(max_vocab))
        .collect()
    ]
    v_size = len(vocab_rows)
    # the in-vocab count rows (≤ max_vocab × n_langs) and every lang,
    # one row per lang; a lang whose grams all fall outside the vocab
    # collects an empty list and keeps its dense rows at c = t_l = 0
    per_lang = (
        counts.groupBy("lang")
        .agg(
            F.collect_list(
                F.when(F.col("gram").isin(vocab_rows), F.struct("gram", "c"))
            ).alias("cs")
        )
        .collect()
    )
    counts.unpersist()
    # the dense vocab × langs table is built on the driver; a null lang
    # keeps c = t_l = 0, as an equi-join on lang would give it
    dense = []
    for r in per_lang:
        cs = {} if r["lang"] is None else {x["gram"]: x["c"] for x in r["cs"]}
        # T_l over IN-VOCAB grams only, so the smoothing denominator
        # and the kept counts describe the same event space
        t_l = sum(cs.values())
        dense += [(g, r["lang"], cs.get(g, 0), t_l) for g in vocab_rows]
    # logp stays a Spark expression so the doubles match the JVM's log
    model = spark.createDataFrame(
        dense, "gram string, lang string, c long, t_l long"
    ).select(
        "gram",
        "lang",
        (
            F.log(F.col("c") + F.lit(1.0))
            - F.log(F.col("t_l") + F.lit(float(v_size)))
        ).alias("logp"),
    )
    # per-language doc priors: one label aggregate, built as literals
    # (n_langs rows) so predict-side joins are plan-free broadcasts
    label_rows = (
        train.groupBy(F.col(label_col).alias("lang")).agg(F.count("*").alias("n_l"))
    ).collect()
    import math

    n_total = sum(r["n_l"] for r in label_rows)
    priors = spark.createDataFrame(
        [(r["lang"], math.log(r["n_l"]) - math.log(float(n_total))) for r in label_rows],
        "lang string, logprior double",
    )
    return model, priors


def nb_langid(
    df: DataFrame,
    model: DataFrame,
    priors: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_chars: int | None = None,
) -> DataFrame:
    """Classify: (id, pred_lang, score, n_grams) — argmax language per
    doc, ties broken by lang ascending. ``n_grams`` counts the scored
    (in-vocab) grams."""
    grams = df.select(
        F.col(id_col),
        F.explode(char_ngrams(F.col(col), n, max_chars)).alias("gram")
    )
    scored = (
        grams.join(F.broadcast(model), "gram")
        .groupBy(id_col, "lang")
        .agg(F.sum("logp").alias("ll"), F.count("*").alias("n_grams"))
        .join(F.broadcast(priors), "lang")
        .select(
            id_col,
            "lang",
            (F.col("ll") + F.col("logprior")).alias("score"),
            "n_grams",
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("lang"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            id_col,
            F.col("lang").alias("pred_lang"),
            "score",
            F.col("n_grams").cast("long").alias("n_grams"),
        )
    )
