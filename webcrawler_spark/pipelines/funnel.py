"""The end-to-end training-data funnel: eleven production stages composed
in production order over one corpus, one survivor count per stage —

  C4 line filter → Gopher stats gate → exact dedup (digest keeper) →
  MinHash-LSH + Jaccard near-dup → 13-gram decontamination → NB langid
  gate → CCNet LM head+middle → per-domain cap → deterministic mixture
  → concat-chunk packing → BPE-pretokenizer encode accounting

Planted work so every stage provably cuts: doc_id % 37 docs gain an
exact mirror (+10^9), doc_id % 41 docs a one-word near-dup variant
(+2·10^9, Jaccard (n-2)/(n-1) ≈ 0.95 ≥ the 0.8 verify bar); the
cleaned doc_id % 50 slice doubles as the eval suite the decontamination
stage removes. Models are fit OFFLINE on the raw corpus (NB langid on
the even-doc_id half, the unigram LM on all of it — the CCNet shape)
and applied to the in-flight cleaned text. Every stage has one
implementation, the one the DuckDB oracle replays: the near-dup stage
is the md5-family MinHash-LSH with the exact Jaccard verify, and the LM
gate keeps the total-ordered top ceil(2n/3).

Each stage is the audited plan of its standalone operator (codegen
projections, digest-keyed dedup shuffle, banded LSH joins, broadcast
bench-grams/model/priors, two-level domain-cap window, md5 mixture cut,
distributed prefix-sum packing). Each stage's survivor set is computed
exactly once: one ``sparkutil.checkpoint`` job materializes it and
computes its counts as an ``Observation``, so no count re-runs a stage.
The per-domain cap is read once, so its count rides the mixture's
checkpoint, and the only count with its own job is ``n_chunks`` (one
aggregate over the packing).

The Gopher survivors and the LM scores are freed once the next stage
is checkpointed, and the packing's prefix offsets once ``n_chunks`` is
read: no operator input reads them. The other checkpoints back inputs
handed to an operator, which a caller may still read after the counts
are returned (the benchmark's traced mode re-runs each stage on the
input it captured), and a freed local checkpoint can no longer be read;
Spark's context cleaner releases them once they are unreachable.

The operators are looked up in their modules at call time, never bound
by name at import, so a wrapper installed on ``operators.<mod>.<fn>``
(the benchmark's traced mode) sees every stage call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from webcrawler_spark.sparkutil import checkpoint, free

MIX_RATES = {"en": 0.5, "zh": 0.25, "es": 0.75}
PACK_SEQ_LEN = 128
COUNTS = (
    "n_raw", "n_c4", "n_gopher", "n_exact", "n_neardup", "n_decontam",
    "n_lang", "n_quality", "n_cap", "n_mix", "n_chunks", "n_bpe_tokens",
)


def _rows():
    return F.count(F.lit(1))


def funnel_counts(docs: DataFrame, lined_docs: DataFrame) -> dict[str, int]:
    """Run the funnel over ``docs`` (doc_id, text, lang, source) and its
    line-structured twin ``lined_docs`` (doc_id, text); returns the
    ``COUNTS`` survivor counts in stage order.

    The LM quality gate (stage 7) keeps the total-ordered top
    ceil(2n/3) on (score desc, doc_id), the cut the oracle replays."""
    from webcrawler_spark.operators import (
        cleaning,
        dedup,
        langid,
        mixing,
        packing,
        textstats,
    )

    n: dict = {}

    def stage(df: DataFrame, **aggs) -> DataFrame:
        """Checkpoint ``df`` with one job that also computes the named
        ``aggs`` over its rows into ``n`` (a null sum reads 0)."""
        obs = Observation()
        out = checkpoint(df.observe(obs, *(c.alias(k) for k, c in aggs.items())))
        n.update({k: int(v or 0) for k, v in obs.get.items()})
        return out

    # stage 1: C4 line filter over the deterministic lined docs
    c4 = cleaning.c4_line_filter(lined_docs, min_words=3)
    flat = c4.select(
        "doc_id",
        F.regexp_replace("clean_text", "\n", " ").alias("text"),
        F.col("keep").alias("keep_c4"),
    ).join(docs.select("doc_id", "lang", "source"), "doc_id")
    mirrors = flat.where("doc_id % 37 = 0").select(
        (F.col("doc_id") + F.lit(1000000000)).alias("doc_id"),
        "text", "keep_c4", "lang", "source",
    )
    variants = flat.where("doc_id % 41 = 0").select(
        (F.col("doc_id") + F.lit(2000000000)).alias("doc_id"),
        F.concat("text", F.lit(" zzvariantzz")).alias("text"),
        "keep_c4", "lang", "source",
    )
    corpus = stage(
        flat.unionByName(mirrors).unionByName(variants),
        n_raw=_rows(), n_c4=F.sum(F.col("keep_c4").cast("long")),
    )
    c4k = corpus.where("keep_c4").drop("keep_c4")

    # stage 2: Gopher doc-stats gate (thresholds tuned to the sf
    # docs' ~60-word shape)
    gop = cleaning.gopher_quality_flags(
        c4k,
        min_words=20,
        max_words=80,
        min_avg_word_len=3.0,
        max_avg_word_len=10.0,
        max_symbol_ratio=0.1,
        min_stopword_hits=2,
        max_dup_2gram_ratio=0.05,
    )
    g = stage(
        c4k.join(gop.where("keep").select("doc_id"), "doc_id"),
        n_gopher=_rows(),
    )

    # stage 3: exact dedup — min-doc_id keeper per md5 digest
    dig = g.withColumn("dig", F.md5("text"))
    keeper = dig.groupBy("dig").agg(F.min("doc_id").alias("doc_id"))
    ex = stage(
        dig.join(keeper, ["dig", "doc_id"], "left_semi").drop("dig"),
        n_exact=_rows(),
    )
    free(g)

    # stage 4: LSH candidates → Jaccard ≥ 0.8 → drop the larger id
    pairs = dedup.near_duplicate_pairs(ex.select("doc_id", "text"), threshold=0.8)
    nd = stage(
        ex.join(
            pairs.select(F.col("b").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        ),
        n_neardup=_rows(),
    )

    # stage 5: decontaminate vs the cleaned eval slice (doc_id % 50)
    bench = corpus.where("keep_c4 and doc_id % 50 = 0").select("doc_id", "text")
    dc = stage(cleaning.decontaminate(nd, bench, n=13), n_decontam=_rows())

    # stage 6: NB langid gate — model fit offline on the raw even half
    model, priors = langid.fit_nb_langid(
        docs.where(F.col("doc_id") % 2 == 0), max_vocab=300
    )
    pred = langid.nb_langid(dc, model, priors)
    lg = stage(
        dc.join(
            pred.where("pred_lang = 'en'").select("doc_id"),
            "doc_id",
            "left_semi",
        ),
        n_lang=_rows(),
    )

    # stage 7: CCNet LM head+middle — keep the top 2/3 by unigram
    # logprob under the raw-corpus model
    scores = stage(textstats.unigram_logprob(lg, model_docs=docs), n_scored=_rows())
    k_keep = -(-2 * n["n_scored"] // 3)  # ceil(2n/3)
    top = (
        scores.orderBy(F.col("avg_logp").desc(), "doc_id")
        .limit(k_keep)
        .select("doc_id")
    )
    lq = stage(lg.join(top, "doc_id", "left_semi"), n_quality=_rows())
    free(scores)

    # stage 8: per-domain cap (keep 4 per source, by doc_id); read
    # once, so its count rides the mixture's checkpoint
    cap_obs = Observation()
    cap = mixing.domain_cap(lq, host_col="source", k=4).drop("host_rank")
    cap = cap.observe(cap_obs, _rows().alias("n_cap"))

    # stage 9: deterministic md5-cut mixture
    mix = stage(
        mixing.mixture_sample(cap, rates=MIX_RATES, default_rate=0.1),
        n_mix=_rows(),
        n_bpe_tokens=F.sum(textstats.bpe_token_count(F.col("text"))),
    )
    n["n_cap"] = int(cap_obs.get["n_cap"])

    # stages 10-11: packing + encode accounting
    toks = mix.select(
        "doc_id",
        packing.token_count_col("text").cast("long").alias("n_tokens"),
    )
    packed = packing.pack_concat_chunks(toks, seq_len=PACK_SEQ_LEN)
    n["n_chunks"] = int(
        packed.agg(F.coalesce(F.max("seq_last") + 1, F.lit(0))).first()[0]
    )
    free(packed._prefix_ckpt)
    return {k: n[k] for k in COUNTS}
