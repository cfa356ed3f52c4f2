"""DSIR — Data Selection with Importance Resampling (Xie et al.,
NeurIPS 2023, public): pick raw-corpus documents that look like a
trusted target corpus by importance-weighting under two hashed-n-gram
unigram models and resampling with Gumbel top-k.

Recipe (paper §3, re-expressed as DataFrame algebra):

1. **featurize** — every doc becomes a bag of hashed n-grams
   (unigrams + bigrams of the whitespace tokenization, each hashed
   into ``n_buckets`` slots). Hashing fixes the feature space so the
   two LMs are tiny dense tables regardless of corpus size.
2. **fit** — bucket-count tables for the target slice (p̂) and the raw
   slice (q̂), add-1 smoothed. Both are one hash aggregate over the
   exploded grams; each model is ``n_buckets`` rows — kilobytes — so
   the ratio table broadcasts.
3. **weight** — per-doc log importance weight
   ``logw = Σ_b c_doc[b] · (ln p̂[b] − ln q̂[b])`` via a broadcast join
   of per-doc bucket counts against the ratio table plus one per-doc
   hash aggregate. No window, no self-join.
4. **resample** — Gumbel top-k without replacement: key =
   logw + g(doc), with the Gumbel noise derived from md5(doc_id)
   (same deterministic-uniform construction as mixing.py), so the
   selected set is bit-reproducible across engines, retries, and
   cluster sizes.

Plan shape at 100 TB: the corpus is read once (explode → two hash
aggregates with map-side partial combine); model tables and the
ratio table stay broadcast-sized by construction (n_buckets is a
constant, 10^4-10^5 in production, small here so DuckDB can replay
every bucket); selection is a TakeOrderedAndProject (per-partition
top-k, k·P driver merge) — no global sort.

Reference parity note: the reference crawler (Pendulun/WebCrawler)
has no data-selection stage; this operator extends the rebuilt engine
toward the LLM-training-pipeline tier the graft brief requires.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from webcrawler_spark.operators.textstats import words_col

# md5-prefix hash space shared with the DuckDB oracles (mixing.py).
_HASH_SPACE = float(1 << 32)


def _bucket_col(gram: Column, n_buckets: int) -> Column:
    """Hash a gram string into [0, n_buckets) — JVM-side codegen;
    DuckDB twin: ``('0x' || substring(md5(g), 1, 8))::UBIGINT % B``."""
    return (
        F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("bigint")
        % F.lit(int(n_buckets))
    ).alias("bucket")


def hashed_gram_buckets(
    df: DataFrame,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Explode each document into its hashed-n-gram bucket stream:
    one row per (doc, unigram-or-bigram occurrence) with the gram
    replaced by its bucket id. One narrow projection + explode; the
    gram strings never survive past the hash."""
    ws = words_col(F.col(text_col))
    bigrams = F.when(
        F.size(ws) >= 2,
        F.expr(
            f"transform(slice(split({text_col}, ' '), 1,"
            f" size(split({text_col}, ' ')) - 1),"
            f" (w, i) -> concat(w, ' ', split({text_col}, ' ')[i + 1]))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = F.concat(ws, bigrams)
    cols = [F.col(id_col), *[F.col(c) for c in extra_cols]]
    return df.select(*cols, F.explode(grams).alias("gram")).select(
        *cols, _bucket_col(F.col("gram"), n_buckets)
    )


def dsir_logweights(
    df: DataFrame,
    is_target: Column,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_grams, logw): per-doc log importance weight of the
    raw docs under target-vs-raw hashed unigram LMs.

    ``is_target`` marks the trusted slice (fits p̂); all other rows are
    the raw pool (fit q̂ and get scored). Add-1 smoothing keeps every
    bucket finite: p̂[b] = (c_p[b]+1)/(N_p+B). The per-bucket log ratio
    is computed once in the B-row table — the per-doc aggregate sums
    count·ratio terms, so engine-side float op order only perturbs a
    ≤B-term sum (~1e-15 relative, far below the 1e-6 oracle quantum).
    """
    flagged = df.select(
        F.col(id_col), F.col(text_col), is_target.alias("_t")
    )
    grams = hashed_gram_buckets(
        flagged, n_buckets, id_col=id_col, text_col=text_col, extra_cols=("_t",)
    )
    # featurize once: collapse the occurrence stream to the per-doc
    # feature vector (doc, bucket, c) — ≤B rows per doc. Map-side
    # combine does most of the collapse before the shuffle; at corpus
    # scale this table is what you'd WRITE once (the DSIR paper's
    # materialized hashed features) so model fit and scoring both read
    # features, never raw text twice.
    feats = grams.groupBy(id_col, "_t", "bucket").agg(
        F.count("*").alias("c")
    )
    counts = feats.groupBy("bucket").agg(
        F.sum(F.when(F.col("_t"), F.col("c")).otherwise(0)).alias("cp"),
        F.sum(F.when(~F.col("_t"), F.col("c")).otherwise(0)).alias("cq"),
    )
    totals = counts.select(
        F.sum("cp").alias("np"), F.sum("cq").alias("nq")
    )
    b = float(n_buckets)
    ratio = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("cp") + 1.0) / (F.col("np") + b))
            - F.log((F.col("cq") + 1.0) / (F.col("nq") + b))
        ).alias("lr"),
    )
    return (
        feats.where(~F.col("_t"))
        .join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_grams"),
            F.round(F.sum(F.col("c") * F.col("lr")), 6).alias("logw"),
        )
    )


def gumbel_key_col(logw: Column, key: Column) -> Column:
    """logw + Gumbel(md5(key)): sampling without replacement by
    top-k over this key is distributionally the importance resample
    (Gumbel-max trick; Xie et al. §3.2 use exactly this estimator).
    u in (0, 1] uses (h+1)/2^32 so ln(u) is never -inf."""
    u = (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast(
            "double"
        )
        + F.lit(1.0)
    ) / F.lit(_HASH_SPACE)
    return logw - F.log(-F.log(u))


def dsir_sample(
    weights: DataFrame,
    k: int,
    id_col: str = "doc_id",
    logw_col: str = "logw",
) -> DataFrame:
    """Top-k docs by Gumbel-perturbed log weight: (doc_id, n_grams,
    logw, key, rank). The key is rounded to the oracle quantum and
    the order ties-broken by doc id BEFORE ranking, so the selected
    set is identical across engines and partitionings; orderBy+limit
    compiles to TakeOrderedAndProject (no global sort)."""
    from pyspark.sql import Window

    keyed = weights.withColumn(
        "key", F.round(gumbel_key_col(F.col(logw_col), F.col(id_col)), 6)
    )
    topk = keyed.orderBy(F.desc("key"), F.col(id_col)).limit(int(k))
    # the rank window runs over the already-truncated k rows (one tiny
    # task), not the corpus — same shape as cosine_topk's final stage
    return topk.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("key"), F.col(id_col))),
    )
