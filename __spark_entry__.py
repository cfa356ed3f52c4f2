"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship: run the batch-iterative crawler over a
                     deterministic web synthesized from the sf0.001
                     ``documents`` table.
``queries()``      — one entry per implemented operator family
                     (SURVEY.md §2 + the training-data operators);
                     every callable takes (spark, sf_dir).
``oracle_sql()``   — the DuckDB-runnable ANSI equivalent per query;
                     omitted keys (``*_rowsonly``) are ops whose Spark
                     form (Bloom routing, LSH bucketing, mapInPandas
                     media stubs) has no faithful single-statement SQL,
                     so the driver records the weaker rows-only check.

Column names and types are aligned pairwise (Spark ints cast to long
where the SQL side produces BIGINT; floats rounded identically on both
sides) because the driver hash-compares values after sorting columns by
name.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from webcrawler_spark.pipelines.funnel import MIX_RATES as _MIX_RATES
from webcrawler_spark.pipelines.funnel import PACK_SEQ_LEN as _PACK_SEQ_LEN

SF0001 = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Crawl the sf0.001-documents web (S1-S7, F1-F8, J1-J3, W1-W4, A1-A5
    in one session); returns the per-host fetch summary."""
    from webcrawler_spark.engine import CrawlConfig
    from webcrawler_spark.plans.crawl import crawl
    from webcrawler_spark.sources.synthetic_web import (
        document_web_seeds,
        pages_from_documents,
    )

    from webcrawler_spark.session import tune_session

    tune_session(spark)
    pages = pages_from_documents(spark, SF0001)
    seeds = document_web_seeds(spark, SF0001)
    session = crawl(
        spark,
        pages,
        seeds,
        config=CrawlConfig(limit=40, max_rounds=8, collect_metrics=True),
    )
    return (
        session.pages_fetched.groupBy("host")
        .agg(
            F.count("*").alias("pages"),
            F.sum("n_links").alias("links_extracted"),
            F.max("depth").alias("max_depth"),
        )
        .orderBy("host")
    )


# ---------------------------------------------------------------------------
# queries — SURVEY.md §2 operator families over the driver testdata
# ---------------------------------------------------------------------------


def _docs(spark, sf):
    """Documents table, spread across the cluster's cores.

    The sandbox table is one small parquet file = ONE input split, so
    without the repartition every explode/hash-heavy stage (shingling,
    minhash, simhash, n-gram) runs in a single task on one core while
    the rest idle. A production corpus is thousands of splits and never
    hits this; the repartition makes the small-scale plan shape match
    the at-scale one (doc_id-hashed, all cores busy) at the cost of one
    tiny shuffle.
    """
    df = spark.read.parquet(f"{sf}/documents.parquet")
    return df.repartition(spark.sparkContext.defaultParallelism, "doc_id")


def _q_pricing_summary(spark, sf):
    """A1-A4: partial→final hash aggregation with filters (TPC-H Q1 shape)."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def _q_anti_join_unseen(spark, sf):
    """J1 — the URL-seen anti-join shape: customers with no orders."""
    c = spark.read.parquet(f"{sf}/customer.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet").filter(
        F.col("o_totalprice") > 400000
    )
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def _q_broadcast_dim_join(spark, sf):
    """J2/O4 — broadcast small-dimension join + rollup."""
    c = spark.read.parquet(f"{sf}/customer.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def _q_fetch_join_filter(spark, sf):
    """J3+F3/F4 — fact-fact equi-join with pushed-down filters."""
    o = spark.read.parquet(f"{sf}/orders.parquet")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    return (
        o.filter(F.col("o_orderstatus") == "F")
        .join(li, o.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") >= "1995-01-01")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_items"))
    )


def _q_fifo_first_event(spark, sf):
    """W3 — per-key FIFO head via row_number (the frontier pop)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("first_event_id"),
            F.col("event_type").alias("first_event_type"),
        )
    )


def _q_priority_topk(spark, sf):
    """W1 — (priority, key) ranking: top-3 docs by n_chars per lang."""
    d = _docs(spark, sf)
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), "doc_id")
    return (
        d.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("lang", "doc_id", "n_chars", "rnk")
    )


def _url_expr():
    return F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example/doc/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(".pdf")).otherwise(F.lit("")),
    )


def _q_url_parse(spark, sf):
    """P2/P3/P4 + F1 — native URL split and the literal-suffix filter."""
    from webcrawler_spark.functions.urltools import (
        extension_filter_col,
        host_col,
        resource_col,
    )

    d = _docs(spark, sf).withColumn("url", _url_expr())
    return d.select(
        "doc_id",
        "url",
        host_col(F.col("url")).alias("host"),
        resource_col(F.col("url")).alias("resource"),
        extension_filter_col(F.col("url")).alias("ext_ok"),
    )


def _q_format_links(spark, sf):
    """P8 — the Parser.py:26-46 truth table through the REAL vectorized
    UDF (format_links_udf): one generated href per doc covering every
    branch (empty, pure-fragment, fragment-strip, root-relative,
    http→https rewrite, https kept, relative/mailto dropped). Inputs are
    pre-normalized ASCII so the P1 step is identity and the oracle is a
    pure CASE table."""
    from webcrawler_spark.functions.urltools import format_links_udf

    d = _docs(spark, sf)
    href = (
        F.when(F.col("doc_id") % 7 == 0, F.lit(""))
        .when(F.col("doc_id") % 7 == 1, F.lit("#frag"))
        .when(
            F.col("doc_id") % 7 == 2,
            F.concat(F.lit("/page/"), F.col("doc_id").cast("string")),
        )
        .when(
            F.col("doc_id") % 7 == 3,
            F.concat(
                F.lit("http://ext"), F.col("doc_id").cast("string"), F.lit(".example/x")
            ),
        )
        .when(
            F.col("doc_id") % 7 == 4,
            F.concat(
                F.lit("https://ext"),
                F.col("doc_id").cast("string"),
                F.lit(".example/y#sec"),
            ),
        )
        .when(F.col("doc_id") % 7 == 5, F.lit("relative/path"))
        .otherwise(F.lit("mailto:someone@example.org"))
    )
    host = F.concat(F.lit("https://"), F.col("source"), F.lit(".example"))
    return d.select(
        "doc_id",
        href.alias("href"),
        F.coalesce(
            F.try_element_at(format_links_udf(F.array(href), host), F.lit(1)),
            F.lit(""),
        ).alias("formatted"),
    )


def _q_normalize_url(spark, sf):
    """P1 — normalize_url_udf over ASCII inputs exercising case folding,
    default-port strip, dot-segment removal, trailing-dot host, empty
    path, and percent-decode of unreserved chars; the oracle states the
    expected output per branch independently."""
    from webcrawler_spark.functions.urltools import normalize_url_udf

    d = _docs(spark, sf)
    sid = F.col("doc_id").cast("string")
    raw = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("https://"), F.col("source"), F.lit(".example")),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(
                F.lit("HTTP://"), F.upper(F.col("source")), F.lit(".EXAMPLE:80/a/b")
            ),
        )
        .when(
            F.col("doc_id") % 5 == 2,
            F.concat(
                F.lit("https://"), F.col("source"), F.lit(".example/a/./b/../c")
            ),
        )
        .when(
            F.col("doc_id") % 5 == 3,
            F.concat(F.lit("https://"), F.col("source"), F.lit(".example./x/"), sid),
        )
        .otherwise(
            F.concat(
                F.lit("https://"), F.col("source"), F.lit(".example/%7Euser/%41bc")
            )
        )
    )
    return d.select(
        "doc_id", raw.alias("raw"), normalize_url_udf(raw).alias("normalized")
    )


def _q_first20_words(spark, sf):
    """P10 — first-20-words debug projection (DebugPrinter contract)."""
    d = _docs(spark, sf)
    return d.select(
        "doc_id",
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 20), " ").alias(
            "first20"
        ),
    )


def _q_host_counts(spark, sf):
    """A2 — per-host resource counts (main.py:92 final stats)."""
    return (
        _docs(spark, sf)
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"))
    )


def _q_distinct_pairs(spark, sf):
    """A5 — batch-local distinct."""
    return _docs(spark, sf).select("lang", "source").distinct()


def _q_exact_dedup(spark, sf):
    from webcrawler_spark.operators.dedup import exact_duplicate_groups

    return exact_duplicate_groups(_docs(spark, sf))


def _q_minhash_lsh_pairs(spark, sf):
    from webcrawler_spark.operators.dedup import lsh_candidate_pairs

    return lsh_candidate_pairs(_docs(spark, sf))


def _q_jaccard_pairs(spark, sf):
    from webcrawler_spark.operators.dedup import jaccard_pairs

    return jaccard_pairs(_docs(spark, sf), threshold=0.2)


def _q_incremental_dedup(spark, sf):
    """Batch-vs-store incremental dedup: even doc_ids play the already-
    ingested corpus (only their *signatures* are handed over — the
    store a real pipeline persists), odd doc_ids are the new batch.
    Matches are strictly new×store; no new×new or store×store pairs."""
    from webcrawler_spark.operators.dedup import (
        incremental_lsh_matches,
        minhash_signatures,
    )

    docs = _docs(spark, sf)
    store = minhash_signatures(docs.filter(F.col("doc_id") % 2 == 0))
    return incremental_lsh_matches(docs.filter(F.col("doc_id") % 2 == 1), store)


def _q_near_dup_pipeline(spark, sf):
    """Composed dedup: LSH candidates → Jaccard verify on the candidate
    pair set only (no shingle self-join anywhere in the plan)."""
    from webcrawler_spark.operators.dedup import near_duplicate_pairs

    return near_duplicate_pairs(_docs(spark, sf), threshold=0.2)


def _q_tfidf_top_terms(spark, sf):
    """Corpus statistics: top-3 tf-idf terms per doc (explode → two
    hash aggregates → per-doc window rank; no self-join)."""
    from webcrawler_spark.operators.textstats import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf), k=3).withColumn(
        "rank", F.col("rank").cast("long")  # DuckDB row_number is BIGINT
    )


def _q_gopher_quality(spark, sf):
    """Gopher-style rule gate (word count, mean word length, symbol
    ratio, stopword presence, bigram repetition) — one boolean per
    rule so the drop-reason histogram is auditable."""
    from webcrawler_spark.operators.cleaning import gopher_quality_flags

    return gopher_quality_flags(
        _docs(spark, sf),
        min_words=20,
        max_words=80,
        min_avg_word_len=3.0,
        max_avg_word_len=10.0,
        max_symbol_ratio=0.1,
        min_stopword_hits=2,
        max_dup_2gram_ratio=0.05,
    )


def _q_segment_dedup(spark, sf):
    """CCNet-style corpus-level segment dedup: 8-word blocks duplicated
    across the corpus are dropped except their first (doc,pos)
    occurrence; docs are reassembled in order."""
    from webcrawler_spark.operators.cleaning import dedup_text_segments

    return dedup_text_segments(
        _docs(spark, sf), words_per_segment=8, max_dupes=1
    )


def _q_repetition_stats(spark, sf):
    """Gopher §A1.1 repetition signals per doc: top-word frequency
    fraction + duplicate word-trigram fraction. Pure projection (zero
    shuffles) — the top-word count is the O(n log n) sorted-run trick,
    not a per-word rescan."""
    from webcrawler_spark.operators.cleaning import repetition_stats

    return repetition_stats(_docs(spark, sf), ngram_n=3)


def _q_ngram_contamination(spark, sf):
    """Train-test decontamination (GPT-3 appendix-C shape): count each
    candidate doc's distinct 5-grams that collide with the benchmark
    corpus (docs with doc_id % 50 == 0 stand in for the eval suite).
    Benchmark gram set broadcasts; corpus side is explode → semi-join
    → one hash aggregate."""
    from webcrawler_spark.operators.cleaning import ngram_contamination

    d = _docs(spark, sf)
    bench = d.filter(F.col("doc_id") % 50 == 0)
    cand = d.filter(F.col("doc_id") % 50 != 0)
    return ngram_contamination(cand, bench, n=5)


def _q_contamination_matches(spark, sf):
    """Decontamination attribution (which eval example leaked into
    which doc): per-(doc, bench) distinct shared 13-grams, GPT-3's
    gram width. Bench = docs with doc_id % 5 == 0; the bench gram
    table keeps bench_id and broadcasts."""
    from webcrawler_spark.operators.cleaning import contamination_matches

    d = _docs(spark, sf)
    bench = d.filter(F.col("doc_id") % 5 == 0)
    cand = d.filter(F.col("doc_id") % 5 != 0)
    return contamination_matches(cand, bench, n=13)


def _q_decontaminate(spark, sf):
    """GPT-3-style document-level removal: the corpus minus every doc
    sharing a 13-gram with the benchmark subset (doc_id % 5 == 0).
    Flagged ids come from a semi-join against the broadcast bench gram
    set; the kept rows are the anti-join."""
    from webcrawler_spark.operators.cleaning import decontaminate

    d = _docs(spark, sf)
    bench = d.filter(F.col("doc_id") % 5 == 0)
    cand = d.filter(F.col("doc_id") % 5 != 0)
    return decontaminate(cand, bench, n=13).select("doc_id", "text")


def _q_duplicate_clusters(spark, sf):
    """Near-dup pairs chained into clusters: LSH→Jaccard pairs fed to
    large-star/small-star connected components; every doc gets a
    cluster id (= min doc_id of its component, singletons = self)."""
    from webcrawler_spark.operators.graph import duplicate_clusters

    return duplicate_clusters(_docs(spark, sf), threshold=0.2)


def _q_host_pagerank(spark, sf):
    """PageRank over a deterministic host graph (doc i's source links
    to doc (31i+7 mod n)'s source) — the frontier-prioritization
    signal; 5 power iterations, dangling mass redistributed."""
    from webcrawler_spark.operators.graph import pagerank

    docs = _docs(spark, sf).select("doc_id", "source")
    n_docs = docs.count()
    partner = docs.select(
        ((F.col("doc_id") * 31 + 7) % n_docs).alias("pid"),
        F.col("source").alias("src"),
    )
    right = docs.select(F.col("doc_id").alias("pid"), F.col("source").alias("dst"))
    edges = (
        partner.join(right, "pid")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    pr = pagerank(edges, alpha=0.85, n_iter=5)
    return pr.select(F.col("node").alias("host"), F.round("rank", 6).alias("rank"))


def _q_opic_importance(spark, sf):
    """OPIC (Abiteboul et al. 2003) over the same deterministic host
    graph as host_pagerank: 5 synchronous cash-flow rounds; importance
    = (history + cash)/(rounds + 1). The crawl-native frontier signal
    — accumulated while fetching, no offline convergence wait."""
    from webcrawler_spark.operators.graph import opic

    docs = _docs(spark, sf).select("doc_id", "source")
    n_docs = docs.count()
    partner = docs.select(
        ((F.col("doc_id") * 31 + 7) % n_docs).alias("pid"),
        F.col("source").alias("src"),
    )
    right = docs.select(F.col("doc_id").alias("pid"), F.col("source").alias("dst"))
    edges = (
        partner.join(right, "pid")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    out = opic(edges, n_iter=5)
    return out.select(
        F.col("node").alias("host"),
        F.round("cash", 6).alias("cash"),
        F.round("history", 6).alias("history"),
        F.round("importance", 6).alias("importance"),
    )


def _q_hits_scores(spark, sf):
    """HITS hubs/authorities (Kleinberg 1999) over the same
    deterministic host graph as host_pagerank: 5 L1-normalized
    mutual-reinforcement iterations — the second frontier-importance
    axis beside pagerank/opic (hub-ness flags link farms, authority
    flags canonical pages). Two shuffles/iter, 1-row normalizers."""
    from webcrawler_spark.operators.graph import hits

    docs = _docs(spark, sf).select("doc_id", "source")
    n_docs = docs.count()
    # QUADRATIC partner (unlike pagerank's affine 31i+7, which
    # collapses mod-20 to a host-level permutation — a regular graph
    # converges to the uniform fixpoint and value-checks nothing):
    # i² mod n is not a bijection, so host in-degrees genuinely vary
    partner = docs.where(F.col("doc_id") % 3 == 0).select(
        ((F.col("doc_id") * F.col("doc_id") + 7) % n_docs).alias("pid"),
        F.col("source").alias("src"),
    )
    right = docs.select(F.col("doc_id").alias("pid"), F.col("source").alias("dst"))
    edges = (
        partner.join(right, "pid")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    out = hits(edges, n_iter=5)
    return out.select(
        F.col("node").alias("host"),
        F.round("hub", 6).alias("hub"),
        F.round("authority", 6).alias("authority"),
    )


def _q_heavy_hitters(spark, sf):
    """Exact frequent terms via the two-pass Misra-Gries pipeline
    (MG candidates per partition → broadcast recount → exact
    cnt·(k+1) > n threshold): every word of the corpus occurring more
    than 1/40th of total tokens. The groupBy that would shuffle the
    whole vocabulary never runs — only candidate recounts (≤ k·P
    rows) cross the wire."""
    from webcrawler_spark.operators.sketches import heavy_hitters
    from webcrawler_spark.operators.textstats import words_col

    words = _docs(spark, sf).select(
        F.explode(words_col(F.col("text"))).alias("term")
    )
    return heavy_hitters(words, "term", k=39).select(
        F.col("item").alias("term"), F.col("cnt").alias("cnt")
    )


def _q_ccnet_buckets(spark, sf):
    """CCNet head/middle/tail tiering (Wenzek et al. 2020 §4.3): every
    document bucketed into its language's best/middle/worst third by
    self-trained interpolated-bigram LM score (micro-log10 integer
    units). Cutoffs come from a window over DISTINCT quantized scores
    per language — never over the document table."""
    from webcrawler_spark.operators.lm import ccnet_buckets

    return ccnet_buckets(_docs(spark, sf)).select(
        "doc_id", "lang", "score_q", "bucket"
    )


def _surt_test_urls(spark, sf):
    """Deterministic adversarial URL variants (scheme case, www,
    ports, unsorted query params, fragments) for the SURT queries."""
    return _docs(spark, sf).select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 2 == 0, "https://").otherwise("http://"),
            F.when(F.col("doc_id") % 3 == 0, "www.").otherwise(""),
            F.col("source"),
            F.lit(".Example.com"),
            F.when(F.col("doc_id") % 5 == 0, ":8080").otherwise(""),
            F.lit("/Doc/"),
            F.col("doc_id").cast("string"),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(F.lit("?b=2&a="), F.col("doc_id").cast("string")),
            ).otherwise(""),
            F.when(F.col("doc_id") % 7 == 0, "#frag").otherwise(""),
        ).alias("url"),
    )


def _q_image_dhash_pairs(spark, sf):
    """Image near-dup VALUE-CHECKED end-to-end through the real PPM
    decode path (synthesis-inversion oracle, the sitemap_parse
    pattern): every doc gets a deterministic 9×10 P6 image from its
    md5 hex; every 10th doc also gets a +10-brightness copy as
    doc_id+10^9 (clear of any real doc_id, the repo's planted-id
    convention). A global monotone pixel shift preserves every
    adjacent-pixel comparison, so dHash is mathematically INVARIANT —
    the expected pair set is exactly {(i, i+10^9, 0)}, and any
    decode/downsample/banding bug breaks the match. Random inter-doc
    collisions at hamming ≤ 3 have probability ~2⁻⁵⁰ per pair."""
    import hashlib

    import pandas as pd

    from webcrawler_spark.operators.multimodal import dhash_near_pairs, encode_ppm

    def synth(batches):
        for pdf in batches:
            ids, blobs = [], []
            for did in pdf["doc_id"]:
                # chained md5 -> 288 decorrelated bytes (repeating one
                # hex digest makes quasi-periodic images whose hashes
                # collide far above the uniform-bits rate — observed);
                # % 240 keeps the +10 brightness shift clip-free, which
                # the monotone-invariance argument requires
                raw = b"".join(
                    hashlib.md5(f"{did}:{j}".encode()).digest() for j in range(18)
                )
                base = bytes(b % 240 for b in raw)
                ids.append(int(did))
                blobs.append(encode_ppm(base, width=9))
                if did % 10 == 0:
                    shifted = bytes(b + 10 for b in base)
                    ids.append(int(did) + 1000000000)
                    blobs.append(encode_ppm(shifted, width=9))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = (
        _docs(spark, sf)
        .select("doc_id")
        .mapInPandas(synth, "media_id long, content binary")
    )
    return dhash_near_pairs(media)


def _q_image_dhash_png(spark, sf):
    """PNG decode VALUE-CHECKED end-to-end: the image_dhash_pairs
    construction, but the base image ships as an 8-bit PNG whose
    scanline filters cycle 0..4 (every unfilter path exercised on
    every image) while the +10-brightness copy ships as P6 PPM.
    dHash reads pixel VALUES, and both containers round-trip pixels
    exactly, so the pair set is again {(i, i+10^9, 0)} — but now a
    match proves the zlib inflate + Sub/Up/Average/Paeth inversion +
    monotone-shift invariance simultaneously; any filter-math bug
    shifts a pixel and breaks a comparison somewhere in 500 images."""
    import hashlib

    import pandas as pd

    from webcrawler_spark.operators.multimodal import (
        dhash_near_pairs,
        encode_png,
        encode_ppm,
    )

    def synth(batches):
        for pdf in batches:
            ids, blobs = [], []
            for did in pdf["doc_id"]:
                raw = b"".join(
                    hashlib.md5(f"{did}:{j}".encode()).digest() for j in range(18)
                )
                base = bytes(b % 240 for b in raw)
                ids.append(int(did))
                blobs.append(
                    encode_png(base, width=9, channels=3, filters=[0, 1, 2, 3, 4])
                )
                if did % 10 == 0:
                    shifted = bytes(b + 10 for b in base)
                    ids.append(int(did) + 1000000000)
                    blobs.append(encode_ppm(shifted, width=9))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = (
        _docs(spark, sf)
        .select("doc_id")
        .mapInPandas(synth, "media_id long, content binary")
    )
    return dhash_near_pairs(media)


def _q_image_dhash_jpeg(spark, sf):
    """JPEG decode VALUE-CHECKED end-to-end (round-4 verdict ask #3):
    the image_dhash_png construction with the base image shipped as a
    baseline JFIF — near-lossless all-ones quantization, 4:2:0 chroma
    subsampling and a DRI segment (restart_interval=2), so a match
    drives DRI parsing, the Huffman scan decode, dequantize + IDCT,
    chroma upsample, and YCbCr round-trip simultaneously. The 9x8
    image is a single 16x16 MCU, so the scan carries no RSTn marker:
    RST resync is covered by tests/test_jpeg.py, not here. JPEG is
    lossy, so the fixture is MARGIN-ROBUST: pixels are gray (chroma
    constant → 4:2:0 exact) at levels spaced 32 apart with adjacent
    dHash-grid cells forced to different levels; measured decode
    error ≤2 can never flip a ≥32-margin comparison, and the
    +10-brightness PPM copy (exact container) must land at hamming 0.
    Expected pair set is again {(i, i+10^9, 0): i % 10 = 0}."""
    import hashlib

    import pandas as pd

    from webcrawler_spark.operators.multimodal import (
        dhash_near_pairs,
        encode_jpeg,
        encode_ppm,
    )

    def synth(batches):
        for pdf in batches:
            ids, blobs = [], []
            for did in pdf["doc_id"]:
                raw = b"".join(
                    hashlib.md5(f"j{did}:{k}".encode()).digest()
                    for k in range(5)
                )
                prev = -1
                levels = []
                for b in raw[:72]:  # 9x8 grid = the whole dHash grid
                    k = b % 7
                    if k == prev:
                        k = (k + 1) % 7
                    levels.append(k)
                    prev = k
                base = bytes(
                    v for k in levels for v in (k * 32 + 8,) * 3
                )
                ids.append(int(did))
                blobs.append(
                    encode_jpeg(
                        base, width=9, channels=3,
                        subsampling="420", restart_interval=2,
                    )
                )
                if did % 10 == 0:
                    shifted = bytes(b + 10 for b in base)
                    ids.append(int(did) + 1000000000)
                    blobs.append(encode_ppm(shifted, width=9))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = (
        _docs(spark, sf)
        .select("doc_id")
        .mapInPandas(synth, "media_id long, content binary")
    )
    return dhash_near_pairs(media)


def _q_audio_fp_pairs(spark, sf):
    """Audio near-dup VALUE-CHECKED through the real WAV decode + FFT
    path (the image_dhash_pairs pattern transposed to gain): every doc
    gets a deterministic 512-sample 8-bit mono WAV; every 10th doc
    also a HALF-GAIN copy as doc_id+10^9. Samples sit at even
    offsets around 128 so the halving is integer-exact, and scaling
    FFT inputs by a power of two commutes with every IEEE rounding —
    band energies scale by exactly 0.25, every adjacent-band
    comparison is preserved, and the expected pair set is forced to
    {(i, i+10^9, 0)}."""
    import hashlib

    import pandas as pd

    from webcrawler_spark.operators.multimodal import audio_near_pairs, encode_wav

    def synth(batches):
        for pdf in batches:
            ids, blobs = [], []
            for did in pdf["doc_id"]:
                raw = b"".join(
                    hashlib.md5(f"a{did}:{j}".encode()).digest() for j in range(32)
                )
                s = bytes(128 + 2 * ((b % 120) - 60) for b in raw)
                ids.append(int(did))
                blobs.append(encode_wav(s))
                if did % 10 == 0:
                    half = bytes(128 + (x - 128) // 2 for x in s)
                    ids.append(int(did) + 1000000000)
                    blobs.append(encode_wav(half))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = (
        _docs(spark, sf)
        .select("doc_id")
        .mapInPandas(synth, "media_id long, content binary")
    )
    return audio_near_pairs(media)


def _q_kmv_registers(spark, sf):
    """KMV bottom-k distinct sketch (Beyer et al. 2007): the 16
    smallest distinct md5 word-hashes per source — actual hash VALUES
    as registers, which is what makes cross-sketch intersection
    estimable (kmv_intersection) where HLL registers cannot. Partial
    bottom-k per partition, ≤ k·P rows into the final merge."""
    from webcrawler_spark.operators.sketches import kmv_registers
    from webcrawler_spark.operators.textstats import words_col

    words = _docs(spark, sf).select(
        "source", F.explode(words_col(F.col("text"))).alias("term")
    )
    return kmv_registers(words, "term", key="source", k=16)


def _q_kmv_estimate(spark, sf):
    """Distinct-word estimate per source from the 16-register KMV
    sketch: exact below k, the (k-1)/U_(k) unbiased estimator at k."""
    from webcrawler_spark.operators.sketches import kmv_estimate, kmv_registers
    from webcrawler_spark.operators.textstats import words_col

    words = _docs(spark, sf).select(
        "source", F.explode(words_col(F.col("text"))).alias("term")
    )
    return kmv_estimate(
        kmv_registers(words, "term", key="source", k=16), key="source", k=16
    ).select("source", "n_reg", F.round("est", 6).alias("est"))


def _q_kmv_intersection(spark, sf):
    """Cross-sketch set-overlap estimate — the query HLL can't answer:
    word vocabularies of even-id vs odd-id documents, estimated purely
    from the two 16-register sketches (Beyer et al. §5: match fraction
    within the union's bottom-k, scaled by the union estimate)."""
    from webcrawler_spark.operators.sketches import kmv_intersection, kmv_registers
    from webcrawler_spark.operators.textstats import words_col

    d = _docs(spark, sf)
    words = d.select(
        "doc_id", F.explode(words_col(F.col("text"))).alias("term")
    )
    ra = kmv_registers(words.where(F.col("doc_id") % 2 == 0), "term", k=16)
    rb = kmv_registers(words.where(F.col("doc_id") % 2 == 1), "term", k=16)
    return kmv_intersection(ra, rb, k=16)


def _q_containment_pairs(spark, sf):
    """Broder directional containment over documents PLUS synthesized
    quote docs (every 10th doc's first 15 words as doc_id+10^9) —
    the duplicate class symmetric Jaccard misses: each quote has tiny
    resemblance to its source page but containment ≈ 1 from the
    quote's side. Exact (oracle) tier of dedup.containment_pairs."""
    from webcrawler_spark.operators.dedup import containment_pairs

    d = _docs(spark, sf).select("doc_id", "text")
    quotes = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000000).alias("doc_id"),
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 15), " ").alias(
            "text"
        ),
    )
    return containment_pairs(d.unionByName(quotes), threshold=0.6)


def _q_surt_keys(spark, sf):
    """SURT canonical keys (the CDX index key format) over adversarial
    URL variants — scheme/host case, www-stripping, ports, query-param
    sorting, fragment dropping — as one pure codegen projection."""
    from webcrawler_spark.functions.surt import surt_col

    u = _surt_test_urls(spark, sf)
    return u.select("doc_id", "url", surt_col(F.col("url")).alias("surt"))


def _q_cdx_roundtrip(spark, sf):
    """CDXJ interchange value-checked end-to-end (the warc_roundtrip
    pattern for the third Common Crawl artifact): every document
    becomes a CDX capture line (SURT key, 14-digit timestamp, md5
    digest, byte length), the range-partitioned sorted gzip sink
    writes them, the distributed source reads them back, and the
    oracle recomputes every field straight from the documents table."""
    import tempfile

    from webcrawler_spark.sources.cdx import cdx_lines, read_cdx, write_cdx

    out = tempfile.mkdtemp(prefix="wcspark-cdxrt-")
    d = _docs(spark, sf)
    captures = d.select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example/doc/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 7 == 0, ".pdf").otherwise(""),
        ).alias("url"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("text/html").alias("mime"),
        F.lit(200).alias("status"),
        (
            F.to_timestamp(F.lit("2020-01-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id") % 86400)
        ).alias("warc_ts"),
    )
    write_cdx(cdx_lines(captures), out, lines_per_file=100).collect()
    return read_cdx(spark, out + "/*.cdx.gz").select(
        "surt", "ts", "url", "digest", "mime", "status", "length"
    )


def _q_vocab_build(spark, sf):
    """Frequency vocabulary (top-500 terms, ids by count desc / term
    asc): explode → hash agg → TakeOrderedAndProject; the rank window
    runs over the already-capped ≤500-row table."""
    from webcrawler_spark.operators.vocab import build_vocab

    return build_vocab(_docs(spark, sf), max_size=500)


def _q_encode_docs(spark, sf):
    """Token-id encoding against the built vocab: posexplode →
    broadcast vocab join → per-doc reassembly aggregate; OOV → -1.
    The downstream feed for packing.py's sequence packing."""
    from webcrawler_spark.operators.vocab import build_vocab, encode_docs

    d = _docs(spark, sf)
    enc = encode_docs(d, build_vocab(d, max_size=500))
    # the id sequence is serialized for the hash compare (array-column
    # canon differs between drivers); the operator itself returns the
    # real array<int>
    return enc.select(
        "doc_id",
        "n_tokens",
        "n_unk",
        F.array_join(
            F.transform(F.col("token_ids"), lambda x: x.cast("string")), ","
        ).alias("token_ids"),
    )


def _q_bigram_logprob(spark, sf):
    """CCNet-shaped LM scoring (Wenzek et al. 2020): a Jelinek-Mercer
    interpolated bigram model fit on the clean slice (source='src0')
    scores every other document; lower avg log10 p = further from the
    target domain. Fit = explode + two hash aggs; scoring = shuffle
    join on (w1,w2) + broadcast unigram joins + one per-doc agg."""
    from webcrawler_spark.operators.lm import bigram_logprob, fit_bigram_lm

    d = _docs(spark, sf)
    bi, uni, n, v = fit_bigram_lm(d.where(F.col("source") == "src0"))
    scored = bigram_logprob(
        d.where(F.col("source") != "src0"), bi, uni, n, v, lam=0.7
    )
    return scored.select(
        "doc_id", "n_bigrams", F.round("avg_logp", 6).alias("avg_logp")
    )


def _q_recrawl_priority(spark, sf):
    """Adaptive recrawl scheduling (Cho & Garcia-Molina 2003): per-url
    change-rate λ̂ + Poisson staleness from a deterministic 4-fetch
    history (doc d's digest flips every 1+(d%4)*3 rounds). One url
    window + one hash aggregate — no joins."""
    from webcrawler_spark.operators.recrawl import recrawl_priority

    hist = (
        _docs(spark, sf)
        .select(
            "doc_id",
            F.explode(F.array([F.lit(r) for r in (0, 2, 4, 6)])).alias("round"),
        )
        .select(
            F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
            "round",
            F.concat(
                F.lit("d"),
                F.floor(
                    F.col("round") / (1 + (F.col("doc_id") % 4) * 3)
                ).cast("string"),
            ).alias("digest"),
        )
    )
    out = recrawl_priority(hist, now_round=8)
    # + 0.0 folds IEEE -0.0 to +0.0 (a never-changing url's λ̂ is
    # -ln(1)/I = -0.0 in one engine, +0.0 in the other)
    return out.select(
        "url",
        (F.round("change_rate", 6) + F.lit(0.0)).alias("change_rate"),
        "age",
        (F.round("p_stale", 6) + F.lit(0.0)).alias("p_stale"),
    )


def _q_simhash(spark, sf):
    from webcrawler_spark.operators.dedup import simhash

    return simhash(_docs(spark, sf))


def _q_simhash_near_pairs(spark, sf):
    from webcrawler_spark.operators.dedup import simhash_near_pairs

    return simhash_near_pairs(_docs(spark, sf), max_hamming=3)


def _q_text_quality(spark, sf):
    from webcrawler_spark.operators.textstats import (
        lang_id,
        quality_score,
        token_count,
    )

    d = _docs(spark, sf)
    return d.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        quality_score(F.col("text")).alias("quality"),
        lang_id(F.col("text")).alias("lang_guess"),
    )


def _q_fingerprints(spark, sf):
    from webcrawler_spark.operators.textstats import fingerprint

    return _docs(spark, sf).select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )


def _q_bpe_token_count(spark, sf):
    """BPE-pretokenizer token metering (training-data budget column)."""
    from webcrawler_spark.operators.textstats import bpe_token_count

    return _docs(spark, sf).select(
        "doc_id", bpe_token_count(F.col("text")).cast("long").alias("n_bpe")
    )


def _q_winnow_fp(spark, sf):
    """Winnowing (rolling k-gram hash, window-min) fingerprints —
    local-similarity dual of MinHash (Schleimer et al., SIGMOD 2003)."""
    from webcrawler_spark.operators.textstats import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf), "text", "doc_id", k=5, w=4)


def _q_cosine_topk(spark, sf):
    from webcrawler_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf}/embeddings.parquet").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    top = cosine_topk(emb, qvec, k=10)
    return top.withColumn("rank", F.col("rank").cast("long"))


def _q_embedding_near_dup(spark, sf):
    """Scale path: sign-LSH bucketed near-dup pairs (no cross join —
    the oracle reproduces the md5-derived hyperplanes in SQL). The
    exact crossJoin variant lives only in tests as a tiny-n oracle."""
    from webcrawler_spark.operators.similarity import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{sf}/embeddings.parquet").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    return embedding_near_dup_pairs(emb, threshold=0.4, n_planes=6)


def _q_semantic_dedup(spark, sf):
    """SemDeDup (Abbas et al. 2023): cosine-threshold pair graph →
    connected components → one keeper per semantic group. Exact tier
    (n_clusters=1, every pair considered) so DuckDB can replay it
    bit-for-bit; the k-means-clustered scale tier (pairwise work
    bounded per cluster) is law-checked in tests/test_semdedup.py."""
    from webcrawler_spark.operators.semdedup import semantic_dedup

    emb = spark.read.parquet(f"{sf}/embeddings.parquet").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    return semantic_dedup(emb, threshold=0.4, n_clusters=1)


def _q_ivf_ann(spark, sf):
    """IVF ANN, full probe (n_probe == k centroids): exercises the real
    train→assign→probe machinery while degenerating to the exact scan,
    so the cosine_topk oracle value-checks it. The pruned variant is
    `ivf_ann_probe_rowsonly`; recall-vs-probes is pinned in
    tests/test_ivf.py."""
    from webcrawler_spark.operators.ivf import ivf_topk, train_centroids

    emb = spark.read.parquet(f"{sf}/embeddings.parquet").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    cent = train_centroids(emb, n_centroids=8, sample_rows=10_000)
    top = ivf_topk(emb, cent, qvec, k=10, n_probe=8)
    return top.withColumn("rank", F.col("rank").cast("long"))


def _q_ivf_ann_probe_rowsonly(spark, sf):
    """IVF ANN, pruned (n_probe=2 of 8 inverted lists): the scan shape
    a 100 TB corpus runs — at scale the table is written
    partitionBy(centroid_id) so each probe is a partition-pruned read."""
    from webcrawler_spark.operators.ivf import ivf_topk, train_centroids

    emb = spark.read.parquet(f"{sf}/embeddings.parquet").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    cent = train_centroids(emb, n_centroids=8, sample_rows=10_000)
    return ivf_topk(emb, cent, qvec, k=10, n_probe=2).withColumn(
        "rank", F.col("rank").cast("long")
    )


def _q_sessionize(spark, sf):
    """Stateful sessionization (streaming-analog, 30-min gap) as batch."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        ev.withColumn(
            "new_sess",
            F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
        )
        .groupBy("user_id")
        .agg(F.sum("new_sess").alias("n_sessions"), F.count("*").alias("n_events"))
    )


def _q_tumbling_events(spark, sf):
    """Tumbling event-time window aggregation (streaming shape, batch)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


def _q_json_props(spark, sf):
    """JSON scalar extraction over the events props column."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return (
        ev.withColumn(
            "k", F.get_json_object(F.col("props"), "$.k").cast("long")
        )
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.max("k").alias("max_k"))
    )


# ---- rows-only entries (no faithful single-statement SQL form) ----------


_ROBOTS_BODY_A = "User-agent: *\nDisallow: /doc/1\nAllow: /doc/12"
_ROBOTS_BODY_B = "User-agent: *\nDisallow: /"
_ROBOTS_BODY_C = "User-agent: *\nCrawl-delay: 2\nDisallow: /doc/7"
_SRC_A = ["src0", "src4", "src8", "src12", "src16"]
_SRC_B = ["src1", "src5", "src9", "src13", "src17"]
_SRC_C = ["src2", "src6", "src10", "src14", "src18"]


def _q_robots_gate(spark, sf):
    """F2 — robots allow/deny via the engine's Google-semantics matcher
    (longest rule wins, Allow beats Disallow on ties; robots.py:141-161)
    against a prefix-only rule set the oracle reproduces in SQL."""
    from webcrawler_spark.functions.robots import robots_allowed_udf

    d = _docs(spark, sf).withColumn("url", _url_expr())
    body = (
        F.when(F.col("source").isin(_SRC_A), F.lit(_ROBOTS_BODY_A))
        .when(F.col("source").isin(_SRC_B), F.lit(_ROBOTS_BODY_B))
        .when(F.col("source").isin(_SRC_C), F.lit(_ROBOTS_BODY_C))
        .otherwise(F.lit(None).cast("string"))
    )
    return d.select(
        "doc_id",
        "source",
        robots_allowed_udf(F.col("url"), body).alias("allowed"),
    )


def _q_politeness_schedule(spark, sf):
    """W4/P12 — the native politeness law verbatim (engine.py fetch
    executor): attempt_ts = start + (accessed rows before me) * delay,
    computed with a per-key ordered window, no Python."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    delay = (F.lit(1) + F.col("user_id") % 5).cast("double")
    should = F.col("event_type").isin("click", "purchase")
    w_all = Window.partitionBy("user_id")
    w_seq = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # NTZ timestamp → fractional epoch seconds, timezone-free (DuckDB
    # epoch() parity; unix_timestamp would truncate the micros)
    epoch_s = (
        F.expr(
            "timestampdiff(MICROSECOND,"
            " timestamp_ntz'1970-01-01 00:00:00', ts)"
        )
        / F.lit(1e6)
    )
    start = F.min(epoch_s).over(w_all)
    consumed = F.coalesce(F.sum(should.cast("long")).over(w_seq), F.lit(0))
    return ev.select(
        "user_id",
        "event_id",
        should.alias("accessed"),
        F.round(start + consumed * delay, 6).alias("attempt_ts"),
    )


def _q_budget_landing(spark, sf):
    """A1/W5 — exact page-budget truncation: keep the first 100
    'fetches' in global (ts, id) order via the engine's DISTRIBUTED
    strictly-preceding cumulative count (operators/prefix.py — the
    same range-partition + partition-local cumsum + O(P) driver
    offsets plan the engine's final-round law uses; no un-partitioned
    single-task window anywhere in the physical plan)."""
    from webcrawler_spark.operators.prefix import attach_prefix_count

    ev = spark.read.parquet(f"{sf}/events.parquet")
    fetched = F.col("event_type") == "purchase"
    tagged = attach_prefix_count(
        ev.withColumn("_f", fetched.cast("long")), ["ts", "event_id"], "_f", "_cum"
    )
    return (
        tagged.filter(fetched & (F.col("_cum") < 100))
        .select("event_id", "user_id", (F.col("_cum") + 1).alias("fetch_no"))
    )


def _q_bloom_antijoin(spark, sf):
    """O5 — Bloom-pre-filtered J1; semantically equal to the exact anti
    join (property-tested in tests/test_bloom.py), so the plain NOT IN
    oracle value-checks it."""
    from webcrawler_spark.operators.bloom import anti_join_with_bloom

    d = _docs(spark, sf).withColumn("url", _url_expr())
    seen = d.filter(F.col("doc_id") % 3 == 0).select("url")
    return anti_join_with_bloom(d.select("doc_id", "url"), seen, "url").select(
        "doc_id", "url"
    )


def _q_lsh_ann(spark, sf):
    """Sign-LSH ANN, full probe (n_probes == 2^n_planes): exercises the
    real hyperplane-hash → multi-probe → bucket-scan machinery while the
    probe set covers every bucket, so the result degenerates to the
    exact scan and the cosine_topk oracle value-checks it (same trick as
    `ivf_ann`). The recall-vs-probes curve of the pruned variant is
    pinned in tests/test_operators.py."""
    from webcrawler_spark.operators.similarity import lsh_bucket_topk

    emb = spark.read.parquet(f"{sf}/embeddings.parquet").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    top = lsh_bucket_topk(emb, qvec, k=10, n_planes=4, n_probes=16)
    return top.withColumn("rank", F.col("rank").cast("long"))


def _q_multimodal_codec(spark, sf):
    """REAL multimodal decode, value-checked: documents become
    deterministic media payloads (even doc_id → binary P6 PPM packing
    the text bytes as pixels, odd doc_id → 8-bit mono WAV packing them
    as samples), a mapInPandas stage decodes them with the real codecs
    (operators/multimodal.py: pure netpbm parser, stdlib wave) and
    emits typed features; the oracle recomputes the dimensions, frame
    counts, and payload md5 from the same ASCII text slices in SQL
    (text is pure ASCII in this corpus, so char slices == byte
    slices)."""
    from pyspark.sql.types import BinaryType

    from webcrawler_spark.operators.multimodal import (
        encode_ppm,
        encode_wav,
        media_codec_features,
    )

    @F.pandas_udf(BinaryType())
    def make_payload(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        out = []
        for i, t in zip(doc_id, text):
            b = t.encode("utf-8")
            out.append(encode_ppm(b) if i % 2 == 0 else encode_wav(b))
        return pd.Series(out)

    d = _docs(spark, sf)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        make_payload(F.col("doc_id"), F.col("text")).alias("content"),
    ).filter(F.col("content").isNotNull())
    # 0-fill the not-applicable dims (image has no frames, audio no
    # w/h) so the oracle compare stays integer-typed end-to-end
    return media_codec_features(media).na.fill(
        {"width": 0, "height": 0, "n_frames": 0, "framerate": 0}
    )


def _q_multimodal_rowsonly(spark, sf):
    """Multimodal plumbing: binary columns → mapInPandas feature stage
    (deterministic fake decode; compressed codecs are the env plug
    point — uncompressed ones are real, see multimodal_codec)."""
    from webcrawler_spark.operators.multimodal import image_features

    d = _docs(spark, sf)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("content"),
    )
    feats = image_features(media, fake=True)
    return feats.select(
        "media_id",
        F.round(
            F.aggregate(
                "feature", F.lit(0.0), lambda acc, x: acc + x
            ),
            6,
        ).alias("feature_sum"),
    )


def _q_warc_roundtrip(spark, sf):
    """S5 interchange, value-checked end-to-end: every document's text
    bytes become the payload of a WARC/1.1 response record (urls per
    the shared _URL_SQL scheme), the distributed gzip sink writes them
    with per-partition rotation, the distributed source reads them
    back, and the oracle recomputes (url, byte length, md5) straight
    from the documents table — so record framing, gzip membering, and
    payload integrity are all hash-compared against DuckDB."""
    import tempfile

    from webcrawler_spark.sources.warc import read_warc, save_pages_warc

    out = tempfile.mkdtemp(prefix="wcspark-warcrt-")
    d = _docs(spark, sf)
    payloads = d.select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example/doc/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 7 == 0, ".pdf").otherwise(""),
        ).alias("url"),
        F.lit(200).alias("status"),
        F.lit("text/html; charset=utf-8").alias("content_type"),
        F.encode("text", "utf-8").alias("payload"),
    )
    save_pages_warc(payloads, out, records_per_file=100)
    return read_warc(spark, out + "/*.warc.gz").select(
        "url",
        F.col("status").cast("int").alias("status"),
        "content_type",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
    )


def _q_wet_roundtrip(spark, sf):
    """WET interchange (Common Crawl's extracted-text conversion
    records), value-checked end-to-end like warc_roundtrip: documents
    → conversion records through the rotating gzip sink → distributed
    parse back; the oracle recomputes (url, byte length, md5) straight
    from the documents table."""
    import tempfile

    from webcrawler_spark.sources.warc import read_wet, write_wet

    out = tempfile.mkdtemp(prefix="wcspark-wetrt-")
    d = _docs(spark, sf)
    payloads = d.select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example/doc/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 7 == 0, ".pdf").otherwise(""),
        ).alias("url"),
        "text",
    )
    write_wet(payloads, out, records_per_file=100).collect()
    return read_wet(spark, out + "/*.warc.wet.gz").select(
        "url",
        F.octet_length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
        F.md5("text").alias("text_md5"),
    )


def _q_stateful_schedule(spark, sf):
    """§2.8 — applyInPandasWithState politeness scheduler over a
    bounded candidate stream (AvailableNow drain), value-checked: the
    per-host ``attempt_i = max(arrival_i, prev_attempt + delay_{i-1})``
    recurrence is reproduced by a DuckDB recursive CTE, so the state
    store's output is hash-compared row-for-row (cross-micro-batch
    state continuity is additionally pinned in tests/test_streaming.py;
    the candidate file is written as one file so the drain is a single
    deterministic batch — the recurrence itself is batch-boundary
    invariant only when batches arrive in arrival order)."""
    import tempfile

    root = tempfile.mkdtemp(prefix="wcspark-state-")
    from webcrawler_spark.streaming.stateful import politeness_schedule_stream

    ddl = "host string, url string, arrival_ts double, delay double"
    cand = (
        spark.read.parquet(f"{sf}/events.parquet")
        .select(
            F.concat(F.lit("h"), (F.col("user_id") % 20).cast("string")).alias(
                "host"
            ),
            F.concat(F.lit("u"), F.col("event_id").cast("string")).alias("url"),
            (F.col("event_id") % 100).cast("double").alias("arrival_ts"),
            (F.lit(1) + F.col("user_id") % 3).cast("double").alias("delay"),
        )
    )
    cand.coalesce(1).write.parquet(f"{root}/cand")
    q = (
        politeness_schedule_stream(
            spark.readStream.schema(ddl).parquet(f"{root}/cand")
        )
        .writeStream.format("parquet")
        .option("path", f"{root}/out")
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(f"{root}/out").select(
        "host",
        "url",
        "arrival_ts",
        F.round("attempt_ts", 6).alias("attempt_ts"),
    )


def _q_stream_lsh_dedup(spark, sf):
    """§2.8 — streaming MinHash-LSH near-dup filter: per-bucket
    first-claimant state (applyInPandasWithState keyed by (band_id,
    band_min)), drained AvailableNow over the documents corpus with
    arrival = doc_id; per-doc verdict = min colliding owner.
    Value-checked: with arrival order = id order, owner(bucket) is the
    bucket's min doc_id, which DuckDB replays from the shared shingle
    CTE (cross-micro-batch state continuity is pinned in
    tests/test_streaming.py)."""
    import tempfile

    from webcrawler_spark.operators.dedup import minhash_signatures
    from webcrawler_spark.streaming.stateful import lsh_collision_stream

    root = tempfile.mkdtemp(prefix="wcspark-lshc-")
    sig_ddl = "band_id string, band_min string, doc_id long, arrival_ts double"
    minhash_signatures(_docs(spark, sf)).withColumn(
        "arrival_ts", F.col("doc_id").cast("double")
    ).coalesce(1).write.parquet(f"{root}/sig")
    q = (
        lsh_collision_stream(
            spark.readStream.schema(sig_ddl).parquet(f"{root}/sig")
        )
        .writeStream.format("parquet")
        .option("path", f"{root}/out")
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(f"{root}/out")
        .groupBy("doc_id")
        .agg(F.min("owner_id").alias("dup_of"))
    )


def _q_stream_hdr(spark, sf):
    """Streaming percentiles: tumbling 1-hour HDR histograms over the
    events stream (AvailableNow drain; the sketch's SUM monoid IS the
    streaming state — one long per (window, type, bucket) cell, never
    a per-event buffer), then the batch quantile read on the sink
    table. Values metered in cents (floor(value*100)) so bucketing is
    integer-exact; window_start = epoch-aligned tumbling hour, which
    the oracle replays as date_trunc."""
    import tempfile

    from webcrawler_spark.operators.sketches import hdr_quantiles
    from webcrawler_spark.streaming.incremental import windowed_hdr_histogram

    root = tempfile.mkdtemp(prefix="wcspark-shdr-")
    spark.read.parquet(f"{sf}/events.parquet").select(
        "ts",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    ).coalesce(1).write.parquet(f"{root}/src")
    q = (
        windowed_hdr_histogram(
            spark.readStream.schema(
                "ts timestamp, event_type string, cents long"
            ).parquet(f"{root}/src"),
            "cents",
            key="event_type",
        )
        .writeStream.format("memory")
        .queryName("stream_hdr_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return hdr_quantiles(
        spark.table("stream_hdr_sink"), key=["window_start", "event_type"]
    )


def _q_crawl_rowsonly(spark, sf):
    """The crawl itself at this scale factor (quiescence run, no budget):
    per-host attempted/fetched counts from the seen table."""
    from webcrawler_spark.engine import CrawlConfig
    from webcrawler_spark.plans.crawl import crawl
    from webcrawler_spark.sources.synthetic_web import (
        document_web_seeds,
        pages_from_documents,
    )

    pages = pages_from_documents(spark, sf)
    seeds = document_web_seeds(spark, sf)
    session = crawl(
        spark,
        pages,
        seeds,
        config=CrawlConfig(limit=60, max_rounds=6, collect_metrics=False),
    )
    return (
        session.seen.groupBy("host")
        .agg(
            F.count("*").alias("attempted"),
            F.sum(F.col("fetched").cast("long")).alias("fetched"),
        )
    )


def _q_unigram_logprob(spark, sf):
    """CCNet-style LM quality proxy: per-doc mean unigram log10-prob
    under the corpus's own unigram model (explode → model agg →
    broadcast join → per-doc agg; no window)."""
    from webcrawler_spark.operators.textstats import unigram_logprob

    return unigram_logprob(_docs(spark, sf))


def _q_duplicated_ngrams(spark, sf):
    """Exact-substring duplication stats (Lee et al. 2022): fraction
    of each doc's 8-token windows whose exact sequence occurs ≥2 times
    anywhere in the corpus."""
    from webcrawler_spark.operators.dedup import duplicated_ngrams

    return duplicated_ngrams(_docs(spark, sf), k=8)


def _q_mixture_sample(spark, sf):
    """Deterministic stratified mixture sampling: keep rate by lang,
    decided by md5(doc_id) so the sample is bit-reproducible across
    engines, retries, and cluster sizes."""
    from webcrawler_spark.operators.mixing import mixture_sample

    return mixture_sample(
        _docs(spark, sf), rates=_MIX_RATES, default_rate=0.1
    ).select("doc_id", "lang", "source")


def _q_source_report(spark, sf):
    """Dataset-card rollup per (source, lang): doc/token counts, mean
    length, exact-duplicate fraction — one hash aggregate."""
    from webcrawler_spark.operators.mixing import source_report

    return source_report(_docs(spark, sf)).select(
        "source",
        "stratum",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        "avg_chars",
        "exact_dup_frac",
    )


def _q_dsir_weights(spark, sf):
    """DSIR importance weights (Xie et al. 2023): raw docs scored by
    log p̂_target/q̂_raw under hashed unigram+bigram LMs (target slice
    = source 'src0'). Explode → two B-row model aggregates →
    broadcast ratio join → per-doc agg; no window, no self-join."""
    from webcrawler_spark.operators.dsir import dsir_logweights

    return dsir_logweights(
        _docs(spark, sf), is_target=F.col("source") == "src0", n_buckets=64
    )


def _q_dsir_topk(spark, sf):
    """DSIR resampling: Gumbel top-k over the importance weights with
    md5(doc_id)-derived noise — the selected set is bit-reproducible
    across engines and cluster sizes; orderBy+limit compiles to
    TakeOrderedAndProject (per-partition top-k, no global sort)."""
    from webcrawler_spark.operators.dsir import dsir_logweights, dsir_sample

    w = dsir_logweights(
        _docs(spark, sf), is_target=F.col("source") == "src0", n_buckets=64
    )
    return dsir_sample(w, k=50)


def _q_nb_langid_model(spark, sf):
    """Trained NB char-trigram language-ID model (Cavnar-Trenkle
    profile, NB smoothing): fit on the even-doc_id half of documents;
    the dense (gram, lang, logp) table is vocab-capped to 300 grams so
    it broadcasts at any corpus size. Fit plan: explode → one hash
    aggregate; vocab cap is TakeOrderedAndProject."""
    from webcrawler_spark.operators.langid import fit_nb_langid

    model, _ = fit_nb_langid(
        _docs(spark, sf).where(F.col("doc_id") % 2 == 0), max_vocab=300
    )
    return model.select("gram", "lang", F.round("logp", 6).alias("logp"))


def _q_nb_langid(spark, sf):
    """NB language-ID predictions on the held-out odd-doc_id half:
    explode → broadcast model join → partial-agg groupBy (doc, lang) →
    per-doc window over ≤n_langs rows. The corpus never shuffles."""
    from webcrawler_spark.operators.langid import fit_nb_langid, nb_langid

    d = _docs(spark, sf)
    model, priors = fit_nb_langid(
        d.where(F.col("doc_id") % 2 == 0), max_vocab=300
    )
    pred = nb_langid(d.where(F.col("doc_id") % 2 == 1), model, priors)
    return pred.select(
        "doc_id", "pred_lang", F.round("score", 6).alias("score"), "n_grams"
    )


def _q_trap_hosts(spark, sf):
    """Crawler-trap detection (Mercator/IRLbot signal): per-host
    distinct-URL vs distinct-content ratio, with a deterministic
    session-id trap host injected (many URLs, one page). One hash
    aggregate; content digested to md5 before the shuffle."""
    from webcrawler_spark.operators.traps import trap_host_stats

    d = _docs(spark, sf)
    normal = d.select(
        F.col("source").alias("host"), _url_expr().alias("url"), "text"
    )
    trap = d.where(F.col("doc_id") % 5 == 0).select(
        F.lit("traphost").alias("host"),
        F.concat(
            F.lit("https://traphost.example/page?sid="),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.lit("same calendar boilerplate").alias("text"),
    )
    return trap_host_stats(normal.unionByName(trap))


def _q_rank_priority(spark, sf):
    """Graph-signal frontier prioritization: the host PageRank feeds
    the frontier's global fetch order (rank desc, url) — top-100 via
    TakeOrderedAndProject (per-partition top-k, no global sort); the
    position window runs over the 100 survivors only."""
    from pyspark.sql import Window

    from webcrawler_spark.operators.graph import pagerank

    docs = _docs(spark, sf).select("doc_id", "source")
    n_docs = docs.count()
    partner = docs.select(
        ((F.col("doc_id") * 31 + 7) % n_docs).alias("pid"),
        F.col("source").alias("src"),
    )
    right = docs.select(F.col("doc_id").alias("pid"), F.col("source").alias("dst"))
    edges = (
        partner.join(right, "pid")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    pr = pagerank(edges, alpha=0.85, n_iter=5).select(
        F.col("node").alias("host"), F.round("rank", 6).alias("rank")
    )
    frontier = _docs(spark, sf).select(
        _url_expr().alias("url"), F.col("source").alias("host")
    )
    top = (
        frontier.join(F.broadcast(pr), "host")
        .orderBy(F.desc("rank"), F.col("url"))
        .limit(100)
    )
    return top.select(
        "url",
        "host",
        "rank",
        F.row_number()
        .over(Window.orderBy(F.desc("rank"), F.col("url")))
        .alias("pos"),
    )


def _q_redact_pii(spark, sf):
    """PII scrub (email / IPv4 / phone regex redaction with per-
    category audit counts) over documents with deterministically
    injected PII — the pre-training scrub pass; pure codegen
    projection, zero shuffles."""
    from webcrawler_spark.operators.cleaning import redact_pii

    d = _docs(spark, sf)
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example or +44 20 7946 "),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" at 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("text"),
    )
    return redact_pii(injected)


def _q_anchor_topk(spark, sf):
    """Anchor-text consolidation: per-target top-3 inbound anchor
    texts by count (the web-corpus target-description signal). Edges
    built deterministically: doc i links to target doc-((31i+7) mod
    97) with the first two words of i's text as the anchor."""
    from webcrawler_spark.operators.graph import anchor_text_topk

    d = _docs(spark, sf)
    edges = d.select(
        F.concat(
            F.lit("doc-"), ((F.col("doc_id") * 31 + 7) % 97).cast("string")
        ).alias("dst"),
        F.array_join(
            F.slice(F.split(F.col("text"), " "), 1, 2), " "
        ).alias("anchor"),
    )
    return anchor_text_topk(edges, k=3)


def _q_quality_mixture(spark, sf):
    """CCNet-style LM-bucketed mixture: unigram LM score → fixed-cut
    quality buckets → per-bucket deterministic keep rates (composition
    of unigram_logprob and the md5-hash sampler; no windows, no
    global quantile pass)."""
    from webcrawler_spark.operators.mixing import quality_sample
    from webcrawler_spark.operators.textstats import unigram_logprob

    scored = unigram_logprob(_docs(spark, sf))
    return quality_sample(
        scored,
        cuts=[-1.478, -1.4765],
        rates=[0.3, 1.0, 0.6],
        score_col="avg_logp",
    ).select("doc_id", "n_tokens", "avg_logp", "bucket")


def _q_pack_chunks(spark, sf):
    """Concat-then-chunk training-sequence packing (GPT-style): each
    doc's global token offset comes from the engine's distributed
    prefix-sum (operators/prefix.py — range partition, partition-local
    cumsum, O(P) driver offsets; no un-partitioned window), then pure
    arithmetic maps spans to fixed-length sequence ids."""
    from webcrawler_spark.operators.packing import (
        pack_concat_chunks,
        token_count_col,
    )

    d = _docs(spark, sf).select(
        "doc_id", token_count_col("text").cast("long").alias("n_tokens")
    )
    out = pack_concat_chunks(d, seq_len=_PACK_SEQ_LEN)
    return out.select(
        "doc_id",
        "n_tokens",
        F.col("tok_start").cast("long").alias("tok_start"),
        "seq_first",
        "seq_last",
        F.col("offset_in_seq").cast("long").alias("offset_in_seq"),
        "n_seqs",
    )


def _q_pack_greedy(spark, sf):
    """Boundary-respecting greedy packing, shard-local (T5-style):
    docs route to 8 md5-derived shards, each shard packs sequentially
    in doc_id order inside one applyInPandas group — zero cross-shard
    state, bit-stable at any parallelism. Oracle: a DuckDB recursive
    CTE replays the identical greedy recurrence per shard."""
    from webcrawler_spark.operators.packing import pack_greedy, token_count_col

    d = _docs(spark, sf).select(
        "doc_id", token_count_col("text").cast("long").alias("n_tokens")
    )
    # md5-derived shard (not xxhash64) so the oracle engine can replay
    # the routing; same construction as mixing.uniform_hash_col
    shard = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 8
    )
    return pack_greedy(
        d, seq_len=_PACK_SEQ_LEN, n_shards=8, shard_expr=shard
    )


def _q_hll_registers(spark, sf):
    """Per-event_type HyperLogLog register table over user_id — the
    mergeable distinct-count sketch (pure-integer artifact, oracle
    bit-for-bit)."""
    from webcrawler_spark.operators.sketches import hll_registers

    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_type", F.col("user_id").cast("string").alias("uid")
    )
    return hll_registers(ev, "uid", key="event_type")


def _q_hll_estimate(spark, sf):
    """HLL cardinality estimate vs exact COUNT(DISTINCT) per
    event_type — shows the sketch's error stays inside its bound
    without shuffling a single user_id."""
    from webcrawler_spark.operators.sketches import hll_estimate, hll_registers

    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_type", F.col("user_id").cast("string").alias("uid")
    )
    est = hll_estimate(hll_registers(ev, "uid", key="event_type"), key="event_type")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("uid").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type", "n_hit", "exact_distinct", "estimate"
    )


def _q_cms_registers(spark, sf):
    """Count-Min register table over document words: depth x width
    integer counters; map-side partials cap the shuffle at the sketch
    size."""
    from webcrawler_spark.operators.sketches import cms_registers

    words = _docs(spark, sf).select(
        F.explode(F.split("text", " ")).alias("w")
    )
    return cms_registers(words, "w")


def _q_cms_topk_est(spark, sf):
    """CMS point-queries for the exact top-20 words: estimate >= exact
    always (one-sided error); integer columns, exact oracle."""
    from webcrawler_spark.operators.sketches import cms_lookup, cms_registers

    words = _docs(spark, sf).select(
        F.explode(F.split("text", " ")).alias("w")
    )
    regs = cms_registers(words, "w")
    exact = words.groupBy("w").agg(F.count("*").alias("exact_cnt"))
    probes = exact.orderBy(F.desc("exact_cnt"), "w").limit(20)
    return (
        cms_lookup(regs, probes.select("w"), "w")
        .join(probes, "w")
        .select(
            "w",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
        )
    )


def _q_hdr_quantiles(spark, sf):
    """HDR log-linear histogram quantiles (Tene's HdrHistogram bucket
    design as the third mergeable sketch): per-source p50/p90/p99 of
    document length. Bucket counts map-side combine like HLL/CMS
    registers; the quantile read is a bounded codegen aggregate over
    the sorted bucket array — no global sort, no un-partitioned
    window. Integer-only bucketing, bit-exact oracle."""
    from webcrawler_spark.operators.sketches import hdr_histogram, hdr_quantiles

    return hdr_quantiles(
        hdr_histogram(_docs(spark, sf), "n_chars", key="source"), key="source"
    )


def _q_exact_substring_dedup(spark, sf):
    """Lee et al. 2022 exact-substring span removal: every 8-token
    window occurring >= 2 times in the corpus is cut; overlapping
    windows merge to maximal spans first. Hash-aggregate multiplicity
    + lag-window islands — no suffix array, no self-join."""
    from webcrawler_spark.operators.dedup import remove_duplicate_spans

    return remove_duplicate_spans(_docs(spark, sf), k=8)


def _lined_docs(spark, sf):
    """Documents with deterministic line structure: the testdata text is
    one punctuation-free line, so C4's line rules need synthetic lines.
    Words chunk into 6-word lines; each line's terminal comes from
    md5(doc_id|i) % 5 (0,1 -> '.', 2 -> '?', 3 -> none -> line dropped,
    4 -> ' javascript.' -> banned word); docs with doc_id % 97 == 0 gain
    a 'lorem ipsum dolor.' line that bans the whole doc. The oracle
    replays the construction verbatim in SQL."""
    d = _docs(spark, sf)
    ws = F.split(F.col("text"), " ")
    nseg = F.greatest(F.ceil(F.size(ws) / 6.0).cast("int"), F.lit(1))

    def mk_line(i):
        base = F.array_join(F.slice(ws, (i - 1) * 6 + 1, 6), " ")
        h = F.conv(
            F.substring(F.md5(F.concat_ws("|", F.col("doc_id"), i)), 1, 2),
            16,
            10,
        ).cast("long") % 5
        return F.concat(
            base,
            F.when(h.isin(0, 1), ".")
            .when(h == 2, "?")
            .when(h == 3, "")
            .otherwise(" javascript."),
        )

    text2 = F.array_join(F.transform(F.sequence(F.lit(1), nseg), mk_line), "\n")
    text2 = F.when(
        F.col("doc_id") % 97 == 0,
        F.concat(text2, F.lit("\nlorem ipsum dolor.")),
    ).otherwise(text2)
    return d.select("doc_id", text2.alias("text"))


def _q_c4_clean(spark, sf):
    """C4 line-level cleaning (Raffel et al. 2020 §2.2): keep lines
    ending in terminal punctuation with >= 3 words and no 'javascript';
    ban docs containing 'lorem ipsum' or '{'. Pure codegen projection
    over array lambdas — zero shuffles."""
    from webcrawler_spark.operators.cleaning import c4_line_filter

    return c4_line_filter(_lined_docs(spark, sf), min_words=3)


def _q_cleaning_funnel(spark, sf):
    """End-to-end cleaning funnel — the three tiers composed in the
    order a production corpus runs them: C4 line filter (within-doc)
    -> Gopher doc-stats gate (per-doc) -> exact text dedup (corpus).
    One row of per-stage survivor counts (n_raw, n_c4, n_gopher,
    n_unique). Plan: two codegen projections + one distinct shuffle
    on the cleaned text + two single-row aggregates crossJoined —
    nothing in the funnel collects a document to the driver."""
    from webcrawler_spark.operators.cleaning import (
        c4_line_filter,
        gopher_quality_flags,
    )

    c4 = c4_line_filter(_lined_docs(spark, sf), min_words=3)
    flat = c4.select(
        "doc_id",
        F.regexp_replace("clean_text", "\n", " ").alias("text"),
        F.col("keep").alias("keep_c4"),
    )
    # re-crawl mirrors (every 37th doc appears twice under a new id) so
    # the dedup stage has real duplicates to cut
    flat = flat.unionByName(
        flat.where("doc_id % 37 = 0").select(
            (F.col("doc_id") + F.lit(1000000000)).alias("doc_id"),
            "text",
            "keep_c4",
        )
    )
    a = flat.agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.col("keep_c4").cast("long")).alias("n_c4"),
    )
    kept = flat.where("keep_c4")
    gop = gopher_quality_flags(
        kept,
        min_words=20,
        max_words=80,
        min_avg_word_len=3.0,
        max_avg_word_len=10.0,
        max_symbol_ratio=0.1,
        min_stopword_hits=2,
        max_dup_2gram_ratio=0.05,
    ).select("doc_id", "keep")
    surv = kept.join(gop.where("keep"), "doc_id")
    b = surv.agg(
        F.count(F.lit(1)).alias("n_gopher"),
        # distinct over 16-byte digests, not full document strings —
        # the exact_dedup shuffle shape at corpus scale
        F.countDistinct(F.md5("text")).alias("n_unique"),
    )
    return a.crossJoin(b)


def _q_pipeline_funnel(spark, sf, quality_tier: str = "exact"):
    """THE end-to-end training-data pipeline (round-3 verdict ask #6):
    ``webcrawler_spark.pipelines.funnel`` runs its eleven stages over
    the sf documents and their lined twin and counts each stage's
    survivors once. The funnel runs when this is called; the returned
    frame is those counts as one driver-built row of 12 longs (n_raw ..
    n_bpe_tokens). ``quality_tier`` picks the LM gate's tier:
    "exact" (default, the oracle tier) or "approx" (the approx-quantile
    scale tier). The DuckDB oracle replays all eleven stages in one CTE
    chain."""
    from webcrawler_spark.pipelines.funnel import COUNTS, funnel_counts

    counts = funnel_counts(_docs(spark, sf), _lined_docs(spark, sf), quality_tier)
    return spark.createDataFrame(
        [tuple(counts[k] for k in COUNTS)],
        ", ".join(f"{k} long" for k in COUNTS),
    )


def _block_docs(spark, sf):
    """Documents as a deterministic jusText block table (doc_id, pos,
    text, link_chars): words chunk into 14-word base blocks; block i's
    md5(doc_id#i) byte picks a variant — h%4==0 prepends 20 stopwords
    and triples the base (the long/high-stopword 'good' shape),
    h%4==1 prepends 6 stopwords (the 'neargood' shape), else the bare
    base ('bad', or 'short' on the partial tail block) — and a link
    budget: h%5==4 fully linked, h%5==3 one-third linked (both over
    the 20% link-density bar), h%7==0 a 5-char anchor, else none.
    The oracle replays the construction verbatim in SQL."""
    d = _docs(spark, sf)
    ws = F.split(F.col("text"), " ")
    nseg = F.greatest(F.ceil(F.size(ws) / 14.0).cast("int"), F.lit(1))
    pad10 = "the of and to in is on for with a"

    def mk_block(i):
        base = F.array_join(F.slice(ws, (i - 1) * 14 + 1, 14), " ")
        h = F.conv(
            F.substring(F.md5(F.concat_ws("#", F.col("doc_id"), i)), 1, 2), 16, 10
        ).cast("long")
        btext = (
            F.when(
                h % 4 == 0,
                F.concat_ws(" ", F.lit(pad10), F.lit(pad10), base, base, base),
            )
            .when(h % 4 == 1, F.concat_ws(" ", F.lit("the of and to in is"), base))
            .otherwise(base)
        )
        link = (
            F.when(h % 5 == 4, F.length(btext).cast("long"))
            .when(h % 5 == 3, F.floor(F.length(btext) / 3))
            .when(h % 7 == 0, F.lit(5).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        return F.struct(btext.alias("text"), link.alias("link_chars"))

    blocks = F.transform(F.sequence(F.lit(1), nseg), mk_block)
    return d.select(F.col("doc_id"), F.posexplode(blocks).alias("pos", "b")).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("b.text").alias("text"),
        F.col("b.link_chars").alias("link_chars"),
    )


def _q_cluster_keeper(spark, sf):
    """FineWeb-style survivor choice: near-dup clusters (LSH →
    Jaccard → connected components) keep the LONGEST member (tie →
    min id) via a max_by monoid — no window, map-side-resolvable even
    for a pathological mega-cluster."""
    from webcrawler_spark.operators.graph import duplicate_clusters
    from webcrawler_spark.operators.mixing import keep_best_per_cluster

    d = _docs(spark, sf)
    clusters = duplicate_clusters(d)
    scores = d.select("doc_id", F.col("n_chars").cast("long").alias("score"))
    return keep_best_per_cluster(clusters, scores)


def _q_phrase_search(spark, sf):
    """Positional phrase search THROUGH the sharded inverted index
    (build -> per-term posting join -> codegen adjacency); the oracle
    answers the same query by direct positional scan of the corpus —
    two different algorithms that must agree, so the match checks the
    whole index round-trip, not a replay."""
    from webcrawler_spark.operators.index import (
        build_inverted_index,
        phrase_search,
    )

    ix = build_inverted_index(_docs(spark, sf))
    return phrase_search(ix, "table scan")


def _q_term_stats(spark, sf):
    """Document/collection frequencies off the index alone (the df/cf
    stats a query planner ranks with), shard-partial rollup."""
    from webcrawler_spark.operators.index import (
        build_inverted_index,
        term_doc_freqs,
    )

    return term_doc_freqs(build_inverted_index(_docs(spark, sf)))


def _lr_inputs(spark, sf):
    """Hashed features + labels for the quality-classifier queries:
    y = doc mentions the word 'spark' (linearly learnable through the
    bucket that word hashes into, so training demonstrably moves the
    right weight)."""
    from webcrawler_spark.operators.classifier import hash_features

    d = _docs(spark, sf)
    feats = hash_features(d)
    labels = d.select(
        F.col("doc_id").alias("id"),
        (
            F.size(F.filter(F.split("text", " "), lambda w: w == "spark")) >= 2
        ).cast("double").alias("y"),
    )
    return feats, labels


def _q_lr_quality_model(spark, sf):
    """Distributed logistic-regression training (the fastText-style
    quality-classifier role, trained not just applied): 3 full-batch
    GD iterations, weights = driver model state (<=65 rows/iter),
    gradients via broadcast-join + dim-bounded hash aggregate. Output
    is the trained weight table."""
    from webcrawler_spark.operators.classifier import lr_train

    feats, labels = _lr_inputs(spark, sf)
    w = lr_train(feats, labels, n_iter=4, lr=2.0)
    return spark.createDataFrame(w, "j int, w double")


def _q_lr_quality(spark, sf):
    """Same trainer, scoring pass: per-doc sigmoid score + decision
    against the held label."""
    from webcrawler_spark.operators.classifier import lr_score, lr_train

    feats, labels = _lr_inputs(spark, sf)
    w = lr_train(feats, labels, n_iter=4, lr=2.0)
    return lr_score(feats, w).join(labels, "id")


def _q_ngram_repetition(spark, sf):
    """Gopher §A1.1 n-gram families: top-2-gram char fraction + char
    COVERAGE of duplicated 5-grams (interval union over positions, no
    double counting). Every 4th doc gets its first 10 words appended
    so duplicated 5-grams exist; the oracle computes both signals
    RELATIONALLY (group-by counts + coverage join) against the array
    formulation — independent formulations, same answer."""
    from webcrawler_spark.operators.cleaning import ngram_repetition_stats

    d = _docs(spark, sf)
    ws = F.split(F.col("text"), " ")
    t2 = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(F.col("text"), F.lit(" "), F.array_join(F.slice(ws, 1, 10), " ")),
    ).otherwise(F.col("text"))
    return ngram_repetition_stats(d.select("doc_id", t2.alias("text")))


def _q_line_repetition(spark, sf):
    """Gopher §A1.1 line-granularity repetition signals: dup-line
    fraction and repeated-line char fraction, over lined docs with
    deterministic boilerplate injected (every 3rd doc gains a doubled
    footer line, every 5th a header/footer nav pair) so both signals
    fire. Pure codegen projection — zero shuffles."""
    from webcrawler_spark.operators.cleaning import line_repetition_stats

    d = _lined_docs(spark, sf)
    t = F.col("text")
    t = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(t, F.lit("\nall rights reserved.\nall rights reserved.")),
    ).otherwise(t)
    t = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.lit("home | about | contact\n"), t, F.lit("\nhome | about | contact")
        ),
    ).otherwise(t)
    return line_repetition_stats(d.select("doc_id", t.alias("text")))


def _q_justext_blocks(spark, sf):
    """jusText boilerplate classification (Pomikalek 2011): per-block
    context-free class from integer-cross-multiplied link/stopword/
    length thresholds (bit-exact, no float densities), then
    context-sensitive smoothing from the nearest certain neighbours —
    one doc_id-partitioned window pass, zero joins."""
    from webcrawler_spark.operators.boilerplate import classify_blocks

    return classify_blocks(_block_docs(spark, sf))


def _q_domain_cap(spark, sf):
    """RefinedWeb-style per-domain cap: keep the 5 largest docs per
    source via the two-level top-k (partition-local prune spreads a
    mega-host over all tasks before the exact per-host window)."""
    from webcrawler_spark.operators.mixing import domain_cap

    return domain_cap(
        _docs(spark, sf), host_col="source", k=5, score_col="n_chars"
    )


def _q_sitemap_parse(spark, sf):
    """Sitemap XML round-trip: build one sitemaps.org-format file per
    source (whitespace-padded <loc>, <lastmod> on even doc_ids), parse
    it back with the native-regexp extractor, one row per entry. The
    oracle emits the expected entries directly, so the parser must
    invert the synthesis exactly (incl. loc trimming and NULL
    lastmod)."""
    from webcrawler_spark.functions.sitemap import extract_sitemap_urls

    d = _docs(spark, sf)
    entry = F.concat(
        F.lit("<url><loc> https://"),
        F.col("source"),
        F.lit(".example/d/"),
        F.col("doc_id").cast("string"),
        F.lit(" </loc>"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("<lastmod>2026-0"),
                (F.col("doc_id") % 9 + 1).cast("string"),
                F.lit("-01</lastmod>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</url>"),
    )
    xml = (
        d.select("source", "doc_id", entry.alias("e"))
        .groupBy("source")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("doc_id", "e"))
                        ),
                        lambda x: x["e"],
                    ),
                    "",
                ),
                F.lit("</urlset>"),
            ).alias("xml")
        )
    )
    return extract_sitemap_urls(xml, xml_col="xml", id_col="source")


def _q_robots_sitemaps(spark, sf):
    """Robots.txt `Sitemap:` directive discovery: build one robots body
    per source (directives for doc_id%7==0 docs with alternating casing
    / leading whitespace / tab separators / a trailing `# comment`,
    plus a commented-out line and a mid-line mention that must NOT
    match), extract with the native-regexp parser, one row per
    directive. The oracle emits the expected rows directly, so the
    extractor must invert the synthesis exactly."""
    from webcrawler_spark.functions.sitemap import extract_robots_sitemaps

    d = _docs(spark, sf)
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example/sm/"),
        F.col("doc_id").cast("string"),
        F.lit(".xml"),
    )
    line = F.when(
        F.col("doc_id") % 7 == 0,
        F.when(F.col("doc_id") % 2 == 0, F.concat(F.lit("Sitemap: "), url))
        .otherwise(F.concat(F.lit("  sitemap:\t"), url, F.lit(" # promoted"))),
    )
    body = (
        d.select("source", "doc_id", line.alias("l"))
        .groupBy("source")
        .agg(
            F.concat(
                F.lit("# Sitemap: https://decoy.example/x.xml\n"),
                F.lit("User-agent: *\nDisallow: /private\n"),
                F.lit("note the sitemap: inline decoy\n"),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(F.col("l").isNotNull(), F.struct("doc_id", "l"))
                            )
                        ),
                        lambda x: x["l"],
                    ),
                    "\n",
                ),
            ).alias("robots_body")
        )
    )
    return extract_robots_sitemaps(body, robots_col="robots_body", id_col="source")


def _q_url_filter(spark, sf):
    """RefinedWeb-style URL filtering: deterministic synthetic URLs
    (every 13th doc on an `ads.` subdomain, every 11th/17th with a
    lexicon word in the path), a 2-domain blocklist matched exact OR
    by subdomain suffix via the ancestor-domain explode, and the
    weighted word score with binary-exact weights (0.5/0.25, cut
    0.625) so the float comparison is bit-identical in both engines."""
    from webcrawler_spark.operators.urlfilter import url_filter

    d = _docs(spark, sf)
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 13 == 0, F.lit("ads.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".example/d/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 11 == 0, F.lit("-casino")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 17 == 0, F.lit("-poker")).otherwise(F.lit("")),
    )
    bl = spark.createDataFrame(
        [("src3.example",), ("ads.src5.example",)], "domain string"
    )
    return url_filter(
        d.select("doc_id", url.alias("url")),
        bl,
        {"casino": 0.5, "poker": 0.25},
        threshold=0.625,
    )


def _q_leakage_split(spark, sf):
    """Cluster-aware train/val/test split: near-dup clusters (the
    duplicate_clusters pipeline at the same threshold) hash as a UNIT
    to a split, so no near-duplicate pair straddles train/val. Rates
    0.75/0.125/0.125 make every cumulative cut binary-exact."""
    from webcrawler_spark.operators.mixing import leakage_safe_split

    return leakage_safe_split(
        _docs(spark, sf),
        splits=(("train", 0.75), ("val", 0.125), ("test", 0.125)),
        threshold=0.2,
    )


def _q_bpe_pair_counts(spark, sf):
    """One BPE-trainer iteration's workhorse: adjacent symbol-pair
    counts over the character-split distinct-pretoken table (Sennrich
    2016 get_stats) — explode + one hash aggregate with map-side
    combine; the corpus is read exactly once (word_freqs)."""
    from webcrawler_spark.operators.bpe import (
        init_symbols,
        pair_counts,
        word_freqs,
    )

    wf = word_freqs(_docs(spark, sf))
    return pair_counts(init_symbols(wf)).select(
        F.col("left").alias("lft"), F.col("right").alias("rgt"), "cnt"
    )


BPE_N_MERGES = 8


def _q_bpe_merges(spark, sf):
    """Distributed BPE training: learn 8 merges from the documents
    corpus. Trainer state = the distinct-pretoken frequency table;
    each merge = one shuffle + a 1-row collect (the model being
    learned, like k-means centroids). Output is the merge table."""
    from webcrawler_spark.operators.bpe import merges_df, train_bpe, word_freqs

    merges, _ = train_bpe(word_freqs(_docs(spark, sf)), BPE_N_MERGES)
    return merges_df(spark, merges).select(
        F.col("rank").alias("mrank"),
        F.col("left").alias("lft"),
        F.col("right").alias("rgt"),
        "cnt",
    )


def _q_bpe_encode(spark, sf):
    """Apply BPE merges learned on the even-doc_id half to the held-out
    odd half's distinct pretokens (train/apply separation): per-word
    segmentation under the rank-ordered two-pass replace replay —
    bit-identical between the native codegen path and the Arrow scale
    path (tests assert it)."""
    from webcrawler_spark.operators.bpe import (
        apply_merges_native,
        train_bpe,
        word_freqs,
    )

    d = _docs(spark, sf)
    merges, _ = train_bpe(
        word_freqs(d.filter(F.col("doc_id") % 2 == 0)), BPE_N_MERGES
    )
    held = word_freqs(d.filter(F.col("doc_id") % 2 == 1)).select("word").distinct()
    return apply_merges_native(held, merges).select(
        "word", F.col("syms").alias("tokens")
    )


def _q_bpe_encode_ids(spark, sf):
    """The text→subword→id last mile: BPE merges + vocabulary learned
    on the even-doc_id half (vocab = base chars then merge products,
    GPT-2 id order), the odd half tokenized to training-ready id
    sequences; unseen pieces → -1. One corpus shuffle (per-doc
    reassembly); vocab and word→pieces maps are broadcasts."""
    from webcrawler_spark.operators.bpe import (
        encode_ids,
        train_bpe,
        vocab_from_merges,
        word_freqs,
    )

    d = _docs(spark, sf)
    train_wf = word_freqs(d.filter(F.col("doc_id") % 2 == 0))
    merges, _ = train_bpe(train_wf, BPE_N_MERGES)
    vocab = vocab_from_merges(train_wf.select("word"), merges)
    enc = encode_ids(d.filter(F.col("doc_id") % 2 == 1), merges, vocab)
    # id sequence serialized for the hash compare (array-column canon
    # differs between drivers); the operator itself returns array<int>
    return enc.select(
        "doc_id",
        F.array_join(F.transform("ids", lambda x: x.cast("string")), " ")
        .alias("ids_str"),
    )


def _q_temperature_mixture(spark, sf):
    """Temperature-scaled source sampling (XLM-R/mT5 mixture law,
    T=2): per-source keep rates derived from observed source sizes
    (p_s ∝ √n_s, up-weighting tail sources), applied as the
    deterministic md5 cut. The rate table is driver model state from
    one tiny aggregate; the corpus pass is a pure filter."""
    from webcrawler_spark.operators.mixing import temperature_mixture

    return temperature_mixture(
        _docs(spark, sf), temperature=2.0, target_frac=0.5
    ).select("doc_id", "source", "rate")


def _q_skew_stats(spark, sf):
    """Skew diagnosis: top user_ids by event count with corpus-level
    context (share, max/mean skew ratio) — two map-side-combined
    aggregates + TakeOrderedAndProject, never a collect. The MEASURE
    half of the explicit skew handling the engine's O9 salting is the
    repair for."""
    from webcrawler_spark.operators.skew import key_skew_stats

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return key_skew_stats(ev, "user_id", top_k=5)


def _q_salted_join(spark, sf):
    """Hot-key shuffle-join repair: events salted-joined to a per-user
    dim on (user_id, salt) — the dim replicated n_salt times, each hot
    user spread over n_salt shuffle partitions. Result is row-for-row
    the plain join (the oracle IS the plain SQL join)."""
    from webcrawler_spark.operators.skew import salted_join

    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_id", "user_id"
    )
    dim = (
        ev.select("user_id")
        .distinct()
        .withColumn("cohort", (F.col("user_id") % 7).cast("int"))
    )
    return salted_join(ev, dim.hint("shuffle_hash"), "user_id", n_salt=8)


def _tuned(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    """Apply runtime perf confs (JIT-compilable codegen limit etc.) to
    the harness-owned session before building the query — execution
    tuning only, never semantics (webcrawler_spark/session.py)."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from webcrawler_spark.session import tune_session

        tune_session(spark)
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registration order is load-bearing: the driver's per-round
    # correctness artifact value-checks the FIRST 50 entries. Round 4
    # proved one spanning sample of 50; this round ROTATES (round-4
    # verdict ask #1): the first 50 below are exactly the entries no
    # CORRECTNESS_r* artifact has ever driver-checked, so r04 ∪ r05
    # gives ≥100 distinct officially-green entries. The remainder
    # (the previously-checked 50 plus the trivial scalar queries and
    # rows-only plumbing checks) is still replayed by
    # scripts/check_oracles every round regardless of position.
    q = {
        # -- rotation block: first 50 = never driver-checked ----------
        "cleaning_funnel": _q_cleaning_funnel,
        "jaccard_pairs": _q_jaccard_pairs,
        "opic_importance": _q_opic_importance,
        "ccnet_buckets": _q_ccnet_buckets,
        "nb_langid_model": _q_nb_langid_model,
        "nb_langid": _q_nb_langid,
        "lr_quality_model": _q_lr_quality_model,
        "lr_quality": _q_lr_quality,
        "dsir_weights": _q_dsir_weights,
        "dsir_topk": _q_dsir_topk,
        "phrase_search": _q_phrase_search,
        "term_stats": _q_term_stats,
        "skew_stats": _q_skew_stats,
        "salted_join": _q_salted_join,
        "ivf_ann": _q_ivf_ann,
        "robots_sitemaps": _q_robots_sitemaps,
        "leakage_split": _q_leakage_split,
        "temperature_mixture": _q_temperature_mixture,
        "cosine_topk": _q_cosine_topk,
        "embedding_near_dup": _q_embedding_near_dup,
        "semantic_dedup": _q_semantic_dedup,
        "sessionize": _q_sessionize,
        "tumbling_events": _q_tumbling_events,
        "gopher_quality": _q_gopher_quality,
        "repetition_stats": _q_repetition_stats,
        "line_repetition": _q_line_repetition,
        "ngram_repetition": _q_ngram_repetition,
        "ngram_contamination": _q_ngram_contamination,
        "contamination_matches": _q_contamination_matches,
        "decontaminate": _q_decontaminate,
        "c4_clean": _q_c4_clean,
        "justext_blocks": _q_justext_blocks,
        "redact_pii": _q_redact_pii,
        "exact_substring_dedup": _q_exact_substring_dedup,
        "duplicated_ngrams": _q_duplicated_ngrams,
        "tfidf_top_terms": _q_tfidf_top_terms,
        "unigram_logprob": _q_unigram_logprob,
        "bigram_logprob": _q_bigram_logprob,
        "vocab_build": _q_vocab_build,
        "encode_docs": _q_encode_docs,
        "bpe_encode": _q_bpe_encode,
        "mixture_sample": _q_mixture_sample,
        "quality_mixture": _q_quality_mixture,
        "domain_cap": _q_domain_cap,
        "source_report": _q_source_report,
        "cluster_keeper": _q_cluster_keeper,
        "trap_hosts": _q_trap_hosts,
        "recrawl_priority": _q_recrawl_priority,
        "rank_priority": _q_rank_priority,
        "url_filter": _q_url_filter,
        # -- remainder: driver-checked in r04 (still oracle-checked
        #    every round by scripts/check_oracles) -------------------
        "pricing_summary": _q_pricing_summary,
        "crawl_rowsonly": _q_crawl_rowsonly,
        "robots_gate": _q_robots_gate,
        "politeness_schedule": _q_politeness_schedule,
        "budget_landing": _q_budget_landing,
        "anti_join_unseen": _q_anti_join_unseen,
        "fetch_join_filter": _q_fetch_join_filter,
        "priority_topk": _q_priority_topk,
        "bloom_antijoin": _q_bloom_antijoin,
        "exact_dedup": _q_exact_dedup,
        "minhash_lsh_pairs": _q_minhash_lsh_pairs,
        "near_dup_pipeline": _q_near_dup_pipeline,
        "simhash": _q_simhash,
        "simhash_near_pairs": _q_simhash_near_pairs,
        "containment_pairs": _q_containment_pairs,
        "incremental_dedup": _q_incremental_dedup,
        "segment_dedup": _q_segment_dedup,
        "duplicate_clusters": _q_duplicate_clusters,
        "hll_registers": _q_hll_registers,
        "hll_estimate": _q_hll_estimate,
        "cms_registers": _q_cms_registers,
        "cms_topk_est": _q_cms_topk_est,
        "hdr_quantiles": _q_hdr_quantiles,
        "heavy_hitters": _q_heavy_hitters,
        "kmv_registers": _q_kmv_registers,
        "kmv_estimate": _q_kmv_estimate,
        "kmv_intersection": _q_kmv_intersection,
        "bpe_pair_counts": _q_bpe_pair_counts,
        "bpe_merges": _q_bpe_merges,
        "bpe_encode_ids": _q_bpe_encode_ids,
        "pack_chunks": _q_pack_chunks,
        "pack_greedy": _q_pack_greedy,
        "hits_scores": _q_hits_scores,
        "host_pagerank": _q_host_pagerank,
        "anchor_topk": _q_anchor_topk,
        "surt_keys": _q_surt_keys,
        "cdx_roundtrip": _q_cdx_roundtrip,
        "warc_roundtrip": _q_warc_roundtrip,
        "wet_roundtrip": _q_wet_roundtrip,
        "sitemap_parse": _q_sitemap_parse,
        "stateful_schedule": _q_stateful_schedule,
        "stream_lsh_dedup": _q_stream_lsh_dedup,
        "stream_hdr": _q_stream_hdr,
        "multimodal_codec": _q_multimodal_codec,
        "image_dhash_pairs": _q_image_dhash_pairs,
        "image_dhash_png": _q_image_dhash_png,
        "image_dhash_jpeg": _q_image_dhash_jpeg,
        "audio_fp_pairs": _q_audio_fp_pairs,
        "lsh_ann": _q_lsh_ann,
        "pipeline_funnel": _q_pipeline_funnel,
        # -- trivial scalar / rows-only plumbing tail -----------------
        "broadcast_dim_join": _q_broadcast_dim_join,
        "fifo_first_event": _q_fifo_first_event,
        "url_parse": _q_url_parse,
        "format_links": _q_format_links,
        "normalize_url": _q_normalize_url,
        "first20_words": _q_first20_words,
        "host_counts": _q_host_counts,
        "distinct_pairs": _q_distinct_pairs,
        "text_quality": _q_text_quality,
        "fingerprints": _q_fingerprints,
        "bpe_token_count": _q_bpe_token_count,
        "winnow_fp": _q_winnow_fp,
        "json_props": _q_json_props,
        "ivf_ann_probe_rowsonly": _q_ivf_ann_probe_rowsonly,
        "multimodal_rowsonly": _q_multimodal_rowsonly,
    }
    return {name: _tuned(fn) for name, fn in q.items()}


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB) — names/types aligned with the Spark outputs
# ---------------------------------------------------------------------------

_URL_SQL = (
    "'https://' || source || '.example/doc/' || doc_id::VARCHAR ||"
    " (case when doc_id % 7 = 0 then '.pdf' else '' end)"
)

_LR_ITER = """
d{t} as (select id, sum(x * w) as dot from fx join w{p} using (j) group by id),
r{t} as (select id, 1.0 / (1.0 + exp(-dot)) - y as r
         from d{t} join lab using (id)),
g{t} as (select j, sum(x * r) / (select nn from n) as g
         from fx join r{t} using (id) group by j),
w{t} as materialized (
  select w{p}.j, w{p}.w - 2.0 * g{t}.g as w
  from w{p} join g{t} on g{t}.j = w{p}.j)"""

_LR_CTE = ("""
base as materialized (
  select doc_id as id,
         list_filter(string_split(text, ' '), w -> w <> '') as ws,
         string_split(text, ' ') as raw_ws
  from documents),
lab as materialized (
  select id, cast(len(list_filter(raw_ws, w -> w = 'spark')) >= 2 as double)
           as y from base),
fx as materialized (
  select id, j, cast(count(*) as double) / any_value(nw) as x
  from (select b.id, len(b.ws) as nw,
               cast(cast(('0x' || substr(md5('lrq|' || t.w), 1, 8))
                    as ubigint) % 64 as int) as j
        from base b, unnest(b.ws) as t(w))
  group by id, j
  union all
  select id, cast(-1 as int) as j, 1.0 as x from base),
n as (select cast(count(*) as double) as nn from lab),
g1 as (select j, sum(x * (0.5 - y)) / (select nn from n) as g
       from fx join lab using (id) group by j),
w1 as materialized (select j, 0.0 - 2.0 * g as w from g1),"""
 + _LR_ITER.format(t=2, p=1) + "," + _LR_ITER.format(t=3, p=2)
 + "," + _LR_ITER.format(t=4, p=3))

_SHINGLES_CTE = """
sh as (
  select doc_id, unnest(list_distinct(
    case when length(string_split(text, ' ')) < 3 then []::VARCHAR[]
         else list_transform(
           generate_series(1, length(string_split(text, ' ')) - 2),
           i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))
    end)) as shingle
  from documents
)
"""

_STOPWORDS_SQL = "('the','a','and','of','to','in','is','on','for','with')"

# DSIR (Xie et al. 2023) hashed-n-gram importance weights: target LM
# from source 'src0' docs, raw LM from the rest; add-1 smoothing over
# 64 md5-hashed buckets — the exact float op order of operators/dsir.py
# (per-bucket log ratio computed once in the B-row table, then summed
# per doc).
# NB language-ID model core (UNROUNDED logp — the model query rounds
# for hashing; the predict query sums the raw values like Spark does).
# generate_series is inclusive like Spark's sequence; substring counts
# characters like F.substr, so multibyte grams line up.
_NB_LANGID_CORE_SQL = """
            with train as (select text, lang from documents
                           where doc_id % 2 = 0),
            grams as (select lang,
                        unnest(case when length(text) >= 3
                          then list_transform(
                            generate_series(1, length(text) - 2),
                            i -> substring(text, i, 3))
                          else []::VARCHAR[] end) as gram
                      from train),
            counts as (select lang, gram, count(*) as c
                       from grams group by 1, 2),
            vocab as (select gram from (
                        select gram, sum(c) as tot from counts
                        group by gram order by tot desc, gram limit 300)),
            langs as (select distinct lang from train),
            iv as (select gram, lang, c from counts join vocab using (gram)),
            totals as (select lang, sum(c) as t_l from iv group by lang),
            vs as (select count(*) as v from vocab)
            select vocab.gram, langs.lang,
                   ln((coalesce(c, 0) + 1.0) / (coalesce(t_l, 0) + v)) as logp
            from vocab cross join langs
            left join iv on iv.gram = vocab.gram and iv.lang = langs.lang
            left join totals on totals.lang = langs.lang
            cross join vs
"""

_DSIR_WEIGHTS_SQL = """
            with ws as (select doc_id, source = 'src0' as t,
                          string_split(text, ' ') as w
                        from documents),
            grams as (
              select doc_id, t,
                     unnest(w || case when len(w) >= 2
                       then list_transform(generate_series(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i + 1])
                       else []::VARCHAR[] end) as gram
              from ws),
            gb as (select doc_id, t,
                     cast(('0x' || substring(md5(gram), 1, 8)) as ubigint)
                       % 64 as bucket
                   from grams),
            feats as (select doc_id, t, bucket, count(*) as c
                      from gb group by doc_id, t, bucket),
            counts as (select bucket,
                         sum(case when t then c else 0 end) as cp,
                         sum(case when not t then c else 0 end) as cq
                       from feats group by bucket),
            tot as (select sum(cp) as np, sum(cq) as nq from counts),
            ratio as (select bucket,
                        ln((cp + 1.0) / (np + 64.0))
                        - ln((cq + 1.0) / (nq + 64.0)) as lr
                      from counts cross join tot)
            select doc_id, cast(sum(c) as bigint) as n_grams,
                   round(sum(c * lr), 6) as logw
            from feats join ratio using (bucket)
            where not t
            group by doc_id
"""


def _pagerank_oracle_sql(n_iter: int = 5) -> str:
    """Unrolled power iteration mirroring graph.pagerank's exact float
    op order: (1-0.85)/n + 0.85*(coalesce(contrib,0) + dangling/n),
    contrib = sum(rank/outdeg) grouped by dst. The edge graph is the
    deterministic doc->partner host graph of _q_host_pagerank."""
    parts = [
        """
        with idx as (select doc_id, source from documents),
        ed as (
          select distinct a.source as src, b.source as dst
          from idx a join idx b
            on b.doc_id = (a.doc_id * 31 + 7) % (select count(*) from documents)
          where a.source <> b.source),
        nodes as (select src as node from ed union select dst as node from ed),
        nn as (select count(*)::DOUBLE as n from nodes),
        deg as (select src, count(*) as d from ed group by src),
        r0 as (select node, 1.0 / (select n from nn) as rank from nodes)
        """
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f"""
        , c{i} as (
          select ed.dst as node, sum(r.rank / deg.d) as contrib
          from r{i - 1} r
          join ed on ed.src = r.node
          join deg on deg.src = ed.src
          group by ed.dst)
        , dang{i} as (
          select coalesce(sum(r.rank), 0) as dm
          from r{i - 1} r left join deg on deg.src = r.node
          where deg.src is null)
        , r{i} as (
          select nd.node,
                 (1 - 0.85) / (select n from nn)
                 + 0.85 * (coalesce(c.contrib, 0)
                           + (select dm from dang{i}) / (select n from nn))
                   as rank
          from nodes nd left join c{i} c on c.node = nd.node)
        """
        )
    parts.append(
        f"select node as host, round(rank, 6) as rank from r{n_iter}"
    )
    return "".join(parts)


def _hits_oracle_sql(n_iter: int = 5) -> str:
    """Unrolled HITS mirroring graph.hits's exact float op order:
    a_i = coalesce(Σ_{u→v} h_{i-1}, 0) / Σ a_raw, then
    h_i = coalesce(Σ_{u→v} a_i, 0) / Σ h_raw (L1 normalization; sums
    range over the aggregate rows, as in the Spark plan). Same
    deterministic host graph as _pagerank_oracle_sql."""
    parts = [
        """
        with idx as materialized (select doc_id, source from documents),
        ed as materialized (
          select distinct a.source as src, b.source as dst
          from idx a join idx b
            on b.doc_id = (a.doc_id * a.doc_id + 7)
                           % (select count(*) from idx)
          where a.source <> b.source and a.doc_id % 3 = 0),
        nodes as materialized (
          select src as node from ed union select dst as node from ed),
        h0 as (select node, 1.0 as hub from nodes)
        """
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f"""
        , ar{i} as materialized (
          select ed.dst as node, sum(h.hub) as a_raw
          from h{i - 1} h join ed on ed.src = h.node
          group by ed.dst)
        , sa{i} as materialized (select sum(a_raw) as s from ar{i})
        , a{i} as materialized (
          select nd.node,
                 coalesce(ar.a_raw, 0) / (select s from sa{i}) as authority
          from nodes nd left join ar{i} ar on ar.node = nd.node)
        , hr{i} as materialized (
          select ed.src as node, sum(a.authority) as h_raw
          from a{i} a join ed on ed.dst = a.node
          group by ed.src)
        , sh{i} as materialized (select sum(h_raw) as s from hr{i})
        , h{i} as materialized (
          select nd.node,
                 coalesce(hr.h_raw, 0) / (select s from sh{i}) as hub
          from nodes nd left join hr{i} hr on hr.node = nd.node)
        """
        )
    parts.append(
        f"""
        select h.node as host, round(h.hub, 6) as hub,
               round(a.authority, 6) as authority
        from h{n_iter} h join a{n_iter} a on a.node = h.node
        """
    )
    return "".join(parts)


def _opic_oracle_sql(n_iter: int = 5) -> str:
    """Unrolled synchronous OPIC mirroring graph.opic's exact float op
    order: hist' = hist + cash; contrib = sum(cash/deg) by dst;
    cash' = coalesce(contrib, 0) + dangling/n; importance =
    (hist + cash)/(n_iter + 1). Same deterministic host graph as
    _pagerank_oracle_sql."""
    parts = [
        """
        with idx as (select doc_id, source from documents),
        ed as (
          select distinct a.source as src, b.source as dst
          from idx a join idx b
            on b.doc_id = (a.doc_id * 31 + 7) % (select count(*) from documents)
          where a.source <> b.source),
        nodes as (select src as node from ed union select dst as node from ed),
        nn as (select count(*)::DOUBLE as n from nodes),
        deg as (select src, count(*) as d from ed group by src),
        s0 as (select node, 1.0 / (select n from nn) as cash,
                      0.0 as hist from nodes)
        """
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f"""
        , c{i} as (
          select ed.dst as node, sum(s.cash / deg.d) as contrib
          from s{i - 1} s
          join ed on ed.src = s.node
          join deg on deg.src = ed.src
          group by ed.dst)
        , dang{i} as (
          select coalesce(sum(s.cash), 0) as dm
          from s{i - 1} s left join deg on deg.src = s.node
          where deg.src is null)
        , s{i} as (
          select s.node,
                 coalesce(c.contrib, 0)
                   + (select dm from dang{i}) / (select n from nn) as cash,
                 s.hist + s.cash as hist
          from s{i - 1} s left join c{i} c on c.node = s.node)
        """
        )
    parts.append(
        f"""
        select node as host, round(cash, 6) as cash,
               round(hist, 6) as history,
               round((hist + cash) / {float(n_iter + 1)}, 6) as importance
        from s{n_iter}
        """
    )
    return "".join(parts)


# the GPT-2-style pretokenizer (textstats.BPE_PRETOKEN_RE) as a DuckDB
# escaped-string literal — Java∩RE2-portable, shared with bpe_token_count
_BPE_SQL_RE = r"e'\'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+'"


def _pipeline_funnel_oracle_sql() -> str:
    """The eleven-stage pipeline_funnel replayed as one DuckDB CTE
    chain: each CTE is the verbatim oracle fragment of the standalone
    stage query (cleaning_funnel's lined-docs/C4/Gopher CTEs, the
    near_dup_pipeline LSH+Jaccard block at threshold 0.8, the
    decontaminate 13-gram block, _NB_LANGID_CORE_SQL + its predict
    CTEs, the unigram_logprob model, domain_cap's window, the
    mixture_sample md5 cut, and the packing/BPE token arithmetic)."""
    grams13 = (
        "case when len(w) < 13 then []::VARCHAR[] else "
        "list_transform(generate_series(1, len(w) - 12), "
        "i -> array_to_string(list_slice(w, i, i + 12), ' ')) end"
    )
    tri = (
        "case when length(text) >= 3 then list_transform("
        "generate_series(1, length(text) - 2), i -> substring(text, i, 3)) "
        "else []::VARCHAR[] end"
    )
    return f"""
        with s as (select doc_id, string_split(text, ' ') as ws
                   from documents),
        b as (select doc_id, ws,
                     greatest(cast(ceil(len(ws) / 6.0) as int), 1) as nseg
              from s),
        lines as (
          select doc_id,
                 list_transform(generate_series(1, nseg), i ->
                   array_to_string(
                     list_slice(ws, (i - 1) * 6 + 1, (i - 1) * 6 + 6),
                     ' ')
                   || case cast(('0x' || substring(
                           md5(doc_id || '|' || i), 1, 2)) as ubigint) % 5
                      when 0 then '.' when 1 then '.'
                      when 2 then '?' when 3 then ''
                      else ' javascript.' end) as ls
          from b),
        doc as (
          select doc_id,
                 array_to_string(ls, chr(10))
                   || case when doc_id % 97 = 0
                           then chr(10) || 'lorem ipsum dolor.'
                           else '' end as text2
          from lines),
        flat as materialized (
          select f.doc_id,
                 replace(array_to_string(
                   list_filter(string_split(text2, chr(10)), l ->
                     right(l, 1) in ('.', '!', '?', '"')
                     and len(string_split(l, ' ')) >= 3
                     and not contains(lower(l), 'javascript')),
                   chr(10)), chr(10), ' ') as text,
                 (not (contains(lower(text2), 'lorem ipsum')
                       or contains(text2, '{{'))
                  and len(list_filter(string_split(text2, chr(10)), l ->
                        right(l, 1) in ('.', '!', '?', '"')
                        and len(string_split(l, ' ')) >= 3
                        and not contains(lower(l), 'javascript'))) >= 1)
                   as keep_c4,
                 dd.lang, dd.source
          from doc f join documents dd using (doc_id)),
        corpus as materialized (
          select * from flat
          union all
          select doc_id + 1000000000, text, keep_c4, lang, source
          from flat where doc_id % 37 = 0
          union all
          select doc_id + 2000000000, text || ' zzvariantzz',
                 keep_c4, lang, source
          from flat where doc_id % 41 = 0),
        c4k as materialized (
          select doc_id, text, lang, source from corpus where keep_c4),
        gs as (
          select doc_id, text, lang, source,
                 string_split(text, ' ') as gws,
                 length(string_split(text, ' ')) as n_tok,
                 length(text) as n_chr,
                 len(string_split(text, '#')) - 1 as n_hash,
                 len(string_split(text, '...')) - 1 as n_ell
          from c4k),
        gm as (
          select doc_id, text, lang, source, n_tok,
                 (n_chr - n_tok + 1) / n_tok as avg_len,
                 (n_hash + n_ell) / n_tok as symbol_ratio,
                 len(list_filter(gws, w -> w in
                   ('the','a','and','of','to','in','is','on','for',
                    'with'))) as stop_hits,
                 case when n_tok - 1 < 1 then 0.0
                      else (greatest(n_tok - 1, 0)
                            - len(list_distinct(list_transform(
                                generate_series(1, greatest(n_tok - 1, 1)),
                                i -> array_to_string(
                                  list_slice(gws, i, i + 1), ' ')))))
                           / greatest(n_tok - 1, 0)
                 end as dup_ratio
          from gs),
        surv as materialized (
          select doc_id, text, lang, source from gm
          where (n_tok between 20 and 80)
            and (avg_len >= 3.0 and avg_len <= 10.0)
            and (symbol_ratio <= 0.1)
            and (stop_hits >= 2)
            and (dup_ratio <= 0.05)),
        ex as materialized (
          select surv.* from surv
          join (select md5(text) as dig, min(doc_id) as doc_id
                from surv group by 1) k
            on k.doc_id = surv.doc_id and k.dig = md5(surv.text)),
        sh as (
          select doc_id, unnest(list_distinct(
            case when length(string_split(text, ' ')) < 3
                 then []::VARCHAR[]
                 else list_transform(
                   generate_series(1, length(string_split(text, ' ')) - 2),
                   i -> array_to_string(
                     list_slice(string_split(text, ' '), i, i + 2), ' '))
            end)) as shingle
          from ex),
        sig as (
          select doc_id, bb.band_id,
                 min(md5(bb.band_id || '|' || shingle)) as band_min
          from sh cross join
               (select unnest(['0','1','2','3']) as band_id) bb
          group by doc_id, bb.band_id),
        cand as (
          select distinct l.doc_id as a, r.doc_id as b
          from sig l join sig r using (band_id, band_min)
          where l.doc_id < r.doc_id),
        sizes as (select doc_id, count(*) as sz from sh group by doc_id),
        inter as (
          select c.a, c.b, count(*) as inter
          from cand c
          join sh sa on sa.doc_id = c.a
          join sh sb on sb.doc_id = c.b and sb.shingle = sa.shingle
          group by c.a, c.b),
        drops as (
          select distinct b as doc_id
          from inter
          join sizes sa on sa.doc_id = a
          join sizes sb on sb.doc_id = b
          where round(inter / (sa.sz + sb.sz - inter), 6) >= 0.8),
        nd as materialized (
          select * from ex
          where doc_id not in (select doc_id from drops)),
        w13 as (select doc_id, string_split(lower(text), ' ') as w from nd),
        g13 as (select doc_id, unnest(list_distinct({grams13})) as gram
                from w13),
        bw as (select doc_id, string_split(lower(text), ' ') as w
               from corpus where keep_c4 and doc_id % 50 = 0),
        bg as (select distinct gram from (
                 select unnest(list_distinct({grams13})) as gram from bw)),
        flagged as (select distinct doc_id from g13 join bg using (gram)),
        dc as materialized (
          select * from nd
          where doc_id not in (select doc_id from flagged)),
        core as ({_NB_LANGID_CORE_SQL}),
        tg as (select doc_id, unnest({tri}) as gram from dc),
        sc as (select doc_id, lang, sum(logp) as ll
               from tg join core using (gram) group by 1, 2),
        tr as (select lang from documents where doc_id % 2 = 0),
        pri as (select lang,
                       ln(count(*)) - ln((select count(*) from tr))
                         as logprior
                from tr group by lang),
        fin as (select doc_id, lang, ll + logprior as score
                from sc join pri using (lang)),
        pred as (select doc_id, lang as pred_lang from fin
                 qualify row_number() over (partition by doc_id
                                            order by score desc, lang) = 1),
        lg as materialized (
          select dc.* from dc join pred using (doc_id)
          where pred_lang = 'en'),
        mw as (select unnest(string_split(text, ' ')) as term
               from documents),
        model as (select term, count(*) as cnt from mw group by term),
        tot as (select sum(cnt) as total from model),
        dw as (select doc_id, unnest(string_split(text, ' ')) as term
               from lg),
        scores as (select doc_id,
                          round(avg(log10(cnt / total)), 6) as avg_logp
                   from dw join model using (term) cross join tot
                   group by doc_id),
        lqids as (select doc_id from scores
                  qualify row_number() over (order by avg_logp desc, doc_id)
                          <= ceil(2 * count(*) over () / 3.0)),
        lq as materialized (
          select lg.* from lg join lqids using (doc_id)),
        cap as materialized (
          select doc_id, text, lang, source
          from (select *, row_number() over (partition by source
                                             order by doc_id) as hr
                from lq)
          where hr <= 4),
        mix as materialized (
          select * from cap
          where cast(('0x' || substring(md5(cast(doc_id as varchar)),
                                        1, 8)) as ubigint)
                  / 4294967296.0
                < case lang when 'en' then 0.5
                            when 'zh' then 0.25
                            when 'es' then 0.75
                            else 0.1 end),
        packagg as (
          select coalesce(sum(len(regexp_extract_all(text, '\\S+'))), 0)
                   as tot_ws
          from mix),
        bpeagg as (
          select coalesce(sum(len(regexp_extract_all(text,
                   {_BPE_SQL_RE}, 0))), 0) as tot_bpe
          from mix)
        select
          (select count(*) from corpus) as n_raw,
          (select count(*) from c4k) as n_c4,
          (select count(*) from surv) as n_gopher,
          (select count(*) from ex) as n_exact,
          (select count(*) from nd) as n_neardup,
          (select count(*) from dc) as n_decontam,
          (select count(*) from lg) as n_lang,
          (select count(*) from lq) as n_quality,
          (select count(*) from cap) as n_cap,
          (select count(*) from mix) as n_mix,
          cast(ceil(tot_ws / 128.0) as bigint) as n_chunks,
          cast(tot_bpe as bigint) as n_bpe_tokens
        from packagg cross join bpeagg
    """


def _bpe_oracle_sql(
    output: str, n_merges: int = 8, train_where: str = ""
) -> str:
    """Unrolled BPE trainer mirroring operators/bpe.py bit-for-bit:
    symbols are chr(31)-joined strings, a merge is the same two-pass
    LTR non-overlapping replace, the winner is (cnt DESC, lft, rgt)
    with exact integer counts. ``output``: 'pairs' = first-iteration
    pair table; 'merges' = the learned merge table; 'encode' = the
    merges replayed onto the odd-doc_id half's distinct pretokens."""
    parts = [
        f"""
        with wf as materialized (
          select word, count(*)::BIGINT as freq
          from (select unnest(regexp_extract_all(text, {_BPE_SQL_RE}, 0))
                         as word
                from documents {train_where})
          group by word),
        w0 as materialized (
          select word, freq,
                 chr(31) || array_to_string(
                   list_transform(generate_series(1, length(word)),
                                  i -> substring(word, i, 1)), chr(31))
                 || chr(31) as syms
          from wf)
        """
    ]
    if output == "pairs":
        parts.append(
            """
        select l[k] as lft, l[k+1] as rgt, sum(freq)::BIGINT as cnt
        from (select freq,
                     list_filter(string_split(syms, chr(31)),
                                 x -> x <> '') as l
              from w0) s,
             unnest(generate_series(1, len(l) - 1)) as u(k)
        group by 1, 2
        """
        )
        return "".join(parts)
    for i in range(1, n_merges + 1):
        pat = (
            f"chr(31)||(select lft from t{i})||chr(31)"
            f"||(select rgt from t{i})||chr(31)"
        )
        rep = f"chr(31)||(select lft from t{i})||(select rgt from t{i})||chr(31)"
        parts.append(
            f"""
        , p{i} as materialized (
          select l[k] as lft, l[k+1] as rgt, sum(freq)::BIGINT as cnt
          from (select freq,
                       list_filter(string_split(syms, chr(31)),
                                   x -> x <> '') as l
                from w{i - 1}) s,
               unnest(generate_series(1, len(l) - 1)) as u(k)
          group by 1, 2)
        , t{i} as materialized (
          select {i - 1} as mrank, lft, rgt, cnt from p{i}
          order by cnt desc, lft asc, rgt asc limit 1)
        , w{i} as materialized (
          select word, freq,
                 replace(replace(syms, {pat}, {rep}), {pat}, {rep}) as syms
          from w{i - 1})
        """
        )
    if output == "merges":
        parts.append(
            " union all ".join(
                f"select mrank, lft, rgt, cnt from t{i}"
                for i in range(1, n_merges + 1)
            )
        )
        return "".join(parts)
    assert output in ("encode", "ids")
    parts.append(
        f"""
        , a0 as materialized (
          select word,
                 chr(31) || array_to_string(
                   list_transform(generate_series(1, length(word)),
                                  i -> substring(word, i, 1)), chr(31))
                 || chr(31) as syms
          from (select distinct word
                from (select unnest(regexp_extract_all(text,
                                      {_BPE_SQL_RE}, 0)) as word
                      from documents where doc_id % 2 = 1)))
        """
    )
    for i in range(1, n_merges + 1):
        pat = (
            f"chr(31)||(select lft from t{i})||chr(31)"
            f"||(select rgt from t{i})||chr(31)"
        )
        rep = f"chr(31)||(select lft from t{i})||(select rgt from t{i})||chr(31)"
        parts.append(
            f"""
        , a{i} as materialized (
          select word,
                 replace(replace(syms, {pat}, {rep}), {pat}, {rep}) as syms
          from a{i - 1})
        """
        )
    if output == "encode":
        parts.append(f"select word, syms as tokens from a{n_merges}")
        return "".join(parts)
    # ids: vocab = training base chars (lexicographic) then merge
    # products (min id on collisions); odd docs reassembled to id
    # sequences, unseen pieces -> -1
    merge_rows = " union all ".join(
        f"select (select lft from t{i})||(select rgt from t{i}) as piece,"
        f" (select c from bcn) + {i - 1} as id"
        for i in range(1, n_merges + 1)
    )
    parts.append(
        f"""
        , bc as materialized (
          select distinct substring(word, i, 1) as piece
          from wf, unnest(generate_series(1, length(word))) as u(i))
        , bcn as materialized (select count(*) as c from bc)
        , vocab as materialized (
          select piece, min(id)::INT as id from (
            select piece, row_number() over (order by piece) - 1 as id
            from bc
            union all {merge_rows})
          group by piece)
        , ow as materialized (
          select doc_id, k, l[k] as word
          from (select doc_id,
                       regexp_extract_all(text, {_BPE_SQL_RE}, 0) as l
                from documents where doc_id % 2 = 1) s,
               unnest(generate_series(1, len(l))) as u(k))
        , seg as materialized (
          select word,
                 list_filter(string_split(syms, chr(31)),
                             x -> x <> '') as pieces
          from a{n_merges})
        , pc as materialized (
          select doc_id, k, j, pieces[j] as piece
          from (select ow.doc_id, ow.k, seg.pieces
                from ow join seg using (word)) p,
               unnest(generate_series(1, len(pieces))) as u2(j))
        select doc_id,
               array_to_string(
                 array_agg(coalesce(vocab.id, -1) order by k, j), ' ')
                 as ids_str
        from pc left join vocab using (piece)
        group by doc_id
        """
    )
    return "".join(parts)


def oracle_sql() -> dict[str, str]:
    return {
        "pricing_summary": """
            select l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) as sum_qty,
                   round(sum(l_extendedprice), 2) as sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price,
                   round(avg(l_quantity), 6) as avg_qty,
                   count(*) as count_order
            from lineitem
            where l_shipdate <= timestamp '1998-09-02'
            group by l_returnflag, l_linestatus
        """,
        "anti_join_unseen": """
            select c_custkey, c_name from customer
            where c_custkey not in
              (select o_custkey from orders where o_totalprice > 400000)
        """,
        "broadcast_dim_join": """
            select c_mktsegment, count(*) as n_orders,
                   round(sum(o_totalprice), 2) as revenue
            from orders join customer on o_custkey = c_custkey
            group by c_mktsegment
        """,
        "fetch_join_filter": """
            select o_orderpriority, count(*) as n_items
            from orders join lineitem on o_orderkey = l_orderkey
            where o_orderstatus = 'F' and l_shipdate >= timestamp '1995-01-01'
            group by o_orderpriority
        """,
        "fifo_first_event": """
            select user_id, event_id as first_event_id,
                   event_type as first_event_type
            from (select *, row_number() over
                    (partition by user_id order by ts, event_id) rn
                  from events)
            where rn = 1
        """,
        "priority_topk": """
            select lang, doc_id, n_chars, rnk from
              (select lang, doc_id, n_chars, row_number() over
                 (partition by lang order by n_chars desc, doc_id) as rnk
               from documents)
            where rnk <= 3
        """,
        "url_parse": f"""
            with u as (select doc_id, {_URL_SQL} as url from documents),
            p as (select doc_id, url, string_split(url, '/') as parts from u)
            select doc_id, url,
                   parts[1] || '//' || parts[3] as host,
                   '/' || array_to_string(parts[4:], '/') as resource,
                   (substr(url, length(url) - 2) not in
                      ('pdf','csv','png','svg','jpg','gif','raw','cr2','nef',
                       'orf','sr2','bmp','tif','ogv')
                    and substr(url, length(url) - 3) not in ('tiff','jpeg'))
                     as ext_ok
            from p
        """,
        "format_links": """
            with h as (
              select doc_id,
                     case doc_id % 7
                       when 0 then ''
                       when 1 then '#frag'
                       when 2 then '/page/' || doc_id::VARCHAR
                       when 3 then 'http://ext' || doc_id::VARCHAR || '.example/x'
                       when 4 then 'https://ext' || doc_id::VARCHAR || '.example/y#sec'
                       when 5 then 'relative/path'
                       else 'mailto:someone@example.org'
                     end as href,
                     'https://' || source || '.example' as host
              from documents)
            select doc_id, href,
                   case doc_id % 7
                     when 2 then host || '/page/' || doc_id::VARCHAR
                     when 3 then 'https://ext' || doc_id::VARCHAR || '.example/x'
                     when 4 then 'https://ext' || doc_id::VARCHAR || '.example/y'
                     else ''
                   end as formatted
            from h
        """,
        "normalize_url": """
            select doc_id,
                   case doc_id % 5
                     when 0 then 'https://' || source || '.example'
                     when 1 then 'HTTP://' || upper(source) || '.EXAMPLE:80/a/b'
                     when 2 then 'https://' || source || '.example/a/./b/../c'
                     when 3 then 'https://' || source || '.example./x/' || doc_id::VARCHAR
                     else 'https://' || source || '.example/%7Euser/%41bc'
                   end as raw,
                   case doc_id % 5
                     when 0 then 'https://' || source || '.example/'
                     when 1 then 'http://' || source || '.example/a/b'
                     when 2 then 'https://' || source || '.example/a/c'
                     when 3 then 'https://' || source || '.example/x/' || doc_id::VARCHAR
                     else 'https://' || source || '.example/~user/Abc'
                   end as normalized
            from documents
        """,
        "first20_words": """
            select doc_id,
                   array_to_string(list_slice(string_split(text, ' '), 1, 20), ' ')
                     as first20
            from documents
        """,
        "host_counts": """
            select source, count(*) as n_docs from documents group by source
        """,
        "distinct_pairs": """
            select distinct lang, source from documents
        """,
        "exact_dedup": r"""
            select md5(regexp_replace(lower(text), '\s+', ' ', 'g')) as fp,
                   min(doc_id) as keeper, count(*) as n_docs
            from documents group by 1
        """,
        "minhash_lsh_pairs": f"""
            with {_SHINGLES_CTE},
            sig as (
              select doc_id, b.band_id,
                     min(md5(b.band_id || '|' || shingle)) as band_min
              from sh cross join
                   (select unnest(['0','1','2','3']) as band_id) b
              group by doc_id, b.band_id
            )
            select distinct l.doc_id as a, r.doc_id as b
            from sig l join sig r using (band_id, band_min)
            where l.doc_id < r.doc_id
        """,
        "stream_lsh_dedup": f"""
            with {_SHINGLES_CTE},
            sig as (
              select doc_id, b.band_id,
                     min(md5(b.band_id || '|' || shingle)) as band_min
              from sh cross join
                   (select unnest(['0','1','2','3']) as band_id) b
              group by doc_id, b.band_id
            ),
            own as (
              select band_id, band_min, min(doc_id) as owner
              from sig group by band_id, band_min
            )
            select s.doc_id, min(o.owner) as dup_of
            from sig s join own o using (band_id, band_min)
            where o.owner < s.doc_id
            group by s.doc_id
        """,
        "stream_hdr": """
            with e as (
              select date_trunc('hour', ts) as window_start, event_type,
                     greatest(cast(floor(value * 100) as bigint), 0) as v
              from events),
            b as (select window_start, event_type,
                         cast(case when v < 16 then v
                              else ((length(bin(v)) - 1) - 4 + 1) * 16
                                   + ((v >> ((length(bin(v)) - 1) - 4)) - 16)
                              end as bigint) as bucket
                  from e),
            h as (select window_start, event_type, bucket, count(*) as cnt
                  from b group by window_start, event_type, bucket),
            c as (select window_start, event_type, bucket, cnt,
                         cast(sum(cnt) over (partition by window_start,
                                             event_type order by bucket)
                              as bigint) as cum,
                         cast(sum(cnt) over (partition by window_start,
                                             event_type) as bigint) as n
                  from h),
            qv as (select unnest([0.5, 0.9, 0.99]) as q,
                          unnest([5000, 9000, 9900]) as pm),
            sel as (
              select c.window_start, c.event_type, cast(qv.q as double) as q,
                     c.n, c.bucket,
                     row_number() over (partition by c.window_start,
                                        c.event_type, qv.q
                                        order by c.bucket) as rn
              from c cross join qv
              where c.cum >= greatest((qv.pm * c.n + 9999) // 10000, 1))
            select window_start, event_type, q,
                   cast(case when bucket < 16 then bucket
                        else (16 + (bucket % 16))
                             * (1::bigint << cast((bucket // 16) - 1 as int))
                        end as bigint) as est,
                   n
            from sel where rn = 1
        """,
        "incremental_dedup": f"""
            with {_SHINGLES_CTE},
            sig as (
              select doc_id, b.band_id,
                     min(md5(b.band_id || '|' || shingle)) as band_min
              from sh cross join
                   (select unnest(['0','1','2','3']) as band_id) b
              group by doc_id, b.band_id
            )
            select distinct n.doc_id as new_id, c.doc_id as corpus_id
            from sig n join sig c using (band_id, band_min)
            where n.doc_id % 2 = 1 and c.doc_id % 2 = 0
        """,
        "jaccard_pairs": f"""
            with {_SHINGLES_CTE},
            sizes as (select doc_id, count(*) as sz from sh group by doc_id),
            inter as (
              select l.doc_id as a, r.doc_id as b, count(*) as inter
              from sh l join sh r using (shingle)
              where l.doc_id < r.doc_id
              group by l.doc_id, r.doc_id
            )
            select a, b,
                   round(inter / (sa.sz + sb.sz - inter), 6) as jaccard
            from inter
            join sizes sa on sa.doc_id = a
            join sizes sb on sb.doc_id = b
            where round(inter / (sa.sz + sb.sz - inter), 6) >= 0.2
        """,
        "near_dup_pipeline": f"""
            with {_SHINGLES_CTE},
            sig as (
              select doc_id, b.band_id,
                     min(md5(b.band_id || '|' || shingle)) as band_min
              from sh cross join
                   (select unnest(['0','1','2','3']) as band_id) b
              group by doc_id, b.band_id
            ),
            cand as (
              select distinct l.doc_id as a, r.doc_id as b
              from sig l join sig r using (band_id, band_min)
              where l.doc_id < r.doc_id
            ),
            sizes as (select doc_id, count(*) as sz from sh group by doc_id),
            inter as (
              select c.a, c.b, count(*) as inter
              from cand c
              join sh sa on sa.doc_id = c.a
              join sh sb on sb.doc_id = c.b and sb.shingle = sa.shingle
              group by c.a, c.b
            )
            select a, b,
                   round(inter / (sa.sz + sb.sz - inter), 6) as jaccard
            from inter
            join sizes sa on sa.doc_id = a
            join sizes sb on sb.doc_id = b
            where round(inter / (sa.sz + sb.sz - inter), 6) >= 0.2
        """,
        "duplicate_clusters": f"""
            with recursive {_SHINGLES_CTE},
            sig as (
              select doc_id, b.band_id,
                     min(md5(b.band_id || '|' || shingle)) as band_min
              from sh cross join
                   (select unnest(['0','1','2','3']) as band_id) b
              group by doc_id, b.band_id
            ),
            cand as (
              select distinct l.doc_id as a, r.doc_id as b
              from sig l join sig r using (band_id, band_min)
              where l.doc_id < r.doc_id
            ),
            sizes as (select doc_id, count(*) as sz from sh group by doc_id),
            inter as (
              select c.a, c.b, count(*) as inter
              from cand c
              join sh sa on sa.doc_id = c.a
              join sh sb on sb.doc_id = c.b and sb.shingle = sa.shingle
              group by c.a, c.b
            ),
            pairs as (
              select a, b from inter
              join sizes sa on sa.doc_id = a
              join sizes sb on sb.doc_id = b
              where round(inter / (sa.sz + sb.sz - inter), 6) >= 0.2
            ),
            ed as (select a as u, b as v from pairs
                   union select b as u, a as v from pairs),
            reach as (
              select u as node, u as root from ed
              union
              select e.v as node, r.root from reach r
              join ed e on e.u = r.node
            ),
            comp as (select node, min(root) as component
                     from reach group by node)
            select d.doc_id, coalesce(c.component, d.doc_id) as component
            from documents d left join comp c on c.node = d.doc_id
        """,
        "host_pagerank": _pagerank_oracle_sql(n_iter=5),
        "hits_scores": _hits_oracle_sql(n_iter=5),
        "audio_fp_pairs": """
            select doc_id as a, doc_id + 1000000000 as b, 0 as hamming
            from documents where doc_id % 10 = 0
        """,
        "image_dhash_pairs": """
            select doc_id as a, doc_id + 1000000000 as b, 0 as hamming
            from documents where doc_id % 10 = 0
        """,
        "image_dhash_png": """
            select doc_id as a, doc_id + 1000000000 as b, 0 as hamming
            from documents where doc_id % 10 = 0
        """,
        "image_dhash_jpeg": """
            select doc_id as a, doc_id + 1000000000 as b, 0 as hamming
            from documents where doc_id % 10 = 0
        """,
        "kmv_registers": """
            with w as (select source,
                         unnest(string_split(text, ' ')) as term
                       from documents),
            h as (select distinct source,
                    cast(('0x' || substr(md5('#kmv' || '|' || term),
                      1, 8))::UBIGINT as bigint) as h
                  from w),
            r as (select source, h,
                    row_number() over (partition by source
                                       order by h) as rn
                  from h)
            select source, h from r where rn <= 16
        """,
        "kmv_estimate": """
            with w as (select source,
                         unnest(string_split(text, ' ')) as term
                       from documents),
            h as (select distinct source,
                    cast(('0x' || substr(md5('#kmv' || '|' || term),
                      1, 8))::UBIGINT as bigint) as h
                  from w),
            r as (select source, h,
                    row_number() over (partition by source
                                       order by h) as rn
                  from h),
            reg as (select source, h from r where rn <= 16)
            select source, count(*) as n_reg,
                   round(case when count(*) < 16
                         then cast(count(*) as double)
                         else 15.0 / ((max(h) + 1.0) / 4294967296.0)
                         end, 6) as est
            from reg group by source
        """,
        "kmv_intersection": """
            with w as (select doc_id,
                         unnest(string_split(text, ' ')) as term
                       from documents),
            ha as (select distinct
                     cast(('0x' || substr(md5('#kmv' || '|' || term),
                       1, 8))::UBIGINT as bigint) as h
                   from w where doc_id % 2 = 0),
            hb as (select distinct
                     cast(('0x' || substr(md5('#kmv' || '|' || term),
                       1, 8))::UBIGINT as bigint) as h
                   from w where doc_id % 2 = 1),
            ra as (select h from (select h, row_number() over
                     (order by h) rn from ha) where rn <= 16),
            rb as (select h from (select h, row_number() over
                     (order by h) rn from hb) where rn <= 16),
            un as (select h from (select h, row_number() over
                     (order by h) rn
                   from (select h from ra union select h from rb))
                   where rn <= 16),
            st as (select
                     (select count(*) from un) as n_union_reg,
                     (select count(*) from un
                      where h in (select h from ra)
                        and h in (select h from rb)) as matches,
                     (select max(h) from un) as hk)
            select n_union_reg, matches,
                   round(case when n_union_reg < 16
                         then cast(n_union_reg as double)
                         else 15.0 / ((hk + 1.0) / 4294967296.0)
                         end, 6) as est_union,
                   round((cast(matches as double) / n_union_reg)
                         * case when n_union_reg < 16
                           then cast(n_union_reg as double)
                           else 15.0 / ((hk + 1.0) / 4294967296.0)
                           end, 6) as est_intersection
            from st
        """,
        "containment_pairs": """
            with base as (
              select doc_id, text from documents
              union all
              select doc_id + 1000000000 as doc_id,
                     array_to_string(list_slice(
                       string_split(text, ' '), 1, 15), ' ') as text
              from documents where doc_id % 10 = 0),
            sh as (
              select doc_id, unnest(list_distinct(
                case when length(string_split(text, ' ')) < 3
                     then []::VARCHAR[]
                     else list_transform(
                       generate_series(1,
                         length(string_split(text, ' ')) - 2),
                       i -> array_to_string(list_slice(
                              string_split(text, ' '), i, i + 2), ' '))
                end)) as shingle
              from base),
            sizes as (select doc_id, count(*) as sz from sh
                      group by doc_id),
            inter as (
              select l.doc_id as a, r.doc_id as b, count(*) as inter
              from sh l join sh r using (shingle)
              where l.doc_id <> r.doc_id
              group by l.doc_id, r.doc_id)
            select a, b, round(inter / sa.sz, 6) as containment
            from inter join sizes sa on sa.doc_id = a
            where round(inter / sa.sz, 6) >= 0.6
        """,
        "surt_keys": r"""
            with u as (select doc_id,
              (case when doc_id % 2 = 0 then 'https://'
                    else 'http://' end)
              || (case when doc_id % 3 = 0 then 'www.' else '' end)
              || source || '.Example.com'
              || (case when doc_id % 5 = 0 then ':8080' else '' end)
              || '/Doc/' || doc_id::VARCHAR
              || (case when doc_id % 4 = 0
                  then '?b=2&a=' || doc_id::VARCHAR else '' end)
              || (case when doc_id % 7 = 0 then '#frag' else '' end)
                as url
              from documents),
            s1 as (select doc_id, url,
              regexp_replace(regexp_replace(lower(url),
                '^https?://', ''), '#.*$', '') as u from u),
            s2 as (select *,
              regexp_extract(u, '^([^/?]*)', 1) as hostport,
              substr(u, length(regexp_extract(u, '^([^/?]*)', 1)) + 1)
                as rest
              from s1),
            s3 as (select *,
              case when regexp_extract(rest, '^([^?]*)', 1) = ''
                   then '/' else regexp_extract(rest, '^([^?]*)', 1)
                   end as path,
              regexp_replace(rest, '^[^?]*\??', '') as query,
              regexp_extract(hostport, '(:\d+)$', 1) as port,
              regexp_replace(regexp_replace(hostport, ':\d+$', ''),
                '^www\.', '') as host
              from s2)
            select doc_id, url,
              array_to_string(list_reverse(string_split(host, '.')), ',')
              || port || ')' || path
              || case when query = '' then ''
                 else '?' || array_to_string(
                        list_sort(string_split(query, '&')), '&') end
                as surt
            from s3
        """,
        "cdx_roundtrip": f"""
            with cap as (select doc_id, text,
              {_URL_SQL} as url from documents),
            s1 as (select *,
              regexp_replace(lower(url), '^https?://', '') as u
              from cap),
            s2 as (select *,
              regexp_extract(u, '^([^/?]*)', 1) as host,
              substr(u, length(regexp_extract(u, '^([^/?]*)', 1)) + 1)
                as path
              from s1)
            select
              array_to_string(list_reverse(string_split(host, '.')), ',')
                || ')' || path as surt,
              strftime(timestamp '2020-01-01 00:00:00'
                       + (doc_id % 86400) * interval 1 second,
                       '%Y%m%d%H%M%S') as ts,
              url,
              'md5:' || md5(text) as digest,
              'text/html' as mime,
              200 as status,
              octet_length(encode(text)) as length
            from s2
        """,
        "heavy_hitters": """
            with w as (select unnest(string_split(text, ' ')) as term
                       from documents),
            n as (select count(*) as n from w)
            select term, count(*) as cnt
            from w group by term
            having count(*) * 40 > (select n from n)
        """,
        "ccnet_buckets": f"""
            with tr as (select doc_id, lang, string_split(text, ' ') as w
                        from documents),
            tw as (select unnest(w) as term from tr),
            uni as (select term, count(*) as c from tw group by term),
            tot as (select cast(sum(c) + count(*) as double) as nv
                    from uni),
            pos as (select doc_id,
                      unnest(case when len(w) >= 2
                        then list_transform(generate_series(1, len(w) - 1),
                          i -> {{'w1': w[i], 'w2': w[i + 1]}})
                        else [] end) as b
                    from tr),
            bi as (select (b).w1 as w1, (b).w2 as w2, count(*) as c12
                   from pos group by 1, 2),
            j as (select p.doc_id,
                    0.7 * (case when u1.c is not null and bi.c12 is not null
                           then bi.c12 / u1.c else 0.0 end)
                    + {1.0 - 0.7!r}
                      * ((coalesce(u2.c, 0) + 1.0) / (select nv from tot))
                      as prob
                  from pos p
                  left join bi on bi.w1 = (p.b).w1 and bi.w2 = (p.b).w2
                  left join uni u1 on u1.term = (p.b).w1
                  left join uni u2 on u2.term = (p.b).w2),
            sc as (select doc_id,
                     cast(round(avg(log10(prob)) * 1000000.0) as bigint)
                       as score_q
                   from j group by doc_id),
            keyed as (select s.doc_id, d.lang, s.score_q
                      from sc s join documents d using (doc_id)),
            cnt as (select lang, score_q, count(*) as c
                    from keyed group by 1, 2),
            cum as (select lang, score_q, c,
                      sum(c) over (partition by lang order by score_q) as c_le,
                      sum(c) over (partition by lang) as n
                    from cnt),
            bk as (select lang, score_q,
                     case when 3 * c_le <= n then 'tail'
                          when 3 * (c_le - c) >= 2 * n then 'head'
                          else 'middle' end as bucket
                   from cum)
            select k.doc_id, k.lang, k.score_q, b.bucket
            from keyed k join bk b using (lang, score_q)
        """,
        "opic_importance": _opic_oracle_sql(n_iter=5),
        "vocab_build": """
            with tw as (select unnest(string_split(text, ' ')) as term
                        from documents),
            c as (select term, count(*) as c from tw group by term),
            top as (select term, c from c order by c desc, term limit 500)
            select term,
                   cast(row_number() over (order by c desc, term) - 1
                        as int) as token_id,
                   c
            from top
        """,
        "encode_docs": """
            with tw as (select unnest(string_split(text, ' ')) as term
                        from documents),
            cc as (select term, count(*) as c from tw group by term),
            top as (select term, c from cc order by c desc, term limit 500),
            vocab as (select term,
                        cast(row_number() over (order by c desc, term) - 1
                             as int) as token_id
                      from top),
            ws as (select doc_id, string_split(text, ' ') as w
                   from documents),
            pos as (select doc_id,
                      unnest(list_transform(generate_series(1, len(w)),
                        i -> {'pos': i, 'term': w[i]})) as p
                    from ws),
            grp as (select doc_id,
                      cast(count(*) as bigint) as n_tokens,
                      cast(sum(case when v.token_id is null then 1
                               else 0 end) as bigint) as n_unk,
                      list(coalesce(v.token_id, -1) order by (p).pos)
                        as token_ids
                    from pos
                    left join vocab v on v.term = (p).term
                    group by doc_id)
            select d.doc_id,
                   coalesce(g.n_tokens, 0) as n_tokens,
                   coalesce(g.n_unk, 0) as n_unk,
                   coalesce(array_to_string(g.token_ids, ','), '')
                     as token_ids
            from documents d left join grp g using (doc_id)
        """,
        "bigram_logprob": f"""
            with tr as (select string_split(text, ' ') as w
                        from documents where source = 'src0'),
            tw as (select unnest(w) as term from tr),
            uni as (select term, count(*) as c from tw group by term),
            tot as (select cast(sum(c) + count(*) as double) as nv
                    from uni),
            tb as (select unnest(case when len(w) >= 2
                     then list_transform(generate_series(1, len(w) - 1),
                       i -> {{'w1': w[i], 'w2': w[i + 1]}})
                     else [] end) as b
                   from tr),
            bi as (select b.w1 as w1, b.w2 as w2, count(*) as c12
                   from tb group by 1, 2),
            test as (select doc_id, string_split(text, ' ') as w
                     from documents where source <> 'src0'),
            pos as (select doc_id,
                      unnest(case when len(w) >= 2
                        then list_transform(generate_series(1, len(w) - 1),
                          i -> {{'w1': w[i], 'w2': w[i + 1]}})
                        else [] end) as b
                    from test),
            j as (select p.doc_id,
                    0.7 * (case when u1.c is not null and bi.c12 is not null
                           then bi.c12 / u1.c else 0.0 end)
                    + {1.0 - 0.7!r}
                      * ((coalesce(u2.c, 0) + 1.0) / (select nv from tot))
                      as prob
                  from pos p
                  left join bi on bi.w1 = (p.b).w1 and bi.w2 = (p.b).w2
                  left join uni u1 on u1.term = (p.b).w1
                  left join uni u2 on u2.term = (p.b).w2)
            select doc_id, cast(count(*) as bigint) as n_bigrams,
                   round(avg(log10(prob)), 6) as avg_logp
            from j group by doc_id
        """,
        "recrawl_priority": """
            with hist as (
              select 'u' || doc_id as url, r.round,
                     'd' || cast(floor(r.round
                       / (1 + (doc_id % 4) * 3)) as bigint) as digest
              from documents
              cross join (select unnest([0, 2, 4, 6]) as round) r),
            lagd as (
              select url, round, digest,
                     lag(digest) over (partition by url order by round) as pd,
                     lag(round) over (partition by url order by round) as pr
              from hist),
            st as (
              select url, count(pd) as n_intervals,
                     sum(case when pd is not null and digest <> pd
                         then 1 else 0 end) as n_changes,
                     avg(round - pr) as mean_interval,
                     max(round) as last_round
              from lagd group by url),
            pr as (
              select url,
                     case when n_intervals > 0
                       then -ln((n_intervals - n_changes + 0.5)
                                / (n_intervals + 0.5)) / mean_interval
                       else 0.1 end as lam,
                     8 - last_round as age
              from st)
            select url, round(lam, 6) + 0.0 as change_rate,
                   cast(age as bigint) as age,
                   round(1.0 - exp(-lam * age), 6) + 0.0 as p_stale
            from pr
        """,
        "tfidf_top_terms": """
            with words as (select doc_id, unnest(string_split(text, ' '))
                             as term
                           from documents),
            tf as (select doc_id, term, count(*) as cnt
                   from words group by doc_id, term),
            dl as (select doc_id, count(*) as len
                   from words group by doc_id),
            dfq as (select term, count(*) as df from tf group by term),
            nd as (select count(distinct doc_id) as n from documents),
            scored as (
              select tf.doc_id, tf.term,
                     round((tf.cnt / dl.len) * ln(nd.n / dfq.df), 6)
                       as tfidf
              from tf join dl using (doc_id) join dfq using (term)
              cross join nd)
            select doc_id, term, tfidf,
                   row_number() over (partition by doc_id
                                      order by tfidf desc, term) as rank
            from scored qualify rank <= 3
        """,
        "unigram_logprob": """
            with words as (select doc_id,
                             unnest(string_split(text, ' ')) as term
                           from documents),
            model as (select term, count(*) as cnt
                      from words group by term),
            tot as (select sum(cnt) as total from model)
            select doc_id, count(*) as n_tokens,
                   round(avg(log10(cnt / total)), 6) as avg_logp
            from words join model using (term) cross join tot
            group by doc_id
        """,
        "duplicated_ngrams": """
            with toks as (select doc_id, string_split(text, ' ') as ws
                          from documents),
            grams as (
              select doc_id,
                     unnest(list_transform(
                       generate_series(1, len(ws) - 7),
                       i -> cast(('0x' || substring(md5(array_to_string(
                              list_slice(ws, i, i + 7), ' ')), 1, 8))
                            as ubigint))) as g
              from toks where len(ws) >= 8),
            occ as (select g, count(*) as occ from grams group by g),
            pd as (select doc_id,
                          count(*) as n_grams,
                          sum(case when occ >= 2 then 1 else 0 end)
                            as dup_grams
                   from grams join occ using (g) group by doc_id)
            select d.doc_id,
                   cast(coalesce(n_grams, 0) as bigint) as n_grams,
                   cast(coalesce(dup_grams, 0) as bigint) as dup_grams,
                   case when coalesce(n_grams, 0) > 0
                        then round(cast(dup_grams as double) / n_grams, 6)
                        else 0.0 end as dup_gram_frac
            from documents d left join pd using (doc_id)
        """,
        "pack_chunks": r"""
            with toks as (
              select doc_id,
                     cast(len(regexp_extract_all(text, '\S+')) as bigint)
                       as n_tokens
              from documents),
            ne as (select * from toks where n_tokens > 0),
            c as (
              select doc_id, n_tokens,
                     cast(coalesce(sum(n_tokens) over (
                       order by doc_id
                       rows between unbounded preceding and 1 preceding
                     ), 0) as bigint) as tok_start
              from ne)
            select doc_id, n_tokens, tok_start,
                   cast(tok_start // 128 as bigint) as seq_first,
                   cast((tok_start + n_tokens - 1) // 128 as bigint)
                     as seq_last,
                   cast(tok_start % 128 as bigint) as offset_in_seq,
                   cast((tok_start + n_tokens - 1) // 128
                        - tok_start // 128 + 1 as bigint) as n_seqs
            from c
        """,
        "pack_greedy": r"""
            with recursive toks as (
              select doc_id,
                     cast(len(regexp_extract_all(text, '\S+')) as bigint)
                       as n_tokens
              from documents),
            sh as (
              select cast(cast(('0x' || substring(
                       md5(doc_id::varchar), 1, 8)) as ubigint) % 8 as int)
                       as shard,
                     doc_id, n_tokens
              from toks where n_tokens > 0),
            ord as (
              select shard, doc_id, n_tokens,
                     row_number() over (partition by shard
                                        order by doc_id) as rn
              from sh),
            rec as (
              select shard, doc_id, n_tokens, rn,
                     cast(0 as bigint) as seq_pl,
                     cast(0 as bigint) as off_pl,
                     case when least(n_tokens, 128) >= 128
                          then cast(1 as bigint) else cast(0 as bigint) end
                       as seq_nx,
                     case when least(n_tokens, 128) >= 128
                          then cast(0 as bigint)
                          else least(n_tokens, 128) end as used_nx
              from ord where rn = 1
              union all
              select o.shard, o.doc_id, o.n_tokens, o.rn,
                     r.seq_nx + case when r.used_nx > 0
                                      and r.used_nx + least(o.n_tokens, 128)
                                          > 128
                                     then 1 else 0 end,
                     case when r.used_nx > 0
                           and r.used_nx + least(o.n_tokens, 128) > 128
                          then cast(0 as bigint) else r.used_nx end,
                     r.seq_nx
                       + case when r.used_nx > 0
                               and r.used_nx + least(o.n_tokens, 128) > 128
                              then 1 else 0 end
                       + case when (case when r.used_nx > 0
                                          and r.used_nx
                                              + least(o.n_tokens, 128) > 128
                                         then 0 else r.used_nx end)
                                   + least(o.n_tokens, 128) >= 128
                              then 1 else 0 end,
                     case when (case when r.used_nx > 0
                                      and r.used_nx
                                          + least(o.n_tokens, 128) > 128
                                     then 0 else r.used_nx end)
                               + least(o.n_tokens, 128) >= 128
                          then cast(0 as bigint)
                          else (case when r.used_nx > 0
                                      and r.used_nx
                                          + least(o.n_tokens, 128) > 128
                                     then 0 else r.used_nx end)
                               + least(o.n_tokens, 128) end
              from ord o join rec r
                on o.shard = r.shard and o.rn = r.rn + 1)
            select shard, doc_id, n_tokens,
                   seq_pl as seq_in_shard,
                   off_pl as offset_in_seq,
                   cast(case when n_tokens > 128 then 1 else 0 end as int)
                     as truncated
            from rec
        """,
        "mixture_sample": """
            select doc_id, lang, source
            from documents
            where cast(('0x' || substring(md5(cast(doc_id as varchar)),
                                          1, 8)) as ubigint)
                    / 4294967296.0
                  < case lang when 'en' then 0.5
                              when 'zh' then 0.25
                              when 'es' then 0.75
                              else 0.1 end
        """,
        "redact_pii": r"""
            with injected as (
              select doc_id,
                     text || ' reach user' || doc_id::VARCHAR
                       || '@mail.example or +44 20 7946 '
                       || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                       || ' at 10.0.' || (doc_id % 256)::VARCHAR || '.7'
                       as t
              from documents)
            select doc_id,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(t,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                         '<EMAIL>', 'g'),
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                       '<IP>', 'g'),
                     '\+\d{1,3}([ -]?\d{2,4}){2,3}\b',
                     '<PHONE>', 'g') as redacted_text,
                   len(regexp_extract_all(t,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                     as n_email,
                   len(regexp_extract_all(t,
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) as n_ipv4,
                   len(regexp_extract_all(t,
                     '\+\d{1,3}([ -]?\d{2,4}){2,3}\b'))
                     as n_phone
            from injected
        """,
        "anchor_topk": """
            with edges as (
              select 'doc-' || ((doc_id * 31 + 7) % 97)::VARCHAR as dst,
                     array_to_string(
                       list_slice(string_split(text, ' '), 1, 2), ' ')
                       as anchor
              from documents),
            agg as (select dst, anchor, count(*) as n_inlinks
                    from edges group by dst, anchor)
            select dst, anchor, n_inlinks,
                   row_number() over (partition by dst
                                      order by n_inlinks desc, anchor)
                     as rank
            from agg qualify rank <= 3
        """,
        "quality_mixture": """
            with words as (select doc_id,
                             unnest(string_split(text, ' ')) as term
                           from documents),
            model as (select term, count(*) as cnt
                      from words group by term),
            tot as (select sum(cnt) as total from model),
            scored as (
              select doc_id, count(*) as n_tokens,
                     round(avg(log10(cnt / total)), 6) as avg_logp
              from words join model using (term) cross join tot
              group by doc_id),
            bucketed as (
              select *,
                     (avg_logp >= -1.478)::INT
                       + (avg_logp >= -1.4765)::INT as bucket
              from scored)
            select doc_id, n_tokens, avg_logp, bucket
            from bucketed
            where cast(('0x' || substring(md5(cast(doc_id as varchar)),
                                          1, 8)) as ubigint)
                    / 4294967296.0
                  < case bucket when 0 then 0.3
                                when 1 then 1.0
                                else 0.6 end
        """,
        "source_report": """
            select source, lang as stratum,
                   cast(count(*) as bigint) as n_docs,
                   cast(sum(len(string_split(text, ' '))) as bigint)
                     as total_tokens,
                   round(avg(length(text)), 6) as avg_chars,
                   round(1.0 - cast(count(distinct md5(text)) as double)
                             / count(*), 6) as exact_dup_frac
            from documents
            group by source, lang
        """,
        "trap_hosts": f"""
            with pages as (
              select source as host, {_URL_SQL} as url, text from documents
              union all
              select 'traphost' as host,
                     'https://traphost.example/page?sid=' || doc_id::VARCHAR
                       as url,
                     'same calendar boilerplate' as text
              from documents where doc_id % 5 = 0)
            select host,
                   count(distinct url) as n_urls,
                   count(distinct md5(text)) as n_contents,
                   round(1.0 - count(distinct md5(text))
                             / count(distinct url), 6) as dup_url_frac,
                   (count(distinct url) >= 10
                    and 1.0 - count(distinct md5(text))
                            / count(distinct url) >= 0.5) as is_trap
            from pages group by host
        """,
        "rank_priority": f"""
            with pr as ({_pagerank_oracle_sql(5)}),
            u as (select {_URL_SQL} as url, source as host from documents),
            j as (select u.url, u.host, pr.rank
                  from u join pr on pr.host = u.host)
            select url, host, rank,
                   row_number() over (order by rank desc, url) as pos
            from j
            qualify pos <= 100
        """,
        "nb_langid_model": f"""
            with core as ({_NB_LANGID_CORE_SQL})
            select gram, lang, round(logp, 6) as logp from core
        """,
        "nb_langid": f"""
            with core as ({_NB_LANGID_CORE_SQL}),
            test as (select doc_id, text from documents
                     where doc_id % 2 = 1),
            tg as (select doc_id,
                     unnest(case when length(text) >= 3
                       then list_transform(
                         generate_series(1, length(text) - 2),
                         i -> substring(text, i, 3))
                       else []::VARCHAR[] end) as gram
                   from test),
            sc as (select doc_id, lang, sum(logp) as ll,
                          count(*) as n_grams
                   from tg join core using (gram) group by 1, 2),
            tr as (select lang from documents where doc_id % 2 = 0),
            pri as (select lang,
                           ln(count(*)) - ln((select count(*) from tr))
                             as logprior
                    from tr group by lang),
            fin as (select doc_id, lang, ll + logprior as score, n_grams
                    from sc join pri using (lang))
            select doc_id, lang as pred_lang, round(score, 6) as score,
                   cast(n_grams as bigint) as n_grams
            from fin
            qualify row_number() over (partition by doc_id
                                       order by score desc, lang) = 1
        """,
        "dsir_weights": _DSIR_WEIGHTS_SQL,
        "dsir_topk": f"""
            with wts as ({_DSIR_WEIGHTS_SQL}),
            keyed as (
              select doc_id, n_grams, logw,
                     round(logw - ln(-ln(
                       ((('0x' || substring(md5(doc_id::VARCHAR), 1, 8))
                         ::UBIGINT)::DOUBLE + 1.0) / 4294967296.0)), 6)
                       as key
              from wts)
            select doc_id, n_grams, logw, key,
                   row_number() over (order by key desc, doc_id) as rank
            from keyed
            qualify rank <= 50
        """,
        "gopher_quality": f"""
            with s as (
              select doc_id,
                     string_split(text, ' ') as ws,
                     length(string_split(text, ' ')) as n_tok,
                     length(text) as n_chr,
                     len(string_split(text, '#')) - 1 as n_hash,
                     len(string_split(text, '...')) - 1 as n_ell
              from documents),
            m as (
              select doc_id, n_tok,
                     (n_chr - n_tok + 1) / n_tok as avg_len,
                     (n_hash + n_ell) / n_tok as symbol_ratio,
                     len(list_filter(ws, w -> w in {_STOPWORDS_SQL}))
                       as stop_hits,
                     greatest(n_tok - 1, 0) as nb,
                     case when n_tok - 1 < 1 then 0.0
                          else (greatest(n_tok - 1, 0)
                                - len(list_distinct(list_transform(
                                    generate_series(1, greatest(n_tok - 1, 1)),
                                    i -> array_to_string(
                                      list_slice(ws, i, i + 1), ' ')))))
                               / greatest(n_tok - 1, 0)
                     end as dup_ratio
              from s)
            select doc_id,
                   n_tok between 20 and 80 as ok_word_count,
                   avg_len >= 3.0 and avg_len <= 10.0 as ok_avg_word_len,
                   symbol_ratio <= 0.1 as ok_symbol_ratio,
                   stop_hits >= 2 as ok_stopwords,
                   dup_ratio <= 0.05 as ok_repetition,
                   (n_tok between 20 and 80)
                     and (avg_len >= 3.0 and avg_len <= 10.0)
                     and (symbol_ratio <= 0.1)
                     and (stop_hits >= 2)
                     and (dup_ratio <= 0.05) as keep
            from m
        """,
        "exact_substring_dedup": """
            with t as (select doc_id, string_split(text, ' ') as w
                       from documents),
            b as (select doc_id, w, len(w) as n from t),
            g as (select doc_id,
                         unnest(list_transform(
                           generate_series(1, greatest(n - 8 + 1, 0)),
                           i -> struct_pack(
                             pos := i,
                             gh := cast(('0x' || substring(md5(
                               array_to_string(list_slice(w, i, i + 7), ' ')
                             ), 1, 8)) as ubigint)))) as u
                  from b),
            gp as (select doc_id, u.pos as pos, u.gh as gh from g),
            dup as (select doc_id, pos from
                      (select doc_id, pos,
                              count(*) over (partition by gh) as c from gp)
                    where c >= 2),
            isl as (select doc_id, pos,
                           case when lag(pos) over w is null
                                  or pos > lag(pos) over w + 8
                                then 1 else 0 end as brk
                    from dup window w as (partition by doc_id order by pos)),
            isl2 as (select doc_id, pos,
                            sum(brk) over (partition by doc_id
                                           order by pos) as island
                     from isl),
            spans as (select doc_id, island,
                             min(pos) as s, max(pos) + 8 - 1 as e
                      from isl2 group by doc_id, island),
            sd as (select doc_id,
                          list(struct_pack(s := s, e := e)) as spans,
                          count(*) as n_spans,
                          sum(e - s + 1) as n_removed
                   from spans group by doc_id),
            r as (select b.doc_id, b.w, b.n,
                         coalesce(sd.spans,
                                  []::STRUCT(s bigint, e bigint)[]) as spans,
                         coalesce(sd.n_spans, 0) as n_spans,
                         coalesce(sd.n_removed, 0) as n_removed
                  from b left join sd using (doc_id))
            select doc_id,
                   coalesce(array_to_string(list_transform(
                     list_filter(generate_series(1, n),
                       i -> len(list_filter(spans,
                              sp -> i >= sp.s and i <= sp.e)) = 0),
                     i -> w[i]), ' '), '') as clean_text,
                   cast(n as bigint) as n_tokens,
                   cast(n_removed as bigint) as n_removed,
                   cast(n_spans as bigint) as n_spans
            from r
        """,
        "c4_clean": """
            with s as (select doc_id, string_split(text, ' ') as ws
                       from documents),
            b as (select doc_id, ws,
                         greatest(cast(ceil(len(ws) / 6.0) as int), 1) as nseg
                  from s),
            lines as (
              select doc_id,
                     list_transform(generate_series(1, nseg), i ->
                       array_to_string(
                         list_slice(ws, (i - 1) * 6 + 1, (i - 1) * 6 + 6),
                         ' ')
                       || case cast(('0x' || substring(
                               md5(doc_id || '|' || i), 1, 2)) as ubigint) % 5
                          when 0 then '.' when 1 then '.'
                          when 2 then '?' when 3 then ''
                          else ' javascript.' end) as ls
              from b),
            doc as (
              select doc_id,
                     array_to_string(ls, chr(10))
                       || case when doc_id % 97 = 0
                               then chr(10) || 'lorem ipsum dolor.'
                               else '' end as text2
              from lines),
            f as (
              select doc_id, text2,
                     string_split(text2, chr(10)) as all_lines,
                     list_filter(string_split(text2, chr(10)), l ->
                       right(l, 1) in ('.', '!', '?', '"')
                       and len(string_split(l, ' ')) >= 3
                       and not contains(lower(l), 'javascript')) as kept
              from doc)
            select doc_id,
                   coalesce(array_to_string(kept, chr(10)), '') as clean_text,
                   cast(len(all_lines) as bigint) as n_lines,
                   cast(len(kept) as bigint) as n_kept,
                   (not (contains(lower(text2), 'lorem ipsum')
                         or contains(text2, '{'))
                    and len(kept) >= 1) as keep
            from f
        """,
        "pipeline_funnel": _pipeline_funnel_oracle_sql(),
        "cleaning_funnel": """
            with s as (select doc_id, string_split(text, ' ') as ws
                       from documents),
            b as (select doc_id, ws,
                         greatest(cast(ceil(len(ws) / 6.0) as int), 1) as nseg
                  from s),
            lines as (
              select doc_id,
                     list_transform(generate_series(1, nseg), i ->
                       array_to_string(
                         list_slice(ws, (i - 1) * 6 + 1, (i - 1) * 6 + 6),
                         ' ')
                       || case cast(('0x' || substring(
                               md5(doc_id || '|' || i), 1, 2)) as ubigint) % 5
                          when 0 then '.' when 1 then '.'
                          when 2 then '?' when 3 then ''
                          else ' javascript.' end) as ls
              from b),
            doc as (
              select doc_id,
                     array_to_string(ls, chr(10))
                       || case when doc_id % 97 = 0
                               then chr(10) || 'lorem ipsum dolor.'
                               else '' end as text2
              from lines),
            flat as materialized (
              select doc_id,
                     replace(array_to_string(
                       list_filter(string_split(text2, chr(10)), l ->
                         right(l, 1) in ('.', '!', '?', '"')
                         and len(string_split(l, ' ')) >= 3
                         and not contains(lower(l), 'javascript')),
                       chr(10)), chr(10), ' ') as text,
                     (not (contains(lower(text2), 'lorem ipsum')
                           or contains(text2, '{'))
                      and len(list_filter(string_split(text2, chr(10)), l ->
                            right(l, 1) in ('.', '!', '?', '"')
                            and len(string_split(l, ' ')) >= 3
                            and not contains(lower(l), 'javascript'))) >= 1)
                       as keep_c4
              from doc),
            flat2 as materialized (
              select * from flat
              union all
              select doc_id + 1000000000 as doc_id, text, keep_c4
              from flat where doc_id % 37 = 0),
            gs as (
              select doc_id, text,
                     string_split(text, ' ') as gws,
                     length(string_split(text, ' ')) as n_tok,
                     length(text) as n_chr,
                     len(string_split(text, '#')) - 1 as n_hash,
                     len(string_split(text, '...')) - 1 as n_ell
              from flat2 where keep_c4),
            gm as (
              select doc_id, text, n_tok,
                     (n_chr - n_tok + 1) / n_tok as avg_len,
                     (n_hash + n_ell) / n_tok as symbol_ratio,
                     len(list_filter(gws, w -> w in
                       ('the','a','and','of','to','in','is','on','for',
                        'with'))) as stop_hits,
                     case when n_tok - 1 < 1 then 0.0
                          else (greatest(n_tok - 1, 0)
                                - len(list_distinct(list_transform(
                                    generate_series(1, greatest(n_tok - 1, 1)),
                                    i -> array_to_string(
                                      list_slice(gws, i, i + 1), ' ')))))
                               / greatest(n_tok - 1, 0)
                     end as dup_ratio
              from gs),
            surv as materialized (
              select doc_id, text from gm
              where (n_tok between 20 and 80)
                and (avg_len >= 3.0 and avg_len <= 10.0)
                and (symbol_ratio <= 0.1)
                and (stop_hits >= 2)
                and (dup_ratio <= 0.05))
            select (select count(*) from flat2) as n_raw,
                   (select count(*) from flat2 where keep_c4) as n_c4,
                   (select count(*) from surv) as n_gopher,
                   (select count(distinct md5(text)) from surv) as n_unique
        """,
        "cluster_keeper": f"""

            with recursive {_SHINGLES_CTE},
            sig as (
              select doc_id, b.band_id,
                     min(md5(b.band_id || '|' || shingle)) as band_min
              from sh cross join
                   (select unnest(['0','1','2','3']) as band_id) b
              group by doc_id, b.band_id
            ),
            cand as (
              select distinct l.doc_id as a, r.doc_id as b
              from sig l join sig r using (band_id, band_min)
              where l.doc_id < r.doc_id
            ),
            sizes as (select doc_id, count(*) as sz from sh group by doc_id),
            inter as (
              select c.a, c.b, count(*) as inter
              from cand c
              join sh sa on sa.doc_id = c.a
              join sh sb on sb.doc_id = c.b and sb.shingle = sa.shingle
              group by c.a, c.b
            ),
            pairs as (
              select a, b from inter
              join sizes sa on sa.doc_id = a
              join sizes sb on sb.doc_id = b
              where round(inter / (sa.sz + sb.sz - inter), 6) >= 0.2
            ),
            ed as (select a as u, b as v from pairs
                   union select b as u, a as v from pairs),
            reach as (
              select u as node, u as root from ed
              union
              select e.v as node, r.root from reach r
              join ed e on e.u = r.node
            ),
            comp as (select node, min(root) as component
                     from reach group by node),
            cl as (
              select d.doc_id,
                     coalesce(c.component, d.doc_id) as component,
                     cast(d.n_chars as bigint) as score
              from documents d left join comp c on c.node = d.doc_id),
            rk as (
              select doc_id, component, score,
                     row_number() over (partition by component
                                        order by score desc, doc_id asc)
                       as rn
              from cl)
            select doc_id, component, score, rn = 1 as keeper from rk
        """,
        "phrase_search": """
            with s as (select doc_id,
                              list_filter(string_split(text, ' '),
                                          w -> w <> '') as ws
                       from documents),
            hits as (
              select doc_id,
                     cast(len(list_filter(
                       generate_series(1, greatest(len(ws) - 1, 0)),
                       i -> ws[i] = 'table' and ws[i + 1] = 'scan'))
                       as bigint) as n_matches
              from s)
            select doc_id, n_matches from hits where n_matches > 0
        """,
        "term_stats": """
            with t as (
              select doc_id, unnest(list_filter(string_split(text, ' '),
                                                w -> w <> '')) as term
              from documents),
            td as (select term, doc_id, count(*) as occ
                   from t group by term, doc_id)
            select term,
                   cast(count(*) as bigint) as doc_freq,
                   cast(sum(occ) as bigint) as coll_freq
            from td group by term
        """,
        "lr_quality_model": f"""
            with {_LR_CTE}
            select js.j, coalesce(w4.w, 0.0) as w
            from (select cast(unnest(generate_series(-1, 63)) as int) as j) js
            left join w4 on w4.j = js.j
        """,
        "lr_quality": f"""
            with {_LR_CTE},
            ds as (select id, sum(x * w) as dot
                   from fx join w4 using (j) group by id)
            select id,
                   1.0 / (1.0 + exp(-dot)) as p,
                   1.0 / (1.0 + exp(-dot)) >= 0.5 as pred,
                   y
            from ds join lab using (id)
        """,
        "ngram_repetition": """
            with base as materialized (
              select doc_id,
                     case when doc_id % 4 = 0
                          then text || ' ' || array_to_string(
                                 list_slice(string_split(text, ' '), 1, 10),
                                 ' ')
                          else text end as t2
              from documents),
            w as materialized (
              select doc_id,
                     list_filter(string_split(t2, ' '), x -> x <> '') as ws
              from base),
            tot as (select doc_id,
                           cast(len(ws) as bigint) as n_words,
                           cast(coalesce(list_sum(list_transform(ws,
                                x -> length(x))), 0) as bigint) as total_chars
                    from w),
            g2 as (
              select doc_id, i,
                     array_to_string(list_slice(ws, i, i + 1), ' ') as g
              from w, unnest(generate_series(1, greatest(len(ws) - 1, 0)))
                        as t(i)),
            g2c as (select doc_id, g, count(*) as cnt
                    from g2 group by doc_id, g),
            top as (
              select doc_id, g as top_gram, cnt as top_gram_cnt
              from (select doc_id, g, cnt,
                           row_number() over (partition by doc_id
                                              order by cnt desc, g asc) as rn
                    from g2c)
              where rn = 1),
            g5 as (
              select doc_id, i,
                     array_to_string(list_slice(ws, i, i + 4), ' ') as g
              from w, unnest(generate_series(1, greatest(len(ws) - 4, 0)))
                        as t(i)),
            dup5 as (select doc_id, g from g5
                     group by doc_id, g having count(*) >= 2),
            cover as (
              select distinct g5.doc_id, g5.i + k.k as p
              from g5 join dup5 on dup5.doc_id = g5.doc_id and dup5.g = g5.g
              cross join (select unnest(generate_series(0, 4)) as k) k),
            covchars as (
              select c.doc_id,
                     cast(sum(length(w.ws[c.p])) as bigint) as covered
              from cover c join w on w.doc_id = c.doc_id
              group by c.doc_id)
            select t.doc_id,
                   t.n_words,
                   coalesce(tp.top_gram, '') as top_gram,
                   cast(coalesce(tp.top_gram_cnt, 0) as bigint)
                     as top_gram_cnt,
                   case when t.total_chars <= 0 then 0.0
                        else (coalesce(tp.top_gram_cnt, 0)
                              * length(coalesce(tp.top_gram, '')))
                             / t.total_chars end as top_gram_char_frac,
                   case when t.total_chars <= 0 then 0.0
                        else coalesce(cc.covered, 0) / t.total_chars
                   end as dup_gram_char_frac
            from tot t
            left join top tp on tp.doc_id = t.doc_id
            left join covchars cc on cc.doc_id = t.doc_id
        """,
        "line_repetition": """
            with s as (select doc_id, string_split(text, ' ') as ws
                       from documents),
            b as (select doc_id, ws,
                         greatest(cast(ceil(len(ws) / 6.0) as int), 1) as nseg
                  from s),
            lines as (
              select doc_id,
                     list_transform(generate_series(1, nseg), i ->
                       array_to_string(
                         list_slice(ws, (i - 1) * 6 + 1, (i - 1) * 6 + 6),
                         ' ')
                       || case cast(('0x' || substring(
                               md5(doc_id || '|' || i), 1, 2)) as ubigint) % 5
                          when 0 then '.' when 1 then '.'
                          when 2 then '?' when 3 then ''
                          else ' javascript.' end) as ls
              from b),
            doc as (
              select doc_id,
                     array_to_string(ls, chr(10))
                       || case when doc_id % 97 = 0
                               then chr(10) || 'lorem ipsum dolor.'
                               else '' end as text2
              from lines),
            inj as (
              select doc_id,
                     case when doc_id % 5 = 0
                          then 'home | about | contact' || chr(10) || t3
                               || chr(10) || 'home | about | contact'
                          else t3 end as text3
              from (select doc_id,
                           case when doc_id % 3 = 0
                                then text2 || chr(10) || 'all rights reserved.'
                                     || chr(10) || 'all rights reserved.'
                                else text2 end as t3
                    from doc)),
            st as (
              select doc_id,
                     string_split(text3, chr(10)) as ls,
                     list_distinct(string_split(text3, chr(10))) as dist
              from inj)
            select doc_id,
                   cast(len(ls) as bigint) as n_lines,
                   cast(len(dist) as bigint) as n_distinct,
                   (len(ls) - len(dist)) / len(ls) as dup_line_frac,
                   case when coalesce(list_sum(list_transform(ls,
                          l -> length(l))), 0) <= 0 then 0.0
                        else cast(coalesce(list_sum(list_transform(dist,
                               d -> (len(list_filter(ls, l -> l = d)) - 1)
                                    * length(d))), 0) as double)
                             / cast(list_sum(list_transform(ls,
                                 l -> length(l))) as double)
                   end as dup_char_frac
            from st
        """,
        "justext_blocks": """
            with s as (select doc_id, string_split(text, ' ') as ws
                       from documents),
            b as (select doc_id, ws,
                         greatest(cast(ceil(len(ws) / 14.0) as int), 1) as nseg
                  from s),
            seq as (select doc_id, ws,
                           unnest(generate_series(1, nseg)) as i
                    from b),
            raw as (
              select doc_id, i,
                     array_to_string(
                       list_slice(ws, (i - 1) * 14 + 1, (i - 1) * 14 + 14),
                       ' ') as base,
                     cast(('0x' || substring(
                           md5(doc_id || '#' || i), 1, 2)) as ubigint) as h
              from seq),
            blk as (
              select doc_id, cast(i - 1 as bigint) as pos,
                     case when h % 4 = 0 then
                            'the of and to in is on for with a'
                            || ' ' || 'the of and to in is on for with a'
                            || ' ' || base || ' ' || base || ' ' || base
                          when h % 4 = 1 then
                            'the of and to in is' || ' ' || base
                          else base end as text,
                     h
              from raw),
            feat as (
              select doc_id, pos, text,
                     cast(case when h % 5 = 4 then length(text)
                               when h % 5 = 3 then floor(length(text) / 3)
                               when h % 7 = 0 then 5
                               else 0 end as bigint) as link_chars,
                     cast(length(text) as bigint) as n_chars,
                     cast(len(list_filter(string_split(text, ' '),
                                          w -> w <> '')) as bigint) as n_words,
                     cast(len(list_filter(string_split(text, ' '),
                              w -> lower(w) in ('the', 'a', 'and', 'of', 'to',
                                                'in', 'is', 'on', 'for',
                                                'with'))) as bigint) as stop_cnt
              from blk),
            cf as (
              select *,
                     case when link_chars * 100 > 20 * n_chars then 'bad'
                          when n_chars < 70 then
                            (case when link_chars > 0 then 'bad'
                                  else 'short' end)
                          when stop_cnt * 100 >= 32 * n_words then
                            (case when n_chars > 200 then 'good'
                                  else 'neargood' end)
                          when stop_cnt * 100 >= 30 * n_words then 'neargood'
                          else 'bad' end as cls
              from feat),
            sm as (
              select *,
                     last_value(case when cls in ('good', 'bad') then cls end
                                ignore nulls)
                       over (partition by doc_id order by pos
                             rows between unbounded preceding
                                      and 1 preceding) as prev_cert,
                     first_value(case when cls in ('good', 'bad') then cls end
                                 ignore nulls)
                       over (partition by doc_id order by pos
                             rows between 1 following
                                      and unbounded following) as next_cert
              from cf)
            select doc_id, pos, text, link_chars, n_chars, n_words, stop_cnt,
                   cls,
                   case when cls = 'good' then true
                        when cls = 'bad' then false
                        when cls = 'neargood' then
                          coalesce(prev_cert, '') = 'good'
                          or coalesce(next_cert, '') = 'good'
                        else coalesce(prev_cert, next_cert, 'bad') = 'good'
                             and coalesce(next_cert, prev_cert, 'bad') = 'good'
                   end as keep
            from sm
        """,
        "domain_cap": """
            select doc_id, text, lang, source, n_chars, host_rank
            from (select *,
                         row_number() over (partition by source
                                            order by n_chars desc, doc_id)
                           as host_rank
                  from documents)
            where host_rank <= 5
        """,
        "url_filter": """
            with u as (
              select doc_id,
                     'https://'
                       || case when doc_id % 13 = 0 then 'ads.' else '' end
                       || source || '.example/d/' || doc_id
                       || case when doc_id % 11 = 0 then '-casino' else '' end
                       || case when doc_id % 17 = 0 then '-poker' else '' end
                       as url,
                     case when doc_id % 13 = 0 then 'ads.' else '' end
                       || source || '.example' as host
              from documents),
            s as (
              select doc_id, url, host,
                     (host = 'src3.example' or host like '%.src3.example'
                      or host = 'ads.src5.example'
                      or host like '%.ads.src5.example') as domain_blocked,
                     (case when url like '%casino%' then 0.5
                           else 0.0 end)
                     + (case when url like '%poker%' then 0.25
                             else 0.0 end) as word_score
              from u)
            select doc_id, url, host, domain_blocked,
                   cast(word_score as double) as word_score,
                   (not domain_blocked and word_score < 0.625) as keep
            from s
        """,
        "leakage_split": f"""
            with recursive {_SHINGLES_CTE},
            sig as (
              select doc_id, b.band_id,
                     min(md5(b.band_id || '|' || shingle)) as band_min
              from sh cross join
                   (select unnest(['0','1','2','3']) as band_id) b
              group by doc_id, b.band_id
            ),
            cand as (
              select distinct l.doc_id as a, r.doc_id as b
              from sig l join sig r using (band_id, band_min)
              where l.doc_id < r.doc_id
            ),
            sizes as (select doc_id, count(*) as sz from sh group by doc_id),
            inter as (
              select c.a, c.b, count(*) as inter
              from cand c
              join sh sa on sa.doc_id = c.a
              join sh sb on sb.doc_id = c.b and sb.shingle = sa.shingle
              group by c.a, c.b
            ),
            pairs as (
              select a, b from inter
              join sizes sa on sa.doc_id = a
              join sizes sb on sb.doc_id = b
              where round(inter / (sa.sz + sb.sz - inter), 6) >= 0.2
            ),
            ed as (select a as u, b as v from pairs
                   union select b as u, a as v from pairs),
            reach as (
              select u as node, u as root from ed
              union
              select e.v as node, r.root from reach r
              join ed e on e.u = r.node
            ),
            comp as (select node, min(root) as component
                     from reach group by node),
            assign as (
              select d.doc_id, coalesce(c.component, d.doc_id) as component
              from documents d left join comp c on c.node = d.doc_id)
            select doc_id, component,
                   case when u < 0.75 then 'train'
                        when u < 0.875 then 'val'
                        else 'test' end as split
            from (select doc_id, component,
                         cast(('0x' || substring(
                                 md5(cast(component as varchar)), 1, 8))
                              as ubigint) / 4294967296.0 as u
                  from assign)
        """,
        "bpe_pair_counts": _bpe_oracle_sql("pairs"),
        "bpe_merges": _bpe_oracle_sql("merges", n_merges=BPE_N_MERGES),
        "bpe_encode": _bpe_oracle_sql(
            "encode",
            n_merges=BPE_N_MERGES,
            train_where="where doc_id % 2 = 0",
        ),
        "bpe_encode_ids": _bpe_oracle_sql(
            "ids",
            n_merges=BPE_N_MERGES,
            train_where="where doc_id % 2 = 0",
        ),
        # T=2 tier: sqrt is IEEE-exact on every engine; denominator is
        # a left-to-right fold in sorted source order, rates rounded to
        # 6 decimals — the exact recipe temperature_rates pins
        "skew_stats": """
            with c as (select user_id as key, count(*)::BIGINT as cnt
                       from events group by user_id),
            g as (select sum(cnt)::BIGINT as n_rows,
                         count(*)::BIGINT as n_keys,
                         max(cnt)::BIGINT as max_cnt from c),
            top as (select key, cnt,
                           row_number() over (order by cnt desc, key asc)
                             as krank
                    from c order by cnt desc, key asc limit 5)
            select krank, key, cnt,
                   round(cnt / n_rows, 6) as share,
                   n_rows, n_keys, max_cnt,
                   round((max_cnt * n_keys) / n_rows, 6) as skew_ratio
            from top cross join g
        """,
        "salted_join": """
            select e.event_id, e.user_id,
                   cast(e.user_id % 7 as int) as cohort
            from events e
        """,
        "temperature_mixture": """
            with c as (select source as s, count(*)::BIGINT as n
                       from documents group by source),
            tot as (select sum(n)::DOUBLE as total from c),
            den as (select list_reduce(list(sqrt(n::DOUBLE) order by s),
                                       (a, b) -> a + b) as d from c),
            r as (select s,
                         round(least(1.0,
                           (0.5 * (select total from tot))
                             * sqrt(n::DOUBLE) / (select d from den) / n),
                           6) as rate
                  from c)
            select d.doc_id, d.source, r.rate
            from documents d join r on r.s = d.source
            where cast(('0x' || substring(md5(cast(d.doc_id as varchar)),
                                          1, 8)) as ubigint)
                    / 4294967296.0 < r.rate
        """,
        "robots_sitemaps": """
            select source,
                   cast(row_number() over (partition by source
                                           order by doc_id) - 1
                        as bigint) as pos,
                   'https://' || source || '.example/sm/' || doc_id || '.xml'
                     as sitemap_url
            from documents
            where doc_id % 7 = 0
        """,
        "sitemap_parse": """
            select source,
                   cast(row_number() over (partition by source
                                           order by doc_id) - 1
                        as bigint) as pos,
                   'https://' || source || '.example/d/' || doc_id as loc,
                   case when doc_id % 2 = 0
                        then '2026-0' || (doc_id % 9 + 1) || '-01'
                   end as lastmod
            from documents
        """,
        "segment_dedup": """
            with w as (select doc_id, string_split(text, ' ') as ws
                       from documents),
            base as (select doc_id, ws,
                            greatest(cast(ceil(length(ws) / 8.0) as bigint), 1)
                              as nseg
                     from w),
            seg as (
              select doc_id,
                     unnest(list_transform(generate_series(1, nseg),
                       i -> struct_pack(
                              pos := i,
                              seg := array_to_string(
                                list_slice(ws, (i - 1) * 8 + 1,
                                           (i - 1) * 8 + 8), ' ')))) as u
              from base),
            occ as (select doc_id, u.pos as pos, u.seg as seg from seg),
            marked as (
              select doc_id, pos, seg,
                     count(*) over (partition by seg) as cnt,
                     row_number() over (partition by seg
                                        order by doc_id, pos) as rn
              from occ),
            kept as (select * from marked where cnt <= 1 or rn = 1),
            agg as (select doc_id,
                           string_agg(seg, ' ' order by pos) as clean_text,
                           count(*) as n_kept
                    from kept group by doc_id)
            select b.doc_id,
                   coalesce(a.clean_text, '') as clean_text,
                   coalesce(a.n_kept, 0) as n_kept,
                   b.nseg as n_total
            from base b left join agg a on a.doc_id = b.doc_id
        """,
        "repetition_stats": """
            with t as (select doc_id, string_split(text, ' ') as w
                       from documents),
            wc as (select doc_id, word, count(*) as c
                   from (select doc_id, unnest(w) as word from t)
                   group by doc_id, word),
            top as (select doc_id, max(c) as top_cnt, sum(c) as n_words
                    from wc group by doc_id),
            g as (select doc_id,
                         case when len(w) >= 3 then
                           list_transform(generate_series(1, len(w) - 2),
                             i -> array_to_string(list_slice(w, i, i + 2), ' '))
                         else []::VARCHAR[] end as grams
                  from t)
            select top.doc_id,
                   top.n_words::BIGINT as n_words,
                   top.top_cnt::BIGINT as top_word_cnt,
                   top.top_cnt::DOUBLE / top.n_words as top_word_frac,
                   case when len(g.grams) < 1 then 0.0
                        else (len(g.grams) - len(list_distinct(g.grams)))::DOUBLE
                             / len(g.grams) end as dup_3gram_frac
            from top join g on g.doc_id = top.doc_id
        """,
        "ngram_contamination": """
            with w as (select doc_id, string_split(lower(text), ' ') as w
                       from documents),
            g as (select doc_id, unnest(list_distinct(
                    case when len(w) < 5 then []::VARCHAR[]
                         else list_transform(generate_series(1, len(w) - 4),
                           i -> array_to_string(list_slice(w, i, i + 4), ' '))
                    end)) as gram
                  from w),
            bench as (select distinct gram from g where doc_id % 50 = 0),
            hits as (select g.doc_id, count(*) as n_contaminated
                     from g join bench using (gram)
                     where g.doc_id % 50 <> 0
                     group by g.doc_id)
            select d.doc_id,
                   coalesce(h.n_contaminated, 0)::BIGINT as n_contaminated,
                   coalesce(h.n_contaminated, 0) > 0 as contaminated
            from documents d left join hits h on h.doc_id = d.doc_id
            where d.doc_id % 50 <> 0
        """,
        "contamination_matches": """
            with w as (select doc_id, string_split(lower(text), ' ') as w
                       from documents),
            g as (select doc_id, unnest(list_distinct(
                    case when len(w) < 13 then []::VARCHAR[]
                         else list_transform(generate_series(1, len(w) - 12),
                           i -> array_to_string(list_slice(w, i, i + 12), ' '))
                    end)) as gram
                  from w),
            bg as (select doc_id as bench_id, gram from g
                   where doc_id % 5 = 0),
            cg as (select doc_id, gram from g where doc_id % 5 <> 0)
            select cg.doc_id, bg.bench_id,
                   count(*)::BIGINT as shared_grams
            from cg join bg using (gram)
            group by 1, 2
        """,
        "decontaminate": """
            with w as (select doc_id, string_split(lower(text), ' ') as w
                       from documents),
            g as (select doc_id, unnest(list_distinct(
                    case when len(w) < 13 then []::VARCHAR[]
                         else list_transform(generate_series(1, len(w) - 12),
                           i -> array_to_string(list_slice(w, i, i + 12), ' '))
                    end)) as gram
                  from w),
            bench as (select distinct gram from g where doc_id % 5 = 0),
            flagged as (select distinct doc_id from g
                        join bench using (gram)
                        where doc_id % 5 <> 0)
            select d.doc_id, d.text
            from documents d
            where d.doc_id % 5 <> 0
              and d.doc_id not in (select doc_id from flagged)
        """,
        "warc_roundtrip": f"""
            select {_URL_SQL} as url,
                   200::INT as status,
                   'text/html; charset=utf-8' as content_type,
                   octet_length(encode(text))::BIGINT as n_bytes,
                   md5(text) as payload_md5
            from documents
        """,
        "wet_roundtrip": f"""
            select {_URL_SQL} as url,
                   octet_length(encode(text))::BIGINT as n_bytes,
                   md5(text) as text_md5
            from documents
        """,
        "simhash": """
            with words as (
              select doc_id, unnest(list_distinct(string_split(text, ' '))) as w
              from documents),
            h as (select doc_id,
                         ('0x' || substr(md5(w), 1, 8))::UBIGINT as hv
                  from words),
            bits as (
              select doc_id, i.bit,
                     sum(case when (hv >> i.bit) & 1 = 1 then 1 else -1 end) as s
              from h cross join
                   (select unnest(generate_series(0, 31)) as bit) i
              group by doc_id, i.bit)
            select doc_id,
                   sum(case when s > 0 then (1::BIGINT << bit) else 0 end)::BIGINT
                     as simhash
            from bits group by doc_id
        """,
        "simhash_near_pairs": """
            with words as (
              select doc_id, unnest(list_distinct(string_split(text, ' '))) as w
              from documents),
            h as (select doc_id,
                         ('0x' || substr(md5(w), 1, 8))::UBIGINT as hv
                  from words),
            bits as (
              select doc_id, i.bit,
                     sum(case when (hv >> i.bit) & 1 = 1 then 1 else -1 end) as s
              from h cross join
                   (select unnest(generate_series(0, 31)) as bit) i
              group by doc_id, i.bit),
            fp as (
              select doc_id,
                     sum(case when s > 0 then (1::BIGINT << bit) else 0 end)::BIGINT
                       as simhash
              from bits group by doc_id)
            select a.doc_id as a, b.doc_id as b,
                   bit_count(xor(a.simhash::UBIGINT, b.simhash::UBIGINT))::INT
                     as hamming
            from fp a join fp b on a.doc_id < b.doc_id
            where bit_count(xor(a.simhash::UBIGINT, b.simhash::UBIGINT)) <= 3
        """,
        "text_quality": f"""
            with t as (
              select doc_id,
                     length(string_split(text, ' ')) as n_tok,
                     length(list_filter(string_split(text, ' '),
                                        w -> w in {_STOPWORDS_SQL})) as n_stop,
                     string_split(text, ' ') as w
              from documents)
            select doc_id, n_tok::BIGINT as n_tokens,
                   round(least(n_tok, 40) / 40.0 * 0.6 +
                         least(n_stop * 4, n_tok) / greatest(n_tok, 1) * 0.4, 6)
                     as quality,
                   case
                     when length(list_filter(w, x -> x in ('der','die','und','das'))) >
                          greatest(length(list_filter(w, x -> x in ('the','and','of','is'))),
                                   length(list_filter(w, x -> x in ('el','la','de','que'))),
                                   length(list_filter(w, x -> x in ('le','la','et','les'))), 0)
                       then 'de'
                     when length(list_filter(w, x -> x in ('le','la','et','les'))) >
                          greatest(length(list_filter(w, x -> x in ('the','and','of','is'))),
                                   length(list_filter(w, x -> x in ('el','la','de','que'))), 0)
                       then 'fr'
                     when length(list_filter(w, x -> x in ('el','la','de','que'))) >
                          greatest(length(list_filter(w, x -> x in ('the','and','of','is'))), 0)
                       then 'es'
                     when length(list_filter(w, x -> x in ('the','and','of','is'))) > 0
                       then 'en'
                     else 'und'
                   end as lang_guess
            from t
        """,
        "fingerprints": r"""
            select doc_id,
                   md5(regexp_replace(lower(text), '\s+', ' ', 'g')) as fp
            from documents
        """,
        "bpe_token_count": r"""
            select doc_id,
                   len(regexp_extract_all(text,
                     e'\'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+',
                     0))::BIGINT as n_bpe
            from documents
        """,
        "winnow_fp": """
            with g as (
              select doc_id,
                     list_transform(
                       generate_series(1, greatest(length(text) - 5 + 1, 0)),
                       i -> ('0x' || substr(md5(substring(text, i, 5)), 1, 8))
                              ::UBIGINT::BIGINT) as hs
              from documents),
            fps as (
              select doc_id,
                     case when len(hs) - 4 + 1 >= 1 then
                       list_distinct(list_transform(
                         generate_series(1, len(hs) - 4 + 1),
                         j -> list_min(hs[j:j+3])))
                     else list_filter([list_min(hs)], x -> x is not null)
                     end as fps
              from g)
            select doc_id, unnest(fps) as fp from fps
        """,
        "cosine_topk": """
            with q as (select embedding::DOUBLE[] as qv from embeddings
                       where vec_id = 0),
            scored as (
              select vec_id as neighbor_id,
                     round(list_cosine_similarity(embedding::DOUBLE[], qv), 6)
                       as sim
              from embeddings cross join q)
            select neighbor_id, sim,
                   row_number() over (order by sim desc, neighbor_id) as rank
            from scored
            qualify rank <= 10
        """,
        # reproduces similarity.lsh_bucket_col exactly: hyperplane
        # component (p, i) = (md5-hex-prefix % 1000)/1000 - 0.5, bucket =
        # sign bits of the 6 projections, pairs joined within-bucket only
        "embedding_near_dup": """
            with e as (select vec_id, embedding::DOUBLE[] as v from embeddings),
            proj as (
              select vec_id, p.p,
                     list_sum(list_transform(generate_series(0, len(v) - 1),
                       i -> v[i + 1] *
                            ((('0x' || substr(md5(p.p::VARCHAR || ',' || i::VARCHAR),
                                              1, 8))::UBIGINT % 1000)
                             / 1000.0 - 0.5))) as pr
              from e cross join (select unnest(generate_series(0, 5)) as p) p
            ),
            buck as (
              select vec_id,
                     sum(case when pr > 0 then (1::BIGINT << p) else 0 end)::BIGINT
                       as bucket
              from proj group by vec_id
            ),
            be as (select b.vec_id, b.bucket, e.v from buck b join e using (vec_id))
            select l.vec_id as a, r.vec_id as b,
                   round(list_cosine_similarity(l.v, r.v), 6) as sim
            from be l join be r on l.bucket = r.bucket and l.vec_id < r.vec_id
            where round(list_cosine_similarity(l.v, r.v), 6) >= 0.4
        """,
        "semantic_dedup": """
            with recursive
            e as (select vec_id, embedding::DOUBLE[] as v from embeddings),
            pairs as (
              select l.vec_id as a, r.vec_id as b
              from e l join e r on l.vec_id < r.vec_id
              where round(list_cosine_similarity(l.v, r.v), 6) >= 0.4),
            ed as (select a as u, b as v from pairs
                   union select b as u, a as v from pairs),
            reach as (
              select u as node, u as root from ed
              union
              select e2.v as node, r.root from reach r
              join ed e2 on e2.u = r.node),
            comp as (select node, min(root) as grp
                     from reach group by node)
            select e.vec_id,
                   coalesce(c.grp, e.vec_id) as group,
                   e.vec_id = coalesce(c.grp, e.vec_id) as keep
            from e left join comp c on c.node = e.vec_id
        """,
        "bloom_antijoin": f"""
            with u as (select doc_id, {_URL_SQL} as url from documents)
            select doc_id, url from u
            where url not in (select url from u where doc_id % 3 = 0)
        """,
        "ivf_ann": """
            with q as (select embedding::DOUBLE[] as qv from embeddings
                       where vec_id = 0),
            scored as (
              select vec_id as neighbor_id,
                     round(list_cosine_similarity(embedding::DOUBLE[], qv), 6)
                       as sim
              from embeddings cross join q)
            select neighbor_id, sim,
                   row_number() over (order by sim desc, neighbor_id) as rank
            from scored
            qualify rank <= 10
        """,
        "lsh_ann": """
            with q as (select embedding::DOUBLE[] as qv from embeddings
                       where vec_id = 0),
            scored as (
              select vec_id as neighbor_id,
                     round(list_cosine_similarity(embedding::DOUBLE[], qv), 6)
                       as sim
              from embeddings cross join q)
            select neighbor_id, sim,
                   row_number() over (order by sim desc, neighbor_id) as rank
            from scored
            qualify rank <= 10
        """,
        "multimodal_codec": """
            with t as (
              select doc_id, text, octet_length(encode(text)) as n
              from documents)
            select doc_id as media_id,
                   case when doc_id % 2 = 0 then 'image' else 'audio' end
                     as kind,
                   (case when doc_id % 2 = 0 then 4 else 0 end)::INT as width,
                   (case when doc_id % 2 = 0 then n // 12 else 0 end)::INT
                     as height,
                   (case when doc_id % 2 = 1 then n else 0 end)::BIGINT
                     as n_frames,
                   (case when doc_id % 2 = 1 then 8000 else 0 end)::INT
                     as framerate,
                   case when doc_id % 2 = 0
                        then md5(substring(text, 1, ((n // 12) * 12)::INT))
                        else md5(text) end as payload_md5
            from t
            where doc_id % 2 = 1 or n >= 12
        """,
        "stateful_schedule": """
            with recursive cand as (
              select 'h' || (user_id % 20)::VARCHAR as host,
                     'u' || event_id::VARCHAR as url,
                     (event_id % 100)::DOUBLE as arrival_ts,
                     (1 + user_id % 3)::DOUBLE as delay
              from events),
            ord as (
              select host, url, arrival_ts, delay,
                     row_number() over
                       (partition by host order by arrival_ts, url) as rn
              from cand),
            sched as (
              select host, url, arrival_ts, delay, rn,
                     arrival_ts as attempt_ts,
                     arrival_ts + delay as next_free
              from ord where rn = 1
              union all
              select o.host, o.url, o.arrival_ts, o.delay, o.rn,
                     greatest(o.arrival_ts, s.next_free) as attempt_ts,
                     greatest(o.arrival_ts, s.next_free) + o.delay as next_free
              from ord o join sched s on o.host = s.host and o.rn = s.rn + 1)
            select host, url, arrival_ts, round(attempt_ts, 6) as attempt_ts
            from sched
        """,
        # HLL/CMS sketches share the md5-prefix 32-bit hash family, so
        # every register is reproduced bit-for-bit; the estimate's
        # harmonic sum is a sum of exact powers of two (order-safe) and
        # 47072.71267120224 is repr(0.7213/(1+1.079/256)*65536), the
        # same double Spark uses (sketches._ALPHA_MM_256)
        "hll_registers": """
            with h as (
              select event_type,
                     cast(('0x' || substr(md5('hll' || '|' ||
                       cast(user_id as varchar)), 1, 8))::UBIGINT as bigint)
                       as hv
              from events),
            r as (
              select event_type, hv % 256 as bucket,
                     case when hv // 256 = 0 then 25
                          else cast(log2((hv // 256) & -(hv // 256)) as int)
                               + 1 end as rho
              from h)
            select event_type, bucket, max(rho) as rho
            from r group by event_type, bucket
        """,
        "hll_estimate": """
            with h as (
              select event_type,
                     cast(('0x' || substr(md5('hll' || '|' ||
                       cast(user_id as varchar)), 1, 8))::UBIGINT as bigint)
                       as hv
              from events),
            r as (
              select event_type, hv % 256 as bucket,
                     case when hv // 256 = 0 then 25
                          else cast(log2((hv // 256) & -(hv // 256)) as int)
                               + 1 end as rho
              from h),
            regs as (select event_type, bucket, max(rho) as rho
                     from r group by event_type, bucket),
            agg as (select event_type, count(*) as n_hit,
                           sum(power(2.0, -rho)) as s
                    from regs group by event_type),
            est as (select event_type, n_hit,
                           256.0 - cast(n_hit as double) as v,
                           47072.71267120224 /
                             (s + (256.0 - cast(n_hit as double))) as raw
                    from agg),
            x as (select event_type,
                         count(distinct cast(user_id as varchar))
                           as exact_distinct
                  from events group by event_type)
            select e.event_type, e.n_hit, x.exact_distinct,
                   round(case when e.raw <= 640.0 and e.v > 0
                              then 256.0 * ln(256.0 / e.v)
                              else e.raw end, 4) as estimate
            from est e join x using (event_type)
        """,
        "cms_registers": """
            with words as (select unnest(string_split(text, ' ')) as w
                           from documents),
            cells as (
              select r, cast(('0x' || substr(md5('cms' ||
                       cast(r as varchar) || '|' || w), 1, 8))::UBIGINT % 256
                       as bigint) as c
              from words cross join (values (0),(1),(2),(3)) t(r))
            select r, c, count(*) as cnt from cells group by r, c
        """,
        "cms_topk_est": """
            with words as (select unnest(string_split(text, ' ')) as w
                           from documents),
            exact as (select w, count(*) as exact_cnt
                      from words group by w),
            probes as (select w, exact_cnt from exact
                       order by exact_cnt desc, w limit 20),
            cells as (
              select r, c, count(*) as cnt from (
                select r, cast(('0x' || substr(md5('cms' ||
                         cast(r as varchar) || '|' || w), 1, 8))::UBIGINT
                         % 256 as bigint) as c
                from words cross join (values (0),(1),(2),(3)) t(r))
              group by r, c),
            pc as (
              select p.w, p.exact_cnt, t.r,
                     cast(('0x' || substr(md5('cms' ||
                       cast(t.r as varchar) || '|' || p.w), 1, 8))::UBIGINT
                       % 256 as bigint) as c
              from probes p cross join (values (0),(1),(2),(3)) t(r))
            select w, exact_cnt, cms_est, cms_est - exact_cnt as overcount
            from (select pc.w, pc.exact_cnt, min(cells.cnt) as cms_est
                  from pc join cells using (r, c)
                  group by pc.w, pc.exact_cnt)
        """,
        "hdr_quantiles": """
            with b as (
              select source,
                     cast(case when n_chars < 16 then n_chars
                          else ((length(bin(n_chars)) - 1) - 4 + 1) * 16
                               + ((n_chars >> ((length(bin(n_chars)) - 1) - 4))
                                  - 16)
                          end as bigint) as bucket
              from documents),
            h as (select source, bucket, count(*) as cnt
                  from b group by source, bucket),
            c as (select source, bucket, cnt,
                         cast(sum(cnt) over (partition by source
                                             order by bucket) as bigint) as cum,
                         cast(sum(cnt) over (partition by source) as bigint)
                           as n
                  from h),
            qv as (select unnest([0.5, 0.9, 0.99]) as q,
                          unnest([5000, 9000, 9900]) as pm),
            sel as (
              select c.source, cast(qv.q as double) as q, c.n, c.bucket,
                     row_number() over (partition by c.source, qv.q
                                        order by c.bucket) as rn
              from c cross join qv
              where c.cum >= greatest((qv.pm * c.n + 9999) // 10000, 1))
            select source, q,
                   cast(case when bucket < 16 then bucket
                        else (16 + (bucket % 16))
                             * (1::bigint << cast((bucket // 16) - 1 as int))
                        end as bigint) as est,
                   n
            from sel where rn = 1
        """,
        "robots_gate": """
            with u as (
              select doc_id, source,
                     '/doc/' || doc_id::VARCHAR ||
                       (case when doc_id % 7 = 0 then '.pdf' else '' end)
                       as path
              from documents)
            select doc_id, source,
                   case
                     when source in ('src0','src4','src8','src12','src16')
                       then (case when path like '/doc/12%' then true
                                  when path like '/doc/1%' then false
                                  else true end)
                     when source in ('src1','src5','src9','src13','src17')
                       then false
                     when source in ('src2','src6','src10','src14','src18')
                       then path not like '/doc/7%'
                     else true
                   end as allowed
            from u
        """,
        "politeness_schedule": """
            select user_id, event_id,
                   event_type in ('click','purchase') as accessed,
                   round(
                     min(epoch(ts)) over (partition by user_id)
                     + coalesce(sum(case when event_type in
                         ('click','purchase') then 1 else 0 end) over
                         (partition by user_id order by ts, event_id
                          rows between unbounded preceding
                          and 1 preceding), 0)::BIGINT
                       * (1 + user_id % 5)::DOUBLE,
                     6) as attempt_ts
            from events
        """,
        "budget_landing": """
            select event_id, user_id, (cum + 1)::BIGINT as fetch_no
            from (select event_id, user_id, event_type,
                         coalesce(sum(case when event_type = 'purchase'
                             then 1 else 0 end) over
                             (order by ts, event_id rows between
                              unbounded preceding and 1 preceding),
                           0)::BIGINT as cum
                  from events)
            where event_type = 'purchase' and cum < 100
        """,
        "sessionize": """
            with g as (
              select user_id, ts,
                     epoch(ts) - epoch(lag(ts) over
                       (partition by user_id order by ts, event_id)) as gap
              from events)
            select user_id,
                   sum(case when gap is null or gap > 1800 then 1 else 0 end)::BIGINT
                     as n_sessions,
                   count(*) as n_events
            from g group by user_id
        """,
        "tumbling_events": """
            select date_trunc('hour', ts) as hour, event_type,
                   count(*) as n, round(sum(value), 4) as total_value
            from events group by 1, 2
        """,
        "json_props": """
            select event_type,
                   sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT as sum_k,
                   max(json_extract_string(props, '$.k')::BIGINT)::BIGINT as max_k
            from events group by event_type
        """,
    }
