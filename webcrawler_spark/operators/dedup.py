"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Large-scale training-data pipelines dedup at three cost tiers; each is
implemented Spark-first (native expressions; shuffles only on the keys
that need them) and — except where noted — reproducibly enough that a
DuckDB ANSI-SQL oracle computes identical rows (the md5-based hash
family is used precisely because both engines share it bit-for-bit;
xxhash64 exists only in Spark). Each near-duplicate law has one
implementation, the md5-family one the oracles replay.

Scale notes (100 TB corpus):
* exact dedup is one hash-aggregate: map-side partial min/count, one
  shuffle on the 128-bit digest.
* MinHash/LSH shuffles once on (band_id, band_min) — candidate pairs
  only materialize within a bucket, never the full cross join.
* SimHash joins on 8-bit sub-bands of the 32-bit fingerprint
  (pigeonhole: hamming ≤ 3 ⇒ at least one of 4 bytes equal), so the
  near-dup join is also bucket-local.
* n-gram Jaccard is the verification tier, run on LSH candidates only;
  the standalone pairwise form here is for small corpora / oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from webcrawler_spark.operators.textstats import fingerprint, sliding_ngrams

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_duplicate_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per distinct content hash: keeper id + group size.

    ``keeper`` is the smallest id (deterministic survivor policy).
    """
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper"),
            F.count("*").alias("n_docs"),
        )
    )


def drop_exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep only the keeper row of every content-hash group."""
    keepers = exact_duplicate_groups(df, id_col, text_col).select(
        F.col("keeper").alias(id_col)
    )
    return df.join(keepers, id_col, "left_semi")


# ---------------------------------------------------------------------------
# shingles
# ---------------------------------------------------------------------------


def word_shingles(text: Column, n: int = 3) -> Column:
    """Word n-grams as an array<string> (space-joined), deduplicated.
    Linear-time construction (textstats.sliding_ngrams) — the naive
    slice-per-gram form is O(len²) per document and collapsed the
    minhash signature stage on 4k-word crawl pages."""
    return F.array_distinct(sliding_ngrams(F.split(text, " "), n))


def explode_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingle) rows — the hot corpus path every LSH/Jaccard tier
    starts from. Gram construction goes through ml.feature.NGram: all
    of Spark's higher-order array lambdas (transform/zip_with) are
    CodegenFallback — interpreted per ELEMENT, measured ~3 µs/gram —
    while NGram is one compiled Scala closure per row (round-4
    scale-stress: the 126k×4.2k-word signature stage dropped ~5×).
    Output shingle SET is identical to word_shingles (same " " join,
    same <n-word → zero rows), so every oracle is unaffected."""
    from pyspark.ml.feature import NGram

    grams = NGram(n=n, inputCol="__w", outputCol="__sh").transform(
        df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__w"))
    )
    return grams.select(
        F.col(id_col),
        F.explode(F.array_distinct("__sh")).alias("shingle"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 1,
) -> DataFrame:
    """One row per (doc, band): band_min = the concatenation of
    ``rows_per_band`` minhashes, each min over shingles of
    md5(band.row || '|' || shingle).

    The md5-with-salt family is shared verbatim by the DuckDB oracle
    (which replays the default ``rows_per_band=1``). One shuffle: the
    per-doc aggregate.

    ``rows_per_band`` is the LSH S-curve knob (Broder/MMDS banding):
    a band collides with probability J^rows_per_band, so 1-row bands
    admit ~bands·J false candidates — measured at the round-4 scale
    stress: 126k crawl docs at J≈2·10⁻⁴ background similarity yielded
    4.5M junk candidate pairs whose Jaccard-verify join would dwarf
    the real work. At corpus scale run 2-3 rows per band (J³ kills
    the background while J≈1 true dups still collide); the oracle
    tier keeps 1 for replayability, and the two tiers are
    row-identical on every pair the stricter one emits (subset law —
    guaranteed by construction, because row 0 of every band reuses the
    1-row tier's salt, so a strict collision implies the loose band
    collides; tested)."""
    sh = explode_shingles(df, id_col, text_col, n)
    mins = [
        F.concat_ws(
            "|",
            *[
                F.min(
                    F.md5(
                        F.concat(
                            # row 0 keeps the 1-row tier's salt str(b), so
                            # the strict family is a true SUPERSET of the
                            # loose one: a strict band collision forces
                            # agreement on the row-0 minhash, which IS the
                            # loose band_min — subset law holds by
                            # construction, not just on fixtures
                            F.lit(str(b) if r == 0 else f"{b}.{r}"),
                            F.lit("|"),
                            F.col("shingle"),
                        )
                    )
                )
                for r in range(rows_per_band)
            ],
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    sig = sh.groupBy(id_col).agg(*mins)
    stack_expr = ", ".join(f"'{b}', band{b}" for b in range(bands))
    return sig.selectExpr(
        id_col, f"stack({bands}, {stack_expr}) as (band_id, band_min)"
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 1,
) -> DataFrame:
    """Distinct (a, b) with a < b sharing ≥1 MinHash band bucket.

    The join key is (band_id, band_min): Jaccard-similar docs collide
    with high probability; the full doc×doc cross join never exists.
    ``rows_per_band`` — see minhash_signatures (the S-curve knob).
    """
    sig = minhash_signatures(df, id_col, text_col, n, bands, rows_per_band)
    left = sig.select(
        F.col(id_col).alias("a"), "band_id", "band_min"
    )
    right = sig.select(
        F.col(id_col).alias("b"), "band_id", "band_min"
    )
    return (
        left.join(right, ["band_id", "band_min"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (verification tier)
# ---------------------------------------------------------------------------


def _shingle_sizes(sh: DataFrame, id_col: str) -> DataFrame:
    """(id, sz): distinct-shingle count per doc of an exploded table."""
    return sh.groupBy(id_col).agg(F.count("*").alias("sz"))


def _candidate_intersections(
    cand: DataFrame, sh: DataFrame, id_col: str
) -> DataFrame:
    """(a, b, inter) over DISTINCT candidate pairs: each pair joins only
    its own two shingle lists, so rows are Σ|shingles(a)| over the
    candidates and the corpus never self-joins (a hot shingle cannot
    explode the plan the way a shingle-keyed self-join can)."""
    return (
        cand.join(sh.select(F.col(id_col).alias("a"), "shingle"), "a")
        .join(sh.select(F.col(id_col).alias("b"), "shingle"), ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )


def _jaccard_rows(
    inter: DataFrame, sizes: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """(a, b, jaccard ≥ threshold): the union by inclusion-exclusion,
    rounded to 6 decimals HALF_UP (``F.round``, as DuckDB's round)."""
    return (
        inter.join(sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sza")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("szb")), "b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """(a, b, jaccard) for pairs with shingle-set Jaccard ≥ threshold.

    Self-join on shingle → pair intersection counts; per-doc set sizes
    give the union by inclusion-exclusion. Exact (not sketched).
    """
    sh = explode_shingles(df, id_col, text_col, n)
    inter = (
        sh.select(F.col(id_col).alias("a"), "shingle")
        .join(sh.select(F.col(id_col).alias("b"), "shingle"), "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    return _jaccard_rows(inter, _shingle_sizes(sh, id_col), id_col, threshold)


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Directional shingle containment c(a→b) = |S(a) ∩ S(b)| / |S(a)|
    (Broder 1997, "On the resemblance and containment of documents" —
    the asymmetric companion to Jaccard resemblance): (a, b,
    containment) rows with c ≥ threshold, both directions.

    Containment catches the duplicate class symmetric dedup misses: a
    30-word quote embedded in a 3,000-word page has Jaccard ≈ 1% (far
    under any resemblance cut) but containment ≈ 100% from the quote's
    side — the aggregator/quotation/boilerplate-wrapper pattern a web
    corpus is full of.

    Tiers, same contract as jaccard_pairs: with ``candidates=None``
    the exact shingle self-join runs — the small-corpus/ORACLE tier.
    At scale pass ``candidates`` (a, b) — e.g. LSH buckets keyed on
    the SMALLER side's bands, or inverted-index postings — and the
    intersection count is candidate-bounded: shingles join only
    against candidate pairs, the corpus never self-joins. Both tiers
    are row-identical on pairs the candidate set contains
    (tested)."""
    sh = explode_shingles(df, id_col, text_col, n)
    sizes = _shingle_sizes(sh, id_col)
    if candidates is None:
        inter = (
            sh.select(F.col(id_col).alias("a"), "shingle")
            .join(sh.select(F.col(id_col).alias("b"), "shingle"), "shingle")
            .filter(F.col("a") != F.col("b"))
            .groupBy("a", "b")
            .agg(F.count("*").alias("inter"))
        )
    else:
        # LSH bucket joins emit a pair once per colliding band — distinct
        # first, or the intersection count multiplies by the band count
        # and containment can exceed 1 (breaking exact-tier row-identity).
        inter = _candidate_intersections(
            candidates.select("a", "b").distinct(), sh, id_col
        )
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sza")), "a"
        )
        .withColumn("containment", F.round(F.col("inter") / F.col("sza"), 6))
        .filter(F.col("containment") >= threshold)
        .select("a", "b", "containment")
    )


def near_duplicate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 4,
    threshold: float = 0.5,
    rows_per_band: int = 1,
) -> DataFrame:
    """Composed dedup pipeline: LSH candidates → exact Jaccard verify.

    This is the form a 100 TB dedup actually runs: the shingle table is
    NEVER self-joined. The candidate pair set is fixed first (banded
    MinHash bucket join, :func:`lsh_candidate_pairs`), then each
    candidate's intersection is counted by joining the pair list
    against each side's exploded shingles (candidate-bounded, the same
    count ``containment_pairs(candidates=…)`` takes), and the Jaccard
    is rounded and cut exactly as in :func:`jaccard_pairs`.

    Output equals ``jaccard_pairs`` restricted to the LSH candidate
    set: (a, b, jaccard) with jaccard ≥ threshold (a hypothesis
    property in tests/test_tier_equivalence.py).
    """
    cand = lsh_candidate_pairs(df, id_col, text_col, n, bands, rows_per_band)
    sh = explode_shingles(df, id_col, text_col, n)
    return _jaccard_rows(
        _candidate_intersections(cand, sh, id_col),
        _shingle_sizes(sh, id_col),
        id_col,
        threshold,
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32  # 32-bit md5-derived word hashes (oracle-shareable)


def _word_hash(word: Column) -> Column:
    """First 8 hex chars of md5 → uint32 (same in DuckDB)."""
    return F.conv(F.substring(F.md5(word), 1, 8), 16, 10).cast("long")


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash:long) — classic Charikar sketch over word hashes.

    For each bit position, sum +1/-1 over the document's (distinct)
    words; the sign vector packs into a 32-bit fingerprint. One explode
    + one hash-aggregate; everything stays in codegen.
    """
    words = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("w"),
    ).withColumn("h", _word_hash(F.col("w")))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"s{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = words.groupBy(id_col).agg(*bit_sums)
    fp = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return agg.select(F.col(id_col), fp.cast("long").alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """(a, b, hamming) pairs with hamming(simhash) ≤ max_hamming.

    Pigeonhole banding: a 32-bit key split into 4 bytes; hamming ≤ 3
    forces at least one byte to match exactly, so candidates join on
    (byte_idx, byte_val) — no cross join — then verify with xor+popcount
    (:func:`hamming_near_pairs`, which rejects ``max_hamming ≥ 4``: two
    fingerprints 4 bits apart can differ in every byte).
    """
    return hamming_near_pairs(
        simhash(df, id_col, text_col),
        id_col=id_col,
        hash_col="simhash",
        max_hamming=max_hamming,
        n_bands=4,
        bits=SIMHASH_BITS,
    )


def duplicated_ngrams(
    df: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    native_hash: bool = False,
) -> DataFrame:
    """Exact-substring duplication stats per document: (doc_id,
    n_grams, dup_grams, dup_gram_frac).

    The Spark re-expression of suffix-array exact-substring dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): a k-token window is *duplicated* if its exact
    token sequence occurs ≥ 2 times anywhere in the corpus (same or
    another document). dup_gram_frac ≈ the fraction of the document
    covered by memorization-prone repeated spans; Lee et al. cut spans
    with k = 50 BPE tokens — here k counts whitespace tokens.

    Plan shape at scale: each doc explodes to (n_tokens - k + 1) gram
    hashes (never materializing gram *text* off the row — the hash is
    computed inside the per-row array transform), one hash aggregate
    on gram hash to count occurrences, a broadcast-or-shuffle join
    back, and a per-doc aggregate. No self-joins; the gram table is
    the same O(corpus tokens) size MinHash shingling already pays.

    ``native_hash=True`` swaps the md5-prefix gram hash (DuckDB-
    shareable oracle tier) for xxhash64 (JVM codegen, no hex string
    round-trip) — the production tier; pair sets are identical except
    for 32-bit-prefix collisions (~1e-10 at 10^5 grams).
    """
    # Linear gram build: the old transform(sequence(1, n-k+1),
    # i -> hash(concat_ws(slice(toks, i, k)))) re-evaluates the
    # split-inside-the-lambda PER ELEMENT (higher-order lambdas are
    # interpreted, no subexpression reuse) — O(n_tokens²) per doc,
    # the same class as the round-4 shingle bug. sliding_ngrams is
    # one linear pass; the hash lambda then touches only its element.
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    if native_hash:
        gram_hash = lambda g: F.xxhash64(g)
    else:
        gram_hash = lambda g: F.conv(
            F.substring(F.md5(g), 1, 8), 16, 10
        ).cast("long")
    grams_arr = F.transform(sliding_ngrams(toks, k), gram_hash)
    grams = df.select(
        F.col(id_col), F.explode(grams_arr).alias("g")
    )
    occ = grams.groupBy("g").agg(F.count("*").alias("occ"))
    per_doc = (
        grams.join(occ, "g")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("occ") >= 2).cast("long")).alias("dup_grams"),
        )
    )
    # left join keeps docs shorter than k tokens (zero grams)
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("dup_grams", F.lit(0)).alias("dup_grams"),
            F.when(
                F.coalesce("n_grams", F.lit(0)) > 0,
                F.round(F.col("dup_grams") / F.col("n_grams"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_gram_frac"),
        )
    )


# ---------------------------------------------------------------------------
# incremental dedup (batch vs. persisted signature store)
# ---------------------------------------------------------------------------


def incremental_lsh_matches(
    new_df: DataFrame,
    store_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 4,
) -> DataFrame:
    """(new_id, corpus_id) pairs: new-batch docs that LSH-collide with
    the persisted corpus signature store.

    This is the form a continuously-growing corpus actually dedups: the
    pipeline stores only ``minhash_signatures`` rows
    (doc_id, band_id, band_min — a few dozen bytes/doc) per ingested
    batch, and each new batch joins its freshly computed signatures
    against the store. The corpus *text* is never re-read or
    re-shingled, and the join is strictly new×store on
    (band_id, band_min) — no new×new and no store×store pairs ever
    materialize, so per-round cost is O(|batch|) + one bucket join
    regardless of corpus size. Mirrors the crawl's own URL-seen
    anti-join (engine.py J1) at the document-content level; reference
    parity: the same "skip what the corpus already has" semantics the
    reference's seen-set enforces for URLs (Host.py:190-194), lifted
    to near-duplicate page content.

    Scale notes (100 TB corpus, per-batch):
    * signature computation touches only the new batch (one shuffle);
    * the store side is pre-bucketed by (band_id, band_min) — written
      bucketed/partitioned on that key, the join is co-located and
      only the buckets the batch actually hits are scanned;
    * output is candidate pairs; pipe through the ``near_duplicate_
      pairs`` verification join when exact Jaccard is required (needs
      shingles, i.e. only the *batch* side's text).
    """
    new_sigs = minhash_signatures(new_df, id_col, text_col, n, bands)
    left = new_sigs.select(
        F.col(id_col).alias("new_id"), "band_id", "band_min"
    )
    right = store_sigs.select(
        F.col(id_col).alias("corpus_id"), "band_id", "band_min"
    )
    return (
        left.join(right, ["band_id", "band_min"])
        .select("new_id", "corpus_id")
        .distinct()
    )


def incremental_dedup_batch(
    new_df: DataFrame,
    store_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """(kept_new_docs, kept_new_sigs): drop new-batch docs that collide
    with the store; return the survivors' signatures for appending.

    The append keeps the store an exact union of every kept batch's
    signatures, so the next round's ``incremental_lsh_matches`` sees
    all prior survivors. Anti-join on the match set — one extra
    shuffle on id beyond the bucket join.
    """
    matches = incremental_lsh_matches(
        new_df, store_sigs, id_col, text_col, n, bands
    )
    dropped = matches.select(F.col("new_id").alias(id_col)).distinct()
    kept = new_df.join(dropped, id_col, "left_anti")
    kept_sigs = minhash_signatures(kept, id_col, text_col, n, bands)
    return kept, kept_sigs


def remove_duplicate_spans(
    df: DataFrame,
    k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    native_hash: bool = False,
) -> DataFrame:
    """Exact-substring span REMOVAL (the cut step of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"):
    every k-token window whose exact token sequence occurs >=
    ``min_count`` times in the corpus is cut out of the document;
    overlapping/adjacent duplicated windows merge into maximal spans
    first so each removed token is cut exactly once.

    ``duplicated_ngrams`` (above) is the stats tier of the same
    construction; this is the transform tier. Lee et al. build one
    corpus-wide suffix array — inherently single-machine; the Spark
    re-expression gets the identical span set from the k-gram
    multiplicity table (a window is in a duplicated suffix overlap of
    length >= k iff its k-gram occurs twice), which is a hash
    aggregate instead of a global sort.

    Output: (id, clean_text, n_tokens, n_removed, n_spans).

    Plan shape at 100 TB: explode to (doc, pos, gram_hash) — gram TEXT
    never leaves the row, only the 8-byte hash; one hash aggregate on
    gram_hash for multiplicities (map-side partial agg); a semi-join
    back (broadcast when the dup-hash set is small, AQE decides); span
    merging is a per-doc window over only the DUPLICATED positions
    (equal-length windows make islands a lag test: a new span starts
    when pos > prev_pos + k); reconstruction joins the <= 1 span-list
    row per doc back to the corpus. The per-token span-membership
    lambda is O(n_tokens x n_spans) per doc — spans are disjoint with
    >= 1 token gaps so n_spans < n_tokens / k; worst case stays
    linear-ish in practice and never leaves codegen.
    """
    from pyspark.sql.window import Window

    # linear gram build — see duplicated_ngram_stats for why the
    # slice-per-gram lambda form is O(n_tokens²)
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    if native_hash:
        gram_hash = lambda g: F.xxhash64(g)
    else:
        gram_hash = lambda g: F.conv(
            F.substring(F.md5(g), 1, 8), 16, 10
        ).cast("long")
    grams_arr = F.transform(sliding_ngrams(toks, k), gram_hash)
    grams = df.select(
        F.col(id_col), F.posexplode(grams_arr).alias("pos0", "gh")
    ).select(id_col, (F.col("pos0") + 1).alias("pos"), "gh")

    dup_hashes = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("gh")
    )
    dup_pos = grams.join(dup_hashes, "gh", "left_semi")

    w_ord = Window.partitionBy(id_col).orderBy("pos")
    isl = dup_pos.withColumn(
        "brk",
        F.when(
            F.lag("pos").over(w_ord).isNull()
            | (F.col("pos") > F.lag("pos").over(w_ord) + k),
            1,
        ).otherwise(0),
    ).withColumn("island", F.sum("brk").over(w_ord))
    spans = isl.groupBy(id_col, "island").agg(
        F.min("pos").cast("long").alias("s"),
        (F.max("pos") + k - 1).cast("long").alias("e"),
    )
    span_lists = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("s", "e")).alias("spans"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("n_removed"),
    )

    joined = df.join(span_lists, id_col, "left")
    spans_col = F.coalesce(
        F.col("spans"), F.array().cast("array<struct<s:bigint,e:bigint>>")
    )
    keep_idx = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: ~F.exists(
            spans_col, lambda sp: (i >= sp["s"]) & (i <= sp["e"])
        ),
    )
    clean = F.array_join(
        F.transform(keep_idx, lambda i: F.element_at(toks, i)), " "
    )
    return joined.select(
        F.col(id_col),
        clean.alias("clean_text"),
        n.cast("long").alias("n_tokens"),
        F.coalesce(F.col("n_removed"), F.lit(0)).cast("long").alias("n_removed"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
    )


def hamming_near_pairs(
    hashes: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "h",
    max_hamming: int = 3,
    n_bands: int = 4,
    bits: int = 64,
) -> DataFrame:
    """Generic pigeonhole band join for ANY 64-bit-or-less fingerprint
    column: (a, b, hamming) pairs with hamming ≤ max_hamming. Clients:
    :func:`simhash_near_pairs` (32 bits, 4 byte bands), image dHash and
    the audio fingerprint in operators/multimodal.py. max_hamming <
    n_bands guarantees one band matches exactly, so candidates come
    from an equi-join on (band_idx, band_val) — never a cross join —
    and the exact popcount verify is candidate-bounded."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"pigeonhole guarantee needs max_hamming < n_bands"
            f" (got {max_hamming} >= {n_bands})"
        )
    if bits % n_bands:
        raise ValueError(f"n_bands {n_bands} must divide {bits}")
    width = bits // n_bands
    mask = (1 << width) - 1
    banded = hashes.select(
        F.col(id_col),
        F.col(hash_col).alias("_fp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftrightunsigned(F.col(hash_col), width * i)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "_fp", "band.band_idx", "band.band_val")
    left = banded.select(
        F.col(id_col).alias("a"), F.col("_fp").alias("ha"), "band_idx", "band_val"
    )
    right = banded.select(
        F.col(id_col).alias("b"), F.col("_fp").alias("hb"), "band_idx", "band_val"
    )
    return (
        left.join(right, ["band_idx", "band_val"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.bit_count(F.expr("ha ^ hb")).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
