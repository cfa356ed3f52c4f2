"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Large-scale training-data pipelines dedup at three cost tiers; each is
implemented Spark-first (native expressions; shuffles only on the keys
that need them) and — except where noted — reproducibly enough that a
DuckDB ANSI-SQL oracle computes identical rows (the md5-based hash
family is used precisely because both engines share it bit-for-bit;
xxhash64 exists only in Spark).

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

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from webcrawler_spark.operators.textstats import fingerprint, sliding_ngrams

_MICRO = Decimal("0.000001")  # the verify tiers' 6-decimal Jaccard rounding

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


def _splitmix64(x: int) -> int:
    """Deterministic 64-bit mix (Steele/Lea/Flood splitmix64, public
    domain) — derives the per-lane affine constants below without any
    runtime RNG state."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def _lane_consts(b: int, r: int) -> tuple[int, int]:
    """(multiplier, offset) for band ``b`` row ``r``. Keyed so the r=0
    lane is identical for every rows_per_band — the subset law (strict
    collision ⇒ loose collision) holds in this tier by construction,
    same as the md5 tier's shared row-0 salt."""
    key = (b << 20) | r
    a = _splitmix64(key * 2 + 1) | 1  # odd ⇒ bijective mod 2^64
    c = _splitmix64(key * 2 + 2)
    return a, c


def minhash_signatures_arrow(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 1,
) -> DataFrame:
    """SCALE tier of :func:`minhash_signatures`: identical output
    shape (one (doc, band_id, band_min) row per band), computed in ONE
    Arrow ``mapInPandas`` pass with ZERO shuffle.

    Why it exists (round-4 scale stress): the md5/oracle tier explodes
    every shingle (~5·10⁸ rows on the 126k-doc crawl corpus) and runs
    ``bands`` md5 minimums through a corpus-wide hash aggregate —
    correct, map-side-combined, but the single most expensive stage in
    the system (145.7 s for candidates on that corpus). Here each task
    computes its partitions' signatures in-row: vectorized shingle
    construction + ONE siphash per distinct shingle
    (``pandas.util.hash_array``, Cython, deterministic fixed key) and
    ``bands × rows_per_band`` affine lanes h(s) = a·x + c (mod 2⁶⁴)
    over that base hash — the classic one-hash-many-permutations
    MinHash (Broder 1997). Nothing leaves the task but the tiny
    signature rows.

    The hash family necessarily differs from the DuckDB-replayable md5
    family, so this tier is NOT the oracle tier; the composed
    ``near_duplicate_pairs`` output is parity-tested against the exact
    tier (candidates are verified by exact Jaccard either way, so tier
    choice only moves the recall knee, and planted near-dups collide
    under both)."""
    import numpy as np
    import pandas as pd
    from pandas.util import hash_array

    consts = [
        _lane_consts(b, r) for b in range(bands) for r in range(rows_per_band)
    ]
    a_vec = np.array([a for a, _ in consts], dtype=np.uint64)
    c_vec = np.array([c for _, c in consts], dtype=np.uint64)
    id_field = df.schema[id_col]

    def gen(batches):
        for pdf in batches:
            ids, bids, mins = [], [], []
            for i, txt in zip(pdf[id_col].values, pdf[text_col].values):
                if txt is None:
                    continue
                words = txt.split(" ")
                if len(words) < n:
                    continue
                shingles = {
                    " ".join(words[j : j + n])
                    for j in range(len(words) - n + 1)
                }
                base = hash_array(
                    np.array(list(shingles), dtype=object)
                ).astype(np.uint64)
                # lanes: (k, n_shingles) affine images, wrap mod 2^64
                lanes = (
                    base[None, :] * a_vec[:, None] + c_vec[:, None]
                ).min(axis=1)
                for b in range(bands):
                    row = lanes[b * rows_per_band : (b + 1) * rows_per_band]
                    ids.append(i)
                    bids.append(str(b))
                    mins.append("|".join(format(int(v), "016x") for v in row))
            yield pd.DataFrame(
                {id_col: ids, "band_id": bids, "band_min": mins}
            )

    out_schema = (
        f"{id_col} {id_field.dataType.simpleString()},"
        " band_id string, band_min string"
    )
    return df.select(id_col, text_col).mapInPandas(gen, out_schema)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 1,
    signature_tier: str = "exact",
) -> DataFrame:
    """Distinct (a, b) with a < b sharing ≥1 MinHash band bucket.

    The join key is (band_id, band_min): Jaccard-similar docs collide
    with high probability; the full doc×doc cross join never exists.
    ``rows_per_band`` — see minhash_signatures (the S-curve knob).
    ``signature_tier`` — "exact" (md5 family, DuckDB-replayable) or
    "arrow" (one zero-shuffle Arrow pass; see
    :func:`minhash_signatures_arrow`).
    """
    sigfn = (
        minhash_signatures_arrow
        if signature_tier == "arrow"
        else minhash_signatures
    )
    sig = sigfn(df, id_col, text_col, n, bands, rows_per_band)
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
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    inter = (
        sh.select(F.col(id_col).alias("a"), "shingle")
        .join(sh.select(F.col(id_col).alias("b"), "shingle"), "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
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
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
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
        inter = (
            candidates.select("a", "b").distinct()
            .join(sh.select(F.col(id_col).alias("a"), "shingle"), "a")
            .join(sh.select(F.col(id_col).alias("b"), "shingle"), ["b", "shingle"])
            .groupBy("a", "b")
            .agg(F.count("*").alias("inter"))
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
    signature_tier: str = "exact",
    verify_tier: str = "exact",
) -> DataFrame:
    """Composed dedup pipeline: LSH candidates → exact Jaccard verify.

    This is the form a 100 TB dedup actually runs: the shingle table is
    NEVER self-joined. The candidate pair set is fixed first (banded
    MinHash bucket join, candidate-bounded), then exact Jaccard is
    computed per candidate pair by one of two tiers:

    * ``verify_tier="exact"`` (oracle tier): intersection counts via
      joining the pair list against each side's exploded shingles —
      row counts are Σ|shingles(a)| over candidate pairs, so a hot
      shingle key cannot explode the plan the way the standalone
      ``jaccard_pairs`` self-join can, but every candidate's shingles
      are still exploded and shuffled.
    * ``verify_tier="arrow"`` (scale tier): both texts join onto the
      (tiny) pair list — two scan-shaped broadcast joins, the corpus
      never shuffles — and one Arrow ``mapInPandas`` pass computes the
      shingle sets and exact Jaccard in-row. Zero exploded rows; the
      per-pair work is O(|a| + |b|). The Jaccard VALUE is identical
      math (distinct-shingle sets, round 6), so given the same
      candidates the two tiers are row-identical (tested).

    Output matches ``jaccard_pairs`` restricted to the LSH candidate
    set: (a, b, jaccard) with jaccard ≥ threshold.
    """
    cand = lsh_candidate_pairs(
        df, id_col, text_col, n, bands, rows_per_band, signature_tier
    )
    if verify_tier == "arrow":
        return _jaccard_verify_arrow(df, cand, id_col, text_col, n, threshold)
    sh = explode_shingles(df, id_col, text_col, n)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    inter = (
        cand.join(sh.select(F.col(id_col).alias("a"), "shingle"), "a")
        .join(sh.select(F.col(id_col).alias("b"), "shingle"), ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sza")), "a"
        )
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


def _jaccard_verify_arrow(
    df: DataFrame,
    cand: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
) -> DataFrame:
    """Arrow verify tier: join both texts onto the candidate pairs
    (scan-shaped — the pair list is the small side of both joins),
    then one in-row pass computes |A∩B| / |A∪B| over the distinct
    word-shingle sets. Candidate pairs after banding are rare
    (S-curve), so the pair×text table is tiny even when the corpus is
    not."""
    import pandas as pd

    texts_a = df.select(
        F.col(id_col).alias("a"), F.col(text_col).alias("_ta")
    )
    texts_b = df.select(
        F.col(id_col).alias("b"), F.col(text_col).alias("_tb")
    )
    paired = cand.join(texts_a, "a").join(texts_b, "b")

    def gen(batches):
        for pdf in batches:
            out_a, out_b, out_j = [], [], []
            for a, b, ta, tb in zip(
                pdf["a"].values, pdf["b"].values,
                pdf["_ta"].values, pdf["_tb"].values,
            ):
                wa = ta.split(" ") if ta is not None else []
                wb = tb.split(" ") if tb is not None else []
                sa = {
                    " ".join(wa[i : i + n]) for i in range(len(wa) - n + 1)
                }
                sb = {
                    " ".join(wb[i : i + n]) for i in range(len(wb) - n + 1)
                }
                union = len(sa | sb)
                if union == 0:
                    continue
                # HALF_UP on the double's shortest decimal string, like
                # the exact tier's F.round (Scala BigDecimal(d)): Python's
                # round() is half-even (65/128 would give 0.507812), and
                # scaling by 1e6 first is inexact (323/640 = 0.5046875
                # would give 0.504687)
                j = float(
                    Decimal(repr(len(sa & sb) / union)).quantize(
                        _MICRO, ROUND_HALF_UP
                    )
                )
                if j >= threshold:
                    out_a.append(a)
                    out_b.append(b)
                    out_j.append(j)
            yield pd.DataFrame({"a": out_a, "b": out_b, "jaccard": out_j})

    id_t = df.schema[id_col].dataType.simpleString()
    return paired.mapInPandas(
        gen, f"a {id_t}, b {id_t}, jaccard double"
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
    (byte_idx, byte_val) — no cross join — then verify with xor+popcount.
    """
    fp = simhash(df, id_col, text_col)
    banded = fp.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("byte_idx"),
                        F.shiftright(F.col("simhash"), 8 * i)
                        .bitwiseAND(F.lit(0xFF))
                        .alias("byte_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("band"),
    ).select(id_col, "simhash", "band.byte_idx", "band.byte_val")
    left = banded.select(
        F.col(id_col).alias("a"), F.col("simhash").alias("ha"), "byte_idx", "byte_val"
    )
    right = banded.select(
        F.col(id_col).alias("b"), F.col("simhash").alias("hb"), "byte_idx", "byte_val"
    )
    return (
        left.join(right, ["byte_idx", "byte_val"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.bit_count(F.expr("ha ^ hb")).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# -- 64-bit production tier -------------------------------------------------
#
# The 32-bit tier above trades fingerprint width for a DuckDB-shareable
# oracle (md5-derived word hashes). Production simhash dedup runs at 64
# bits — at sub-32-bit widths random fingerprint collisions start to
# rival true near-duplicates on 10^9-document corpora. This tier uses
# native xxhash64 word hashes (JVM codegen, no md5 string round-trip)
# and wider pigeonhole bands; its pair set is cross-checked against the
# 32-bit oracle tier on fixtures in tests/test_operators.py.

SIMHASH64_BITS = 64


def simhash64(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash:long) — Charikar sketch at the production 64-bit
    width, word hashes via native ``xxhash64``.

    Same one-explode + one-hash-aggregate shape as :func:`simhash`;
    the sign vector packs into the full signed-long bit pattern (bit 63
    included, assembled with bitwise OR so ANSI overflow rules never
    apply)."""
    words = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("w"),
    ).withColumn("h", F.xxhash64(F.col("w")))
    bit_sums = [
        F.sum(
            F.when(
                F.shiftrightunsigned(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(SIMHASH64_BITS)
    ]
    agg = words.groupBy(id_col).agg(*bit_sums)
    fp = F.lit(0).cast("long")
    for i in range(SIMHASH64_BITS):
        term = F.when(
            F.col(f"s{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        fp = fp.bitwiseOR(term)
    return agg.select(F.col(id_col), fp.alias("simhash"))


def simhash64_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """(a, b, hamming) pairs with hamming(simhash64) ≤ max_hamming.

    Pigeonhole banding on the 64-bit key: ``max_hamming`` differing
    bits can dirty at most ``max_hamming`` of the ``n_bands`` bands, so
    ``max_hamming < n_bands`` guarantees one band matches exactly and
    the candidate join stays an equi-join on (band_idx, band_val) — no
    cross join. Default 4×16-bit bands: the wider band value space cuts
    random band collisions ~256× vs the 32-bit tier's 8-bit bytes, so
    the verify stage sees far fewer false candidates at corpus scale.
    """
    return hamming_near_pairs(
        simhash64(df, id_col, text_col),
        id_col=id_col,
        hash_col="simhash",
        max_hamming=max_hamming,
        n_bands=n_bands,
        bits=SIMHASH64_BITS,
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
    column: (a, b, hamming) pairs with hamming ≤ max_hamming. The
    simhash64_near_pairs candidate machinery factored for reuse by
    other fingerprint families (simhash64_near_pairs delegates here;
    image dHash and the audio fingerprint in operators/multimodal.py
    are the other clients): max_hamming < n_bands guarantees one band
    matches exactly, so candidates come from an equi-join on
    (band_idx, band_val) — never a cross join — and the exact popcount
    verify is candidate-bounded."""
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
