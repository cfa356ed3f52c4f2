"""Partitioned Bloom URL-seen filter (SURVEY.md O5, north_star).

The exact seen-check is a ``left_anti`` join (J1, Worker.py:110 /
Host.py:190-194 semantics). At 10^10-URL scale that join shuffles the
full candidate set against the full seen set every round; the Bloom
pre-filter shrinks the join's left side to only *probable* hits, and
URLs the filter has definitely never seen skip the join entirely.

Safety (SURVEY.md §7.4(4)): a Bloom false positive must never DROP a
never-seen URL, so the filter only routes rows:

    maybe-seen  → exact anti-join (false positives die there)
    surely-new  → bypass the join (Bloom has no false negatives)

``maybe_seen=False`` therefore must imply *certainly never inserted*.

Implementation is numpy end-to-end and fully distributed:

* hashes: the two 64-bit hashes are NATIVE ``xxhash64`` columns
  (JVM-side, whole-stage codegen) computed before any Python stage;
  k=4 bit indices come from the standard Kirsch-Mitzenmacher
  double-hashing construction applied in numpy. No per-row Python
  hashing anywhere on the J1 hot path.
* sharding: the filter is ``n_shards`` independent bitmaps keyed by
  ``shard = pmod(xxhash64(url), n_shards)``. ``build_bloom_shards``
  builds them distributed — one ``applyInPandas`` task per shard, the
  result staying a ``(shard, bitmap)`` DataFrame — so no single
  process ever holds the whole filter. At 10^10 URLs / 1% fpp the
  monolithic filter would be ~12 GiB (past Spark's 8 GiB broadcast
  cap); 1024 shards are ~12 MiB each.
* probe, two size-gated modes (``anti_join_with_bloom``):
  - **broadcast** (total bytes ≤ ``broadcast_cap_bytes``): the shard
    dict ships as one Spark broadcast; a pandas UDF tests k bits per
    URL with vectorized numpy over the native hash columns. Right for
    local tests and early crawl rounds (same O13 size-gate pattern as
    the engine's wave join).
  - **shard_join** (the 100 TB path, ``tag_maybe_seen_sharded``):
    candidates compute the shard key natively and shuffle ONCE on it;
    the n_shards bitmap rows shuffle to the same partitions; each
    cogrouped ``applyInPandas`` task sees one shard's candidates plus
    that shard's bitmap. No executor or the driver materializes the
    whole filter, and the bitmap is never row-duplicated the way a
    plain equi-join against the candidates would duplicate it.
  Both modes are tag-identical (tests/test_bloom.py parity test).

``build_bloom`` (single monolithic bitmap via per-partition partials +
driver OR-merge) remains as the small-scale/test tier only; the crawl
path uses the sharded build.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

K_HASHES = 4

# second-hash salt: xxhash64(url) and xxhash64(url, salt) give the two
# independent 64-bit hashes the Kirsch-Mitzenmacher construction needs
_SALT = "#wcspark-bloom-h2"

DEFAULT_SHARDS = 8

# Past this total filter size, ship shards by shuffle-on-shard-key
# instead of broadcasting the whole filter. 64 MiB is far below Spark's
# broadcast ceiling but already past the point where re-broadcasting
# every round beats one candidate shuffle.
DEFAULT_BROADCAST_CAP = 64 << 20

_H1, _H2, _SHARD = "__sf_h1", "__sf_h2", "__sf_shard"


def hash_cols(col: str | Column) -> tuple[Column, Column]:
    """The Bloom hash family as NATIVE columns (whole-stage codegen,
    JVM-side) — the Python stages below only do numpy bit arithmetic.
    nulls hash as '' so build and probe agree on them."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.coalesce(c, F.lit(""))
    return F.xxhash64(c), F.xxhash64(c, F.lit(_SALT))


def shard_col(col: str | Column, n_shards: int) -> Column:
    """Shard selector as a NATIVE column — build and probe both use
    this expression, so any ``n_shards`` is consistent by construction."""
    h1, _ = hash_cols(col)
    return F.pmod(h1, F.lit(n_shards)).cast("int")


def _as_u64(s: pd.Series) -> np.ndarray:
    """Arrow int64 hash column -> uint64 bit pattern."""
    return s.to_numpy(dtype=np.int64).view(np.uint64)


def _bit_positions(h1: np.ndarray, h2: np.ndarray, m_bits: int) -> np.ndarray:
    """(n, K_HASHES) bit indices via double hashing."""
    ks = np.arange(K_HASHES, dtype=np.uint64)
    return (h1[:, None] + ks[None, :] * h2[:, None]) % np.uint64(m_bits)


def _set_bits(bitmap: np.ndarray, h1: np.ndarray, h2: np.ndarray, m_bits: int) -> None:
    pos = _bit_positions(h1, h2, m_bits).ravel()
    np.bitwise_or.at(
        bitmap, (pos // 8).astype(np.int64), (1 << (pos % 8)).astype(np.uint8)
    )


def _test_bits(bitmap: np.ndarray, h1: np.ndarray, h2: np.ndarray, m_bits: int) -> np.ndarray:
    pos = _bit_positions(h1, h2, m_bits)
    bits = (bitmap[(pos // 8).astype(np.int64)] >> (pos % 8).astype(np.uint8)) & 1
    return bits.all(axis=1)


def optimal_bits(expected_items: int, fpp: float = 0.01) -> int:
    """Standard Bloom sizing: m = -n ln(p) / (ln 2)^2, 64-bit aligned."""
    import math

    m = int(-expected_items * math.log(fpp) / (math.log(2) ** 2)) + 1
    return max(64, (m + 63) // 64 * 64)


def build_bloom(df: DataFrame, col: str, m_bits: int) -> np.ndarray:
    """Single-bitmap tier (small seen sets / tests): one partial bitmap
    per partition via ``mapInPandas``, OR-merged on the driver. Driver
    memory = one bitmap. The at-scale path is ``build_bloom_shards``.
    """
    m_bytes = m_bits // 8
    c1, c2 = hash_cols(col)
    hashed = df.select(c1.alias("h1"), c2.alias("h2"))

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bitmap = np.zeros(m_bytes, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            any_rows = True
            _set_bits(bitmap, _as_u64(pdf["h1"]), _as_u64(pdf["h2"]), m_bits)
        if any_rows:
            yield pd.DataFrame({"bitmap": [bitmap.tobytes()]})

    partials = hashed.mapInPandas(partial, "bitmap binary").collect()
    out = np.zeros(m_bytes, dtype=np.uint8)
    for row in partials:
        out |= np.frombuffer(row["bitmap"], dtype=np.uint8)
    return out


def build_bloom_shards(
    df: DataFrame, col: str, bits_per_shard: int, n_shards: int
) -> DataFrame:
    """Build the sharded filter as a ``(shard int, bitmap binary)``
    DataFrame, fully distributed: hashes and the shard key are native
    columns (one 16-byte-row shuffle on shard), then one
    ``applyInPandas`` task per shard sets its bitmap's bits. Shards
    with no rows produce no bitmap row — the probe treats a missing
    shard as all-clear, which is exact (nothing was ever inserted
    there)."""
    m_bytes = bits_per_shard // 8
    c1, c2 = hash_cols(col)
    hashed = df.select(
        c1.alias("h1"), c2.alias("h2"), shard_col(col, n_shards).alias("shard")
    )

    def build_shard(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bitmap = np.zeros(m_bytes, dtype=np.uint8)
        _set_bits(bitmap, _as_u64(pdf["h1"]), _as_u64(pdf["h2"]), bits_per_shard)
        return pd.DataFrame({"shard": [key[0]], "bitmap": [bitmap.tobytes()]})

    return hashed.groupBy("shard").applyInPandas(
        build_shard, "shard int, bitmap binary"
    )


def with_maybe_seen(
    df: DataFrame, col: str, shards_bc, bits_per_shard: int, n_shards: int
) -> DataFrame:
    """Broadcast-mode tag: add boolean ``maybe_seen`` (False ⇒
    *certainly* not in the built set). ``shards_bc`` is a broadcast
    ``dict[shard -> bitmap bytes]``; the shard key arrives as a native
    column so numpy never re-derives it."""

    @F.pandas_udf("boolean")
    def probe(h1s: pd.Series, h2s: pd.Series, shards: pd.Series) -> pd.Series:
        bitmaps: dict[int, bytes] = shards_bc.value
        n = len(h1s)
        if n == 0:
            return pd.Series([], dtype=bool)
        out = np.zeros(n, dtype=bool)
        sh = shards.to_numpy(dtype=np.int64)
        h1, h2 = _as_u64(h1s), _as_u64(h2s)
        for s in np.unique(sh):
            raw = bitmaps.get(int(s))
            if raw is None:
                continue
            sel = sh == s
            out[sel] = _test_bits(
                np.frombuffer(raw, dtype=np.uint8), h1[sel], h2[sel], bits_per_shard
            )
        return pd.Series(out)

    c1, c2 = hash_cols(col)
    return df.withColumn("maybe_seen", probe(c1, c2, shard_col(col, n_shards)))


def tag_maybe_seen_sharded(
    candidates: DataFrame,
    col: str,
    shards: DataFrame,
    bits_per_shard: int,
    n_shards: int,
) -> DataFrame:
    """Shard-join-mode tag: add boolean ``maybe_seen`` via a cogrouped
    join of the candidates with the ``(shard, bitmap)`` DataFrame on the
    shard key. A shard with no bitmap row (no key ever inserted there)
    tags every candidate surely-new."""
    cand_cols = list(candidates.columns)
    out_schema = StructType(
        [candidates.schema[c] for c in cand_cols]
        + [StructField("maybe_seen", BooleanType(), False)]
    )
    c1, c2 = hash_cols(col)
    tagged_in = (
        candidates.withColumn(_H1, c1)
        .withColumn(_H2, c2)
        .withColumn(_SHARD, shard_col(col, n_shards))
    )

    def fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        out = left[cand_cols].copy()
        if len(left) == 0 or len(right) == 0:
            out["maybe_seen"] = np.zeros(len(left), dtype=bool)
        else:
            bitmap = np.frombuffer(right["bitmap"].iloc[0], dtype=np.uint8)
            out["maybe_seen"] = _test_bits(
                bitmap, _as_u64(left[_H1]), _as_u64(left[_H2]), bits_per_shard
            )
        return out

    return (
        tagged_in.groupBy(_SHARD)
        .cogroup(shards.groupBy("shard"))
        .applyInPandas(fn, out_schema)
    )


def anti_join_with_bloom(
    candidates: DataFrame,
    seen: DataFrame,
    col: str = "url",
    m_bits: int | None = None,
    expected_items: int | None = None,
    n_shards: int = DEFAULT_SHARDS,
    mode: str = "auto",
    broadcast_cap_bytes: int = DEFAULT_BROADCAST_CAP,
) -> DataFrame:
    """J1 with the Bloom pre-pass: semantically identical to
    ``candidates.join(seen, col, 'left_anti')`` (property-tested).

    ``m_bits`` is the TOTAL bit budget (split evenly across shards);
    when absent it is sized from ``expected_items`` (or ``seen.count()``)
    at 1% fpp per shard. ``mode``: ``'auto'`` broadcasts the shard dict
    when the whole filter fits ``broadcast_cap_bytes`` and otherwise
    probes via the cogrouped shard join; ``'broadcast'`` / ``'shard_join'``
    force a path (tests use ``'shard_join'`` to exercise the topology a
    10^10-URL filter requires)."""
    spark = candidates.sparkSession
    if m_bits is not None:
        bits_per_shard = max(64, (m_bits // n_shards + 63) // 64 * 64)
    else:
        n = expected_items if expected_items is not None else max(seen.count(), 1)
        bits_per_shard = optimal_bits(max(n // n_shards, 1))
    total_bytes = n_shards * (bits_per_shard // 8)
    shards = build_bloom_shards(seen, col, bits_per_shard, n_shards)

    if mode == "broadcast" or (mode == "auto" and total_bytes <= broadcast_cap_bytes):
        bitmaps = {r["shard"]: r["bitmap"] for r in shards.collect()}
        bc = spark.sparkContext.broadcast(bitmaps)
        tagged = with_maybe_seen(candidates, col, bc, bits_per_shard, n_shards)
    else:
        tagged = tag_maybe_seen_sharded(
            candidates, col, shards, bits_per_shard, n_shards
        )
    # the routing contract: false positives die in the exact join
    surely_new = tagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = tagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    return surely_new.unionByName(maybe.join(seen.select(col), col, "left_anti"))
