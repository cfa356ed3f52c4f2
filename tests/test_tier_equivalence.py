"""Tier equivalence as a property: two paths to one law must return
identical rows on generated inputs, not only on hand-picked fixtures.

Near-dup verify (``near_duplicate_pairs``): the candidate-bounded
verify counts each LSH candidate's shingle intersection by joining the
pair list against both sides' shingles; the standalone ``jaccard_pairs``
self-joins the whole shingle table. Restricted to the LSH candidates
(``lsh_candidate_pairs``) the two must agree row for row, Jaccard
rounded to 6 decimals HALF_UP, so the generator plants Jaccards that sit
exactly halfway at the 7th decimal: k/128 and k/640 for odd k.

Seen anti-join (``anti_join_with_bloom``): the Bloom pre-pass routes
"maybe seen" candidates through the exact join and passes the rest
through, so its output is ``candidates.join(seen, 'left_anti')`` as a
multiset: duplicate candidates survive as often as they came in, an
empty ``seen`` passes everything, and a tiny bitmap (every candidate a
false positive) loses nothing, under both probe modes.
"""

from __future__ import annotations

from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from webcrawler_spark.operators.bloom import anti_join_with_bloom
from webcrawler_spark.operators.dedup import (
    jaccard_pairs,
    lsh_candidate_pairs,
    near_duplicate_pairs,
)

THRESHOLD = 0.3
BANDS = 32


@st.composite
def _halfway_pair(draw):
    """(k, union, tail_a, tail_b): a shared prefix of k + 2 words gives k
    shared 3-word shingles; distinct tails of tail_a + tail_b words bring
    the union to exactly ``union`` shingles."""
    union = draw(st.sampled_from([128, 640]))
    k = 2 * draw(st.integers(int(THRESHOLD * union) // 2, union // 2 - 1)) + 1
    tail_a = draw(st.integers(0, union - k))
    return k, union, tail_a, union - k - tail_a


# a shared prefix plus tails over a five-word vocabulary: tails repeat
# shingles within a doc and share them across pairs (cross-pair candidates)
_free_pair = st.tuples(
    st.integers(3, 40),
    st.lists(st.sampled_from([f"x{i}" for i in range(5)]), max_size=15),
    st.lists(st.sampled_from([f"x{i}" for i in range(5)]), max_size=15),
)


def _docs(halfway, free):
    rows, want = [], {}
    for j, (k, union, tail_a, tail_b) in enumerate(halfway):
        prefix = [f"h{j}p{i}" for i in range(k + 2)]
        a, b = 2 * j + 1, 2 * j + 2
        rows.append((a, " ".join(prefix + [f"h{j}a{i}" for i in range(tail_a)])))
        rows.append((b, " ".join(prefix + [f"h{j}b{i}" for i in range(tail_b)])))
        want[(a, b)] = float(
            (Decimal(k) / Decimal(union)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )
    base = 2 * len(halfway)
    for j, (n_prefix, tail_a, tail_b) in enumerate(free):
        prefix = [f"f{j}p{i}" for i in range(n_prefix)]
        rows.append((base + 2 * j + 1, " ".join(prefix + tail_a)))
        rows.append((base + 2 * j + 2, " ".join(prefix + tail_b)))
    return rows, want


@given(
    halfway=st.lists(_halfway_pair(), min_size=1, max_size=3),
    free=st.lists(_free_pair, max_size=3),
)
# 323/640 = 0.5046875: scaling by 1e6 before rounding gives 0.504687;
# 65/128 = 0.5078125: half-even rounding gives 0.507812
@example(halfway=[(323, 640, 159, 158), (65, 128, 32, 31)], free=[])
@settings(max_examples=2, deadline=None)
def test_near_dup_equals_jaccard_on_lsh_candidates(spark, halfway, free):
    rows, want = _docs(halfway, free)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bounded = near_duplicate_pairs(docs, bands=BANDS, threshold=THRESHOLD)
    full = jaccard_pairs(docs, threshold=THRESHOLD).join(
        lsh_candidate_pairs(docs, bands=BANDS), ["a", "b"], "left_semi"
    )
    got = {"bounded": [], "full": []}
    tagged = bounded.withColumn("tier", F.lit("bounded")).unionByName(
        full.withColumn("tier", F.lit("full"))
    )
    for r in tagged.collect():  # one action per example
        got[r["tier"]].append((r["a"], r["b"], r["jaccard"]))
    got = {tier: sorted(pairs) for tier, pairs in got.items()}
    assert got["bounded"] == got["full"]
    # every planted halfway pair is found (Jaccard >= 0.3 over 32 bands
    # misses with probability <= 0.7^32) and rounded HALF_UP
    found = {(a, b): j for a, b, j in got["bounded"]}
    for pair, j in want.items():
        assert found.get(pair) == j, (pair, found.get(pair), j)


_url = st.integers(0, 30).map(lambda i: f"https://h{i % 4}.x/p{i}")


@given(
    cand=st.lists(_url, max_size=40),
    seen=st.lists(_url, max_size=30),
    m_bits=st.sampled_from([64, 128, 4096]),
)
@example(cand=["https://h0.x/p0"] * 3 + ["https://h1.x/p1"], seen=[], m_bits=64)
@example(
    cand=[f"https://h{i % 4}.x/p{i}" for i in range(12)] * 2,
    seen=[f"https://h{i % 4}.x/p{i}" for i in range(0, 31, 2)],
    m_bits=64,
)
@settings(max_examples=2, deadline=None)
def test_bloom_anti_join_matches_left_anti(spark, cand, seen, m_bits):
    cand_df = spark.createDataFrame(
        [(u, i % 3) for i, u in enumerate(cand)], "url string, k int"
    )
    seen_df = spark.createDataFrame([(u,) for u in seen], "url string")
    want = Counter(
        tuple(r) for r in cand_df.join(seen_df, "url", "left_anti").collect()
    )
    assert sum(want.values()) == sum(u not in set(seen) for u in cand)
    for mode in ("broadcast", "shard_join"):
        out = anti_join_with_bloom(
            cand_df, seen_df, "url", m_bits=m_bits, n_shards=4, mode=mode
        )
        got = Counter(tuple(r) for r in out.select("url", "k").collect())
        assert got == want, mode
