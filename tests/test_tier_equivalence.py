"""Tier equivalence as a property: two tiers of one operator must return
identical rows on generated inputs, not only on hand-picked fixtures.

Near-dup verify (``near_duplicate_pairs``): the exact tier counts
shingle intersections with joins and rounds with Spark's ``F.round``;
the Arrow tier computes the shingle sets in Python. Both round the
Jaccard to 6 decimals HALF_UP, so the generator plants Jaccards that sit
exactly halfway at the 7th decimal: k/128 and k/640 for odd k.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from webcrawler_spark.operators.dedup import near_duplicate_pairs

THRESHOLD = 0.3


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
# 323/640 = 0.5046875: scaling by 1e6 before rounding gives 0.504687
@example(halfway=[(323, 640, 159, 158), (65, 128, 32, 31)], free=[])
@settings(max_examples=2, deadline=None)
def test_near_dup_verify_tiers_identical(spark, halfway, free):
    rows, want = _docs(halfway, free)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact, arrow = (
        near_duplicate_pairs(
            docs, bands=32, threshold=THRESHOLD, verify_tier=tier
        ).withColumn("tier", F.lit(tier))
        for tier in ("exact", "arrow")
    )
    got = {"exact": [], "arrow": []}
    for r in exact.unionByName(arrow).collect():  # one action per example
        got[r["tier"]].append((r["a"], r["b"], r["jaccard"]))
    got = {tier: sorted(pairs) for tier, pairs in got.items()}
    assert got["arrow"] == got["exact"]
    # every planted halfway pair is found (Jaccard >= 0.3 over 32 bands
    # misses with probability <= 0.7^32) and rounded HALF_UP
    found = {(a, b): j for a, b, j in got["exact"]}
    for pair, j in want.items():
        assert found.get(pair) == j, (pair, found.get(pair), j)
