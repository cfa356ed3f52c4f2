"""Training-data operators: dedup / similarity / textstats / multimodal."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from webcrawler_spark.operators import dedup, multimodal, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
        (2, "el rapido zorro marron salta sobre el perro"),
        (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (4, "completely different text about spark engines and shuffles"),
        (5, "THE  Quick   brown fox jumps over the lazy dog"),  # norm-dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup(docs):
    groups = dedup.exact_duplicate_groups(docs).collect()
    by_keeper = {r["keeper"]: r["n_docs"] for r in groups}
    assert by_keeper[0] == 3  # 0, 3, and whitespace/case-normalized 5
    kept = dedup.drop_exact_duplicates(docs).select("doc_id").collect()
    assert {r["doc_id"] for r in kept} == {0, 1, 2, 4}


def test_shingles(spark):
    out = spark.createDataFrame(
        [("a b c d",), ("x",)], "text string"
    ).select(dedup.word_shingles(F.col("text"), 3).alias("s")).collect()
    assert out[0]["s"] == ["a b c", "b c d"]
    assert out[1]["s"] == []


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r["a"], r["b"]) for r in dedup.lsh_candidate_pairs(docs).collect()
    }
    assert (0, 3) in pairs          # exact dups always collide
    assert (0, 1) in pairs          # near-dups share most shingles
    assert (0, 2) not in pairs      # different language text


def test_jaccard_pairs(docs):
    rows = {(r["a"], r["b"]): r["jaccard"] for r in
            dedup.jaccard_pairs(docs, threshold=0.4).collect()}
    assert rows[(0, 3)] == 1.0
    assert 0.4 <= rows[(0, 1)] < 1.0
    assert (0, 4) not in rows


def test_near_duplicate_pairs_composed(docs):
    """Composed LSH→Jaccard == standalone Jaccard restricted to LSH
    candidates, with identical jaccard values."""
    composed = {(r["a"], r["b"]): r["jaccard"] for r in
                dedup.near_duplicate_pairs(docs, threshold=0.4).collect()}
    exact = {(r["a"], r["b"]): r["jaccard"] for r in
             dedup.jaccard_pairs(docs, threshold=0.4).collect()}
    cands = {(r["a"], r["b"]) for r in
             dedup.lsh_candidate_pairs(docs).collect()}
    assert composed == {p: j for p, j in exact.items() if p in cands}
    assert (0, 3) in composed and composed[(0, 3)] == 1.0
    assert (0, 1) in composed


def test_incremental_dedup_batch_vs_store(docs):
    """Incremental new×store matches == the batch LSH pair set
    restricted to cross-parity pairs; the drop/append step keeps
    exactly the non-colliding new docs and emits their signatures."""
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    store = dedup.minhash_signatures(corpus)

    got = {(r["new_id"], r["corpus_id"]) for r in
           dedup.incremental_lsh_matches(batch, store).collect()}
    full = {(r["a"], r["b"]) for r in dedup.lsh_candidate_pairs(docs).collect()}
    want = {(n, c) for a, b in full for n, c in ((a, b), (b, a))
            if n % 2 == 1 and c % 2 == 0}
    assert got == want
    assert (3, 0) in got  # exact dup of corpus doc 0, caught incrementally

    kept, kept_sigs = dedup.incremental_dedup_batch(batch, store)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert kept_ids == {1, 3, 5} - {n for n, _ in got}
    sig_ids = {r["doc_id"] for r in
               kept_sigs.select("doc_id").distinct().collect()}
    assert sig_ids == kept_ids


def test_incremental_dedup_rounds_match_greedy_replay(spark):
    """Iterating incremental_dedup_batch over ordered ingest rounds ==
    a greedy sequential dedup (drop a doc iff it LSH-collides with a
    survivor of an EARLIER round; within-round pairs are by design not
    dropped). The python replay below is the spec; the operator chain
    with a growing signature store must reproduce it exactly."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .cache()
    )
    pair_set = {(r["a"], r["b"]) for r in dedup.lsh_candidate_pairs(docs).collect()}
    collides = {}
    for a, b in pair_set:
        collides.setdefault(a, set()).add(b)
        collides.setdefault(b, set()).add(a)

    batches = [docs.filter(F.col("doc_id") % 3 == k) for k in range(3)]
    batch_ids = [
        {r["doc_id"] for r in b.select("doc_id").collect()} for b in batches
    ]

    # spec: greedy replay over the full pair set
    kept_spec: set = set()
    for ids in batch_ids:
        survivors = {
            i for i in ids if not (collides.get(i, set()) & kept_spec)
        }
        kept_spec |= survivors

    # operator chain: store grows by each round's survivor signatures
    store = dedup.minhash_signatures(batches[0]).limit(0)
    kept_ops: set = set()
    for b in batches:
        kept, kept_sigs = dedup.incremental_dedup_batch(b, store)
        kept_ops |= {r["doc_id"] for r in kept.select("doc_id").collect()}
        store = store.unionByName(kept_sigs)

    assert kept_ops == kept_spec
    assert kept_ops != set()  # non-degenerate: something survives
    assert kept_spec != batch_ids[0] | batch_ids[1] | batch_ids[2]  # and something drops


def test_simhash_hamming(docs):
    pairs = {(r["a"], r["b"]): r["hamming"] for r in
             dedup.hamming_near_pairs(
                 dedup.simhash(docs), hash_col="simhash", max_hamming=6,
                 n_bands=8, bits=32).collect()}
    assert pairs[(0, 3)] == 0       # identical text → identical sketch
    assert (0, 1) in pairs          # one-word change → few bits flip
    fp = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert all(0 <= v < (1 << 32) for v in fp.values())


def test_simhash_band_guarantee(spark, docs):
    """Pigeonhole on the 32-bit fingerprint: every pair within
    max_hamming ≤ 3 is found (brute force over the fixture's simhashes
    and over planted fingerprints whose differing bits sit in distinct
    bytes), and max_hamming = 4 — where 0x00000000 and 0x01010101
    share no byte — is refused."""
    def brute(fp, k):
        ids = sorted(fp)
        return {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
                if bin(fp[a] ^ fp[b]).count("1") <= k}

    fp = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    got = {(r["a"], r["b"]) for r in
           dedup.simhash_near_pairs(docs, max_hamming=3).collect()}
    assert got == brute(fp, 3)

    # 0, then one bit in each of 1..4 distinct bytes, from two bases
    planted = {}
    for base in (0, 0xDEADBEEF):
        for k in range(5):
            planted[len(planted)] = base ^ (0x01010101 & ((1 << 8 * k) - 1))
    hashes = spark.createDataFrame(list(planted.items()), "doc_id long, h long")
    for k in range(4):
        got = {(r["a"], r["b"]) for r in dedup.hamming_near_pairs(
            hashes, max_hamming=k, n_bands=4, bits=32).collect()}
        assert got == brute(planted, k), k
    with pytest.raises(ValueError):
        dedup.simhash_near_pairs(docs, max_hamming=4)


def test_ppm_roundtrip_and_header_robustness():
    import numpy as np

    payload = bytes(range(48))  # 4 wide x 4 tall x 3 channels
    ppm = multimodal.encode_ppm(payload, width=4)
    d = multimodal.decode_ppm(ppm)
    assert (d["width"], d["height"], d["maxval"]) == (4, 4, 255)
    assert d["pixels"].tobytes() == payload
    # surplus bytes are dropped to a whole row
    assert multimodal.decode_ppm(
        multimodal.encode_ppm(payload + b"xy", width=4)
    )["pixels"].tobytes() == payload
    assert multimodal.encode_ppm(b"short", width=4) is None
    # comment + arbitrary whitespace in the header (netpbm spec)
    hand = b"P6 # rgb\n# comment line\n  2\t1 # w h\n255\n" + bytes(6)
    d2 = multimodal.decode_ppm(hand)
    assert (d2["width"], d2["height"]) == (2, 1)
    # P5 grayscale
    d3 = multimodal.decode_ppm(b"P5\n3 2\n255\n" + bytes(6))
    assert d3["pixels"].shape == (2, 3, 1)
    with pytest.raises(ValueError):
        multimodal.decode_ppm(b"\x89PNG....")
    assert isinstance(
        multimodal._decode_image_real(ppm), np.ndarray
    )
    # JPEG payloads now hit the real baseline decoder (round-5): a
    # garbage body is a CORRUPT stream (ValueError), while formats
    # with no decoder at all stay NotImplementedError
    with pytest.raises(ValueError):
        multimodal._decode_image_real(b"\xff\xd8\xff\xe0jpeg...")
    with pytest.raises(NotImplementedError):
        multimodal._decode_image_real(b"GIF89a......")


def test_wav_roundtrip():
    payload = bytes(range(200))
    wav = multimodal.encode_wav(payload, framerate=8000)
    d = multimodal.decode_wav(wav)
    assert d["n_channels"] == 1 and d["sampwidth"] == 1
    assert d["framerate"] == 8000 and d["n_frames"] == 200
    assert d["frames"] == payload


def test_media_codec_features_mixed_batch(spark):
    import hashlib

    rows = [
        (0, multimodal.encode_ppm(bytes(range(48)), width=4)),
        (1, multimodal.encode_wav(b"abcdef")),
    ]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    out = {r["media_id"]: r for r in
           multimodal.media_codec_features(media).collect()}
    img, aud = out[0], out[1]
    assert (img["kind"], img["width"], img["height"]) == ("image", 4, 4)
    assert img["payload_md5"] == hashlib.md5(bytes(range(48))).hexdigest()
    assert (aud["kind"], aud["n_frames"], aud["framerate"]) == (
        "audio", 6, 8000)
    assert aud["payload_md5"] == hashlib.md5(b"abcdef").hexdigest()


def test_image_features_real_ppm(spark):
    """fake=False now actually decodes netpbm payloads: the feature is
    a 16-bin intensity histogram summing to 1."""
    media = spark.createDataFrame(
        [(7, multimodal.encode_ppm(bytes(range(48)), width=4))],
        "media_id long, content binary",
    )
    feat = multimodal.image_features(media, fake=False).first()["feature"]
    assert len(feat) == 16
    assert abs(sum(feat) - 1.0) < 1e-9
    # bytes 0..47 fall in the first 3 of 16 bins (bin width 16)
    assert sum(feat[:3]) == pytest.approx(1.0)


@pytest.fixture(scope="module")
def embeddings(spark):
    import numpy as np

    rng = np.random.RandomState(42)
    base = rng.rand(20, 8)
    base[7] = base[3] * 1.001 + 1e-4       # near-duplicate pair (3, 7)
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()


def test_cosine_topk_exact(embeddings):
    q = embeddings.filter("vec_id = 3").first()["embedding"]
    top = similarity.cosine_topk(embeddings, q, k=3).collect()
    assert top[0]["neighbor_id"] == 3 and top[0]["sim"] == 1.0
    assert top[1]["neighbor_id"] == 7          # the planted near-dup
    assert [r["rank"] for r in top] == [1, 2, 3]


def test_lsh_topk_contains_planted_neighbor(embeddings):
    q = embeddings.filter("vec_id = 3").first()["embedding"]
    approx = similarity.lsh_bucket_topk(embeddings, q, k=5, n_planes=4).collect()
    ids = [r["neighbor_id"] for r in approx]
    assert 3 in ids and 7 in ids               # same bucket by construction


def test_probe_buckets_match_sql_bucket(embeddings):
    """The driver-side probe-0 bucket must equal the Catalyst md5
    bucket (same hyperplane law) for every vector."""
    rows = embeddings.collect()
    sql_buckets = {
        r["vec_id"]: r["bucket"]
        for r in similarity.with_lsh_bucket(embeddings, n_planes=6).collect()
    }
    for r in rows:
        py = similarity.probe_buckets(r["embedding"], n_planes=6, n_probes=1)
        assert py == [sql_buckets[r["vec_id"]]]


def test_probe_buckets_sequence_properties():
    vec = [0.3, -0.2, 0.9, 0.1]
    probes = similarity.probe_buckets(vec, n_planes=6, n_probes=8)
    assert len(probes) == 8 and len(set(probes)) == 8   # distinct buckets
    assert all(0 <= b < 64 for b in probes)
    # probe 1 flips exactly the single lowest-|margin| plane
    assert bin(probes[0] ^ probes[1]).count("1") == 1


def test_multiprobe_recall_vs_exact(embeddings):
    """Recall@5 of the multi-probe ANN against exact cosine top-k.
    With 16 of 16 buckets probed the scan is exhaustive, so recall is
    exactly 1 — the invariant that more probes ⇒ recall → 1."""
    q = embeddings.filter("vec_id = 3").first()["embedding"]
    exact = {
        r["neighbor_id"]
        for r in similarity.cosine_topk(embeddings, q, k=5).collect()
    }
    full = {
        r["neighbor_id"]
        for r in similarity.lsh_bucket_topk(
            embeddings, q, k=5, n_planes=4, n_probes=16
        ).collect()
    }
    assert full == exact
    # a modest probe budget must already beat the single-probe floor
    single = {
        r["neighbor_id"]
        for r in similarity.lsh_bucket_topk(
            embeddings, q, k=5, n_planes=4, n_probes=1
        ).collect()
    }
    multi = {
        r["neighbor_id"]
        for r in similarity.lsh_bucket_topk(
            embeddings, q, k=5, n_planes=4, n_probes=4
        ).collect()
    }
    assert len(multi & exact) >= len(single & exact)


def test_embedding_near_dup_pairs(embeddings):
    pairs = {(r["a"], r["b"]) for r in
             similarity.embedding_near_dup_pairs(embeddings, 0.999).collect()}
    assert (3, 7) in pairs


def test_bucketed_near_dup_vs_exact_crossjoin(embeddings):
    """Tiny-n oracle for the scale path: the bucketed pairs must be a
    SUBSET of the exact crossJoin pairs (bucketing only prunes, never
    invents) with identical sims, must catch the planted near-dup, and
    the plan must contain no cartesian product."""
    bucketed = similarity.embedding_near_dup_pairs(embeddings, 0.4, n_planes=6)
    exact = (
        embeddings.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
        .crossJoin(
            embeddings.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
        )
        .filter(F.col("a") < F.col("b"))
        .select(
            "a", "b",
            F.round(similarity.cosine(F.col("va"), F.col("vb")), 6).alias("sim"),
        )
        .filter(F.col("sim") >= 0.4)
    )
    got = {(r["a"], r["b"]): r["sim"] for r in bucketed.collect()}
    want = {(r["a"], r["b"]): r["sim"] for r in exact.collect()}
    assert set(got) <= set(want)
    assert all(want[p] == s for p, s in got.items())
    assert (3, 7) in got               # planted near-identical pair survives
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_textstats_and_quality(spark):
    df = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "zzz")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in textstats.with_text_stats(df).collect()}
    assert out[0]["n_tokens"] == 6
    assert out[0]["stopword_ratio"] == pytest.approx(3 / 6)  # the, on, the
    q = {r["doc_id"]: r["q"] for r in
         df.select("doc_id", textstats.quality_score(F.col("text")).alias("q")).collect()}
    assert q[0] > q[1]


def test_lang_id(spark):
    df = spark.createDataFrame(
        [(0, "the fox and the hound of war is here"),
         (1, "el perro de la casa que ladra"),
         (2, "der hund und die katze das haus"),
         (3, "xyzzy plugh")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["lang"] for r in
           df.select("doc_id", textstats.lang_id(F.col("text")).alias("lang")).collect()}
    assert out == {0: "en", 1: "es", 2: "de", 3: "und"}


def test_multimodal_fake_features_deterministic(spark):
    media = multimodal.build_fake_media(spark, 12)
    f1 = {r["media_id"]: r["feature"] for r in
          multimodal.image_features(media, fake=True).collect()}
    f2 = {r["media_id"]: r["feature"] for r in
          multimodal.image_features(media, fake=True).collect()}
    assert f1 == f2
    assert all(len(v) == multimodal.IMAGE_FEATURE_DIM for v in f1.values())
    assert all(0.0 <= x < 1.0 for v in f1.values() for x in v)


def test_multimodal_real_decode_is_stubbed(spark):
    media = multimodal.build_fake_media(spark, 3)
    with pytest.raises(Exception):  # NotImplementedError inside executors
        multimodal.image_features(media, fake=False).collect()


def test_frame_sample_plan(spark):
    media = multimodal.build_fake_media(spark, 12)
    rows = multimodal.frame_sample_plan(media, every_s=2.0).collect()
    vids = {r["media_id"] for r in rows}
    assert vids  # only kind == video
    one = [r["sample_ts"] for r in rows if r["media_id"] == list(vids)[0]]
    assert one == sorted(one)


def test_spark_matches_duckdb_for_dedup_and_topk(spark):
    """Pre-validate the oracle approach: same md5 hash family, same
    values, Spark vs DuckDB, on the driver testdata documents table."""
    import duckdb

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = {
        r["fp"]: (r["keeper"], r["n_docs"])
        for r in dedup.exact_duplicate_groups(docs).collect()
    }
    con = duckdb.connect()
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            f"""
            select md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) fp,
                   min(doc_id) keeper, count(*) n
            from '{sf}/documents.parquet' group by 1
            """
        ).fetchall()
    }
    assert got == want


def test_bpe_token_count(spark):
    rows = [
        (0, "Hello world, it's 42 degrees!"),
        (1, "foo"),
        (2, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", textstats.bpe_token_count(F.col("text")).alias("n")
        ).collect()
    }
    # Hello | ' world' | ',' | ' it' | 's | ' 42' | ' degrees' | '!'
    assert got == {0: 8, 1: 1, 2: 0}


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing invariant (Schleimer et al.): documents sharing a
    substring of length >= k + w - 1 share at least one fingerprint."""
    shared = "the quick brown fox jumps over"
    rows = [
        (0, "AAAA " + shared + " BBBB"),
        (1, "cccccc " + shared + " dddd"),
        (2, "completely different words here entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = textstats.winnow_fingerprints(df, "text", "doc_id", k=5, w=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[0] & by_doc[1]
    assert not (by_doc[0] & by_doc[2] and by_doc[1] & by_doc[2])


def test_winnow_short_docs(spark):
    """< k chars: no fingerprints; in [k, k+w-2]: exactly one (the min
    gram hash) — the branch the oracle mirrors."""
    df = spark.createDataFrame(
        [(0, "abc"), (1, "abcdef")], "doc_id long, text string"
    )
    fps = textstats.winnow_fingerprints(df, "text", "doc_id", k=5, w=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], []).append(r["fp"])
    assert 0 not in by_doc
    assert len(by_doc[1]) == 1


def test_tfidf_top_terms_matches_python_reference(spark):
    import math
    from collections import Counter

    rows = [
        (0, "spark shuffles data across the big cluster"),
        (1, "spark caches data in memory for the iterative job"),
        (2, "ducks swim across the quiet pond at dawn"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # pure-python reference with identical formula + tiebreak
    texts = {i: t.split(" ") for i, t in rows}
    n = len(texts)
    docfreq = Counter(term for ws in texts.values() for term in set(ws))
    want = {}
    for i, ws in texts.items():
        tf = Counter(ws)
        scored = sorted(
            (
                (round(tf[t] / len(ws) * math.log(n / docfreq[t]), 6), t)
                for t in tf
            ),
            key=lambda x: (-x[0], x[1]),
        )[:3]
        want[i] = [(t, s) for s, t in scored]

    got = {}
    out = textstats.tfidf_top_terms(df, k=3).collect()
    for r in sorted(out, key=lambda r: (r["doc_id"], r["rank"])):
        got.setdefault(r["doc_id"], []).append((r["term"], r["tfidf"]))
        assert 1 <= r["rank"] <= 3
    assert got == want


def test_redact_pii_categories_and_counts(spark):
    from webcrawler_spark.operators.cleaning import redact_pii

    df = spark.createDataFrame(
        [
            (0, "mail me at jane.doe+x@sub.example.org thanks"),
            (1, "server 192.168.10.7 and backup 10.0.0.1 are up"),
            (2, "call +44 20 7946 0958 or +1 555 0172 today"),
            (3, "no pii here at all"),
            (4, "two mails a@b.co c@d.io one ip 8.8.8.8"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert out[0]["redacted_text"] == "mail me at <EMAIL> thanks"
    assert (out[0]["n_email"], out[0]["n_ipv4"], out[0]["n_phone"]) == (1, 0, 0)
    assert out[1]["redacted_text"] == "server <IP> and backup <IP> are up"
    assert out[1]["n_ipv4"] == 2
    assert "<PHONE>" in out[2]["redacted_text"]
    assert out[2]["n_phone"] == 2
    assert out[3]["redacted_text"] == "no pii here at all"
    assert (out[3]["n_email"], out[3]["n_ipv4"], out[3]["n_phone"]) == (0, 0, 0)
    assert out[4]["redacted_text"] == "two mails <EMAIL> <EMAIL> one ip <IP>"


def test_anchor_text_topk_order_and_bound(spark):
    from webcrawler_spark.operators.graph import anchor_text_topk

    edges = spark.createDataFrame(
        # target t1: "news" x3, "blog" x2, "alpha" x1, "zeta" x1
        [("t1", "news")] * 3
        + [("t1", "blog")] * 2
        + [("t1", "alpha"), ("t1", "zeta"), ("t2", "solo")],
        "dst string, anchor string",
    )
    out = anchor_text_topk(edges, k=3).collect()
    t1 = sorted(
        [(r["rank"], r["anchor"], r["n_inlinks"]) for r in out if r["dst"] == "t1"]
    )
    # count desc, then anchor asc breaks the alpha/zeta tie
    assert t1 == [(1, "news", 3), (2, "blog", 2), (3, "alpha", 1)]
    t2 = [(r["rank"], r["anchor"]) for r in out if r["dst"] == "t2"]
    assert t2 == [(1, "solo")]


def test_quality_sample_buckets_and_determinism(spark):
    import pytest as _pytest

    from webcrawler_spark.operators.mixing import quality_sample

    rows = [(i, -4.0 + i * 0.05) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, score double")
    kw = dict(cuts=[-3.0, -1.0], rates=[0.0, 1.0, 0.5], score_col="score")
    out = quality_sample(df, **kw).collect()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], set()).add(r["doc_id"])
    # bucket 0 rate 0.0 -> nothing survives; bucket 1 rate 1.0 -> all 40
    assert 0 not in by_bucket
    assert by_bucket[1] == {i for i in range(100) if -3.0 <= rows[i][1] < -1.0}
    # bucket 2 rate 0.5 -> a strict, deterministic subset
    b2_all = {i for i in range(100) if rows[i][1] >= -1.0}
    assert set() < by_bucket[2] < b2_all
    # decision is a pure function of doc_id: partitioning cannot change it
    again = quality_sample(df.repartition(7), **kw).collect()
    assert {(r["doc_id"], r["bucket"]) for r in again} == {
        (r["doc_id"], r["bucket"]) for r in out
    }
    with _pytest.raises(ValueError):
        quality_sample(df, cuts=[-3.0], rates=[1.0], score_col="score")


def test_keep_best_per_cluster_argmax_and_ties(spark):
    from webcrawler_spark.operators.mixing import keep_best_per_cluster

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5)],
        "doc_id long, component long",
    )
    scores = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 7), (5, 2), (6, 2)],
        "doc_id long, score long",
    )
    out = {r["doc_id"]: r for r in keep_best_per_cluster(clusters, scores).collect()}
    assert len(out) == 6
    # cluster 1: 2 and 3 tie at 30 -> min id (2) wins
    assert [out[i]["keeper"] for i in (1, 2, 3)] == [False, True, False]
    assert out[4]["keeper"] is True          # singleton keeps itself
    assert [out[5]["keeper"], out[6]["keeper"]] == [True, False]  # tie -> 5


def test_keep_best_per_cluster_no_window_in_plan(spark):
    from webcrawler_spark.operators.mixing import keep_best_per_cluster

    clusters = spark.range(100).selectExpr("id as doc_id", "id % 3 as component")
    scores = spark.range(100).selectExpr("id as doc_id", "id * 7 % 13 as score")
    plan = (
        keep_best_per_cluster(clusters, scores)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "partial_max_by" in plan.lower() or "partial" in plan.lower()


def test_near_dup_rounds_halfway_jaccard_half_up(spark):
    """At a binary-exact halfway Jaccard (65/128 = 0.5078125) the
    candidate-bounded verify of ``near_duplicate_pairs`` and the
    standalone ``jaccard_pairs`` self-join both round HALF_UP."""
    from webcrawler_spark.operators.dedup import jaccard_pairs, near_duplicate_pairs

    # 99 and 98 distinct words sharing a 67-word prefix: 97 and 96
    # 3-word shingles, 65 shared, union 128
    shared = [f"s{i}" for i in range(67)]
    a = shared + [f"a{i}" for i in range(32)]
    b = shared + [f"b{i}" for i in range(31)]
    docs = spark.createDataFrame(
        [(1, " ".join(a)), (2, " ".join(b))], "doc_id long, text string"
    )
    got = [
        (r["a"], r["b"], r["jaccard"])
        for r in near_duplicate_pairs(docs, bands=32, threshold=0.5).collect()
    ]
    assert got == [(1, 2, 0.507813)]
    assert [
        (r["a"], r["b"], r["jaccard"])
        for r in jaccard_pairs(docs, threshold=0.5).collect()
    ] == got


def test_lsh_rows_per_band_subset_law(spark):
    """Multi-row bands (the scale tier) emit a SUBSET of the 1-row
    tier's candidates — collision needs every row-minhash to agree —
    and near-identical planted pairs survive both tiers."""
    from pyspark.sql import functions as F

    from webcrawler_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        near_duplicate_pairs,
    )

    base = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit(f"w{k}x"), (F.col("id") * 31 + k) % 97)
                for k in range(30)
            ],
        ).alias("text"),
    )
    dup = base.where("doc_id % 8 = 0").select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat("text", F.lit(" tailword")).alias("text"),
    )
    docs = base.unionByName(dup)
    loose = {(r["a"], r["b"]) for r in lsh_candidate_pairs(docs).collect()}
    strict = {
        (r["a"], r["b"])
        for r in lsh_candidate_pairs(docs, rows_per_band=3).collect()
    }
    assert strict <= loose
    planted = {(i, i + 1000) for i in range(0, 40, 8)}
    assert planted <= strict  # J=(n-2)/(n-1)≈0.97 → J³≈0.9/band
    for rows_per_band in (1, 3):
        pairs = {
            (r["a"], r["b"])
            for r in near_duplicate_pairs(
                docs, threshold=0.8, rows_per_band=rows_per_band
            ).collect()
        }
        assert planted <= pairs, rows_per_band

    # one (doc, band) row per band, whatever rows_per_band is
    for rows_per_band in (1, 3):
        sig = minhash_signatures(docs, rows_per_band=rows_per_band)
        assert sig.columns == ["doc_id", "band_id", "band_min"]
        per_doc = sig.groupBy("doc_id").count().select("count").distinct()
        assert [r["count"] for r in per_doc.collect()] == [4]
