"""Engine importance-aware scheduling (CrawlConfig.priority_mode —
round-4 verdict ask #6): under "pagerank"/"opic" the W1 host-limited
wave is ordered by a rank table rebuilt from the ACCUMULATED crawled
link graph, so well-linked hosts are fetched earlier; the default
"fifo" preserves the reference's (priority, host) order exactly.

Web shape: five seed hosts each link to ONE shared popular host
(named zzz-popular so plain host-name FIFO order puts it LAST) and
one private unpop host. After round 0 crawls the seeds, the frontier
holds six hosts but hosts_per_round admits five — the one deferred to
round 2 is the popular host under FIFO, and an unpop host under
pagerank (popular's in-degree is 5× every unpop's)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webcrawler_spark.engine import CrawlConfig, CrawlEngine

N_SEEDS = 5


def _page(url: str, body: str) -> tuple:
    return (url, f"<html><body>{body}</body></html>".encode(), 200, "text/html")


@pytest.fixture(scope="module")
def rank_web(spark):
    rows = []
    seed_urls = []
    for i in range(N_SEEDS):
        u = f"https://s{i}.example/"
        body = (
            '<a href="https://zzz-popular.example/p">hub</a> '
            f'<a href="https://unpop{i}.example/p">leaf</a>'
        )
        rows.append(_page(u, body))
        seed_urls.append(u)
    rows.append(_page("https://zzz-popular.example/p", "the popular page"))
    for i in range(N_SEEDS):
        rows.append(_page(f"https://unpop{i}.example/p", f"leaf {i}"))
    pages = spark.createDataFrame(
        rows, "url string, html binary, status int, content_type string"
    ).localCheckpoint()
    seeds = spark.createDataFrame(
        [(u, i) for i, u in enumerate(seed_urls)],
        "url string, seed_order long",
    )
    return pages, seeds


def _crawl(spark, rank_web, **cfg_kwargs):
    pages, seeds = rank_web
    cfg = CrawlConfig(
        max_rounds=8,
        hosts_per_round=N_SEEDS,
        max_urls_per_host_per_round=5,
        round_window=1000.0,
        collect_metrics=False,
        priority_refresh_rounds=1,
        **cfg_kwargs,
    )
    eng = CrawlEngine(spark, pages, config=cfg)
    eng.run(seeds)
    return eng


def _fetch_rounds(eng) -> dict:
    return {
        r["host"]: r["rnd"]
        for r in eng.pages_fetched()
        .groupBy("host")
        .agg(F.min("round").alias("rnd"))
        .collect()
    }


@pytest.fixture(scope="module")
def fifo_rounds(spark, rank_web):
    return _fetch_rounds(_crawl(spark, rank_web))


@pytest.fixture(scope="module")
def pagerank_eng(spark, rank_web):
    return _crawl(spark, rank_web, priority_mode="pagerank")


def test_fifo_defers_the_popular_host(fifo_rounds):
    pop = fifo_rounds["https://zzz-popular.example"]
    unpops = [
        v for h, v in fifo_rounds.items() if h.startswith("https://unpop")
    ]
    assert len(unpops) == N_SEEDS
    # name-ordered FIFO: every unpop host beats zzz-popular
    assert all(pop > u for u in unpops), (pop, unpops)


def test_pagerank_fetches_the_popular_host_first(pagerank_eng, fifo_rounds):
    pr_rounds = _fetch_rounds(pagerank_eng)
    pop = pr_rounds["https://zzz-popular.example"]
    unpops = [
        v for h, v in pr_rounds.items() if h.startswith("https://unpop")
    ]
    # rank order admits the 5x-linked host in the first discovered-host
    # wave; exactly one unpop host is deferred instead
    assert pop == min(unpops + [pop]), (pop, unpops)
    assert max(unpops) > pop
    # coverage parity: the mode reorders, never drops
    assert set(pr_rounds) == set(fifo_rounds)


@pytest.mark.parametrize("mode", ["opic", "recrawl"])
def test_other_modes_complete_with_identical_coverage(
    spark, rank_web, fifo_rounds, mode
):
    eng = _crawl(spark, rank_web, priority_mode=mode)
    assert set(_fetch_rounds(eng)) == set(fifo_rounds)


def test_unknown_mode_raises():
    # at construction, before any round runs
    with pytest.raises(ValueError, match="priority_mode"):
        CrawlConfig(priority_mode="bogus", hosts_per_round=N_SEEDS)


@pytest.mark.parametrize(
    "kwargs, match",
    [
        ({"priority_mode": "pagerank"}, "hosts_per_round"),
        ({"seen_filter": "blom"}, "seen_filter"),
        ({"seen_filter": "cuckoo"}, "seen_filter"),
        ({"hosts_per_round": 0}, "hosts_per_round"),
        ({"max_urls_per_host_per_round": 0}, "max_urls_per_host_per_round"),
        ({"n_buckets": 0}, "n_buckets"),
        ({"gc_keep_rounds": -1}, "gc_keep_rounds"),
    ],
)
def test_bad_config_fails_at_construction(kwargs, match):
    with pytest.raises(ValueError, match=match):
        CrawlConfig(**kwargs)


@pytest.mark.parametrize("flags, want", [([], "exact"), (["--bloom"], "bloom")])
def test_cli_bloom_flag_selects_seen_filter(flags, want):
    from webcrawler_spark.main import build_parser, config_from_args

    args = build_parser().parse_args(
        ["--pages", "pages", "--catalog", "cat"] + flags
    )
    assert config_from_args(args).seen_filter == want


def test_recrawl_rank_counts_each_url_once(spark, rank_web):
    """A host's recrawl rank is the mean p_stale over its distinct
    urls: a url fetched in two rounds must not weigh twice."""
    from webcrawler_spark.operators.recrawl import recrawl_priority

    pages, _ = rank_web
    h = "https://h.example"
    fetched = spark.createDataFrame(
        [
            (f"{h}/a", h, 0, "v1"),
            (f"{h}/a", h, 1, "v2"),  # refetched, content changed
            (f"{h}/b", h, 0, "v1"),
        ],
        "url string, host string, round int, text string",
    )
    eng = CrawlEngine(
        spark,
        pages,
        config=CrawlConfig(priority_mode="recrawl", hosts_per_round=1),
    )
    eng.cat.append("pages_fetched", fetched)
    eng.state.round = 2
    eng._refresh_host_ranks()
    (row,) = eng._rank_df.collect()

    hist = fetched.select("url", "round", F.md5("text").alias("digest"))
    p = {
        r["url"]: r["p_stale"]
        for r in recrawl_priority(hist, now_round=2).collect()
    }
    assert p[f"{h}/a"] != p[f"{h}/b"]
    assert row["host"] == h
    assert row["rank_score"] == pytest.approx((p[f"{h}/a"] + p[f"{h}/b"]) / 2)
