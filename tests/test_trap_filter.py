"""Engine trap-filter integration (CrawlConfig.trap_filter): a host
minting endless distinct URLs for identical content gets flagged from
the cumulative per-host HLL digest sketch and its frontier rows are
dropped; honest hosts are untouched and the flag's default-off path
is byte-identical to the baseline crawl."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webcrawler_spark.engine import CrawlConfig, CrawlEngine


def _page(url: str, body: str) -> tuple:
    html = f"<html><body>{body}</body></html>".encode()
    return (url, html, 200, "text/html")


@pytest.fixture(scope="module")
def trap_web(spark):
    rows = []
    urls = []
    # two honest hosts: 30 distinct pages each
    for h in ("good-a.example", "good-b.example"):
        for i in range(30):
            u = f"https://{h}/page{i}"
            rows.append(_page(u, f"unique content {h} {i}"))
            urls.append(u)
    # calendar trap: 200 distinct URLs, one page
    for i in range(200):
        u = f"https://trap.example/cal?day={i}"
        rows.append(_page(u, "the same calendar page forever"))
        urls.append(u)
    pages = spark.createDataFrame(
        rows, "url string, html binary, status int, content_type string"
    ).localCheckpoint()
    seeds = spark.createDataFrame(
        [(u, i) for i, u in enumerate(urls)], "url string, seed_order long"
    )
    return pages, seeds


def _crawl(spark, trap_web, **cfg_kwargs):
    pages, seeds = trap_web
    cfg = CrawlConfig(
        max_rounds=12,
        max_urls_per_host_per_round=10,
        round_window=1000.0,
        collect_metrics=False,
        **cfg_kwargs,
    )
    eng = CrawlEngine(spark, pages, config=cfg)
    eng.run(seeds)
    return eng


@pytest.fixture(scope="module")
def baseline(spark, trap_web):
    return _crawl(spark, trap_web)


@pytest.fixture(scope="module")
def filtered(spark, trap_web):
    return _crawl(
        spark,
        trap_web,
        trap_filter=True,
        trap_min_urls=15,
        trap_dup_threshold=0.5,
    )


def _per_host_fetched(eng):
    return {
        r["host"]: r["n"]
        for r in eng.pages_fetched()
        .groupBy("host")
        .agg(F.count("*").alias("n"))
        .collect()
    }


def test_baseline_crawls_the_trap_dry(baseline):
    n = _per_host_fetched(baseline)
    # no feedback: the trap eats its full 10-per-round budget in every
    # one of the 12 rounds
    assert n["https://trap.example"] == 120


def test_trap_host_is_cut_off(filtered):
    n = _per_host_fetched(filtered)
    # flagged once cumulative fetches ≥ 15 with ~1 distinct page:
    # at 10/round the trap survives rounds 1-2 (flag computed from
    # state written in prior rounds) and is dropped from round 3 on
    assert n["https://trap.example"] <= 30
    # honest hosts complete in full
    assert n["https://good-a.example"] == 30
    assert n["https://good-b.example"] == 30


def test_trap_rows_leave_the_frontier(filtered):
    # quiescence still reached: the flagged host's pending URLs were
    # removed rather than starved in place
    assert filtered.state.done
    frontier = filtered.cat.read("frontier")
    assert frontier.filter(F.col("host") == "https://trap.example").count() == 0


def test_flag_off_writes_no_trap_state(baseline):
    regs = baseline.cat.read("host_digests")
    assert regs is not None and regs.count() == 0


def test_honest_host_never_flagged(spark, trap_web):
    # threshold semantics: an all-distinct host stays unflagged even
    # with an aggressive min_urls
    eng = _crawl(
        spark,
        trap_web,
        trap_filter=True,
        trap_min_urls=5,
        trap_dup_threshold=0.5,
    )
    n = _per_host_fetched(eng)
    assert n["https://good-a.example"] == 30
    assert n["https://good-b.example"] == 30


def test_trap_cut_frontier_stops_without_an_empty_round(spark):
    """A frontier holding only a flagged host's rows ends the crawl at
    the round whose trap cut empties it: no full round that attempts
    nothing before the quiescence stop."""
    urls = [f"https://trap.example/cal?day={i}" for i in range(200)]
    pages = spark.createDataFrame(
        [_page(u, "the same calendar page forever") for u in urls],
        "url string, html binary, status int, content_type string",
    ).localCheckpoint()
    seeds = spark.createDataFrame(
        [(u, i) for i, u in enumerate(urls)], "url string, seed_order long"
    )
    cfg = CrawlConfig(
        max_rounds=12,
        max_urls_per_host_per_round=10,
        round_window=1000.0,
        collect_metrics=False,
        trap_filter=True,
        trap_min_urls=15,
    )
    eng = CrawlEngine(spark, pages, config=cfg)
    history = eng.run(seeds)
    assert [(m["attempted"], m["fetched"]) for m in history[:2]] == [
        (10, 10),
        (10, 10),
    ]
    assert history[2:] == [
        {"round": 2, "attempted": 0, "fetched": 0, "stopped": "empty"}
    ]
    assert eng.state.done and eng.state.round == 2
