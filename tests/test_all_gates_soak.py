"""ALL-gates-on soak (round-4 verdict ask #8): every opt-in engine
feature enabled simultaneously on one durable crawl — trap filter,
sitemap seeding, URL blocklist + word weights, Bloom seen-filter,
salted FIFO selection, pagerank priority mode, compaction + GC,
bounded output files, metrics — to shake out feature interactions the
per-feature e2e tests cannot see (e.g. a trap-flagged host that is
ALSO a sitemap seed; blocklisted links discovered from sitemap-only
pages). Asserts the gates all fire on one history, the catalog
footprint stays bounded, and resume still works."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from webcrawler_spark.engine import CrawlConfig, CrawlEngine
from webcrawler_spark.tables import ParquetCatalog

HONEST = ["a.example", "b.example", "c.example", "d.example"]
N_CHAIN = 10  # chained pages per honest host
ROUNDS = 24


def _page(body: str, links=()) -> str:
    a = "".join(f'<a href="{u}">x</a>' for u in links)
    return f"<html><body><p>{body}</p>{a}</body></html>"


@pytest.fixture(scope="module")
def gate_web(spark):
    rows = []

    def add(url, html, status=200, ct="text/html"):
        rows.append((url, html.encode(), status, ct))

    for h in HONEST:
        base = f"https://{h}"
        add(f"{base}/robots.txt", "User-agent: *\nDisallow: /private\n",
            ct="text/plain")
        # sitemap advertises two sitemap-only pages + one
        # robots-blocked + one extension-blocked entry
        add(
            f"{base}/sitemap.xml",
            "<urlset>"
            f"<url><loc>{base}/sm1</loc></url>"
            f"<url><loc>{base}/sm2</loc></url>"
            f"<url><loc>{base}/private</loc></url>"
            f"<url><loc>{base}/doc.pdf</loc></url>"
            "</urlset>",
            ct="application/xml",
        )
        add(f"{base}/sm1", _page(f"sitemap one {h}"))
        add(f"{base}/sm2", _page(f"sitemap two {h}"))
        add(f"{base}/private", _page("never fetch"))
        add(f"{base}/doc.pdf", "%PDF", ct="application/pdf")
        for i in range(N_CHAIN):
            links = [f"{base}/p{i + 1}"] if i + 1 < N_CHAIN else []
            if i == 2:
                # poisoned links: blocklisted domain, bad-word URL,
                # and the trap host — every filter sees real traffic
                links += [
                    "https://bad.example/landing",
                    f"{base}/casino/poker{i}",
                    "https://trap.example/cal?day=0",
                ]
            add(f"{base}/p{i}", _page(f"content {h} {i}", links))
    # the trap host is ALSO a sitemap seed (the interaction the
    # per-feature tests can't see): same body on every distinct URL
    add("https://trap.example/robots.txt", "User-agent: *\n",
        ct="text/plain")
    add(
        "https://trap.example/sitemap.xml",
        "<urlset>"
        + "".join(
            f"<url><loc>https://trap.example/cal?day={i}</loc></url>"
            for i in range(10)
        )
        + "</urlset>",
        ct="application/xml",
    )
    for i in range(80):
        nxt = [f"https://trap.example/cal?day={i + k}" for k in (1, 2, 3)]
        add(
            f"https://trap.example/cal?day={i}",
            _page("the same calendar page forever", nxt),
        )
    add("https://bad.example/landing", _page("blocked domain"))
    for h in HONEST:
        for i in range(N_CHAIN):
            add(f"https://{h}/casino/poker{i}", _page("gambling"))
    pages = spark.createDataFrame(
        rows, "url string, html binary, status int, content_type string"
    ).localCheckpoint()
    seeds = spark.createDataFrame(
        [(f"https://{h}/p0", i) for i, h in enumerate(HONEST)]
        + [("https://trap.example/cal?day=0", len(HONEST))],
        "url string, seed_order long",
    )
    return pages, seeds


@pytest.fixture(scope="module")
def soak(spark, gate_web, tmp_path_factory):
    pages, seeds = gate_web
    root = str(tmp_path_factory.mktemp("allgates"))
    cfg = CrawlConfig(
        max_rounds=ROUNDS,
        max_urls_per_host_per_round=2,   # stretch the crawl out
        round_window=1000.0,
        hosts_per_round=4,               # exercise the W1 rank window
        priority_mode="pagerank",
        priority_refresh_rounds=3,
        trap_filter=True,
        trap_min_urls=8,
        trap_dup_threshold=0.5,
        use_sitemaps=True,
        url_blocklist=["bad.example"],
        url_word_weights={"casino": 0.6, "poker": 0.5},
        seen_filter="bloom",
        # 0 puts the Bloom pre-pass on every round (it is size-gated
        # on this cap) and the wave joins on the shuffle-hash fallback
        wave_broadcast_max_rows=0,
        salt_n=2,
        compact_seen_every=6,
        gc_keep_rounds=4,
        records_per_file=50,
        collect_metrics=True,
    )
    eng = CrawlEngine(spark, pages, catalog=ParquetCatalog(spark, root),
                      config=cfg)
    eng.init_from_seeds(seeds)
    history = []
    while not eng.state.done and eng.state.round < ROUNDS:
        history.append(eng.run_round())
    return eng, root, history, pages, cfg


def _fetched_urls(eng):
    return {r["url"] for r in eng.pages_fetched().select("url").collect()}


def test_soak_completes_and_crawls(soak):
    eng, _, history, _, _ = soak
    assert len(history) >= 5
    assert eng.state.total_fetched > len(HONEST) * N_CHAIN * 0.8


def test_honest_chains_and_sitemap_pages_fetched(soak):
    eng, _, _, _, _ = soak
    urls = _fetched_urls(eng)
    for h in HONEST:
        assert f"https://{h}/p{N_CHAIN - 1}" in urls      # chain end
        assert f"https://{h}/sm1" in urls                 # sitemap-only
        assert f"https://{h}/sm2" in urls


def test_every_gate_fired(soak):
    eng, _, _, _, _ = soak
    urls = _fetched_urls(eng)
    assert not any("bad.example" in u for u in urls)       # blocklist
    assert not any("casino" in u for u in urls)            # word weights
    assert not any(u.endswith("/private") for u in urls)   # robots
    assert not any(u.endswith(".pdf") for u in urls)       # extension
    # trap host (a sitemap seed!) was caught after the flag threshold:
    # it minted 80+ URLs but only a bounded prefix got fetched
    trap = [u for u in urls if "trap.example" in u]
    assert 0 < len(trap) < 30, len(trap)


def test_catalog_bounded_and_resumable(spark, soak):
    eng, root, history, pages, cfg = soak
    # GC kept the manifest bounded on a durable catalog
    import json

    with open(os.path.join(root, "manifest.json")) as f:
        m = json.load(f)
    assert len(m["rounds"]) <= 4 + 6 + 1  # gc_keep + compaction lag
    # pages_fetched output exists (records_per_file sink path)
    out_files = [
        f
        for _, _, fs in os.walk(os.path.join(root, "pages_fetched"))
        for f in fs
        if f.endswith(".parquet")
    ]
    assert out_files
    # resume restores the finished state exactly
    eng2 = CrawlEngine(
        spark, pages, catalog=ParquetCatalog(spark, root), config=cfg
    )
    eng2.resume()
    assert eng2.state.total_fetched == eng.state.total_fetched
    assert eng2.state.round == eng.state.round


def test_metrics_cover_every_round(soak):
    eng, _, history, _, _ = soak
    met = eng.cat.read("metrics")
    assert met is not None
    rounds_with_metrics = {
        r["round"] for r in met.select("round").distinct().collect()
    }
    fetch_rounds = {
        h["round"] for h in history if h.get("fetched", 0) > 0
    }
    assert fetch_rounds <= rounds_with_metrics
