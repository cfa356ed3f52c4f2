"""End-to-end crawl parity: Spark engine vs the reference simulator
(SURVEY.md §5.2 layer 3) on the deterministic synthetic web.

BSP (full-parallel) mode asserts the order-independent contracts
exactly (§5.3): URL-seen set, fetched flags, per-host counts,
byte-identical text, per-host FIFO attempt order, politeness spacing.
Total-order parity is asserted in sequential mode in
test_engine_parity_seq.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webcrawler_spark.engine import CrawlConfig, CrawlEngine
from webcrawler_spark.functions.urltools import host_of
from webcrawler_spark.simulator import ReferenceSimulator, pages_df_to_dict
from webcrawler_spark.sources.synthetic_web import SEEDS, build_pages, seeds_df


@pytest.fixture(scope="module")
def pages(spark):
    return build_pages(spark).localCheckpoint()


@pytest.fixture(scope="module")
def simres(spark, pages):
    sim = ReferenceSimulator(pages_df_to_dict(pages.collect()))
    return sim.run(SEEDS)


# Spark jobs one steady-state scale-mode round of this crawl submits
# (rounds 2-4: no host left to admit), as measured; a change that cuts
# round jobs lowers it
STEADY_ROUND_JOBS = 26


class _JobCountingEngine(CrawlEngine):
    """Records (pending_new_hosts at the round's start, round result,
    Spark jobs the round submitted). Jobs are counted by job-id
    difference: the engine's concurrent table writes run on pool
    threads, which do not inherit a job group."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.round_jobs: list = []

    def run_round(self) -> dict:
        tracker = self.spark.sparkContext.statusTracker()
        pending = self.state.pending_new_hosts
        before = set(tracker.getJobIdsForGroup(None))
        out = super().run_round()
        n = len(set(tracker.getJobIdsForGroup(None)) - before)
        self.round_jobs.append((pending, out, n))
        return out


@pytest.fixture(scope="module")
def crawled(spark, pages):
    eng = _JobCountingEngine(spark, pages, config=CrawlConfig(max_rounds=40))
    eng.run(seeds_df(spark))
    return eng


def test_seen_set_and_fetched_flags(crawled, simres):
    """north_rule: same final URL-seen set; §2.7 attempted-not-fetched
    URLs (robots-blocked, decoys, dead, non-2xx) are seen too."""
    eng_seen = {r["url"]: r["fetched"] for r in crawled.seen().collect()}
    assert eng_seen == simres.seen
    # sanity: the set includes non-fetched attempts
    assert any(not f for f in eng_seen.values())


def test_text_byte_identical(crawled, simres):
    """input_hint per-row invariant: byte-identical extracted text."""
    texts = {r["url"]: r["text"] for r in crawled.pages_fetched().collect()}
    assert set(texts) == set(simres.texts)
    for url, t in texts.items():
        assert t == simres.texts[url], url


def test_per_host_counts(crawled, simres):
    """A2/A3/A4 — per-host attempted counts match the merged worker
    stats (Host.py:147-148, WorkersPipeline.py:281-288)."""
    counts = {r["host"]: r["n"] for r in crawled.host_counts().collect()}
    assert counts == simres.host_counts


def test_per_host_fifo_order(crawled, simres):
    """W3: within each host, attempts run in discovery (FIFO) order."""
    rows = crawled.seen().collect()
    eng_order: dict[str, list[str]] = {}
    for r in sorted(rows, key=lambda r: (r["discovered_seq"],)):
        eng_order.setdefault(r["host"], []).append(r["url"])
    sim_order: dict[str, list[str]] = {}
    for url, _, _ in simres.attempt_order:
        sim_order.setdefault(host_of(url), []).append(url)
    assert eng_order == sim_order


def test_politeness_spacing(crawled, simres):
    """W4: consecutive *fetch-consuming* attempts of one host are ≥ its
    crawl delay apart in virtual time (spec.pdf Politeness Policy)."""
    # recover delays from the engine's own host_state table
    hs = {r["host"]: r["delay"] for r in crawled.cat.read("host_state").collect()}
    rows = [r for r in crawled.seen().collect() if r["fetched"]]
    per_host: dict[str, list[float]] = {}
    for r in sorted(rows, key=lambda r: r["attempt_ts"]):
        per_host.setdefault(r["host"], []).append(r["attempt_ts"])
    for host, ts in per_host.items():
        for a, b in zip(ts, ts[1:]):
            # 1e-5 absolute slack: doubles at epoch magnitude (1.65e9)
            # have ~2e-7 ulp, so exact-delay spacing rounds either way
            assert b - a >= hs[host] - 1e-5, (host, a, b, hs[host])


def test_delay_law_pinned(crawled):
    """Host.py:96-114 clamp: slow 5→3.0, fast 0.05 verbatim, missing→0.1."""
    hs = {r["host"]: r["delay"] for r in crawled.cat.read("host_state").collect()}
    assert hs["https://slow.example"] == 3.0
    assert hs["https://fast.example"] == 0.05
    assert hs["https://norobots.example"] == 0.1


def test_robots_disallow_enforced(crawled, simres):
    """F2: /private/secret attempted but never fetched; Allow override
    /private/open/doc fetched (longest-match wins)."""
    seen = {r["url"]: r["fetched"] for r in crawled.seen().collect()}
    assert seen["https://blocked.example/private/secret"] is False
    assert seen["https://blocked.example/private/open/doc"] is True


def test_extension_and_status_gates(crawled):
    """F1 literal-suffix filter (datacsv trap!), F3 content-type, F4 2xx."""
    seen = {r["url"]: r["fetched"] for r in crawled.seen().collect()}
    assert seen["https://binary.example/doc.pdf"] is False
    assert seen["https://binary.example/datacsv"] is False  # the trap
    assert seen["https://binary.example/ok.html"] is True
    assert seen["https://dead.example/notfound"] is False   # 404
    assert seen["https://dead.example/moved"] is False      # 301
    assert seen["https://dead.example/gone"] is False       # no row (F5)


def test_debug_records_format(crawled):
    """S6: {URL,Title,Text,Timestamp} JSON per fetched page
    (DebugPrinter.py:9-18, spec.pdf Debugging)."""
    import json

    recs = [json.loads(r["record"]) for r in crawled.debug_records().collect()]
    assert len(recs) > 0
    for rec in recs:
        assert set(rec) <= {"URL", "Title", "Text", "Timestamp"}
        assert rec["URL"].startswith("https://")
        assert len(rec["Text"].split()) <= 20  # P10 first-20-words


def test_steady_state_round_job_budget(crawled):
    """A scale-mode round with no host to admit submits at most
    STEADY_ROUND_JOBS Spark jobs (a cut lowers the pin)."""
    steady = [
        n for pending, out, n in crawled.round_jobs
        if pending == 0 and "stopped" not in out
    ]
    assert steady, crawled.round_jobs
    assert max(steady) <= STEADY_ROUND_JOBS, crawled.round_jobs


def test_budget_limit_exact(spark, pages, simres):
    """A1: the crawl lands exactly on the page budget (rebuild fixes the
    reference's LIMIT+1 overshoot, WorkersPipeline.py:271-272)."""
    eng = CrawlEngine(
        spark, pages, config=CrawlConfig(limit=17, max_rounds=40)
    )
    eng.run(seeds_df(spark))
    fetched = [r for r in eng.seen().collect() if r["fetched"]]
    assert len(fetched) == 17
    # budgeted fetches are a subset of the unbudgeted fetch set
    assert {r["url"] for r in fetched} <= set(simres.texts)


@pytest.fixture(scope="module")
def empty_crawl(spark, pages):
    """A ``plans.crawl`` with a zero page budget over a caller's config;
    returns (that config, the session)."""
    from webcrawler_spark.plans.crawl import crawl

    cfg = CrawlConfig(max_rounds=40)
    return cfg, crawl(spark, pages, seeds_df(spark), limit=0, config=cfg)


def test_crawl_limit_leaves_callers_config_alone(empty_crawl):
    cfg, session = empty_crawl
    assert cfg.limit is None
    assert session.engine.cfg.limit == 0
    assert session.total_fetched == 0


def test_empty_crawl_pages_schema_matches_a_fetching_crawl(crawled, empty_crawl):
    """A crawl that fetched nothing has no pages_fetched table; its
    fallback has the columns, order and types of the written table."""
    empty = empty_crawl[1].pages_fetched
    assert empty.count() == 0

    def cols(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    assert cols(empty) == cols(crawled.pages_fetched())


def test_salted_selection_equivalent(spark, pages):
    """O9: mega-host salting (two-phase FIFO top-B) must not change the
    crawl outcome, only the physical plan."""
    eng_plain = CrawlEngine(spark, pages, config=CrawlConfig(max_rounds=40))
    eng_plain.run(seeds_df(spark))
    eng_salt = CrawlEngine(
        spark, pages, config=CrawlConfig(max_rounds=40, salt_n=4)
    )
    eng_salt.run(seeds_df(spark))
    a = {(r["url"], r["fetched"]) for r in eng_plain.seen().collect()}
    b = {(r["url"], r["fetched"]) for r in eng_salt.seen().collect()}
    assert a == b


def test_wave_join_fallback_equivalent(spark, pages):
    """O13: forcing every wave join down the shuffle-hash fallback
    (wave_broadcast_max_rows=0) must produce the identical crawl —
    broadcast vs shuffle is a physical choice only."""
    eng = CrawlEngine(
        spark, pages, config=CrawlConfig(max_rounds=40, wave_broadcast_max_rows=0)
    )
    eng.run(seeds_df(spark))
    plain = CrawlEngine(spark, pages, config=CrawlConfig(max_rounds=40))
    plain.run(seeds_df(spark))
    assert (
        {(r["url"], r["fetched"]) for r in eng.seen().collect()}
        == {(r["url"], r["fetched"]) for r in plain.seen().collect()}
    )


def test_many_hosts_round(spark):
    """Scheduling state stays slim: a round over a 50k-host frontier
    completes with the body-free broadcast (and the host_robots table
    holds the admission records exactly once per host)."""
    from webcrawler_spark.sources.synthetic_web import big_web_seeds, build_big_web

    n_hosts = 50_000
    pages = build_big_web(spark, num_hosts=n_hosts, pages_per_host=2, links_per_page=2)
    seeds = big_web_seeds(spark, num_hosts=n_hosts, every=1)  # seed every host
    eng = CrawlEngine(spark, pages, config=CrawlConfig(max_rounds=1))
    eng.run(seeds)
    assert eng.state.total_hosts == n_hosts
    robots = eng.cat.read("host_robots")
    assert robots.count() == n_hosts
    assert robots.select("host").distinct().count() == n_hosts
    assert eng.state.total_fetched > 0


def test_bloom_path_equivalent(spark, pages):
    """O5: Bloom pre-filtered J1 produces the identical crawl (no false
    drops — SURVEY.md §7.4(4)). wave_broadcast_max_rows=0 puts every
    round's seen past the gate, so the pre-pass really runs."""
    eng = CrawlEngine(
        spark,
        pages,
        config=CrawlConfig(
            max_rounds=40, seen_filter="bloom", wave_broadcast_max_rows=0
        ),
    )
    eng.run(seeds_df(spark))
    plain = CrawlEngine(spark, pages, config=CrawlConfig(max_rounds=40))
    plain.run(seeds_df(spark))
    assert (
        {(r["url"], r["fetched"]) for r in eng.seen().collect()}
        == {(r["url"], r["fetched"]) for r in plain.seen().collect()}
    )


def test_seen_prefilter_runs_only_past_the_broadcast_gate(
    spark, pages, monkeypatch
):
    """J1's Bloom pre-pass is size-gated: while seen fits
    wave_broadcast_max_rows the round runs the plain exact anti-join
    and never calls the pre-pass; past the gate every round calls it."""
    import webcrawler_spark.engine as engine

    calls = []
    real = engine.anti_join_with_bloom

    def spy(*args, **kwargs):
        calls.append("bloom")
        return real(*args, **kwargs)

    monkeypatch.setattr(engine, "anti_join_with_bloom", spy)
    CrawlEngine(
        spark, pages, config=CrawlConfig(max_rounds=2, seen_filter="bloom")
    ).run(seeds_df(spark))
    assert calls == []
    history = CrawlEngine(
        spark,
        pages,
        config=CrawlConfig(
            max_rounds=2, seen_filter="bloom", wave_broadcast_max_rows=0
        ),
    ).run(seeds_df(spark))
    assert len(history) == 2
    assert calls == ["bloom", "bloom"]
