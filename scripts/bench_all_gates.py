"""ALL-gates-on bench crawl (round-4 verdict ask #8, scale half).

Runs the 240k-page bench crawl twice back-to-back on the same corpus
and JVM shape: once with the reference-parity default config, once
with EVERY opt-in feature enabled (trap filter, sitemap probing,
URL blocklist + word weights, Bloom seen-filter, salted selection,
pagerank priority mode over the full host set, compaction + GC,
bounded output files, metrics). The bench corpus contains no trap
hosts, no sitemap files, and nothing matching the blocklist/word
weights, so the gates must be SEMANTICALLY INERT here: page/URL
counts must match the plain run exactly (the parity count the ask
names), and the delta between the two walls is the total machinery
cost of running every gate at 240k-page scale.

Usage: python scripts/bench_all_gates.py [out.json]
Env:   SPARK_GRAFT_SCALE_DIR  corpus dir (default /tmp/bigweb-r04-scale)
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from bench_scale_analytics import (  # noqa: E402
    HOSTS,
    LIMIT,
    WORK,
    ensure_corpus,
    get_spark,
)


def _crawl(spark, pages, seeds, cfg_kwargs, tag):
    from webcrawler_spark.engine import CrawlConfig
    from webcrawler_spark.plans.crawl import crawl

    from pyspark.sql import functions as F  # noqa: F401

    cfg = CrawlConfig(
        limit=LIMIT,
        max_rounds=8,
        max_urls_per_host_per_round=50,
        round_window=10.0,
        n_buckets=32,
        **{"collect_metrics": False, **cfg_kwargs},
    )
    t0 = time.time()
    session = crawl(spark, pages, seeds, config=cfg)
    dt = time.time() - t0
    eng = session.engine
    out = {
        "wall_s": round(dt, 1),
        "pages": eng.state.total_fetched,
        "urls": eng.state.total_attempted,
        "rounds": len(session.history),
        "pages_per_sec": round(eng.state.total_fetched / dt, 1),
    }
    print(f"{tag}: {json.dumps(out)}", file=sys.stderr)
    return out


def main() -> None:
    spark = get_spark()
    from webcrawler_spark.sources.synthetic_web import big_web_seeds

    pages = spark.read.parquet(ensure_corpus(spark))
    seeds = big_web_seeds(spark, num_hosts=HOSTS, every=1)

    plain = _crawl(spark, pages, seeds, {}, "plain")
    all_gates = _crawl(
        spark,
        pages,
        seeds,
        dict(
            trap_filter=True,
            trap_min_urls=20,
            trap_dup_threshold=0.5,
            use_sitemaps=True,
            url_blocklist=["blocked.invalid"],
            url_word_weights={"casino": 0.6, "poker": 0.5},
            seen_filter="bloom",
            salt_n=2,
            priority_mode="pagerank",
            priority_refresh_rounds=4,
            hosts_per_round=HOSTS,       # rank the FULL host set
            collect_metrics=True,
            compact_seen_every=4,
            records_per_file=1000,
        ),
        "all_gates",
    )
    out = {
        "corpus_dir": WORK,
        "limit": LIMIT,
        "plain": plain,
        "all_gates": all_gates,
        "parity": {
            "pages_equal": plain["pages"] == all_gates["pages"],
            "urls_equal": plain["urls"] == all_gates["urls"],
        },
        "machinery_cost_pct": round(
            100.0 * (all_gates["wall_s"] - plain["wall_s"]) / plain["wall_s"],
            1,
        ),
    }
    line = json.dumps(out)
    print(line)
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as fh:
            fh.write(line + "\n")


if __name__ == "__main__":
    main()
