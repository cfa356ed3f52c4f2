"""spark-submit entry point.

Reference CLI (main.py:15): ``python3 main.py -s SEEDS -n LIMIT [-d]``.
Rebuild:

    spark-submit --py-files webcrawler_spark.zip webcrawler_spark/main.py \
        --seeds seeds.txt --pages /data/pages_parquet --limit 100000 \
        --catalog /data/crawl_catalog [--resume] [--debug]

(spark-submit takes the driver as a file path, not ``-m``; this file
is self-contained as a driver — tests/test_submit_cli.py runs exactly
this invocation with the package importable only from the zip.)

``--pages`` points at the offline web table (input_hint schema); the
catalog dir holds the resumable snapshots. ``--debug`` prints the
reference's per-page JSON records (DebugPrinter.py:9-18, S6).
"""

from __future__ import annotations

import argparse
import sys
import time


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="webcrawler_spark batch crawler")
    p.add_argument("-s", "--seeds", help="seed URL file (one per line)")
    p.add_argument("-n", "--limit", type=int, default=None, help="page budget")
    p.add_argument("--pages", required=True, help="parquet path of the pages table")
    p.add_argument("--catalog", required=True, help="snapshot catalog directory")
    p.add_argument("--resume", action="store_true", help="resume from snapshot")
    p.add_argument("-d", "--debug", action="store_true", help="print debug JSON")
    p.add_argument("--max-rounds", type=int, default=None)
    p.add_argument(
        "--bloom", action="store_true",
        help="Bloom seen pre-filter (taken once seen outgrows the"
        " wave broadcast gate)",
    )
    p.add_argument("--salt", type=int, default=1, help="mega-host salt fan (O9)")
    p.add_argument(
        "--records-per-file", type=int, default=1000,
        help="output rotation (reference WARC parity: 1000 pages/file)",
    )
    p.add_argument(
        "--warc-dir", default=None,
        help="also write fetched pages as WARC/1.1 gzip records"
        " (WarcFileSave.py interchange format)",
    )
    return p


def config_from_args(args: argparse.Namespace):
    """The crawl's CrawlConfig from parsed CLI arguments."""
    from webcrawler_spark.engine import CrawlConfig

    return CrawlConfig(
        limit=args.limit,
        max_rounds=args.max_rounds,
        seen_filter="bloom" if args.bloom else "exact",
        salt_n=args.salt,
        records_per_file=args.records_per_file,
    )


def main(argv=None) -> int:
    from pyspark.sql import SparkSession, Window
    from pyspark.sql import functions as F

    from webcrawler_spark.plans.crawl import crawl, resume_crawl

    args = build_parser().parse_args(argv)
    from webcrawler_spark.session import apply_perf_conf

    spark = apply_perf_conf(
        SparkSession.builder.appName("webcrawler-spark")
    ).getOrCreate()
    pages = spark.read.parquet(args.pages)
    cfg = config_from_args(args)

    t0 = time.time()
    if args.resume:
        session = resume_crawl(spark, pages, args.catalog, cfg, verbose=True)
    else:
        if not args.seeds:
            print("--seeds required unless --resume", file=sys.stderr)
            return 2
        seeds = (
            spark.read.text(args.seeds)  # S1
            .select(F.col("value").alias("url"))
            .withColumn(
                "seed_order",
                F.row_number().over(Window.orderBy(F.monotonically_increasing_id()))
                - 1,
            )
        )
        session = crawl(
            spark, pages, seeds, catalog_root=args.catalog, config=cfg, verbose=True
        )

    if args.warc_dir:  # S5 interchange sink
        from webcrawler_spark.sources.warc import save_pages_warc

        warc_src = pages.join(
            session.pages_fetched.select("url", "fetch_ts"), "url"
        ).select(
            "url", "status", "content_type",
            F.col("html").alias("payload"), "fetch_ts",
        )
        manifest = save_pages_warc(
            warc_src, args.warc_dir, records_per_file=args.records_per_file
        )
        print(
            f"wrote {sum(m['n_records'] for m in manifest)} WARC records"
            f" in {len(manifest)} files to {args.warc_dir}"
        )

    if args.debug:  # S6
        for row in session.debug_records.collect():
            print(row["record"])

    # final per-host stats, like main.py:92 / A2
    stats = session.host_counts.orderBy(F.desc("n")).collect()
    print(f"crawled {session.total_fetched} pages in {time.time() - t0:.1f}s")
    for r in stats[:20]:
        print(f"  {r['host']}: {r['n']}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
