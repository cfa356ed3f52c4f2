"""Public crawl API: one call = one full batch-iterative crawl session.

Mirrors the reference CLI semantics (main.py:15 ``-s seeds -n limit
[-d]``) on the offline pages table per ``input_hint``: "fetching" is
the J3 equi-join against the Common-Crawl-style table, so the whole
session is deterministic and cluster-friendly.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession

from webcrawler_spark.engine import CrawlConfig, CrawlEngine
from webcrawler_spark.tables import MemoryCatalog, ParquetCatalog


@dataclass
class CrawlSession:
    engine: CrawlEngine
    history: list

    @property
    def pages_fetched(self) -> DataFrame:
        return self.engine.pages_fetched()

    @property
    def seen(self) -> DataFrame:
        return self.engine.seen()

    @property
    def metrics(self) -> DataFrame:
        return self.engine.cat.read("metrics")

    @property
    def debug_records(self) -> DataFrame:
        return self.engine.debug_records()

    @property
    def host_counts(self) -> DataFrame:
        return self.engine.host_counts()

    @property
    def total_fetched(self) -> int:
        return self.engine.state.total_fetched


def crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    limit: int | None = None,
    catalog_root: str | None = None,
    config: CrawlConfig | None = None,
    verbose: bool = False,
) -> CrawlSession:
    """Run a crawl to quiescence or budget; returns result tables.

    ``catalog_root=None`` → ephemeral session catalog; a path → durable
    snapshots (resumable via :func:`resume_crawl`).
    """
    cfg = config or CrawlConfig(limit=limit)
    if config is not None and limit is not None:
        cfg = replace(config, limit=limit)
    cat = (
        ParquetCatalog(spark, catalog_root)
        if catalog_root
        else MemoryCatalog(spark)
    )
    eng = CrawlEngine(spark, pages, catalog=cat, config=cfg)
    history = eng.run(seeds, verbose=verbose)
    return CrawlSession(eng, history)


def resume_crawl(
    spark: SparkSession,
    pages: DataFrame,
    catalog_root: str,
    config: CrawlConfig | None = None,
    verbose: bool = False,
) -> CrawlSession:
    """Continue a durable crawl from its last committed snapshot."""
    eng = CrawlEngine(
        spark, pages, catalog=ParquetCatalog(spark, catalog_root), config=config
    )
    eng.resume()
    history = eng.run(verbose=verbose)
    return CrawlSession(eng, history)
