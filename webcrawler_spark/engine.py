"""Batch-iterative crawl engine: a driver loop of BSP rounds over Spark (SURVEY.md §3.2).

This is the PySpark-native replacement for the reference's 80 threads +
locks + mailboxes (Crawler.py / Worker.py / WorkersPipeline.py): a
driver-side round loop over five snapshot tables. Every cross-worker
interaction of the reference is a shuffle here; every lock is gone.

Scheduling semantics implemented (citations → /root/reference/):

* W1 host order   — (priority, host) min-first          Worker.py:49,227-228
* W2 priorities   — first host 0; new hosts (max-min)/2; re-queued
                    hosts last_fetch + delay             Worker.py:119-147
* W3 per-host FIFO — discovered_seq order                Host.py:59-69
* W4 politeness   — delay law 0.1/verbatim/3.0 clamp     Host.py:95-114
* F1-F8 gates, J1-J3 joins, A1-A5 aggregates             SURVEY.md §2
* seen = every URL ever popped (attempted), not fetched  Worker.py:202

Round phases: ``CrawlEngine.run_round`` is the reference worker loop
(pop the host heap, wait out politeness, HEAD/GET, parse, hand out
links; Worker.py:32-306) as six methods, each deciding the live-fetch
and parity/scale forks for itself:

1. ``_admit``          S2 robots admission of new hosts  Worker.py:119-147
2. ``_schedule``       J2, W3 FIFO rank, W4 budget, W1   Host.py:59-69,
                       host rank → ``cand`` checkpoint   Worker.py:49,227-228
3. ``_gate_fetch``     F1-F5 gates, S3 HEAD + J3 (or the WebAccesser.py:35-100,
                       live transport executor), W4      Host.py:95-114
                       attempt_ts → ``sel`` checkpoint;
   ``_truncate_to_budget`` A1 final-round truncation     WorkersPipeline.py:271-272
4. ``_write_fetched``  S4 GET + parse → pages_fetched    Worker.py:202
                       (S5), seen append, trap deltas
5. ``_exchange_links`` P7/P8 links, A5, J1, W3 seq,      Parser.py:56-66,
                       revive (parity mode)              Worker.py:127-134
6. ``_commit``         driver scalars, frontier (+ due   WorkersPipeline.py:24-26
                       host_state/metrics) writes,
                       compaction, manifest row, GC

Virtual clock: all politeness is computed in *virtual seconds* (no
sleeps, no wall clock), which makes runs deterministic and lets the
offline bench crank through simulated hours in wall-clock seconds.
Offline rounds assign attempt timestamps with native window arithmetic;
a round with a live ``transport`` assigns them inside the per-host
applyInPandas fetch executor instead (same law, identical timestamps).

Determinism contract (§5.3): with ``sequential_parity_mode()`` config
(one host, one URL per round) the engine reproduces the reference
simulator's total attempt order exactly; in full-parallel BSP mode the
fetch SET, per-host FIFO order, per-host counts, and extracted text
are exact, and the politeness law holds per host in virtual time.

Scale design (10^10 URLs, 1000 executors):
* frontier/seen are bucketed by ``pmod(xxhash64(host), n_buckets)`` —
  the J1 anti-join, the W3 window, and the host_state join all shuffle
  on host, so one well-chosen layout serves every stage (O3/O12).
* the scheduling table is SLIM (host, delay, priority, ever_popped) and
  broadcast (J2, O4) behind a size gate (O13) that falls back to a
  shuffle-hash join; robots bodies live in an append-only host_robots
  table joined per-wave only. pages gate-join reads only
  (url, status, content_type) and the html column is joined *only for
  fetched rows* — the reference's HEAD-before-GET two-phase fetch
  becomes column pruning (O2).
* the seen anti-join takes the partitioned-Bloom pre-pass (O5) when
  ``seen_filter="bloom"`` and seen outgrows ``wave_broadcast_max_rows``;
  mega-host skew is broken by two-phase salted FIFO selection (O9) when
  ``salt_n > 1``.
"""

from __future__ import annotations

import gc
from dataclasses import dataclass
from typing import Any, Optional

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from webcrawler_spark.functions.parse import parse_page_udf
from webcrawler_spark.functions.robots import (
    MAX_DELAY_SECONDS,
    MIN_DELAY_SECONDS,
    clamp_delay,
    parse_robots,
    robots_allowed_udf,
)
from webcrawler_spark.functions.urltools import (
    extension_filter_col,
    host_col,
    normalize_url_udf,
    resource_col,
)
from webcrawler_spark.operators.bloom import anti_join_with_bloom
from webcrawler_spark.operators.prefix import attach_prefix_count
from webcrawler_spark.simulator import VIRTUAL_CLOCK_START
from webcrawler_spark.sparkutil import checkpoint, free
from webcrawler_spark.tables import MemoryCatalog, ParquetCatalog

SEQ_STRIDE = 1 << 40  # per-round discovered_seq base; FIFO across rounds


def _join_jobs(*thunks):
    """Run independent Spark actions from concurrent driver threads.

    Spark's scheduler accepts jobs from any driver thread; small
    bookkeeping writes (seen append, host_state overwrite) rarely fill
    the executor slots, so overlapping them with the round's big job
    removes their full wall-clock cost instead of serializing ~1s of
    fixed latency per table per round. Results keep argument order;
    the first raised exception propagates after all jobs settle."""
    if len(thunks) == 1:
        return [thunks[0]()]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
        futures = [ex.submit(t) for t in thunks]
        return [f.result() for f in futures]


def _scalar_aggs() -> tuple:
    """The round scalars (the reference's locked counters,
    WorkersPipeline.py:24-26), observed on the ``sel`` checkpoint's own
    materialization: no dedicated job."""
    return (
        F.count(F.lit(1)).alias("n_att"),
        F.sum(F.col("fetched").cast("int")).alias("n_fet"),
        F.min("priority").alias("min_popped"),
        F.max(F.when(F.col("should_access"), F.col("attempt_ts"))).alias(
            "max_fetch_ts"
        ),
    )


@dataclass
class CrawlConfig:
    limit: Optional[int] = None          # A1 page budget (-n)
    max_rounds: Optional[int] = None     # safety valve
    hosts_per_round: Optional[int] = None  # None = all schedulable hosts
    max_urls_per_host_per_round: int = 50
    round_window: float = 3.0            # virtual seconds per round (W4 budget)
    n_buckets: int = 8                   # host-hash bucket count (O12)
    # J1 seen anti-join: "exact" | "bloom". The Bloom pre-pass
    # (operators/bloom.py) is a routing accelerator over the same exact
    # anti-join semantics, and it runs only once seen holds more than
    # wave_broadcast_max_rows rows — below that J1 is the plain exact
    # anti-join either way.
    seen_filter: str = "exact"
    salt_n: int = 1                      # O9 two-phase FIFO selection fan
    # trap filtering (opt-in; default OFF preserves reference-ordering
    # parity): drop hosts whose fetched content is mostly duplicate —
    # the Mercator/IRLbot crawler-trap signal (operators/traps.py),
    # tracked cumulatively via mergeable per-host HLL digest sketches
    # (operators/sketches.py — 256 registers/host, bounded state at any
    # crawl length). A flagged host's frontier rows are removed at the
    # next round's read and never scheduled again.
    trap_filter: bool = False
    trap_min_urls: int = 20              # flag only after this many fetches
    trap_dup_threshold: float = 0.5      # flag when dup fraction ≥ this
    # sitemap seeding (opt-in; default OFF preserves reference-ordering
    # parity — the reference discovers URLs only from anchors,
    # Parser.py:56-66): at init each seed host's /sitemap.xml, when the
    # corpus has one, is parsed (functions/sitemap.py) and its <loc>
    # entries join the round-0 frontier at depth 1, FIFO-after the
    # seeds. Robots, extension, and seen gates still apply to them at
    # scheduling time like any discovered link.
    use_sitemaps: bool = False
    # URL-level filtering (opt-in; default OFF preserves reference
    # parity — the reference's only URL gate is the extension
    # blocklist, Parser.py:18-24): discovered links whose host is a
    # listed domain (or any subdomain of one), or whose URL's weighted
    # bad-word score reaches the threshold, never enter the frontier —
    # the RefinedWeb §2.1 pre-fetch cut (operators/urlfilter.py). Both
    # gates compile to pure codegen expressions (literal-array
    # arrays_overlap over the ancestor-domain chain; a fixed when-sum)
    # so the link path gains zero joins and zero shuffles. For
    # UT1-scale million-row blocklists use the operator's join form on
    # the corpus instead of this config list.
    url_blocklist: Optional[list] = None
    url_word_weights: Optional[dict] = None
    url_word_threshold: float = 1.0
    # W2 generalized — importance-aware host scheduling (opt-in;
    # default "fifo" preserves reference-ordering parity byte-for-byte,
    # Worker.py:49/227-228 has no importance signal). When a round is
    # host-limited (hosts_per_round), the W1 host order becomes
    # (rank_score DESC, priority, host):
    #   "pagerank" | "opic" — every priority_refresh_rounds rounds the
    #     engine rebuilds a (host, rank_score) table by running the
    #     public algorithm over the ACCUMULATED crawled link graph
    #     (pages_fetched src-host → link-host edges, operators/graph);
    #   "recrawl" — Cho–Garcia-Molina staleness (operators/recrawl):
    #     hosts whose pages are oldest/most-changed rank first.
    # A mode other than "fifo" needs hosts_per_round (checked at
    # construction). Hosts absent from the rank table (not yet
    # linked-to) sort after every ranked host, FIFO among themselves.
    # Scale note: refresh cost is one scan of pages_fetched's links
    # every k rounds; at 10^10 pages a deployment appends a per-round
    # host-edge delta table instead and ranks over that (same
    # operators, incremental input) — the rank loop itself is the
    # bucketed per-iteration shuffle audited in operators/graph.
    priority_mode: str = "fifo"
    priority_refresh_rounds: int = 4
    priority_rank_iters: int = 5
    collect_metrics: bool = True         # S7 per-round metrics table
    agent: str = "*"                     # Host.py:9
    # LIVE transport plug (sources/transport.py): an object exposing
    # head(url) / get(url) per the reference's access contract
    # (WebAccesser.py:35-100). When set, the round's HEAD probe (S3)
    # and GET fetch (S4) happen INSIDE the per-host applyInPandas
    # executor through this object instead of the offline corpus
    # joins, and the same executor assigns the W4 attempt timestamps
    # (offline rounds use native window arithmetic; the timestamps are
    # identical). FakeTransport(corpus) reproduces the offline crawl
    # byte-for-byte (tests/test_live_fetch.py), Urllib3Transport is
    # the real-network client. Must be picklable (ships to executors).
    transport: Optional[Any] = None
    # O7: bounded output files per snapshot — the WARC 1,000-records
    # rotation analog (WarcFileSave.py:9). 0 = let Spark size files;
    # the CLI sets 1000 for reference-parity output layout.
    records_per_file: int = 0
    # compact the delta-accumulating tables (seen, host_robots) every
    # N rounds (0 = never): bounds the delta fan-in the J1 anti-join /
    # per-wave robots join must read on very long crawls
    compact_seen_every: int = 16
    # snapshot-retention GC (durable catalogs only, 0 = keep forever):
    # after each compaction, expire manifest rounds older than the
    # newest N and delete data dirs referenced only by them — bounds
    # disk and manifest size on thousand-round crawls while keeping N
    # rounds of time travel / resume points (tables.ParquetCatalog.gc)
    gc_keep_rounds: int = 0
    # O13: max rows on the small side of a wave join before the engine
    # stops broadcasting it and falls back to a shuffle-hash join. A
    # round wave is hosts × max_urls_per_host_per_round and is unbounded
    # at 10^10-URL scale; past this cap a broadcast would exceed driver/
    # executor memory and fail the round. The same value is the seen
    # size past which J1 runs the seen_filter="bloom" pre-pass (below
    # it J1 is the plain exact anti-join). 0 forces the shuffle-hash
    # fallback everywhere and turns the pre-pass on every round (used
    # by the equivalence tests).
    wave_broadcast_max_rows: int = 4_000_000

    def __post_init__(self) -> None:
        # fail at construction, not rounds into a crawl
        for name, allowed in (
            ("priority_mode", ("fifo", "pagerank", "opic", "recrawl")),
            ("seen_filter", ("exact", "bloom")),
        ):
            if getattr(self, name) not in allowed:
                raise ValueError(
                    f"unknown {name} {getattr(self, name)!r}"
                    f" (expected one of {allowed})"
                )
        for name, least in (
            ("hosts_per_round", 1),
            ("max_urls_per_host_per_round", 1),
            ("n_buckets", 1),
            ("gc_keep_rounds", 0),
        ):
            if getattr(self, name) is not None and getattr(self, name) < least:
                raise ValueError(
                    f"{name} must be >= {least}, got {getattr(self, name)}"
                )
        if self.priority_mode != "fifo" and self.hosts_per_round is None:
            raise ValueError(
                f"priority_mode {self.priority_mode!r} orders the"
                " host-limited wave and needs hosts_per_round"
            )

    @staticmethod
    def sequential_parity_mode(limit: Optional[int] = None) -> "CrawlConfig":
        """One (priority,host)-min host, one URL, per round — the exact
        discrete-event order of the reference heap (SURVEY.md §5.3)."""
        return CrawlConfig(
            limit=limit, hosts_per_round=1, max_urls_per_host_per_round=1
        )


@dataclass
class CrawlState:
    """The driver scalars the reference kept under locks
    (WorkersPipeline.py:24-26) — tiny, JSON-serializable, checkpointed
    into the catalog manifest each round."""

    round: int = 0
    clock: float = VIRTUAL_CLOCK_START
    curr_min: Optional[float] = None     # None ⇒ +inf (Worker.py:50)
    curr_max: float = 0.0
    total_fetched: int = 0
    total_attempted: int = 0
    total_hosts: int = 0                 # drives the O13 scheduling-join gate
    first_host_assigned: bool = False
    done: bool = False
    # W2 medium priority snapshot for hosts discovered last round:
    # in the reference, a new host's medium is computed at add_link
    # time (Worker.py:144-147), interleaved with any revive bumps of
    # currMaxDelay from earlier links in the same loop
    # (Worker.py:128-132). Round-granular approximation: pending_medium
    # carries the pre-bump value across the round boundary. (The
    # post-fetch re-push, Worker.py:199-200, never bumps currMax.)
    pending_medium: Optional[float] = None
    # row count of the committed frontier snapshot, observed for free
    # on the overwrite (Observation API) — makes the D4 quiescence
    # check a dict lookup instead of a per-round isEmpty() job (init
    # observes the seed frontier the same way). None ⇒ unknown
    # (pre-upgrade manifest): fall back to isEmpty() once.
    frontier_rows: Optional[int] = None
    # frontier rows whose host had NOT been admitted (host_state) when
    # the snapshot was written — observed for free on the same
    # overwrite. 0 ⇒ next round's S2 robots admission is provably a
    # no-op and its joins/UDF/delta-write jobs are skipped (in steady
    # state, rounds discover no new hosts). None ⇒ unknown (fresh
    # init / pre-upgrade manifest): run admission, which is always
    # safe.
    pending_new_hosts: Optional[int] = None

    def to_json(self) -> dict:
        return self.__dict__.copy()

    @staticmethod
    def from_json(d: dict) -> "CrawlState":
        s = CrawlState()
        s.__dict__.update(d)
        return s

    @property
    def medium_priority(self) -> float:
        """W2 new-host priority: max(0,(currMax-currMin)/2), -inf-safe
        (Worker.py:143-147 with Worker.py:50-51 initial values)."""
        if self.curr_min is None:
            return 0.0
        return max(0.0, (self.curr_max - self.curr_min) / 2)


# scheduling state is SLIM (no robots bodies): it is broadcast into the
# frontier join every round, and at 10^8 hosts a broadcast carrying
# every robots.txt ever fetched would be the engine's scale-killer.
_HOST_STATE_SCHEMA = (
    "host string, delay double, priority double, ever_popped boolean"
)
# immutable per-host admission record, append-only (one delta per round
# holding only that round's NEW hosts): robots verdict + body + the
# initial priority. Bodies are joined back per-wave, never broadcast
# wholesale.
_HOST_ROBOTS_SCHEMA = (
    "host string, robots_ok boolean, robots_body string, delay double,"
    " priority double"
)
_FRONTIER_SCHEMA = (
    "url string, host string, resource string, bucket int, depth int,"
    " discovered_seq long"
)
_SEEN_SCHEMA = (
    "url string, host string, bucket int, fetched boolean, round int,"
    " attempt_ts double, discovered_seq long"
)
# the pages_fetched rows ``_write_fetched`` appends, in its column order
_PAGES_SCHEMA = (
    "url string, host string, depth int, priority double, text string,"
    " title string, first20 string, links array<string>, n_links int,"
    " fetch_ts double, round int, part_id int"
)
# trap-filter state (only written when cfg.trap_filter): per-host HLL
# registers of content digests (xxhash64 production tier — bucket is a
# bigint pmod) and per-host fetched counts; both append one small delta
# per round and are merge-compacted on the compact_seen_every cadence.
_HOST_DIGESTS_SCHEMA = "host string, bucket bigint, rho int"
_HOST_FETCH_N_SCHEMA = "host string, n long"


class CrawlEngine:
    """Driver loop + per-round job over catalog tables."""

    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        catalog=None,
        config: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.cfg = config or CrawlConfig()
        self.cat = catalog if catalog is not None else MemoryCatalog(spark)
        self.state = CrawlState()
        # O2 column pruning: the gate join never touches html
        self.pages_meta = pages.select("url", "status", "content_type")
        self.pages_html = pages.select("url", "html")
        self.pages_robots = (
            pages.select("url", "html", "status")
            .filter(F.col("url").endswith("/robots.txt"))
        )
        self._robots_side = None  # materialized lazily, once per session
        self._robots_side_thread = None  # background materialization (init overlap)
        # priority_mode rank table: derived state, recomputed every
        # priority_refresh_rounds (and from scratch after a resume —
        # it is a pure function of the committed pages_fetched table,
        # so it is deliberately NOT checkpointed)
        self._rank_df: Optional[DataFrame] = None
        self._rank_round: int = -(10**9)

    # ------------------------------------------------------------------
    # setup / resume
    # ------------------------------------------------------------------
    def _bucket(self, host: F.Column) -> F.Column:
        return F.pmod(F.xxhash64(host), F.lit(self.cfg.n_buckets)).cast("int")

    def _wave_join(
        self, big: DataFrame, small: DataFrame, on, how: str, n_small: int
    ) -> DataFrame:
        """O13 size-gated wave join: broadcast the small (wave) side
        while it fits, else shuffle-hash. The corpus side is the big
        side either way — it is never collected to the driver, and in
        the fallback it hash-shuffles once on the join key (AQE handles
        skew) instead of failing an over-limit broadcast."""
        if n_small > self.cfg.wave_broadcast_max_rows:
            return big.join(small.hint("shuffle_hash"), on, how)
        return big.join(F.broadcast(small), on, how)

    def _fetch_apply_in_pandas_live(
        self, sel: DataFrame, t_round: float
    ) -> DataFrame:
        """S3/W4/S4 fused as a LIVE grouped-map executor (the
        north_star plug point): each per-host pandas group walks its
        FIFO and, per row, performs the HEAD probe, assigns the
        politeness timestamp, and runs the GET through ``cfg.transport`` (the reference's
        access contract, WebAccesser.py:35-100) instead of the offline
        corpus joins.

        Column semantics mirror the offline path exactly — head miss
        (transport returns None) == corpus miss (F5), 'text/html'
        content gate (F3, WebAccesser.py:100), 2xx gate (F4,
        WebAccesser.py:92-96), and the identical virtual-clock
        politeness law — so a FakeTransport over the same corpus
        yields a byte-identical crawl (tests/test_live_fetch.py).

        Skew note (O9): one pandas group per host, bounded by the
        per-round budget, so no group exceeds budget rows; hosts fan
        out across executors like every other host-keyed stage.
        """
        from pyspark.sql.types import (
            BinaryType,
            BooleanType,
            DoubleType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        out_schema = StructType(
            list(sel.schema.fields)
            + [
                StructField("status", LongType()),
                StructField("content_type", StringType()),
                StructField("head_ok", BooleanType()),
                StructField("should_access", BooleanType()),
                StructField("fetched", BooleanType()),
                StructField("attempt_ts", DoubleType()),
                StructField("html", BinaryType()),
            ]
        )
        transport = self.cfg.transport

        def run_host(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("rn_host").reset_index(drop=True)
            start = max(t_round, float(pdf["priority"].iloc[0]))
            delay = float(pdf["delay"].iloc[0])
            consumed = 0
            cols: dict[str, list] = {
                "status": [], "content_type": [], "head_ok": [],
                "should_access": [], "fetched": [], "attempt_ts": [],
                "html": [],
            }
            for row in pdf.itertuples(index=False):
                gate = bool(row.allowed) and bool(row.ext_ok)    # F1/F2
                status: int | None = None
                ct: str | None = None
                head_ok = False
                if gate:
                    h = transport.head(row.url)                  # S3
                    if h is not None:
                        status, ct = int(h[0]), h[1]
                        head_ok = ct is not None and "text/html" in ct  # F3
                should = gate and head_ok                        # F5 via None
                t = start + consumed * delay                     # W4
                body = None
                fetched = False
                if should:
                    consumed += 1
                    if 200 <= status < 300:                      # F4
                        g = transport.get(row.url)               # S4
                        if g is not None:
                            status, ct, body = int(g[0]), g[1], g[2]
                            fetched = True
                cols["status"].append(status)
                cols["content_type"].append(ct)
                cols["head_ok"].append(head_ok)
                cols["should_access"].append(should)
                cols["fetched"].append(fetched)
                cols["attempt_ts"].append(t)
                cols["html"].append(body)
            for name, vals in cols.items():
                pdf[name] = pd.Series(vals, dtype="object")
            return pdf

        return sel.groupBy("host").applyInPandas(run_host, out_schema)

    def init_from_seeds(self, seeds: DataFrame) -> None:
        """S1/D1: seeds (url, seed_order) → round-0 frontier."""
        # overlap the corpus-side robots scan with the seed write: both
        # feed round 1, and neither depends on the other
        self._start_robots_side_async()
        fr = (
            seeds.select(
                normalize_url_udf("url").alias("url"),
                F.col("seed_order").cast("long").alias("discovered_seq"),
            )
            .withColumn("host", host_col(F.col("url")))
            .withColumn("resource", resource_col(F.col("url")))
            .filter(F.col("host") != "")                      # F8
            .dropDuplicates(["url"])                          # A5
            .withColumn("bucket", self._bucket(F.col("host")))
            .withColumn("depth", F.lit(0))
            .select(
                "url", "host", "resource", "bucket", "depth", "discovered_seq"
            )
        )
        if self.cfg.use_sitemaps:
            fr = fr.unionByName(self._sitemap_seeds(fr))
        # the seed count rides the frontier write: round 0's D4 check
        # then needs no isEmpty() job
        fr_obs = Observation()
        self.cat.overwrite(
            "frontier",
            fr.repartition("bucket").observe(fr_obs, F.count(F.lit(1)).alias("n")),
        )
        empty = self.spark.createDataFrame([], _SEEN_SCHEMA)
        self.cat.register_empty("seen", empty)
        self.cat.register_empty(
            "host_state", self.spark.createDataFrame([], _HOST_STATE_SCHEMA)
        )
        self.cat.register_empty(
            "host_robots", self.spark.createDataFrame([], _HOST_ROBOTS_SCHEMA)
        )
        # registered even when trap_filter is off (job-free) so a crawl
        # resumed with the flag toggled finds the tables in the manifest
        self.cat.register_empty(
            "host_digests", self.spark.createDataFrame([], _HOST_DIGESTS_SCHEMA)
        )
        self.cat.register_empty(
            "host_fetch_n", self.spark.createDataFrame([], _HOST_FETCH_N_SCHEMA)
        )
        self.state = CrawlState(frontier_rows=int(fr_obs.get["n"]))
        self.cat.commit_round(-1, self.state.to_json())

    def _sitemap_seeds(self, fr: DataFrame) -> DataFrame:
        """Sitemap-advertised URLs for the seed hosts (opt-in S1 source,
        sitemaps.org protocol; no reference analog — the reference
        follows anchors only).

        Discovery (both halves of the public protocol):
          1. ``Sitemap:`` directives in each seed host's robots.txt
             (functions/sitemap.extract_robots_sitemaps) — the spec's
             canonical advertisement channel, so custom paths like
             ``/maps/news.xml`` are found;
          2. the well-known ``/sitemap.xml`` path as a fallback probe
             (what crawlers try when robots advertises nothing).
        Fetched files that are sitemap INDEXES (``<sitemap>`` blocks)
        are followed one level to their child files — the spec forbids
        deeper nesting, so one hop is complete.

        Plan shape: three pushed-filter corpus scans at init (suffix
        scan for the well-known path; url equi-joins against BROADCASTs
        of the advertised / child URL sets, which are bounded by
        seed-host count × directives-per-file) — the corpus itself
        never shuffles. Entries normalize and in-batch dedup exactly
        like extracted links (P1/A5), anti-join the seeds, and enter
        the frontier at depth 1 with discovered_seq offset 2^20 so each
        host's FIFO is: seeds first, then sitemap entries ordered by
        (file url, file position) (seed lists are assumed < 2^20 rows;
        round-1 discoveries start at 2^40).
        """
        from webcrawler_spark.functions.sitemap import (
            extract_robots_sitemaps,
            extract_sitemap_urls,
        )

        seed_hosts = fr.select(F.col("host").alias("sm_host")).distinct()
        xml_pages = self.pages_html.select(
            "url", F.col("html").cast("string").alias("xml")
        )

        # -- discovery: robots `Sitemap:` lines + well-known path -----
        robots = self.pages_robots.select(
            host_col(F.col("url")).alias("sm_host"),
            F.col("html").cast("string").alias("robots_body"),
        ).join(F.broadcast(seed_hosts), "sm_host")
        advertised = (
            extract_robots_sitemaps(robots, robots_col="robots_body", id_col="sm_host")
            .select(normalize_url_udf(F.col("sitemap_url")).alias("sm_url"))
            .filter(F.col("sm_url") != "")
            .distinct()
        )
        wellknown = (
            self.pages_html.filter(F.col("url").endswith("/sitemap.xml"))
            .select(host_col(F.col("url")).alias("sm_host"), F.col("url"))
            .join(F.broadcast(seed_hosts), "sm_host")
            .select("url")
        )
        level0 = xml_pages.join(
            F.broadcast(
                advertised.select(F.col("sm_url").alias("url"))
                .unionByName(wellknown)
                .distinct()
            ),
            "url",
        ).select(F.col("url").alias("sm_url"), "xml")

        # -- index recursion (exactly one hop, per spec) ---------------
        child_urls = (
            extract_sitemap_urls(level0, xml_col="xml", id_col="sm_url", block="sitemap")
            .select(normalize_url_udf(F.col("loc")).alias("url"))
            .filter(F.col("url") != "")
            .distinct()
            .join(level0.select(F.col("sm_url").alias("url")), "url", "left_anti")
        )
        children = xml_pages.join(F.broadcast(child_urls), "url").select(
            F.col("url").alias("sm_url"), "xml"
        )
        sm_pages = level0.unionByName(children)

        entries = extract_sitemap_urls(sm_pages, xml_col="xml", id_col="sm_url")
        cand = (
            entries.select(
                "sm_url", "pos", normalize_url_udf(F.col("loc")).alias("url")
            )
            .withColumn("host", host_col(F.col("url")))
            .withColumn("resource", resource_col(F.col("url")))
            .filter(F.col("host") != "")                              # F8
        )
        w_first = Window.partitionBy("url").orderBy("sm_url", "pos")
        cand = (
            cand.withColumn("_rn", F.row_number().over(w_first))      # A5
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .join(fr.select("url"), "url", "left_anti")
        )
        w_disc = Window.partitionBy("host").orderBy("sm_url", "pos", "url")
        return cand.select(
            "url",
            "host",
            "resource",
            self._bucket(F.col("host")).alias("bucket"),
            F.lit(1).alias("depth"),
            (F.lit(1 << 20) + F.row_number().over(w_disc))
            .cast("long")
            .alias("discovered_seq"),
        )

    def _url_filter_gate(self, links: DataFrame) -> DataFrame:
        """Opt-in RefinedWeb-style URL cut on discovered links (see
        CrawlConfig.url_blocklist / url_word_weights): both rules are
        pure whole-stage-codegen filters — the blocklist is a literal
        array checked with arrays_overlap against the link host's
        ancestor-domain chain, the word score a fixed when-sum — so the
        link-admission plan gains zero joins and zero shuffles."""
        from webcrawler_spark.operators.urlfilter import (
            ancestor_domains,
            word_score_col,
        )

        cfg = self.cfg
        out = links
        if cfg.url_word_weights:
            out = out.filter(
                word_score_col(F.col("url"), cfg.url_word_weights)
                < F.lit(float(cfg.url_word_threshold))
            )
        if cfg.url_blocklist:
            bl = F.array(*[F.lit(d.lower()) for d in cfg.url_blocklist])
            bare = F.substring_index(F.col("host"), "://", -1)
            out = out.filter(~F.arrays_overlap(ancestor_domains(bare), bl))
        return out

    def resume(self) -> None:
        """North_rule resumption: state scalars come back from the
        manifest; tables come back as the last committed snapshot."""
        st = self.cat.load_state()
        if st is None:
            raise ValueError("catalog has no committed state to resume from")
        self.state = CrawlState.from_json(st)

    # ------------------------------------------------------------------
    # robots for newly-discovered hosts (S2, lazy per host)
    # ------------------------------------------------------------------
    def _materialize_robots_side(self) -> None:
        self._robots_side = checkpoint(
            self.pages_robots.select(
                F.expr(
                    "substring(url, 1, length(url) - length('/robots.txt'))"
                ).alias("host"),
                F.col("html").alias("robots_html"),
                F.col("status").alias("robots_status"),
            )
        )

    def _ensure_robots_side(self) -> None:
        """Join the background materialization if one is in flight;
        otherwise materialize inline. A failed background attempt falls
        back to the inline path (robots_side is still None then)."""
        t = self._robots_side_thread
        if t is not None:
            t.join()
            self._robots_side_thread = None
        if self._robots_side is None:
            self._materialize_robots_side()

    def _start_robots_side_async(self) -> None:
        """Kick the robots side-table scan off on a driver thread so it
        overlaps init's seed-frontier write. The scan depends only on
        the corpus, not on seeds or crawl state, and round 1's S2
        admission is its first consumer — without the overlap its full
        wall sits on the round-1 critical path (measured 4-7 s of the
        11 s round-1 pre-cand at the 640k-page bench corpus). Spark
        supports concurrent job submission from driver threads; errors
        are swallowed here and the consumer retries inline."""
        if self._robots_side is not None or self._robots_side_thread is not None:
            return
        import threading

        def _run() -> None:
            try:
                self._materialize_robots_side()
            except Exception:  # consumer retries inline via _ensure
                self._robots_side = None

        t = threading.Thread(
            target=_run, name="robots-side-materialize", daemon=True
        )
        t.start()
        self._robots_side_thread = t

    def _trap_hosts(self) -> Optional[DataFrame]:
        """(host) rows currently flagged as crawler traps: at least
        ``trap_min_urls`` pages fetched and an HLL-estimated distinct-
        content fraction ≤ 1 − ``trap_dup_threshold`` (the cumulative
        form of operators/traps.trap_host_stats). Registers merge via
        one groupBy MAX; the flagged set is host-granular and tiny, so
        the caller's anti-join rides the usual size-gated wave join."""
        regs = self.cat.read("host_digests")
        cnts = self.cat.read("host_fetch_n")
        if regs is None or cnts is None:
            return None
        from webcrawler_spark.operators.sketches import hll_estimate, hll_merge

        cfg = self.cfg
        est = hll_estimate(hll_merge(regs, key="host"), key="host")
        tot = cnts.groupBy("host").agg(F.sum("n").alias("n"))
        return (
            est.join(tot, "host")
            .where(
                (F.col("n") >= F.lit(int(cfg.trap_min_urls)))
                & (
                    F.col("estimate") / F.col("n")
                    <= F.lit(1.0 - cfg.trap_dup_threshold)
                )
            )
            .select("host")
        )

    def _refresh_host_ranks(self) -> None:
        """Rebuild the (host, rank_score) table for priority_mode from
        the accumulated crawl, at most once per priority_refresh_rounds.
        The table is localCheckpoint-truncated (reused by every round's
        W1 window until the next refresh) and host-granular — bounded
        by the host universe, never by URL count."""
        cfg, st = self.cfg, self.state
        if (
            self._rank_df is not None
            and st.round - self._rank_round < cfg.priority_refresh_rounds
        ):
            return
        pages = self.cat.read("pages_fetched")
        if pages is None:
            return  # nothing crawled yet: FIFO fallback until round 1+
        from webcrawler_spark.functions.urltools import host_col

        if cfg.priority_mode in ("pagerank", "opic"):
            edges = (
                pages.select(
                    F.col("host").alias("src"),
                    F.explode("links").alias("_l"),
                )
                .select("src", host_col(F.col("_l")).alias("dst"))
                .where((F.col("dst") != "") & (F.col("src") != F.col("dst")))
            )
            if cfg.priority_mode == "pagerank":
                from webcrawler_spark.operators.graph import pagerank

                rank = pagerank(edges, n_iter=cfg.priority_rank_iters).select(
                    F.col("node").alias("host"),
                    F.col("rank").alias("rank_score"),
                )
            else:
                from webcrawler_spark.operators.graph import opic

                rank = opic(edges, n_iter=cfg.priority_rank_iters).select(
                    F.col("node").alias("host"),
                    F.col("importance").alias("rank_score"),
                )
        else:  # "recrawl" (CrawlConfig validates the mode)
            from webcrawler_spark.operators.recrawl import recrawl_priority

            hist = pages.select(
                "url", "round", F.md5("text").alias("digest")
            )
            pri = recrawl_priority(hist, now_round=st.round)
            # one row per url: a page refetched in several rounds
            # counts once in its host's average
            rank = (
                pages.select("url", "host")
                .distinct()
                .join(pri, "url")
                .groupBy("host")
                .agg(F.avg("p_stale").alias("rank_score"))
            )
        old = self._rank_df
        self._rank_df = checkpoint(rank)
        free(old)
        self._rank_round = st.round

    def _robots_for_new_hosts(self, frontier: DataFrame, host_state: DataFrame) -> DataFrame:
        new_hosts = (
            frontier.select("host")
            .distinct()
            .join(host_state.select("host"), "host", "left_anti")
        )
        agent = self.cfg.agent

        # stream the big robots side against a BROADCAST of the small
        # new-host set (inner), then recover robots-less hosts with a
        # small-small left join — the pages table itself never shuffles.
        # The robots side (one row per host that has robots.txt) is
        # materialized ONCE per session: the endswith filter cannot be
        # pushed into parquet, so recomputing it every round would
        # re-scan the html column of the whole corpus. (At 10^10-URL
        # scale this materialization is itself a table — a real
        # deployment maintains a robots table next to the corpus.)
        self._ensure_robots_side()
        matched = self._robots_side.join(F.broadcast(new_hosts), "host")
        joined = new_hosts.join(F.broadcast(matched), "host", "left")

        @F.pandas_udf("robots_ok boolean, robots_body string, delay double")
        def parse_udf(html: pd.Series, status: pd.Series) -> pd.DataFrame:
            from webcrawler_spark.functions.htmltools import decode_html_bytes

            rows = []
            for b, s in zip(html, status):
                ok = b is not None and s is not None and 200 <= s < 300
                if not ok:
                    rows.append((False, None, clamp_delay(None, False)))
                    continue
                body = decode_html_bytes(bytes(b))
                rules = parse_robots(body, agent)
                rows.append((True, body, clamp_delay(rules.crawl_delay, True)))
            return pd.DataFrame(rows, columns=["robots_ok", "robots_body", "delay"])

        parsed = joined.withColumn(
            "_r", parse_udf(F.col("robots_html"), F.col("robots_status"))
        ).select("host", "_r.robots_ok", "_r.robots_body", "_r.delay")

        # W2 priorities for brand-new hosts: the very first host ever
        # gets 0 (Worker.py:121-123); later new hosts get the medium
        # (round-granular curr stats; exact in sequential parity mode).
        medium = (
            self.state.pending_medium
            if self.state.pending_medium is not None
            else self.state.medium_priority
        )
        if not self.state.first_host_assigned:
            first = (
                frontier.groupBy("host")
                .agg(F.min("discovered_seq").alias("s"))
                .orderBy("s", "host")
                .limit(1)
                .select("host")
                .withColumn("_first", F.lit(True))
            )
            parsed = parsed.join(first, "host", "left").withColumn(
                "priority",
                F.when(F.col("_first"), F.lit(0.0)).otherwise(F.lit(medium)),
            ).drop("_first")
            self.state.first_host_assigned = True
        else:
            parsed = parsed.withColumn("priority", F.lit(medium))
        return parsed.select(
            "host", "robots_ok", "robots_body", "delay", "priority"
        )

    # ------------------------------------------------------------------
    # one round (SURVEY.md §3.2 rebuild pipeline), as six phases
    # ------------------------------------------------------------------
    def run_round(self) -> dict:
        """One round: admit → schedule → gate + fetch → fetch+parse write
        → link exchange → commit (module docstring). Its two checkpoints,
        ``cand`` and ``sel``, are taken here, each with an Observation."""
        cfg, st = self.cfg, self.state
        frontier = self._pending_frontier()
        if (st.frontier_rows == 0 if st.frontier_rows is not None
                else frontier.isEmpty()):
            return self._stop("empty")                              # D4
        if cfg.limit is not None and st.total_fetched >= cfg.limit:
            return self._stop("budget")                             # A1
        host_state = self._admit(frontier)
        # no global clock jump: a skipped pop must not advance the clock
        # (Worker.py:209-216 waits only on fetches); W4's per-row
        # greatest(clock, priority) is the wait
        t_round = st.clock
        cand_obs, sel_obs = Observation(), Observation()
        cand = checkpoint(self._schedule(frontier, host_state).observe(
            cand_obs, F.count(F.lit(1)).alias("n")))
        n_cand = int(cand_obs.get["n"])
        if n_cand == 0:
            # every frontier host is admitted before J2 and keeps ≥ 1 row
            # under the W4 budget: the trap cut emptied the frontier
            free(cand)
            return self._stop("empty")                              # D4
        sel = checkpoint(self._gate_fetch(cand, n_cand, t_round).observe(
            sel_obs, *_scalar_aggs()))
        sel, scal, truncated = self._truncate_to_budget(sel, sel_obs.get)
        n_att, n_fet = int(scal["n_att"] or 0), int(scal["n_fet"] or 0)
        # parity mode re-schedules revived hosts, so host_state waits for
        # this round's new links; scale mode writes it (and metrics)
        # alongside the page write
        revive = cfg.hosts_per_round is not None
        fetched_rows, seen = self._write_fetched(
            sel, n_fet,
            [] if revive else self._host_writes(sel, n_att, host_state, []))
        new_frontier, new_links, revived = self._exchange_links(
            frontier, host_state, sel, n_att, fetched_rows, seen, revive)
        round_no = self._commit(
            new_frontier,
            self._host_writes(sel, n_att, host_state, revived) if revive else [],
            scal, revived, (cand, sel, new_links))
        return {"round": round_no, "attempted": n_att, "fetched": n_fet,
                "truncated": truncated}

    def _stop(self, reason: str) -> dict:
        """End the crawl without attempting anything: D4 quiescence
        (``"empty"``) or A1 budget (``"budget"``)."""
        st = self.state
        st.done = True
        self.cat.commit_round(st.round, st.to_json())
        return {"round": st.round, "attempted": 0, "fetched": 0,
                "stopped": reason}

    def _pending_frontier(self) -> DataFrame:
        """The committed frontier. With ``trap_filter`` on, trap hosts'
        rows are dropped at this read: scheduling, the remaining
        frontier and the round-end overwrite then all exclude them, so
        they leave the frontier for good."""
        frontier = self.cat.read("frontier")
        traps = self._trap_hosts() if self.cfg.trap_filter else None
        if traps is None:
            return frontier
        return self._wave_join(
            frontier, traps, "host", "left_anti", self.state.total_hosts
        )

    def _admit(self, frontier: DataFrame) -> DataFrame:
        """S2: admit the frontier's new hosts; returns the scheduling
        table (host_state plus this round's admissions). The admission
        record (robots verdict + body + initial priority) is written
        ONCE as a host_robots delta and the slim scheduling row derived
        from it, so bodies never enter the broadcast scheduling table.
        With ``pending_new_hosts == 0`` (the steady state) admission is
        a no-op and its anti-join, UDF and delta write are skipped."""
        host_state = self.cat.read("host_state")
        if self.state.pending_new_hosts == 0:
            return host_state
        hosts_obs = Observation()
        new_delta = self.cat.append_delta(
            "host_robots",
            self._robots_for_new_hosts(frontier, host_state).observe(
                hosts_obs, F.count(F.lit(1)).alias("n")
            ),
        )
        # observed on the delta write itself — no separate count job
        self.state.total_hosts += int(hosts_obs.get["n"])
        return host_state.unionByName(
            new_delta.select("host", "delay", "priority").withColumn(
                "ever_popped", F.lit(False)
            )
        )

    def _schedule(self, frontier: DataFrame, host_state: DataFrame) -> DataFrame:
        """J2 + W3 per-host FIFO rank + W4 per-host budget (+ W1 host
        rank when host-limited): the round's candidate wave."""
        cfg, st = self.cfg, self.state
        # J2: slim scheduling join (no robots bodies) — broadcast while
        # the host universe fits, shuffle-hash on host past the gate
        cand = self._wave_join(
            frontier, host_state, "host", "inner", st.total_hosts
        )
        if cfg.salt_n > 1:
            # O9: two-phase top-B per host so one mega-host cannot
            # serialize a single window task. Phase 1 ranks within
            # (host, salt); phase 2 ranks the ≤ salt_n*B survivors.
            salt = F.pmod(F.xxhash64("url"), F.lit(cfg.salt_n))
            w1 = Window.partitionBy("host", salt).orderBy("discovered_seq")
            cand = (
                cand.withColumn("_rs", F.row_number().over(w1))
                .filter(F.col("_rs") <= cfg.max_urls_per_host_per_round)
                .drop("_rs")
            )
        w_host = Window.partitionBy("host").orderBy("discovered_seq")
        cand = cand.withColumn("rn_host", F.row_number().over(w_host))
        budget = F.least(
            F.lit(cfg.max_urls_per_host_per_round),
            F.greatest(
                F.lit(1),
                F.floor(
                    F.lit(cfg.round_window)
                    / F.greatest(F.col("delay"), F.lit(1e-6))
                ),
            ).cast("int"),
        )
        cand = cand.filter(F.col("rn_host") <= budget)
        if cfg.hosts_per_round is None:
            return cand
        # W1 strict host rank, host-limited mode only (a global sort of
        # the distinct-host set). Under priority_mode != "fifo" the
        # order becomes (rank_score DESC, priority, host): high-rank
        # hosts are scheduled first.
        host_set = cand.select("host", "priority").distinct()
        order = [F.col("priority"), F.col("host")]
        if cfg.priority_mode != "fifo":
            self._refresh_host_ranks()
            if self._rank_df is not None:
                host_set = self._wave_join(
                    host_set, self._rank_df, "host", "left", st.total_hosts,
                ).withColumn(
                    "rank_score", F.coalesce("rank_score", F.lit(-1.0))
                )
                order = [F.desc("rank_score")] + order
        hosts_ranked = host_set.withColumn(
            "host_rank", F.row_number().over(Window.orderBy(*order))
        ).filter(F.col("host_rank") <= cfg.hosts_per_round)
        return cand.join(F.broadcast(hosts_ranked.select("host")), "host")

    def _gate_fetch(
        self, cand: DataFrame, n_cand: int, t_round: float
    ) -> DataFrame:
        """F1/F2 gates, then S3 HEAD (F3-F5) and W4 attempt timestamps:
        offline through the J3 corpus metadata join and native window
        arithmetic, live inside the per-host transport executor (same
        law, identical timestamps). Returns the round's attempts."""
        # F2 inputs: robots bodies for THIS WAVE's hosts only — joined
        # from the append-only host_robots table, never broadcast
        # wholesale (the scheduling broadcast is body-free)
        wave_robots = self._wave_join(
            self.cat.read("host_robots").select("host", "robots_body"),
            cand.select("host").distinct(),
            "host",
            "inner",
            n_cand,
        )
        gated = (
            self._wave_join(cand, wave_robots, "host", "left", n_cand)
            .withColumn("ext_ok", extension_filter_col(F.col("url")))       # F1
            .withColumn(
                "allowed", robots_allowed_udf(F.col("url"), F.col("robots_body"))
            )                                                                # F2
            .drop("robots_body")  # bodies must not enter the sel checkpoint
        )
        if self.cfg.transport is not None:
            # S3 HEAD + W4 wait + S4 GET through the transport; the sel
            # checkpoint materializes the fetched bytes (a live crawl
            # cannot re-run the network side of the plan)
            return self._fetch_apply_in_pandas_live(gated, t_round)
        # O2 HEAD phase: the corpus metadata is streamed against a
        # BROADCAST of this round's candidate urls (inner) and the
        # left-outer semantics recovered with a small-small join — the
        # corpus never shuffles (at 10^10 pages a per-round sort-merge
        # of the pages table would dwarf everything else)
        cand_meta = self._wave_join(
            self.pages_meta, cand.select("url"), "url", "inner", n_cand
        )
        sel = (
            self._wave_join(gated, cand_meta, "url", "left", n_cand)         # S3/J3
            .withColumn(
                "head_ok",
                F.col("status").isNotNull()
                & F.col("content_type").contains("text/html"),               # F3/F5
            )
            .withColumn(
                "should_access",
                F.col("allowed") & F.col("ext_ok") & F.col("head_ok"),
            )
            .withColumn(
                "fetched",
                F.col("should_access") & F.col("status").between(200, 299),  # F4
            )
        )
        # W4: each host starts at max(clock, priority) and every
        # fetch-consuming attempt before a row adds one delay
        w_seq = (
            Window.partitionBy("host")
            .orderBy("rn_host")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        consumed_before = F.coalesce(
            F.sum(F.col("should_access").cast("int")).over(w_seq), F.lit(0)
        )
        return sel.withColumn(
            "attempt_ts",
            F.greatest(F.lit(t_round), F.col("priority"))
            + consumed_before * F.col("delay"),
        )

    def _truncate_to_budget(self, sel: DataFrame, scal) -> tuple:
        """A1 final-round exact landing: when this round would overshoot
        the page budget, keep only the attempts with fewer fetches
        before them than the budget has left. Exact global cumulative
        fetch count WITHOUT a
        single-task window (operators/prefix.py: range-partition on the
        order keys, partition-local cumsum, O(P) driver prefix
        offsets). Returns (sel, its scalars, truncated)."""
        cfg, st = self.cfg, self.state
        if cfg.limit is None or st.total_fetched + (scal["n_fet"] or 0) <= cfg.limit:
            return sel, scal, False
        tagged = attach_prefix_count(
            sel, ["attempt_ts", "priority", "host", "rn_host"], "fetched", "_cumf"
        )
        obs = Observation()
        out = checkpoint(
            tagged.filter(F.col("_cumf") < F.lit(cfg.limit - st.total_fetched))
            .drop("_cumf")
            .observe(obs, *_scalar_aggs())
        )
        free(tagged._prefix_ckpt)
        free(sel)
        return out, obs.get, True

    def _write_fetched(
        self, sel: DataFrame, n_fet: int, host_writes: list
    ) -> tuple[DataFrame, DataFrame]:
        """S4 GET + P6-P11 parse + S5 sink in one pass (O2), the seen
        append and the trap-filter deltas; returns (a reader over the
        pages delta just written, the appended seen table). The html is
        parsed ONCE inside the parquet write; no row cache (a
        localCheckpoint would serialize the text column twice and
        anti-scales with cores). The page write, the seen append and
        ``host_writes`` read only the sel blocks and old snapshot dirs,
        so they run from concurrent driver threads and the small writes
        ride along with the big fetch+parse scan."""
        cfg, st = self.cfg, self.state
        fetched_src = sel.filter("fetched")
        if cfg.transport is None:
            # offline: the bodies come from the corpus (a live round's
            # came back from the transport inside the executor)
            fetched_src = self._wave_join(                                  # S4
                self.pages_html,
                fetched_src.select(
                    "url", "host", "bucket", "depth", "priority",
                    "rn_host", "attempt_ts", "delay",
                ),
                "url", "inner", n_fet,
            )
        fetched_full = (
            fetched_src
            .withColumn("_p", parse_page_udf(F.col("html"), F.col("host")))  # P6-P11
            .drop("html")
            .select(
                "url", "host", "depth", "priority",
                F.col("_p.text").alias("text"),
                F.col("_p.title").alias("title"),
                F.col("_p.first20").alias("first20"),
                F.col("_p.links").alias("links"),
                F.size("_p.links").alias("n_links"),
                F.col("attempt_ts").alias("fetch_ts"),
                F.lit(st.round).alias("round"),
                F.spark_partition_id().alias("part_id"),        # lineage
            )
        )
        attempts = sel.select(
            "url", "host", "bucket", "fetched", F.lit(st.round).alias("round"),
            "attempt_ts", "discovered_seq",
        )
        fetched_rows, seen = _join_jobs(
            lambda: self.cat.append_delta(
                "pages_fetched", fetched_full, cfg.records_per_file
            ),
            lambda: self.cat.append("seen", attempts),
            *host_writes,
        )[:2]
        if cfg.trap_filter:
            # per-host content-duplication state: one HLL register delta
            # + one count delta per round, built from the columnar
            # re-read of the pages delta just written (host + text only;
            # text is digested to 32 bytes before the sketch shuffle)
            from webcrawler_spark.operators.sketches import hll_registers

            digests = fetched_rows.select(
                "host", F.md5(F.col("text")).alias("digest")
            )
            self.cat.append(
                "host_digests",
                hll_registers(digests, "digest", key="host", native_hash=True),
            )
            self.cat.append(
                "host_fetch_n",
                digests.groupBy("host").agg(
                    F.count(F.lit(1)).cast("long").alias("n")
                ),
            )
        return fetched_rows, seen

    def _host_writes(
        self, sel: DataFrame, n_att: int, host_state: DataFrame,
        revived_rows: list,
    ) -> list:
        """The W2 re-queue/revive host_state overwrite and the S7 metrics
        append, as thunks for a ``_join_jobs`` batch. Both read only the
        checkpointed sel and the old host_state dirs."""
        cfg, st = self.cfg, self.state
        host_updates = sel.groupBy("host").agg(
            F.max(
                F.when(
                    F.col("should_access"),
                    F.col("attempt_ts") + F.col("delay"),
                )
            ).alias("requeue_ts"),
            F.count("*").alias("attempted"),
            F.sum(F.col("fetched").cast("int")).alias("n_fetched"),
        )
        # size-gated like every wave join: host_updates has one row per
        # host attempted this round, which exceeds broadcast limits on
        # a 10^7-host round
        hs2 = self._wave_join(host_state, host_updates, "host", "left", n_att)
        if revived_rows:
            revived_df = self.spark.createDataFrame(
                revived_rows, "host string, revive_ts double"
            )
            hs2 = hs2.join(F.broadcast(revived_df), "host", "left")
        else:
            hs2 = hs2.withColumn("revive_ts", F.lit(None).cast("double"))
        # coalesce: the union with new hosts otherwise grows the
        # table's partition count every round (~4N near-empty tasks
        # per stage after N rounds)
        hs2 = hs2.select(
            "host", "delay",
            F.coalesce("revive_ts", "requeue_ts", "priority").alias("priority"),
            (F.col("ever_popped") | F.col("attempted").isNotNull()).alias(
                "ever_popped"
            ),
        ).coalesce(cfg.n_buckets)
        jobs = [lambda: self.cat.overwrite("host_state", hs2)]
        if cfg.collect_metrics:
            metrics_df = host_updates.select(
                F.lit(st.round).alias("round"),
                "host",
                "attempted",
                F.coalesce("n_fetched", F.lit(0)).alias("fetched"),
                (
                    F.col("attempted") - F.coalesce("n_fetched", F.lit(0))
                ).alias("skipped"),
                F.spark_partition_id().alias("part_id"),
            )
            jobs.append(lambda: self.cat.append("metrics", metrics_df))
        return jobs

    def _exchange_links(
        self, frontier: DataFrame, host_state: DataFrame, sel: DataFrame,
        n_att: int, fetched_rows: DataFrame, seen: DataFrame, revive: bool,
    ) -> tuple:
        """P7/P8 → A5 → J1 → W3: the links of this round's pages that
        are neither seen nor pending, numbered FIFO per host after the
        frontier rows this round did not attempt. Returns (the next
        frontier, tagged ``_known`` per admitted host; new_links; the
        revived (host, revive_ts) rows, [] unless ``revive``)."""
        cfg, st = self.cfg, self.state
        # columnar delta read: text/title never leave the parquet files
        links = (
            fetched_rows.select(
                F.col("fetch_ts").alias("parent_ts"),
                F.col("priority").alias("parent_prio"),
                F.col("host").alias("parent_host"),
                F.col("depth").alias("parent_depth"),
                F.explode("links").alias("url"),
            )
            .withColumn("host", host_col(F.col("url")))
            .withColumn("resource", resource_col(F.col("url")))
            .filter(F.col("host") != "")                                      # F8
        )
        if cfg.url_blocklist or cfg.url_word_weights:
            links = self._url_filter_gate(links)
        # A5 in-round dedup keeping the earliest discovery
        w_first = Window.partitionBy("url").orderBy(
            "parent_ts", "parent_prio", "parent_host"
        )
        links = (
            links.withColumn("_rn", F.row_number().over(w_first))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        remaining_frontier = self._wave_join(
            frontier, sel.select("url"), "url", "left_anti", n_att
        )
        # J1: never re-attempt (seen) and never double-queue (pending).
        # seen holds one row per attempt, so the driver knows its size.
        # The Bloom pre-pass (a filter build + a Python probe stage)
        # only pays once seen outgrows the O13 broadcast cap; below it
        # J1 is the plain exact anti-join and Spark picks the strategy
        # (a small seen is auto-broadcast). The cap as the crossover is
        # a proxy: it has not been measured against seen sizes near it.
        n_seen = st.total_attempted + n_att
        if cfg.seen_filter == "bloom" and n_seen > cfg.wave_broadcast_max_rows:
            new_links = anti_join_with_bloom(
                links, seen, "url", expected_items=n_seen
            )
        else:
            new_links = links.join(seen.select("url"), "url", "left_anti")
        new_links = new_links.join(
            remaining_frontier.select("url"), "url", "left_anti"
        )
        # W3 discovered_seq: FIFO per host in discovery order
        w_disc = Window.partitionBy("host").orderBy(
            "parent_ts", "parent_prio", "parent_host", "url"
        )
        new_links = new_links.select(
            "url",
            "host",
            "resource",
            self._bucket(F.col("host")).alias("bucket"),
            (F.col("parent_depth") + 1).alias("depth"),
            (
                F.lit((st.round + 1) * SEQ_STRIDE)
                + F.row_number().over(w_disc)
            ).alias("discovered_seq"),
            "parent_ts",
        )
        revived_rows = []
        if revive:
            # new_links is read twice (revive scan + frontier union):
            # checkpoint so the window/anti-join tree runs once (in
            # scale mode the frontier write is its one materialization)
            new_links = checkpoint(new_links)
            # a known idle host (previously popped, empty FIFO) that
            # receives new links is re-scheduled at first arrival +
            # delay (Worker.py:127-134). Exact revive timing is needed
            # only for the total-order parity contract; in scale mode a
            # revived host keeps its last requeue priority, which is
            # politeness-legal (old requeue ≥ last fetch + delay) and
            # saves one driver job per round.
            revived_rows = (
                new_links.groupBy("host")
                .agg(F.min("parent_ts").alias("arrival_ts"))
                .join(remaining_frontier.select("host").distinct(), "host", "left_anti")
                .join(host_state.select("host", "delay", "ever_popped"), "host")
                .filter(F.col("ever_popped"))
                .select(
                    "host",
                    (F.col("arrival_ts") + F.col("delay")).alias("revive_ts"),
                )
                .collect()  # revived hosts are few (idle + re-linked)
            )
        # tag rows by whether their host is already admitted: only
        # new_links can carry unadmitted hosts (every frontier host is
        # admitted in its round), and the commit observes the count so
        # the next round can skip admission when it is zero
        nl_tagged = self._wave_join(
            new_links.drop("parent_ts"),
            host_state.select("host").withColumn("_known", F.lit(True)),
            "host",
            "left",
            st.total_hosts,
        )
        new_frontier = (
            remaining_frontier.withColumn("_known", F.lit(True))
            .unionByName(nl_tagged)
            .repartition("bucket")
        )
        return new_frontier, new_links, revived_rows

    def _commit(
        self, new_frontier: DataFrame, host_writes: list, scal,
        revived_rows: list, ckpts: tuple,
    ) -> int:
        """Driver scalars (the old locked globals), the frontier write
        (with any host_state/metrics writes still due), compaction, the
        manifest row and snapshot GC. Returns the committed round."""
        cfg, st = self.cfg, self.state
        min_popped = scal["min_popped"]
        if min_popped is not None and (
            st.curr_min is None or min_popped < st.curr_min
        ):
            st.curr_min = min_popped                    # Worker.py:185-186
        # snapshot the W2 medium BEFORE this round's revive bumps
        # (see CrawlState.pending_medium note)
        st.pending_medium = st.medium_priority
        # currMax moves ONLY on the revive path: the reference bumps
        # currMaxDelay in addLinkToRequest when a KNOWN idle host
        # receives a link (Worker.py:128-132); the post-fetch re-push
        # (Worker.py:199-200) never touches it
        max_revive = max((r["revive_ts"] for r in revived_rows), default=None)
        if max_revive is not None and max_revive > st.curr_max:
            st.curr_max = max_revive                    # Worker.py:130-132
        if scal["max_fetch_ts"] is not None and scal["max_fetch_ts"] > st.clock:
            st.clock = scal["max_fetch_ts"]
        st.total_fetched += int(scal["n_fet"] or 0)
        st.total_attempted += int(scal["n_att"] or 0)

        # the frontier count (next round's D4 check, no isEmpty() job)
        # and its unadmitted-host rows (next round's S2 skip) ride the
        # write. The overwrites are independent and the catalog defers
        # reclaiming replaced dirs until commit_round, so they run
        # concurrently from driver threads.
        front_obs = Observation()
        new_frontier = new_frontier.observe(
            front_obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("_known").isNull(), 1).otherwise(0)
            ).alias("new_host_rows"),
        ).drop("_known")
        _join_jobs(
            lambda: self.cat.overwrite("frontier", new_frontier), *host_writes
        )
        st.frontier_rows = int(front_obs.get["n"])
        st.pending_new_hosts = int(front_obs.get["new_host_rows"] or 0)
        # free this round's checkpoint caches (iterative loops leak
        # cached RDD blocks otherwise — OOM after ~50 rounds)
        for df in ckpts:
            free(df)
        # drop py4j proxies promptly: every round creates hundreds of
        # JVM-side Dataset/plan objects that stay pinned until the
        # Python GC releases their proxies; a periodic JVM GC nudge
        # lets ContextCleaner reap dropped broadcasts/shuffles in
        # long driver loops (thousands of rounds)
        gc.collect()
        if st.round % 10 == 9:
            self.spark.sparkContext._jvm.System.gc()
        round_no = st.round
        st.round += 1
        if cfg.limit is not None and st.total_fetched >= cfg.limit:
            st.done = True
        compacting = (
            cfg.compact_seen_every
            and round_no > 0
            and round_no % cfg.compact_seen_every == 0
        )
        if compacting:
            self.cat.compact("seen")
            self.cat.compact("host_robots")
            if cfg.trap_filter:
                # merge-compact: registers collapse via groupBy MAX,
                # counts via SUM — state stays ≤ 257 rows/host forever
                from webcrawler_spark.operators.sketches import hll_merge

                regs = self.cat.read("host_digests")
                if regs is not None:
                    self.cat.overwrite(
                        "host_digests", hll_merge(regs, key="host")
                    )
                cnts = self.cat.read("host_fetch_n")
                if cnts is not None:
                    self.cat.overwrite(
                        "host_fetch_n",
                        cnts.groupBy("host").agg(F.sum("n").alias("n")),
                    )
        self.cat.commit_round(round_no, st.to_json())
        if compacting and cfg.gc_keep_rounds and self.cat.durable:
            # after the commit so the compacted dirs are referenced by
            # a retained manifest row before anything is deleted
            self.cat.gc(cfg.gc_keep_rounds)
        return round_no

    # ------------------------------------------------------------------
    def run(self, seeds: DataFrame | None = None, verbose: bool = False) -> list[dict]:
        """Full crawl: init (unless resuming) + rounds until quiescence
        (D4), budget (A1), or max_rounds."""
        if seeds is not None:
            self.init_from_seeds(seeds)
        history = []
        while not self.state.done:
            if (
                self.cfg.max_rounds is not None
                and self.state.round >= self.cfg.max_rounds
            ):
                break
            m = self.run_round()
            history.append(m)
            if verbose:
                print(m)
        return history

    # -- result accessors ------------------------------------------------
    def pages_fetched(self) -> DataFrame:
        df = self.cat.read("pages_fetched")
        if df is None:
            return self.spark.createDataFrame([], _PAGES_SCHEMA)
        return df

    def seen(self) -> DataFrame:
        return self.cat.read("seen")

    def debug_records(self) -> DataFrame:
        """S6: the reference's debug JSON records (DebugPrinter.py:9-18)."""
        pf = self.pages_fetched()
        return pf.select(
            F.to_json(
                F.struct(
                    F.col("url").alias("URL"),
                    F.col("title").alias("Title"),
                    F.col("first20").alias("Text"),
                    F.col("fetch_ts").alias("Timestamp"),
                )
            ).alias("record")
        )

    def host_counts(self) -> DataFrame:
        """A2/A3/A4: per-host attempted counts (Host.py:147-148 semantics)."""
        return self.seen().groupBy("host").agg(F.count("*").alias("n"))
