"""Deterministic synthetic-web fixtures (FIXTURES.md §1-2).

Two generators:

* :func:`build_pages` — the small 8-host parity web from FIXTURES.md,
  built driver-side (≈70 rows) with golden ``text`` computed by the
  same ``visible_text`` the engine uses. Exercises every truth-table
  edge: robots crawl-delays (5→clamp 3, 0.05 verbatim), Disallow
  rules, missing robots, extension decoys (incl. the literal-``csv``
  trap), dead links, an empty body, a mega host for skew, fragments,
  root-relative / protocol-http / relative / mailto / multi-token
  hrefs, and one non-UTF8-charset host.

* :func:`build_big_web` — a parametric web of ``hosts × pages`` built
  as a **distributed Spark job** (``spark.range`` + native column
  expressions, no driver loop) for benchmarking at sf0.1-like scale.
  This is the shape the engine would meet at 10^10 URLs: generation
  itself must not collect to the driver.

Everything is deterministic (no wall clock, no RNG) per FIXTURES.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from webcrawler_spark.functions.htmltools import decode_html_bytes, visible_text

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("status", IntegerType()),
        StructField("content_type", StringType()),
    ]
)

_EPOCH = "2022-05-01 00:00:00"
HTML_CT = "text/html; charset=utf-8"

SEEDS = [
    "https://hub.example/",
    "https://empty.example/",
    "https://mega.example/",
]


def _page(title: str, body_links: list[str], extra: str = "") -> str:
    links = "".join(f'<a href="{u}">{u}</a>' for u in body_links)
    return (
        f"<html><head><title>{title}</title></head>"
        f"<body><p>{title} content.</p>{links}{extra}</body></html>"
    )


def _rows() -> list[tuple]:
    """(url, html_str_or_bytes, lang, status, content_type) rows."""
    rows: list[tuple] = []

    def add(url, html, lang="en", status=200, ct=HTML_CT):
        rows.append((url, html, lang, status, ct))

    # --- hub.example: links to every host + the P7/P8 truth table ----
    add(
        "https://hub.example/",
        _page(
            "Hub",
            [
                "https://slow.example/",
                "https://fast.example/",
                "https://blocked.example/",
                "https://norobots.example/",
                "https://mega.example/",
                "https://binary.example/",
                "https://dead.example/gone",
                "https://dead.example/notfound",  # 404 row
                "https://dead.example/moved",  # 301 row
                "http://norobots.example/httplink",  # http → https rewrite
                "/local/page",  # root-relative
                "#section",  # pure fragment → dropped
                "relative/path.html",  # relative → dropped
                "mailto:a@b.c",  # dropped
                "/multi token",  # first-token rule
            ],
        ),
    )
    add("https://hub.example/local/page", _page("HubLocal", ["/"]))
    add("https://hub.example/multi", _page("HubMulti", []))

    # --- empty.example: 200 page with EMPTY body (seed #2) ------------
    add("https://empty.example/", "")

    # --- slow.example: Crawl-delay 5 → clamps to 3.0 -------------------
    add(
        "https://slow.example/robots.txt",
        "User-agent: *\nCrawl-delay: 5\n",
        ct="text/plain",
    )
    add("https://slow.example/", _page("Slow", ["/a", "/b"]))
    add("https://slow.example/a", _page("SlowA", ["/b", "/c"]))
    add("https://slow.example/b", _page("SlowB", []))
    add("https://slow.example/c", _page("SlowC", []))

    # --- fast.example: Crawl-delay 0.05 honored verbatim ---------------
    add(
        "https://fast.example/robots.txt",
        "User-agent: *\nCrawl-delay: 0.05\n",
        ct="text/plain",
    )
    fast_kids = [f"/p{i}" for i in range(6)]
    add("https://fast.example/", _page("Fast", fast_kids))
    for i in range(6):
        add(f"https://fast.example/p{i}", _page(f"FastP{i}", []))

    # --- blocked.example: Disallow /private/ ---------------------------
    add(
        "https://blocked.example/robots.txt",
        "User-agent: *\nDisallow: /private/\nAllow: /private/open/\n",
        ct="text/plain",
    )
    add(
        "https://blocked.example/",
        _page("Blocked", ["/public", "/private/secret", "/private/open/doc"]),
    )
    add("https://blocked.example/public", _page("BlockedPublic", []))
    add("https://blocked.example/private/secret", _page("Secret", []))
    add("https://blocked.example/private/open/doc", _page("OpenDoc", []))

    # --- norobots.example: no robots row (allow-all, 0.1 s default) ----
    # one ISO-8859-1 page to exercise the charset decode path (P6)
    add("https://norobots.example/", _page("NoRobots", ["/x", "/latin"]))
    add("https://norobots.example/x", _page("NoRobotsX", []))
    add("https://norobots.example/httplink", _page("HttpLink", []))
    latin_html = (
        "<html><head><title>Latin</title></head>"
        "<body><p>informação rápida</p></body></html>"
    ).encode("iso-8859-1")
    add("https://norobots.example/latin", latin_html, lang="pt")

    # --- mega.example: skew host — 20 pages, chained + hub-fanout ------
    mega_kids = [f"/p{i}" for i in range(20)]
    add("https://mega.example/", _page("Mega", mega_kids))
    for i in range(20):
        nxt = [f"/p{i + 1}"] if i + 1 < 20 else []
        add(f"https://mega.example/p{i}", _page(f"MegaP{i}", nxt))

    # --- binary.example: extension decoys ------------------------------
    add(
        "https://binary.example/",
        _page(
            "Binary",
            ["/doc.pdf", "/pic.jpeg", "/datacsv", "/movie.ogv", "/ok.html"],
        ),
    )
    add("https://binary.example/doc.pdf", "%PDF-1.4 fake", ct="application/pdf")
    add("https://binary.example/pic.jpeg", "JFIF fake", ct="image/jpeg")
    # trap: literal-suffix filter rejects this even though it's html
    add("https://binary.example/datacsv", _page("TrapCsv", []))
    add("https://binary.example/movie.ogv", "OggS fake", ct="video/ogg")
    add("https://binary.example/ok.html", _page("BinaryOk", []))

    # --- dead.example: /gone has NO row (fetch-failure path) -----------
    # a 404 and a 301 to exercise the 2xx filter (FIXTURES.md status row)
    add("https://dead.example/notfound", _page("Gone404", []), status=404)
    add("https://dead.example/moved", _page("Moved", []), status=301)
    return rows


def build_pages(spark: SparkSession) -> DataFrame:
    """The small parity web as a DataFrame matching ``input_hint``."""
    data = []
    for i, (url, html, lang, status, ct) in enumerate(_rows()):
        raw = html if isinstance(html, bytes) else html.encode("utf-8")
        # golden text via the same P6+P9 pipeline the engine uses
        # (byte-identical invariant: text == visible_text(decode(html)))
        text = visible_text(decode_html_bytes(raw))
        data.append((url, raw, text, lang, status, ct, i))
    df = spark.createDataFrame(
        data,
        "url string, html binary, text string, lang string, status int,"
        " content_type string, _i int",
    )
    return df.select(
        "url",
        (F.to_timestamp(F.lit(_EPOCH)) + F.make_interval(secs=F.col("_i"))).alias(
            "warc_ts"
        ),
        "html",
        "text",
        "lang",
        "status",
        "content_type",
    )


def seeds_df(spark: SparkSession) -> DataFrame:
    """FIXTURES.md §2 — the three seed URLs, in file order (S1)."""
    return spark.createDataFrame([(u, i) for i, u in enumerate(SEEDS)], "url string, seed_order int")


# ---------------------------------------------------------------------------
# Parametric big web — distributed generation for bench
# ---------------------------------------------------------------------------


def build_big_web(
    spark: SparkSession,
    num_hosts: int = 200,
    pages_per_host: int = 100,
    links_per_page: int = 8,
    partitions: int = 32,
    body_kb: int = 0,
) -> DataFrame:
    """A hosts×pages synthetic web generated fully inside Spark.

    Page p of host h links to ``links_per_page`` pages spread across
    hosts by a deterministic affine formula, so the link graph is
    connected and produces realistic cross-host shuffle in the crawl.
    Every 10th host gets a robots.txt with a Crawl-delay derived from
    its index; host 7 mod 13 pages are .pdf decoys.

    No driver-side loops: ``spark.range`` + native expressions only,
    so generation scales to any size the cluster can hold.
    """
    n = num_hosts * pages_per_host
    base = spark.range(0, n, 1, partitions)
    h = (F.col("id") / pages_per_host).cast("long")
    p = F.col("id") % pages_per_host

    host = F.concat(F.lit("https://h"), h.cast("string"), F.lit(".bench"))
    is_decoy = (h % 13 == 7) & (p % 10 == 9)
    resource = F.when(is_decoy, F.concat(F.lit("/p"), p.cast("string"), F.lit(".pdf"))).otherwise(
        F.concat(F.lit("/p"), p.cast("string"))
    )
    url = F.concat(host, resource)

    # deterministic link targets with strong mixing: affine formulas
    # trap the crawl in small modular cosets (BFS closure ~6% of the
    # graph), so use xxhash64 of (page id, k) — still pure native
    # expressions, still reproducible, but the link graph is expander-
    # like and a seed set reaches the whole web
    links = F.transform(
        F.sequence(F.lit(0), F.lit(links_per_page - 1)),
        lambda k: F.concat(
            F.lit("https://h"),
            F.pmod(F.xxhash64(F.col("id"), k), F.lit(num_hosts)).cast("string"),
            F.lit(".bench/p"),
            F.pmod(F.xxhash64(F.col("id"), k + 1000), F.lit(pages_per_host)).cast(
                "string"
            ),
        ),
    )
    anchor_html = F.aggregate(
        links,
        F.lit(""),
        lambda acc, u: F.concat(acc, F.lit('<a href="'), u, F.lit('">x</a>')),
    )
    # body_kb > 0 pads each page to a realistic size (Common-Crawl
    # HTML averages tens of KB) with deterministic per-page filler, so
    # benchmarks exercise parse/decode at honest per-row cost instead
    # of being dominated by per-round fixed overhead
    if body_kb:
        filler = F.repeat(
            F.concat(
                F.lit("<p>w"),
                (F.col("id") % 97).cast("string"),
                F.lit(" lorem ipsum dolor sit amet consectetur adipiscing</p>"),
            ),
            body_kb * 17,  # unit ~60 bytes → ≈1 KiB per body_kb
        )
    else:
        filler = F.lit("")
    html_str = F.concat(
        F.lit("<html><head><title>page "),
        F.col("id").cast("string"),
        F.lit("</title></head><body><p>body of page "),
        F.col("id").cast("string"),
        F.lit(" on host "),
        h.cast("string"),
        F.lit("</p>"),
        filler,
        anchor_html,
        F.lit("</body></html>"),
    )

    pages = base.select(
        url.alias("url"),
        (F.to_timestamp(F.lit(_EPOCH)) + F.make_interval(secs=F.col("id") % 86400)).alias("warc_ts"),
        html_str.cast("binary").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
        F.lit(200).alias("status"),
        F.when(is_decoy, F.lit("application/pdf")).otherwise(F.lit(HTML_CT)).alias("content_type"),
    )

    robots = (
        spark.range(0, num_hosts, 1, 1)
        .filter(F.col("id") % 10 == 0)
        .select(
            F.concat(F.lit("https://h"), F.col("id").cast("string"), F.lit(".bench/robots.txt")).alias("url"),
            F.to_timestamp(F.lit(_EPOCH)).alias("warc_ts"),
            F.concat(
                F.lit("User-agent: *\nCrawl-delay: 0."),
                ((F.col("id") % 5) + 1).cast("string"),
                F.lit("\n"),
            ).cast("binary").alias("html"),
            F.lit(None).cast("string").alias("text"),
            F.lit("en").alias("lang"),
            F.lit(200).alias("status"),
            F.lit("text/plain").alias("content_type"),
        )
    )
    return pages.unionByName(robots)


def big_web_seeds(spark: SparkSession, num_hosts: int = 200, every: int = 20) -> DataFrame:
    """Seed list for the big web: every ``every``-th host's page 0."""
    return (
        spark.range(0, num_hosts, every, 1)
        .select(
            F.concat(F.lit("https://h"), F.col("id").cast("string"), F.lit(".bench/p0")).alias("url"),
            F.col("id").cast("int").alias("seed_order"),
        )
    )


# ---------------------------------------------------------------------------
# Web synthesized from the driver's documents table (entry/bench input)
# ---------------------------------------------------------------------------


def pages_from_documents(
    spark: SparkSession, sf_dir: str, links_per_page: int = 6
) -> DataFrame:
    """Deterministic pages table built from ``{sf_dir}/documents.parquet``.

    Each document becomes one HTML page on host ``https://<source>.example``
    with the doc text as body and ``links_per_page`` intra-corpus links
    chosen by an affine formula over doc_id — a connected, reproducible
    web whose visible text is the document text (so crawl output can be
    checked against the source table). Every host gets a robots.txt with
    a small deterministic Crawl-delay. Generation is fully distributed
    (native expressions only).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    host = F.concat(F.lit("https://"), F.col("source"), F.lit(".example"))
    url = F.concat(host, F.lit("/doc/"), F.col("doc_id").cast("string"))
    n_sources = docs.select("source").distinct().count()

    # link targets are real pages: the corpus assigns source =
    # src(doc_id % n_sources), so the target's host is derivable
    # without a self-join
    def _target(k):
        return (F.col("doc_id") * 3 + k * 17 + 1) % n

    links = F.transform(
        F.sequence(F.lit(1), F.lit(links_per_page)),
        lambda k: F.concat(
            F.lit("https://src"),
            (_target(k) % n_sources).cast("string"),
            F.lit(".example/doc/"),
            _target(k).cast("string"),
        ),
    )
    anchors = F.aggregate(
        links,
        F.lit(""),
        lambda acc, u: F.concat(acc, F.lit('<a href="'), u, F.lit('">l</a>')),
    )
    html = F.concat(
        F.lit("<html><head><title>doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title></head><body><p>"),
        F.col("text"),
        F.lit("</p>"),
        anchors,
        F.lit("</body></html>"),
    )
    pages = docs.select(
        url.alias("url"),
        F.to_timestamp(F.lit(_EPOCH)).alias("warc_ts"),
        html.cast("binary").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
        F.lit(200).alias("status"),
        F.lit(HTML_CT).alias("content_type"),
    )
    robots = (
        docs.select("source")
        .distinct()
        .select(
            F.concat(
                F.lit("https://"), F.col("source"), F.lit(".example/robots.txt")
            ).alias("url"),
            F.to_timestamp(F.lit(_EPOCH)).alias("warc_ts"),
            F.concat(
                F.lit("User-agent: *\nCrawl-delay: 0.0"),
                (F.length("source") % 5 + 1).cast("string"),
                F.lit("\n"),
            ).cast("binary").alias("html"),
            F.lit(None).cast("string").alias("text"),
            F.lit("en").alias("lang"),
            F.lit(200).alias("status"),
            F.lit("text/plain").alias("content_type"),
        )
    )
    return pages.unionByName(robots)


def document_web_seeds(spark: SparkSession, sf_dir: str, n_seeds: int = 4) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.orderBy("doc_id")
        .limit(n_seeds)
        .select(
            F.concat(
                F.lit("https://"),
                F.col("source"),
                F.lit(".example/doc/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
            F.col("doc_id").cast("int").alias("seed_order"),
        )
    )
