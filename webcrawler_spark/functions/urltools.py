"""URL scalar functions (SURVEY.md §2.2 rows P1-P4, P8; §2.3 F1/F6/F8).

Reference semantics (cited per function, files under /root/reference/):

* URL normalization   — utils.py:22-29 (url_normalize; exception ⇒ input)
* host/resource split — utils.py:38-49 (naive '/'-split, NOT urlparse)
* link formatting     — Parser.py:26-46 (fragment strip, root-relative
  resolution, http→https rewrite, relative/mailto dropped)
* extension blocklist — Worker.py:13-30 (literal last-3/last-4 chars)

Two surfaces are provided for each operation:

1. a pure-Python scalar (used by the reference simulator and by the
   vectorized pandas UDFs), and
2. a native Catalyst Column expression where the semantics allow —
   native expressions stay inside whole-stage codegen and need no
   Python worker at all, which is what we want in the 100 TB hot path.

Only normalization and link formatting need Python (RFC-3986 percent
logic and multi-branch resolution); they are exposed as Arrow-batched
pandas UDFs, never per-row Python UDFs.
"""

from __future__ import annotations

import re
from urllib.parse import quote, unquote

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

# ---------------------------------------------------------------------------
# P1 — URL normalization (pure Python, RFC 3986 subset)
# ---------------------------------------------------------------------------

_DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21"}
_SCHEME_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.-]*):(//.*)$")

# characters that never need percent-encoding in a path
_PATH_SAFE = "/:@!$&'()*+,;=~._-"
_QUERY_SAFE = "/:@!$&'()*+,;=~._-?="


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 remove_dot_segments."""
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if out and out[-1] != "":
                out.pop()
                if not out:
                    out = [""]
            continue
        out.append(seg)
    # preserve leading slash; re-add trailing slash for '.'/'..' endings
    norm = "/".join(out)
    if path.endswith(("/.", "/..")) and not norm.endswith("/"):
        norm += "/"
    if not norm.startswith("/"):
        norm = "/" + norm
    return norm


_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_HEX = set("0123456789abcdefABCDEF")


def _norm_pct(s: str, safe: str) -> str:
    """Normalize percent-encoding per RFC 3986 §6.2.2.

    * %XX where XX decodes to an unreserved char → decoded
    * other %XX → hex digits upper-cased (reserved chars stay encoded!)
    * raw chars outside safe+unreserved → percent-encoded
    """
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "%" and i + 2 < n and s[i + 1] in _HEX and s[i + 2] in _HEX:
            decoded = chr(int(s[i + 1 : i + 3], 16))
            if decoded in _UNRESERVED:
                out.append(decoded)
            else:
                out.append("%" + s[i + 1 : i + 3].upper())
            i += 3
            continue
        if c in _UNRESERVED or c in safe:
            out.append(c)
        else:
            out.append(quote(c, safe=""))
        i += 1
    return "".join(out)


def normalize_url(url: str) -> str:
    """Normalize one URL; on any failure return the input unchanged.

    Mirrors the reference's `normalizeLinkIfCan` contract
    (utils.py:22-29): never raises, identity on malformed input.
    Normalizations applied (url-normalize 1.4.3 behavior subset):
    lower-case scheme+host, strip default port, remove dot segments,
    empty path → '/', percent-encoding normalization, keep query and
    fragment verbatim (percent-normalized), IDN hosts → punycode,
    scheme-relative '//host/...' → default https scheme.
    """
    if url is None:
        return url
    try:
        u = url.strip()
        if u.startswith("//") and len(u) > 2 and not u.startswith("///"):
            # RFC 3986 network-path reference: adopt the crawl default
            # scheme (url-normalize's provide_url_scheme behavior)
            u = "https:" + u
        m = _SCHEME_RE.match(u)
        if not m:
            return url
        scheme = m.group(1).lower()
        rest = m.group(2)[2:]  # drop '//'

        frag = ""
        if "#" in rest:
            rest, frag = rest.split("#", 1)
            frag = "#" + _norm_pct(frag, _QUERY_SAFE)
        query = ""
        if "?" in rest:
            rest, query = rest.split("?", 1)
            query = "?" + _norm_pct(query, _QUERY_SAFE) if query else ""

        if "/" in rest:
            authority, path = rest.split("/", 1)
            path = "/" + path
        else:
            authority, path = rest, ""

        userinfo = ""
        if "@" in authority:
            userinfo, authority = authority.rsplit("@", 1)
            userinfo += "@"
        host, port = authority, ""
        if ":" in authority and not authority.endswith("]"):
            host, port = authority.rsplit(":", 1)
        host = host.lower().rstrip(".")
        if host and not host.isascii():
            # IDN → punycode (IDNA 2003, the stdlib codec url-normalize
            # 1.4.3 uses); on codec failure keep the lowercased host
            try:
                host = host.encode("idna").decode("ascii")
            except UnicodeError:
                pass
        if port and port != _DEFAULT_PORTS.get(scheme, None):
            host = f"{host}:{port}"

        path = _remove_dot_segments(_norm_pct(path, _PATH_SAFE)) if path else "/"
        return f"{scheme}://{userinfo}{host}{path}{query}{frag}"
    except Exception:
        return url


@pandas_udf(StringType())
def normalize_url_udf(urls: pd.Series) -> pd.Series:
    """P1 as an Arrow-vectorized pandas UDF (input_hint: no per-row Python)."""
    return urls.map(normalize_url, na_action="ignore")


# ---------------------------------------------------------------------------
# P2/P3/P4 — host / resource split and rebuild (native Catalyst expressions)
# ---------------------------------------------------------------------------


def host_of(url: str) -> str:
    """Pure-Python P2: 'https://h/x' → 'https://h'; malformed → ''.

    Reference: utils.py:38-46 — naive '/'-split, exception ⇒ ''.
    """
    parts = url.split("/")
    if len(parts) < 3:
        return ""
    return f"{parts[0]}//{parts[2]}"


def resource_of(url: str) -> str:
    """Pure-Python P3: 'https://h/a/b' → '/a/b'; 'https://h' → '/'.

    Reference: utils.py:48-49.
    """
    return "/" + "/".join(url.split("/")[3:])


def join_host_resource(host: str, resource: str) -> str:
    """Pure-Python P4 (utils.py:54-56)."""
    return f"{host}{resource}"


def host_col(url: Column) -> Column:
    """P2 as a native expression — no UDF, stays in codegen."""
    parts = F.split(url, "/")
    return F.when(
        F.size(parts) >= 3,
        F.concat(F.element_at(parts, 1), F.lit("//"), F.element_at(parts, 3)),
    ).otherwise(F.lit(""))


def resource_col(url: Column) -> Column:
    """P3 as a native expression."""
    parts = F.split(url, "/")
    return F.concat(
        F.lit("/"), F.array_join(F.slice(parts, 4, 2_147_483_000), "/")
    )


def url_col(host: Column, resource: Column) -> Column:
    """P4 as a native expression."""
    return F.concat(host, resource)


# ---------------------------------------------------------------------------
# P8 — link formatting / resolution (Parser.py:26-46 truth table)
# ---------------------------------------------------------------------------


def format_link(href: str, host_with_schema: str) -> str:
    """Resolve one raw href against its page's host; '' ⇒ dropped.

    Exact reference truth table (Parser.py:26-46):
    * None/blank             → ''                     (F6)
    * '#...' pure fragment   → ''                     (F6)
    * strip '#fragment'      → keep left part
    * '/path' root-relative  → host + path
    * 'http...' not https    → 'https' + rest  (naive 4-char rewrite)
    * 'https...'             → kept
    * anything else (relative path, mailto:, javascript:) → ''
    then P1-normalize the survivor.
    """
    if href is None or href.strip() == "":
        return ""
    if href[0] == "#":
        return ""
    url = href.split("#")[0]
    if url == "":
        return ""
    if url[0] == "/":
        formatted = f"{host_with_schema}{url}"
    elif url[:4] == "http" and url[:5] != "https":
        formatted = "https" + url[4:]
    elif url[:5] == "https":
        formatted = url
    else:
        return ""
    return normalize_url(formatted)


def first_href_token(href: str) -> str | None:
    """P7 post-step: bs4 path keeps `href.split()[0]` (Parser.py:22)."""
    if href is None:
        return None
    toks = href.split()
    return toks[0] if toks else None


@pandas_udf(ArrayType(StringType()))
def format_links_udf(hrefs: pd.Series, hosts: pd.Series) -> pd.Series:
    """P8 over an array<string> column of raw hrefs, vectorized.

    Returns the deduplicated, order-stable (sorted) list of formatted
    absolute URLs for each page. Sorting pins determinism that the
    reference leaves to Python set iteration order (SURVEY.md §5.3).
    """

    def one(pair):
        links, host = pair
        if links is None:
            return []
        out = set()
        for href in links:
            formatted = format_link(href, host)
            if formatted:
                out.add(formatted)
        return sorted(out)

    return pd.Series(map(one, zip(hrefs, hosts)))


# ---------------------------------------------------------------------------
# F1 — extension blocklist (Worker.py:13-30, literal last-N-chars check)
# ---------------------------------------------------------------------------

UNWANTED_3 = [
    "pdf", "csv", "png", "svg", "jpg", "gif", "raw",
    "cr2", "nef", "orf", "sr2", "bmp", "tif", "ogv",
]
UNWANTED_4 = ["tiff", "jpeg"]


def passes_extension_filter(url: str) -> bool:
    """Pure-Python F1. Note: LITERAL suffix — 'foo.mycsv' is rejected."""
    ok3 = len(url) <= 3 or url[-3:] not in set(UNWANTED_3)
    ok4 = len(url) <= 4 or url[-4:] not in set(UNWANTED_4)
    return ok3 and ok4


def extension_filter_col(url: Column) -> Column:
    """F1 as a native predicate (codegen-friendly, pushdown-eligible)."""
    len_ok3 = F.length(url) <= 3
    len_ok4 = F.length(url) <= 4
    last3 = F.substring(url, -3, 3)
    last4 = F.substring(url, -4, 4)
    return (len_ok3 | ~last3.isin(UNWANTED_3)) & (len_ok4 | ~last4.isin(UNWANTED_4))
