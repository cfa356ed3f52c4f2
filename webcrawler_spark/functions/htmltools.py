"""HTML scalar functions (SURVEY.md §2.2 rows P6, P7, P9, P10, P11).

Reference semantics (files under /root/reference/):

* P6 charset decode      — Parser.py:8-11  (charset_normalizer .best())
* P7 link extraction     — Parser.py:13-24 (<a href>, first ws token, set)
* P9 visible text        — Parser.py:57-72 (findAll(text=True), parent not
  in {style,script,head,title,meta,[document]}, not Comment;
  `" ".join(t.strip() for t in visible)` — THE byte-identical invariant)
* P10 first-N words      — Parser.py:48-55
* P11 title              — WorkersPipeline.py:278 (first <title> string)

The reference parses with BeautifulSoup(features="html.parser"); this
module re-implements the same text-node traversal directly on stdlib
``html.parser`` (bs4 is not available here, and a tree build would be
wasted work anyway — we only need the linear text-node stream). On the
well-formed-HTML subset the fixtures use, the two provably agree (see
tests/test_htmltools.py goldens). Known divergence class, documented
per SURVEY.md §7.4(1): malformed-markup *recovery* (bs4 inserts implied
end tags in some nesting cases) can attribute a text node to a
different parent; this only matters when that parent is one of the five
blocked tag names.

All Spark entry points are Arrow-vectorized pandas UDFs (input_hint:
no per-row Python UDFs).
"""

from __future__ import annotations

from html.parser import HTMLParser as _StdHTMLParser

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

try:  # available in this sandbox; gate anyway (import-try per build rules)
    from charset_normalizer import from_bytes as _cn_from_bytes
except ImportError:  # pragma: no cover
    _cn_from_bytes = None

# parents whose direct text is invisible (Parser.py:67-68)
_INVISIBLE_PARENTS = frozenset(["style", "script", "head", "title", "meta"])

# HTML5 void elements: html.parser emits no end-tag event for these, so
# they must never be pushed on the open-tag stack (else all later text
# would inherit e.g. 'meta' as parent and be wrongly dropped).
_VOID = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# elements whose content html.parser treats as CDATA (raw text)
_CDATA = frozenset(["script", "style"])


class _TextAndLinkParser(_StdHTMLParser):
    """One linear pass collecting text nodes (with parent), hrefs, title."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.stack: list[str] = []
        self.texts: list[tuple[str, str]] = []  # (parent_tag, text)
        self.hrefs: list[str] = []
        self.title: str | None = None
        self._in_title = False

    # -- tag events --------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "a":
            for k, v in attrs:
                if k == "href":
                    self.hrefs.append(v)
                    break
        if tag not in _VOID:
            self.stack.append(tag)
        if tag == "title" and self.title is None:
            self._in_title = True

    def handle_startendtag(self, tag: str, attrs) -> None:
        # <x/> — treat as start+end; void-safe because nothing is pushed
        if tag == "a":
            for k, v in attrs:
                if k == "href":
                    self.hrefs.append(v)
                    break

    def handle_endtag(self, tag: str) -> None:
        if tag in _VOID:
            return
        if tag == "title":
            self._in_title = False
        # pop to the most recent matching open tag (bs4 builder behavior);
        # a stray end tag with no matching open tag is ignored
        if tag in self.stack:
            while self.stack:
                popped = self.stack.pop()
                if popped == tag:
                    break

    # -- text events -------------------------------------------------
    def handle_data(self, data: str) -> None:
        parent = self.stack[-1] if self.stack else "[document]"
        self.texts.append((parent, data))
        if self._in_title and self.title is None and data.strip() != "":
            self.title = data

    def handle_comment(self, data: str) -> None:  # Comments are invisible
        pass


def decode_html_bytes(html: bytes) -> str:
    """P6 — charset_normalizer best-guess decode (Parser.py:8-11).

    Fast path: pure-ASCII payloads decode directly — every charset
    charset_normalizer could pick is an ASCII superset, so the result
    is byte-identical while skipping the (comparatively slow) chaos
    analysis. Non-ASCII bytes take the full parity path (e.g. the
    latin-1 fixture host still gets cn's cp-guess semantics).
    """
    if html is None:
        return ""
    if isinstance(html, str):
        return html
    if html.isascii():
        return html.decode("ascii")
    if _cn_from_bytes is not None:
        best = _cn_from_bytes(html).best()
        if best is not None:
            return str(best)
    try:
        return html.decode("utf-8")
    except UnicodeDecodeError:
        return html.decode("latin-1", errors="replace")


def _parse(html: str) -> _TextAndLinkParser:
    p = _TextAndLinkParser()
    p.feed(html)
    p.close()
    return p


def visible_text(html: str) -> str:
    """P9 — the byte-identical invariant (Parser.py:57-72).

    Equivalent to bs4: ``" ".join(t.strip() for t in findAll(text=True)
    if tag_visible(t))`` — note that whitespace-only nodes survive as
    empty strings and still contribute a join separator.
    """
    p = _parse(html)
    # '[document]' (text outside any tag) is in the reference blocklist too
    return " ".join(
        t.strip()
        for parent, t in p.texts
        if parent not in _INVISIBLE_PARENTS and parent != "[document]"
    )


def extract_hrefs(html: str) -> list[str]:
    """P7 — raw <a href> values, first whitespace token, deduped.

    Returns a *sorted* list (reference returns a set; sorting pins the
    nondeterministic set iteration order, SURVEY.md §5.3).
    """
    p = _parse(html)
    out = set()
    for href in p.hrefs:
        if href is None:
            continue
        toks = href.split()
        if toks:  # blank/whitespace-only href skipped (Parser.py:21-22)
            out.add(toks[0])
    return sorted(out)


def page_title(html: str) -> str | None:
    """P11 — first <title> text node (WorkersPipeline.py:278)."""
    return _parse(html).title


def first_n_words(text: str, n: int = 20) -> str:
    """P10 — first N whitespace tokens joined by single spaces."""
    return " ".join(text.split()[:n])


# ---------------------------------------------------------------------------
# Vectorized Spark surface
# ---------------------------------------------------------------------------


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """P6+P9 over a binary html column, Arrow-batched."""
    return html.map(lambda b: visible_text(decode_html_bytes(b)), na_action="ignore")
