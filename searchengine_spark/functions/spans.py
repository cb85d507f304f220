"""Span & link extraction — the interleaved-document operators.

`extract_spans` re-expresses the reference's page shortener
(`shortenData`, SearchEngine.cpp:136-256 — drops <script>/<style>
blocks and comments (removeComment, :116-134), preserves <meta>/<img>
tags whole, keeps only href attributes, collapses whitespace) plus
title extraction (:959-991) as: html -> ordered
array<struct<kind,text,media_ref,offset>>. The ordered array is the
unit of the mandated span-sequence-equality invariant.

`extract_links` re-expresses getURLs (SearchEngine.cpp:40-114): the
four href patterns (:43-46), relative-path resolution against the page
host, same-host https inheritance (:99-100) and per-page dedup (:52,
101-103 — array_distinct before explode).

Both run as Arrow-batched pandas UDFs (`mapInPandas` /
`F.pandas_udf`): batch-columnar at the Spark boundary; HTML scanning
is a compiled-regex pass per document inside the batch (there is no
JVM-side HTML parser expression — this is the sanctioned Pandas-UDF
slow path, and it is the only one in the engine's hot loop).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F, types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)
SPANS_TYPE = T.ArrayType(SPAN_STRUCT)

_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_SCRIPT_RE = re.compile(r"<script\b.*?</script\s*>", re.S | re.I)
_STYLE_RE = re.compile(r"<style\b.*?</style\s*>", re.S | re.I)
_TITLE_RE = re.compile(r"<title\s*>(.*?)</title\s*>", re.S | re.I)
_TAG_RE = re.compile(r"<(/?)([a-zA-Z][a-zA-Z0-9]*)((?:[^>\"']|\"[^\"]*\"|'[^']*')*)>")
_ATTR_RE = re.compile(r"([a-zA-Z-]+)\s*=\s*\"([^\"]*)\"")
_WS_RE = re.compile(r"\s+")

MAX_TITLE_LEN = 255  # SearchEngine.cpp:966

# block-level boundaries: a text run ends at any of these (the reference
# has no span structure at all — this is our engine's segmentation rule)
_BLOCK_TAGS = frozenset(
    "p div br h1 h2 h3 h4 h5 h6 li td th tr table ul ol section article "
    "header footer body html head".split()
)


def _attr(attrs: str, name: str) -> str | None:
    for k, v in _ATTR_RE.findall(attrs):
        if k.lower() == name:
            return v
    return None


def _extract_spans_ref_py(html: str) -> list[dict]:
    """REFERENCE span extractor — the original, closure-per-call form.
    Kept verbatim as the semantic anchor: the optimized
    :func:`extract_spans_py` below is pinned row-equal to this by
    tests/test_spans.py::test_extract_spans_fast_matches_reference."""
    h = _COMMENT_RE.sub("", html)
    h = _SCRIPT_RE.sub("", h)
    h = _STYLE_RE.sub("", h)

    spans: list[dict] = []
    off = 0

    def push(kind: str, text: str | None, ref: str | None) -> None:
        nonlocal off
        spans.append({"kind": kind, "text": text, "media_ref": ref, "offset": off})
        off += 1

    pos = 0
    pending_text: list[str] = []

    def flush_text() -> None:
        nonlocal pending_text
        txt = _WS_RE.sub(" ", "".join(pending_text)).strip()
        pending_text = []
        if txt:
            push("text", txt, None)

    while pos < len(h):
        m = _TAG_RE.search(h, pos)
        if not m:
            pending_text.append(h[pos:])
            break
        pending_text.append(h[pos : m.start()])
        closing, name, attrs = m.group(1), m.group(2).lower(), m.group(3)
        if name in _BLOCK_TAGS:
            flush_text()
        if not closing:
            if name == "title":
                flush_text()
                t = _TITLE_RE.match(h, m.start())
                if t:
                    title = _WS_RE.sub(" ", t.group(1)).strip()[:MAX_TITLE_LEN]
                    push("title", title, None)
                    pos = t.end()
                    continue
            elif name == "meta":
                flush_text()
                push("meta", None, _attr(attrs, "content"))
            elif name == "img":
                flush_text()
                push("media", None, _attr(attrs, "src"))
            elif name == "a":
                flush_text()
                href = _attr(attrs, "href")
                if href is not None:
                    push("link", None, href)
        pos = m.end()
    flush_text()
    return spans


def extract_spans_py(html: str) -> list[dict]:
    """Pure-Python span extractor (shared by the UDF and the test
    oracle). Output-identical to :func:`_extract_spans_ref_py` (pinned
    by test); r6-optimized for the crawl hot loop — this runs once per
    fetched page:

    * the comment/script/style subs only run when their marker occurs
      (three substring probes are ~C-speed; the subs scan thrice);
    * one `finditer` pass instead of repeated `.search(pos)` calls
      (matches inside a skipped <title> body are dropped by a pos
      check, preserving the reference's jump semantics);
    * no per-call closures; locals bound once per page.
    """
    h = html
    if "<!--" in h:
        h = _COMMENT_RE.sub("", h)
    hl = h.lower()
    if "<script" in hl:
        h = _SCRIPT_RE.sub("", h)
        hl = h.lower()
    if "<style" in hl:
        h = _STYLE_RE.sub("", h)

    spans: list[dict] = []
    off = 0
    pos = 0
    pending: list[str] = []
    ws_sub = _WS_RE.sub
    block = _BLOCK_TAGS
    for m in _TAG_RE.finditer(h):
        start = m.start()
        if start < pos:  # inside a consumed <title>...</title> body
            continue
        closing, name, attrs = m.group(1), m.group(2).lower(), m.group(3)
        is_block = name in block
        special = not closing and name in ("title", "meta", "img", "a")
        if is_block or special:
            pending.append(h[pos:start])
            txt = ws_sub(" ", "".join(pending)).strip()
            pending.clear()
            if txt:
                spans.append(
                    {"kind": "text", "text": txt, "media_ref": None, "offset": off}
                )
                off += 1
        else:
            pending.append(h[pos:start])
        if special:
            if name == "title":
                t = _TITLE_RE.match(h, start)
                if t:
                    title = ws_sub(" ", t.group(1)).strip()[:MAX_TITLE_LEN]
                    spans.append(
                        {
                            "kind": "title",
                            "text": title,
                            "media_ref": None,
                            "offset": off,
                        }
                    )
                    off += 1
                    pos = t.end()
                    continue
            elif name == "meta":
                spans.append(
                    {
                        "kind": "meta",
                        "text": None,
                        "media_ref": _attr(attrs, "content"),
                        "offset": off,
                    }
                )
                off += 1
            elif name == "img":
                spans.append(
                    {
                        "kind": "media",
                        "text": None,
                        "media_ref": _attr(attrs, "src"),
                        "offset": off,
                    }
                )
                off += 1
            else:  # <a ...>
                href = _attr(attrs, "href")
                if href is not None:
                    spans.append(
                        {
                            "kind": "link",
                            "text": None,
                            "media_ref": href,
                            "offset": off,
                        }
                    )
                    off += 1
        pos = m.end()
    pending.append(h[pos:])
    txt = ws_sub(" ", "".join(pending)).strip()
    if txt:
        spans.append({"kind": "text", "text": txt, "media_ref": None, "offset": off})
    return spans


def resolve_href_py(base_canonical_url: str, href: str) -> str | None:
    """getURLs href resolution, SearchEngine.cpp:43-46,99-100.

    Patterns: '//host/..' -> scheme of base; absolute http(s) kept;
    '/path' -> base host (https inherited when base is https).
    Anything else (fragment, mailto, relative-no-slash) is dropped —
    the reference only matches these four prefixes.
    """
    base_https = base_canonical_url.startswith("https://")
    if base_https:
        base_host = base_canonical_url[8:].split("/", 1)[0]
    else:
        base_host = base_canonical_url.split("/", 1)[0]
    scheme = "https://" if base_https else "http://"
    if href.startswith("http://") or href.startswith("https://"):
        return href
    if href.startswith("//"):
        return scheme + href[2:]
    if href.startswith("/"):
        return scheme + base_host + href
    return None


def resolve_href_expr(base, href) -> F.Column:
    """Native twin of resolve_href_py (getURLs resolution,
    SearchEngine.cpp:43-46,99-100), row-equal on every input
    (tests/test_http_fetch.py pins it).

    Used on the HTTP crawl path, where spans carry RAW hrefs straight
    off the page; the synthetic corpus grammar instead emits
    pushPending-format refs (resolution already encoded — the
    reference resolves inside getURLs BEFORE pushPending, and the
    synthetic raw-URL grammar models the post-resolution shapes
    including its rejection noise), so the synthetic path must NOT
    route through this."""
    base_https = base.startswith("https://")
    scheme = F.when(base_https, F.lit("https://")).otherwise(F.lit("http://"))
    base_host = F.regexp_extract(
        F.regexp_replace(base, "^https?://", ""), "^[^/]*", 0
    )
    return (
        F.when(href.startswith("http://") | href.startswith("https://"), href)
        .when(href.startswith("//"), F.concat(scheme, F.substring(href, 3, 1 << 22)))
        .when(href.startswith("/"), F.concat(scheme, base_host, href))
        .otherwise(F.lit(None).cast("string"))
    )


@F.pandas_udf(SPANS_TYPE)
def extract_spans_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_spans_py)
