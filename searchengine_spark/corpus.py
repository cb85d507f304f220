"""Deterministic synthetic crawl corpus.

The reference crawls the live web; this sandbox has no network, so the
engine's inputs are synthesized *deterministically* (seed-free pure
functions of ids/hashes — FIXTURES.md F1-F6):

* a raw-URL grammar over integer ids exercising every canonicalization
  edge (schemes, www., trailing slashes, blocked extensions, rejected
  forms, a deliberate hot host for skew) — exists in three synchronized
  forms (Spark Column, DuckDB SQL, pure Python) so oracle queries can
  regenerate the identical universe;
* an interleaved-document generator: id -> spans array (title / meta /
  text / link / media in document order) mirroring what the reference's
  `shortenData` keeps (SearchEngine.cpp:136-256);
* an HTML renderer that wraps those spans back into noisy HTML
  (comments, scripts, styles, extra attributes) — the round-trip
  fixture for the span-sequence-equality invariant;
* a synthetic `fetch`: url -> outlink ids (closing the crawl feedback
  loop) as a pure function of the URL hash.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from searchengine_spark.functions.hashes import hash60_py

N_HOST_GROUPS = 211
TLDS = ["com", "org", "net", "jp", "co.uk", "com.cn"]  # 'jp' hosts get TLD-filtered
HOT_HOST = "hothost.com"


# ---------------------------------------------------------------------------
# raw-URL grammar
# ---------------------------------------------------------------------------

def _base_py(doc_id: int) -> str:
    g = doc_id - doc_id % 8
    h = g % N_HOST_GROUPS
    return f"host{h}.{TLDS[h % len(TLDS)]}"


def raw_url_py(doc_id: int) -> str:
    v = doc_id % 8
    base = _base_py(doc_id)
    if v == 0:
        return f"http://www.{base}/p/{doc_id}/"
    if v == 1:
        return f"https://{base}/x/{doc_id}"
    if v == 2:
        return f"{base}/a/{doc_id}//"
    if v == 3:
        return f"http://{base}/img/{doc_id}.jpg"  # ext-filtered
    if v == 4:
        return f"http://{base}/p/{doc_id - 4}"  # md5-duplicate of v0 (www.)
    if v == 5:
        return f"//{HOT_HOST}/y/{doc_id}"  # hot-host skew
    if v == 6:
        return f"httpx{base}/z/{doc_id}"  # rejected: 'http' w/o ':'
    return "ab"  # rejected: too short


def raw_url_expr(doc_id: Column | str) -> Column:
    d = F.col(doc_id) if isinstance(doc_id, str) else doc_id
    d = d.cast("long")
    g = d - d % 8
    h = g % N_HOST_GROUPS
    tld = F.element_at(F.array(*[F.lit(t) for t in TLDS]), (h % len(TLDS) + 1).cast("int"))
    base = F.concat(F.lit("host"), h.cast("string"), F.lit("."), tld)
    ds = d.cast("string")
    return (
        F.when(d % 8 == 0, F.concat(F.lit("http://www."), base, F.lit("/p/"), ds, F.lit("/")))
        .when(d % 8 == 1, F.concat(F.lit("https://"), base, F.lit("/x/"), ds))
        .when(d % 8 == 2, F.concat(base, F.lit("/a/"), ds, F.lit("//")))
        .when(d % 8 == 3, F.concat(F.lit("http://"), base, F.lit("/img/"), ds, F.lit(".jpg")))
        .when(d % 8 == 4, F.concat(F.lit("http://"), base, F.lit("/p/"), (d - 4).cast("string")))
        .when(d % 8 == 5, F.concat(F.lit("//" + HOT_HOST + "/y/"), ds))
        .when(d % 8 == 6, F.concat(F.lit("httpx"), base, F.lit("/z/"), ds))
        .otherwise(F.lit("ab"))
    )


def raw_url_sql(doc_id: str) -> str:
    """DuckDB twin of raw_url_expr (bit-identical strings)."""
    d = f"CAST({doc_id} AS BIGINT)"
    g = f"({d} - {d} % 8)"
    h = f"({g} % {N_HOST_GROUPS})"
    tld_cases = " ".join(
        f"WHEN {i} THEN '{t}'" for i, t in enumerate(TLDS)
    )
    tld = f"(CASE ({h} % {len(TLDS)}) {tld_cases} END)"
    base = f"('host' || CAST({h} AS VARCHAR) || '.' || {tld})"
    ds = f"CAST({d} AS VARCHAR)"
    return f"""
      CASE ({d} % 8)
        WHEN 0 THEN 'http://www.' || {base} || '/p/' || {ds} || '/'
        WHEN 1 THEN 'https://' || {base} || '/x/' || {ds}
        WHEN 2 THEN {base} || '/a/' || {ds} || '//'
        WHEN 3 THEN 'http://' || {base} || '/img/' || {ds} || '.jpg'
        WHEN 4 THEN 'http://' || {base} || '/p/' || CAST({d} - 4 AS VARCHAR)
        WHEN 5 THEN '//{HOT_HOST}/y/' || {ds}
        WHEN 6 THEN 'httpx' || {base} || '/z/' || {ds}
        ELSE 'ab'
      END"""


# ---------------------------------------------------------------------------
# robots rules (north_rule addition; the reference has none — SURVEY §7.1)
# ---------------------------------------------------------------------------

ROBOTS_DENY_MOD = 10  # hash60('robots|'+host) % 10 == 0 -> deny all
ROBOTS_PREFIX_MOD = 1  # == 1 -> disallow paths starting '/x/'
ROBOTS_DISALLOWED_PREFIX = "/x/"


def robots_state_py(host: str) -> str:
    m = hash60_py(host, "robots") % ROBOTS_DENY_MOD
    if m == 0:
        return "deny"
    if m == ROBOTS_PREFIX_MOD:
        return "disallow:" + ROBOTS_DISALLOWED_PREFIX
    return "allow"


def robots_state_expr(host: Column) -> Column:
    from searchengine_spark.functions.hashes import hash60

    m = F.pmod(hash60(host, "robots"), F.lit(ROBOTS_DENY_MOD))
    return (
        F.when(m == 0, F.lit("deny"))
        .when(m == ROBOTS_PREFIX_MOD, F.lit("disallow:" + ROBOTS_DISALLOWED_PREFIX))
        .otherwise(F.lit("allow"))
    )


def robots_state_sql(host: str) -> str:
    from searchengine_spark.functions.hashes import hash60_sql

    m = f"({hash60_sql(host, 'robots')} % {ROBOTS_DENY_MOD})"
    return (
        f"CASE WHEN {m} = 0 THEN 'deny' "
        f"WHEN {m} = {ROBOTS_PREFIX_MOD} THEN 'disallow:{ROBOTS_DISALLOWED_PREFIX}' "
        f"ELSE 'allow' END"
    )


def parse_robots_txt(txt: str) -> str:
    """Minimal robots.txt -> engine robots_state string.

    Understands `User-agent: *` sections with Disallow AND Allow
    rules. Disallow-only bodies keep the legacy states: 'Disallow: /'
    -> 'deny'; one or more prefixes -> 'disallow:<p1>|<p2>|...' (every
    rule enforced, not just the first); no rules -> 'allow'. A body
    with at least one Allow rule AND at least one Disallow rule
    compiles to 'rules:<±p1>|<±p2>|...' ('+' = Allow, '-' = Disallow,
    'Disallow: /' becomes '-/'), gated longest-match-wins with Allow
    winning equal-length ties — the REP standard precedence (RFC 9309
    §2.2.2, what Googlebot implements). Allow rules with no Disallow
    to override are vacuous -> 'allow'. (The reference has NO robots
    support — this is the north-rule addition; the fetch adapter
    parses the fetched robots body into hosts.robots_state.)

    Multi-prefix and 'rules:' states are an HTTP-adapter-only surface:
    the synthetic corpus grammar emits at most one Disallow prefix, so
    the three-form (expr/SQL/py) twins stay row-equal on it. '|' is
    the rule separator and cannot appear inside a prefix — a robots
    rule containing '|' (never valid in a URL path anyway) is dropped.
    """
    in_star = False
    rules: list[str] = []  # '±<prefix>' in file order, deduped
    for line in txt.splitlines():
        line = line.split("#", 1)[0].strip()
        if not line:
            continue
        k, _, v = line.partition(":")
        k, v = k.strip().lower(), v.strip()
        if k == "user-agent":
            in_star = v == "*"
        elif in_star and k in ("disallow", "allow"):
            if not v or "|" in v:
                continue  # empty rule = no constraint; '|' invalid
            tok = ("-" if k == "disallow" else "+") + v
            if tok not in rules:
                rules.append(tok)
    disallows = [t[1:] for t in rules if t[0] == "-"]
    if not disallows:
        return "allow"
    if not any(t[0] == "+" for t in rules):
        if "/" in disallows:
            return "deny"
        return "disallow:" + "|".join(disallows)
    return "rules:" + "|".join(rules)


def parse_sitemap_decls(txt: str) -> list[str]:
    """`Sitemap:` directives (sitemaps.org protocol; RFC 9309 §2.3) —
    agent-INDEPENDENT: valid anywhere in robots.txt, outside any
    User-agent section, so this scans every line. The protocol
    requires absolute URLs; relative values are kept as-is and fail
    naturally at fetch time. Order preserved, duplicates dropped."""
    out: list[str] = []
    seen: set[str] = set()
    for line in txt.splitlines():
        line = line.split("#", 1)[0].strip()
        k, _, v = line.partition(":")
        if k.strip().lower() == "sitemap":
            v = v.strip()
            if v and v not in seen:
                seen.add(v)
                out.append(v)
    return out


def parse_crawl_delay(txt: str, cap: int = 16) -> int:
    """`Crawl-delay: N` under `User-agent: *` -> politeness rounds.

    The engine's politeness unit is the ROUND (one fetch per host per
    politeness window); a second-denominated Crawl-delay maps
    conservatively 1 s -> 1 round, capped (a hostile robots.txt must
    not starve the frontier — Googlebot likewise ignores Crawl-delay
    entirely; we honor it up to `cap`). Absent/garbage values -> 0
    (the global cfg.politeness_rounds still applies). The LAST valid
    value in the * section wins, like repeated robots rules."""
    in_star = False
    delay = 0
    for line in txt.splitlines():
        line = line.split("#", 1)[0].strip()
        if not line:
            continue
        k, _, v = line.partition(":")
        k, v = k.strip().lower(), v.strip()
        if k == "user-agent":
            in_star = v == "*"
        elif in_star and k == "crawl-delay":
            try:
                delay = max(0, min(int(float(v)), cap))
            except ValueError:
                pass
    return delay


_RX_SPECIALS = set(".^$+?()[]{}\\|")


def robots_rule_regex_py(rule: str) -> str:
    """RFC 9309 §2.2.3 wildcard rule -> anchored regex: '*' spans any
    octets, a TRAILING '$' anchors the rule at the path end; every
    other char is literal."""
    anchored = rule.endswith("$")
    body = rule[:-1] if anchored else rule
    parts = []
    for ch in body:
        if ch == "*":
            parts.append(".*")
        elif ch in _RX_SPECIALS:
            parts.append("\\" + ch)
        else:
            parts.append(ch)
    return "^" + "".join(parts) + ("$" if anchored else "")


def robots_rule_matches_py(rule: str, path: str) -> bool:
    """One robots rule against one path: plain rules are prefix
    matches; rules carrying '*' or a trailing '$' match as RFC 9309
    wildcards (what Googlebot implements). Twin of the per-token
    branch in plans/crawl.robots_blocked_expr."""
    import re

    if "*" in rule or rule.endswith("$"):
        return re.search(robots_rule_regex_py(rule), path) is not None
    return path.startswith(rule)


def robots_rules_blocked_py(state: str | None, path: str) -> bool:
    """Pure-python twin of plans/crawl.robots_blocked_expr covering
    EVERY state form (legacy + 'rules:'): True when the cached state
    blocks the path. 'rules:' gating is longest-match-wins, Allow wins
    equal-length ties (RFC 9309 §2.2.2); no matching rule = allowed.
    Rules containing '*' / trailing '$' match as RFC 9309 wildcards
    (§2.2.3); precedence still uses the raw rule's octet length."""
    if not state or state == "allow":
        return False
    if state == "deny":
        return True
    if state.startswith("disallow:"):
        return any(
            robots_rule_matches_py(p, path)
            for p in state[len("disallow:"):].split("|")
        )
    if state.startswith("rules:"):
        matching = [
            t
            for t in state[len("rules:"):].split("|")
            if robots_rule_matches_py(t[1:], path)
        ]
        if not matching:
            return False
        best = max(len(t) for t in matching)
        return not any(len(t) == best and t[0] == "+" for t in matching)
    return False


def robots_txt_of_state(state: str) -> str:
    """Inverse fixture generator: state -> a robots.txt body
    (parse_robots_txt(robots_txt_of_state(s)) == s for every form)."""
    if state == "deny":
        return "User-agent: *\nDisallow: /\n"
    if state.startswith("disallow:"):
        rules = "".join(
            f"Disallow: {p}\n"
            for p in state[len("disallow:"):].split("|")
        )
        return f"User-agent: *\n{rules}"
    if state.startswith("rules:"):
        rules = "".join(
            ("Allow: " if t[0] == "+" else "Disallow: ") + t[1:] + "\n"
            for t in state[len("rules:"):].split("|")
        )
        return f"User-agent: *\n{rules}"
    return "User-agent: *\nDisallow:\n"


def url_path_py(canonical: str) -> str:
    s = canonical
    if s.startswith("https://"):
        s = s[8:]
    elif s.startswith("http://"):
        s = s[7:]
    i = s.find("/")
    return s[i:] if i >= 0 else ""


def robots_allows_py(host: str, path: str) -> bool:
    st = robots_state_py(host)
    if st == "deny":
        return False
    if st.startswith("disallow:") and path.startswith(st[len("disallow:"):]):
        return False
    return True


# ---------------------------------------------------------------------------
# synthetic fetch: url -> outlink ids (pure function of the url string)
# ---------------------------------------------------------------------------

FETCH_FANOUT = 4


def fetch_outlink_ids_py(canonical_url: str, max_doc: int) -> list[int]:
    """Deterministic outlinks: FETCH_FANOUT pseudo-ids in [0, max_doc)."""
    return [
        hash60_py(f"{canonical_url}#{j}", "link") % max_doc
        for j in range(FETCH_FANOUT)
    ]


def fetch_spans_py(canonical_url: str, max_doc: int) -> list[dict]:
    """Synthetic fetch: canonical url -> interleaved page spans.

    Stands in for the reference's HTTP fetch + shortenData
    (httpDownload.h:77-140 + SearchEngine.cpp:136-256); a production
    deployment swaps this pure function for an async HTTP adapter in
    the same mapInPandas slot. Outlinks ride as kind='link' spans so
    the crawl loop extracts them with native array ops.
    """
    spans: list[dict] = [
        {"kind": "title", "text": f"page {canonical_url}", "media_ref": None, "offset": 0},
        {
            "kind": "text",
            "text": f"body of {canonical_url} " + "w" * (hash60_py(canonical_url, "len") % 40),
            "media_ref": None,
            "offset": 1,
        },
    ]
    off = 2
    for t in fetch_outlink_ids_py(canonical_url, max_doc):
        spans.append(
            {"kind": "link", "text": None, "media_ref": raw_url_py(t), "offset": off}
        )
        off += 1
    if hash60_py(canonical_url, "media") % 3 == 0:
        spans.append(
            {
                "kind": "media",
                "text": None,
                "media_ref": f"http://img.cdn/{hash60_py(canonical_url, 'img') % 997}.png",
                "offset": off,
            }
        )
        off += 1
    st = hash60_py(canonical_url, "style")
    if st % 4 == 0:
        # styled body span: <b>/<h1>/<h2> markup the index maps to the
        # reference's style amplifiers (SearchEngine.cpp:307,455-457)
        spans.append(
            {
                "kind": ("b", "h1", "h2")[st % 3],
                "text": f"highlight{st % 20}",
                "media_ref": None,
                "offset": off,
            }
        )
    return spans


def fetch_spans_expr(url: "Column", max_doc: int) -> "Column":
    """JVM-native twin of fetch_spans_py: the whole synthetic fetch as
    ONE projection (md5/hash60 + string builds, no Python round-trip),
    byte-equal to the pure form (pinned by test_fetch_spans_expr_equals_py
    and the crawl-vs-simulator equality suite). The pandas-UDF slot in
    plans/crawl.py remains the production network-adapter boundary; this
    is the synthetic adapter's fast path."""
    from searchengine_spark.functions.hashes import hash60

    def span(kind, text, ref, off):
        return F.struct(
            F.lit(kind).alias("kind"),
            (text if text is not None else F.lit(None).cast("string")).alias("text"),
            (ref if ref is not None else F.lit(None).cast("string")).alias(
                "media_ref"
            ),
            off.cast("int").alias("offset"),
        )

    body = F.concat(
        F.lit("body of "),
        url,
        F.lit(" "),
        # "w" * (hash60 % 40): substr of a 39-char literal run
        F.lit("w" * 39).substr(
            F.lit(1), F.pmod(hash60(url, "len"), F.lit(40)).cast("int")
        ),
    )
    fixed = [
        span("title", F.concat(F.lit("page "), url), None, F.lit(0)),
        span("text", body, None, F.lit(1)),
    ]
    links = [
        span(
            "link",
            None,
            raw_url_expr(
                F.pmod(hash60(F.concat(url, F.lit(f"#{j}")), "link"), F.lit(max_doc))
            ),
            F.lit(2 + j),
        )
        for j in range(FETCH_FANOUT)
    ]
    has_media = F.pmod(hash60(url, "media"), F.lit(3)) == 0
    # conditional spans as filter-over-singleton (keeps the struct type
    # exact without empty-array casts)
    media = F.filter(
        F.array(
            span(
                "media",
                None,
                F.concat(
                    F.lit("http://img.cdn/"),
                    F.pmod(hash60(url, "img"), F.lit(997)).cast("string"),
                    F.lit(".png"),
                ),
                F.lit(2 + FETCH_FANOUT),
            )
        ),
        lambda _x: has_media,
    )
    st = hash60(url, "style")
    style_kind = F.element_at(
        F.array(F.lit("b"), F.lit("h1"), F.lit("h2")),
        F.pmod(st, F.lit(3)).cast("int") + 1,
    )
    style_off = F.lit(2 + FETCH_FANOUT) + F.when(has_media, F.lit(1)).otherwise(
        F.lit(0)
    )
    style = F.filter(
        F.array(
            F.struct(
                style_kind.alias("kind"),
                F.concat(
                    F.lit("highlight"), F.pmod(st, F.lit(20)).cast("string")
                ).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                style_off.cast("int").alias("offset"),
            )
        ),
        lambda _x: F.pmod(st, F.lit(4)) == 0,
    )
    return F.concat(F.array(*fixed, *links), media, style)


FETCH_FAIL_MOD = 13


def fetch_fails_py(host: str, round_no: int) -> bool:
    """De-randomized transient fetch failure (X11): a host fails in
    rounds where hash(host|round) % 13 == 0 — deterministic, retryable."""
    return hash60_py(f"{host}|{round_no}", "fail") % FETCH_FAIL_MOD == 0


# ---------------------------------------------------------------------------
# interleaved-document spans (FIXTURES.md F1) + HTML round-trip fixture
# ---------------------------------------------------------------------------

SPANS_SCHEMA = (
    "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)
DOCS_SCHEMA = f"doc_id string, url string, spans {SPANS_SCHEMA}"


def gen_spans_py(doc_id: int, text: str, max_doc: int) -> list[dict]:
    """id + source text -> ordered interleaved spans (pure, deterministic).

    Mirrors the *output shape* of the reference's shortenData
    (SearchEngine.cpp:136-256): title first, meta kept whole, text runs
    interleaved with link/media refs, offsets = document order.
    """
    words = text.split()
    spans: list[dict] = []
    off = 0

    def push(kind: str, txt: str | None, ref: str | None) -> None:
        nonlocal off
        spans.append({"kind": kind, "text": txt, "media_ref": ref, "offset": off})
        off += 1

    push("title", " ".join(words[:3]) if words else f"doc {doc_id}", None)
    push("meta", None, f"charset-utf8-{doc_id % 3}")
    n = max(1, len(words))
    i = 3
    chunk = 0
    while i < len(words):
        j = min(i + 5, len(words))
        push("text", " ".join(words[i:j]), None)
        if chunk % 3 == 1:
            target = hash60_py(f"{doc_id}:{chunk}", "span-link") % max_doc
            push("link", None, raw_url_py(target))
        if chunk % 5 == 2:
            push("media", None, f"http://img.cdn/{doc_id % 97}/{(doc_id * 7 + chunk) % n}.png")
        i = j
        chunk += 1
    return spans


def html_of_spans_py(spans: list[dict]) -> str:
    """Render spans back to noisy HTML — the extraction fixture.

    Injects everything shortenData must drop: comments
    (SearchEngine.cpp:116-134), <script>/<style> blocks (:140-143),
    non-href attributes (:152), whitespace runs.
    """
    parts: list[str] = ["<!-- generated fixture -->", "<html><head>"]
    for s in spans:
        k = s["kind"]
        if k == "title":
            parts.append(f"<title>{s['text']}</title>")
        elif k == "meta":
            parts.append(f'<meta content="{s["media_ref"]}">')
    parts.append("<script>var x = '<title>not me</title>';</script>")
    parts.append("<style>.a{color:red}</style>")
    parts.append("</head><body>")
    for i, s in enumerate(spans):
        k = s["kind"]
        if k == "text":
            parts.append(f"<p class=\"c{i}\">{s['text']}</p>")
            if i % 4 == 1:
                parts.append("<!-- noise -->")
        elif k == "link":
            parts.append(f'<a rel="nofollow" href="{s["media_ref"]}"></a>')
        elif k == "media":
            parts.append(f'<img src="{s["media_ref"]}" width="10">')
    parts.append("</body></html>")
    return "\n".join(parts)


# ---------------------------------------------------------------------------
# DataFrame builders
# ---------------------------------------------------------------------------


def interleaved_docs_df(
    spark: SparkSession, sf_dir: str, max_doc: int | None = None
) -> DataFrame:
    """documents.parquet -> interleaved docs (doc_id, url, spans).

    Spans are produced by a vectorized pandas UDF over Arrow batches
    (no per-row Python at the Spark boundary).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = max_doc or docs.count()

    def gen(batches):
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype(str),
                    "url": [raw_url_py(int(d)) for d in pdf["doc_id"]],
                    "spans": [
                        gen_spans_py(int(d), t, n)
                        for d, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )
            yield out

    return docs.select("doc_id", "text").mapInPandas(gen, schema=DOCS_SCHEMA)
