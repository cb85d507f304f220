"""URL canonicalization / keying / host-shard semantics.

Faithful re-expression of the reference crawler's URL rules (all cites
into /root/reference/SearchEngine/SearchEngine/):

* canonicalize  — ``truncateURL``  SearchEngine.h:779-799
* url key (md5) — ``getMD5``       SearchEngine.h:213-223
* host split    — ``split``        SearchEngine.h:225-245
* url filter    — ``filterURL``    SearchEngine.h:720-761
* shard hash    — ``hostCollisionHash`` SearchEngine.h:695-718

Reference quirks preserved on purpose (verified against the C source):

* https URLs keep their scheme, http URLs lose it (truncateURL).
* Any URL of length >= 7 starting "http" whose 5th char (or 6th for
  "https") is not ':' is REJECTED — e.g. "httpxyz.example/aa".
* ``split`` scans the host up to the first '/', so the host *includes*
  any ':port' suffix (the reference's port-parsing branch is
  unreachable); we mirror that.
* The md5 key strips a leading "www." and leading slashes; the
  canonical https form starts with "https", so https keys keep "www.".
* The registered-domain scan keeps the last 2 labels but extends one
  label each time the boundary label starts (case-insensitively) with
  "com"/"org" — so "a.com.cn" -> "a.com.cn", "x.a.com.cn" -> "a.com.cn".

Every rule exists in three synchronized forms:
  1. a Spark form: native ``Column`` expressions (pure JVM,
     whole-stage-codegen'd, DuckDB-mirrorable) for canonicalize, md5
     key, host split and registered domain; the crawl's url filter and
     shard run in the Arrow parse kernel (make_parse_candidates_udf)
     plus the inline salted hash60 in frontier.normalize_candidates,
  2. DuckDB SQL string builders (the correctness oracle),
  3. pure-Python scalars (the crawl-ordering oracle simulator) and a
     vectorized pandas UDF twin (north-rule API parity; tests assert it
     agrees with form 1 row-for-row).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, functions as F, types as T

from searchengine_spark.functions.hashes import hash60_py, hash60_sql, md5_py

MAXURLLEN = 2048  # SearchEngine.h:16
MAXURLPERHOST = 1_000_000  # SearchEngine.h:17
BLOCKED_EXTENSIONS = (  # SearchEngine.h:725-734
    ".js", ".ico", ".css", ".jpg", ".png", ".zip", ".gif", ".pdf", ".exe", ".rar",
)
DEFAULT_NSHARDS = 2000  # PENDINGDBMAX, SearchEngine.h:32


# ---------------------------------------------------------------------------
# 1. pure-Python scalars (oracle simulator)
# ---------------------------------------------------------------------------

def canonicalize_py(u: str | None) -> str | None:
    """truncateURL, SearchEngine.h:779-799. None = rejected."""
    if u is None or len(u) < 3:
        return None
    if len(u) >= 7 and u[:5] == "https":
        if u[5] != ":":
            return None
        return u.rstrip("/")
    if len(u) >= 7 and u[:4] == "http":
        if u[4] != ":":
            return None
        s = u[5:]
    else:
        s = u
    s = s.lstrip("/").rstrip("/")
    if len(s) < 3:
        return None
    return s


def url_md5_py(u: str) -> str | None:
    """getMD5, SearchEngine.h:213-223 — strip leading 'www.' then '/'s."""
    s = u
    if len(s) > 4 and s[:4] == "www.":
        s = s[4:]
    s = s.lstrip("/")
    if not s:
        return None
    return md5_py(s)


def split_host_py(u: str) -> str:
    """split, SearchEngine.h:225-245 — host includes any ':port' suffix."""
    s = u
    if s.startswith("http://"):
        s = s[7:]
    elif s.startswith("https://"):
        s = s[8:]
    return s.split("/", 1)[0]


def registered_domain_py(host: str) -> str:
    """hostCollisionHash label scan, SearchEngine.h:695-718."""
    i = len(host) - 1
    remaindots = 1
    while i >= 0:
        if host[i] == ".":
            if remaindots == 0:
                if i + 4 <= len(host) and host[i : i + 4].lower() in (".com", ".org"):
                    i -= 1
                    continue
                i += 1
                break
            remaindots -= 1
        i -= 1
    if i < 0:
        i = 0
    return host[i:]


def filter_url_py(u: str) -> bool:
    """filterURL row-level rules, SearchEngine.h:720-761 (per-host cap is
    an aggregate rule applied by the frontier operator, not here)."""
    ln = len(u)
    if ln < 4 or ln > MAXURLLEN:
        return False
    if ln > 4 and u.endswith(BLOCKED_EXTENSIONS):
        return False
    host = split_host_py(u)
    if len(host) <= 2:
        return False
    if len(host) > 3 and host.endswith(".jp"):
        return False
    return True


def host_shard_py(host: str, n_shards: int = DEFAULT_NSHARDS, salt: str = "") -> int:
    return hash60_py(registered_domain_py(host), salt or None) % n_shards


# ---------------------------------------------------------------------------
# 2. native Spark Column expressions (hot path)
# ---------------------------------------------------------------------------

def _strip_slashes(c: Column) -> Column:
    return F.regexp_replace(F.regexp_replace(c, r"^/+", ""), r"/+$", "")


def canonicalize_expr(u: Column | str) -> Column:
    """Native-SQL twin of :func:`canonicalize_py` (NULL = rejected)."""
    c = F.col(u) if isinstance(u, str) else u
    ln = F.length(c)
    bare = _strip_slashes(c)
    http_body = _strip_slashes(F.substring(c, 6, MAXURLLEN + 8))
    return (
        F.when(ln < 3, F.lit(None).cast("string"))
        .when(
            (ln >= 7) & (F.substring(c, 1, 5) == "https"),
            F.when(F.substring(c, 6, 1) == ":", F.regexp_replace(c, r"/+$", "")).otherwise(
                F.lit(None)
            ),
        )
        .when(
            (ln >= 7) & (F.substring(c, 1, 4) == "http"),
            F.when(
                (F.substring(c, 5, 1) == ":") & (F.length(http_body) >= 3), http_body
            ).otherwise(F.lit(None)),
        )
        .otherwise(F.when(F.length(bare) >= 3, bare).otherwise(F.lit(None)))
    )


def url_md5_expr(u: Column | str) -> Column:
    """Native twin of :func:`url_md5_py` (md5 hex of de-www'd canonical)."""
    c = F.col(u) if isinstance(u, str) else u
    dewww = F.when(
        (F.length(c) > 4) & (F.substring(c, 1, 4) == "www."),
        F.substring(c, 5, MAXURLLEN + 8),
    ).otherwise(c)
    keyed = F.regexp_replace(dewww, r"^/+", "")
    return F.when(F.length(keyed) > 0, F.md5(keyed))


def split_host_expr(u: Column | str) -> Column:
    c = F.col(u) if isinstance(u, str) else u
    body = F.when(c.startswith("https://"), F.substring(c, 9, MAXURLLEN + 8)).when(
        c.startswith("http://"), F.substring(c, 8, MAXURLLEN + 8)
    ).otherwise(c)
    return F.split_part(body, F.lit("/"), F.lit(1))


_MAX_LABEL_EXTENSIONS = 8  # native expr covers hosts up to 10 labels; the
# python/pandas forms are unbounded — tests pin agreement on the corpus AND
# on adversarial hosts past the old bound (a host would need 9+ consecutive
# com/org-prefixed boundary labels to diverge, beyond any real public suffix)


def registered_domain_expr(host: Column | str) -> Column:
    """k starts at 2; while k < n and labels[-k] starts com/org, k += 1;
    result = whole host if k >= n else last k labels."""
    c = F.col(host) if isinstance(host, str) else host
    labels = F.split(c, r"\.")
    n = F.size(labels)

    def first3_ok(neg_idx: int) -> Column:
        lbl = F.element_at(labels, neg_idx)
        return F.lower(F.substring(lbl, 1, 3)).isin("com", "org")

    def last_k(k: int) -> Column:
        return F.array_join(F.slice(labels, n - F.lit(k - 1), F.lit(k)), ".")

    expr = F.when(n <= 2, c)
    for k in range(2, _MAX_LABEL_EXTENSIONS + 2):
        expr = expr.when(~first3_ok(-k), last_k(k)).when(n <= k + 1, c)
    return expr.otherwise(c)  # past the bound: approximate with whole host


# ---------------------------------------------------------------------------
# 3. DuckDB SQL twins (correctness oracle)
# ---------------------------------------------------------------------------

def canonicalize_sql(u: str) -> str:
    body = f"regexp_replace(regexp_replace(substr({u}, 6), '^/+', ''), '/+$', '')"
    bare = f"regexp_replace(regexp_replace({u}, '^/+', ''), '/+$', '')"
    return f"""
      CASE
        WHEN length({u}) < 3 THEN NULL
        WHEN length({u}) >= 7 AND substr({u},1,5) = 'https' THEN
          CASE WHEN substr({u},6,1) = ':' THEN regexp_replace({u}, '/+$', '')
               ELSE NULL END
        WHEN length({u}) >= 7 AND substr({u},1,4) = 'http' THEN
          CASE WHEN substr({u},5,1) = ':' AND length({body}) >= 3 THEN {body}
               ELSE NULL END
        ELSE CASE WHEN length({bare}) >= 3 THEN {bare} ELSE NULL END
      END"""


def url_md5_sql(u: str) -> str:
    dewww = (
        f"CASE WHEN length({u}) > 4 AND substr({u},1,4) = 'www.' "
        f"THEN substr({u},5) ELSE {u} END"
    )
    keyed = f"regexp_replace({dewww}, '^/+', '')"
    return f"CASE WHEN length({keyed}) > 0 THEN md5({keyed}) END"


def split_host_sql(u: str) -> str:
    body = (
        f"CASE WHEN {u} LIKE 'https://%' THEN substr({u},9) "
        f"WHEN {u} LIKE 'http://%' THEN substr({u},8) ELSE {u} END"
    )
    return f"split_part({body}, '/', 1)"


def registered_domain_sql(host: str, max_ext: int = _MAX_LABEL_EXTENSIONS) -> str:
    """DuckDB twin of the label-extension chain (bounded like the expr)."""
    labels = f"string_split({host}, '.')"
    n = f"len({labels})"

    def first3_ok(neg: int) -> str:
        return f"lower(substr({labels}[{neg}],1,3)) IN ('com','org')"

    def last_k(k: int) -> str:
        return f"array_to_string({labels}[({n}-{k - 1}):], '.')"

    branches = [f"WHEN {n} <= 2 THEN {host}"]
    for k in range(2, max_ext + 2):
        branches.append(f"WHEN NOT ({first3_ok(-k)}) THEN {last_k(k)}")
        branches.append(f"WHEN {n} <= {k + 1} THEN {host}")
    return "CASE " + " ".join(branches) + f" ELSE {host} END"


def filter_url_sql(u: str) -> str:
    host = split_host_sql(u)
    ext = " AND ".join(
        f"NOT (length({u}) > 4 AND {u} LIKE '%{e}')" for e in BLOCKED_EXTENSIONS
    )
    return (
        f"length({u}) >= 4 AND length({u}) <= {MAXURLLEN} AND {ext} "
        f"AND length({host}) > 2 "
        f"AND NOT (length({host}) > 3 AND {host} LIKE '%.jp')"
    )


def host_shard_sql(host: str, n_shards: int = DEFAULT_NSHARDS, salt: str = "") -> str:
    rd = registered_domain_sql(host)
    h = hash60_sql(f"({rd})", salt or None)
    return f"(({h}) % {n_shards})"


# ---------------------------------------------------------------------------
# 4. vectorized pandas UDF twins (north-rule API surface)
# ---------------------------------------------------------------------------

def _canonicalize_series(s: pd.Series) -> pd.Series:
    ln = s.str.len()
    is_https = (ln >= 7) & (s.str.slice(0, 5) == "https")
    https_ok = is_https & (s.str.slice(5, 6) == ":")
    is_http = ~is_https & (ln >= 7) & (s.str.slice(0, 4) == "http")
    http_ok = is_http & (s.str.slice(4, 5) == ":")
    plain = ~is_https & ~is_http

    out = pd.Series([None] * len(s), index=s.index, dtype=object)
    out[https_ok] = s[https_ok].str.replace(r"/+$", "", regex=True)

    body = s[http_ok].str.slice(5).str.replace(r"^/+", "", regex=True).str.replace(
        r"/+$", "", regex=True
    )
    out[http_ok] = body.where(body.str.len() >= 3, None)

    bare = s[plain].str.replace(r"^/+", "", regex=True).str.replace(
        r"/+$", "", regex=True
    )
    out[plain] = bare.where(bare.str.len() >= 3, None)
    out[ln < 3] = None
    return out


@F.pandas_udf(T.StringType())
def canonicalize_udf(s: pd.Series) -> pd.Series:
    """Arrow-vectorized twin of canonicalize_expr (no per-row Python)."""
    return _canonicalize_series(s)


CANDIDATE_STRUCT = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("rd", T.StringType()),  # registered domain (unbounded rule)
        T.StructField("path", T.StringType()),
        T.StructField("admit", T.BooleanType()),  # canonicalize + filterURL
    ]
)


_BIG = 1 << 30  # "to end of string" for Arrow slice kernels


def _parse_candidate_arrays(s):
    """The hot-path parse, entirely in Arrow C++ kernels (no Python per
    row, no pandas object-dtype str ops — those are per-element Python
    under the hood and measured 10x slower than these kernels).

    Returns (url, host, path, admit) pyarrow arrays implementing
    canonicalize_py / split_host_py / url_path_py / filter_url_py
    exactly (pinned row-for-row by tests/test_urls.py)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ln = pc.utf8_length(s)
    ge7 = pc.greater_equal(ln, 7)
    is_https = pc.and_kleene(ge7, pc.equal(pc.utf8_slice_codeunits(s, 0, 5), "https"))
    https_ok = pc.equal(pc.utf8_slice_codeunits(s, 5, 6), ":")
    is_http = pc.and_kleene(
        pc.and_kleene(pc.invert(is_https), ge7),
        pc.equal(pc.utf8_slice_codeunits(s, 0, 4), "http"),
    )
    http_ok = pc.equal(pc.utf8_slice_codeunits(s, 4, 5), ":")
    https_url = pc.utf8_rtrim(s, "/")
    body = pc.utf8_trim(pc.utf8_slice_codeunits(s, 5, _BIG), "/")
    bare = pc.utf8_trim(s, "/")
    null_str = pa.scalar(None, pa.string())
    url = pc.if_else(
        is_https,
        pc.if_else(https_ok, https_url, null_str),
        pc.if_else(
            is_http,
            pc.if_else(
                pc.and_kleene(http_ok, pc.greater_equal(pc.utf8_length(body), 3)),
                body,
                null_str,
            ),
            pc.if_else(pc.greater_equal(pc.utf8_length(bare), 3), bare, null_str),
        ),
    )
    url = pc.if_else(pc.less(ln, 3), null_str, url)

    hbody = pc.if_else(
        pc.starts_with(url, "https://"), pc.utf8_slice_codeunits(url, 8, _BIG), url
    )
    hbody = pc.if_else(
        pc.starts_with(hbody, "http://"), pc.utf8_slice_codeunits(hbody, 7, _BIG), hbody
    )
    host = pc.list_element(pc.split_pattern(hbody, "/", max_splits=1), 0)
    path = pc.replace_substring_regex(hbody, "^[^/]*", "")

    uln = pc.utf8_length(url)
    keep = pc.and_kleene(pc.greater_equal(uln, 4), pc.less_equal(uln, MAXURLLEN))
    gt4 = pc.greater(uln, 4)
    for ext in BLOCKED_EXTENSIONS:
        keep = pc.and_kleene(keep, pc.invert(pc.and_kleene(gt4, pc.ends_with(url, ext))))
    hn = pc.utf8_length(host)
    keep = pc.and_kleene(keep, pc.greater(hn, 2))
    keep = pc.and_kleene(
        keep, pc.invert(pc.and_kleene(pc.greater(hn, 3), pc.ends_with(host, ".jp")))
    )
    admit = pc.fill_null(pc.and_kleene(pc.is_valid(url), keep), False)
    return url, host, path, admit


def _registered_domain_series(host: pd.Series) -> pd.Series:
    # the unbounded label-extension chain, vectorized as an iterated mask:
    # k starts at 2 and grows only where the boundary label matches.
    labels = host.str.split(".")
    n = labels.map(len)
    k = pd.Series(2, index=host.index)
    active = n > 2
    while active.any():
        boundary = pd.Series(
            [
                lab[-kk][:3].lower() if kk <= len(lab) else ""
                for lab, kk in zip(labels[active], k[active])
            ],
            index=host.index[active],
        )
        grow = boundary.isin(["com", "org"])
        grew_idx = boundary.index[grow]
        k.loc[grew_idx] = k.loc[grew_idx] + 1
        active = pd.Series(False, index=host.index)
        active.loc[grew_idx] = True
        active &= k < n  # k == n means "whole host", stop
    return pd.Series(
        [
            h if kk >= len(lab) else ".".join(lab[-kk:])
            for h, lab, kk in zip(host, labels, k)
        ],
        index=host.index,
    )


def make_parse_candidates_udf():
    """One Arrow-batched pass: raw url -> (canonical url, host,
    registered domain, path, admit) — Arrow C++ kernels end to end,
    zero per-row Python and zero Python hashing. The registered-domain
    label scan (the one genuinely iterative rule) runs over the batch's
    UNIQUE hosts only (hosts ≪ URLs) and maps back via a dict lookup.

    This is the engine's hot-path URL operator (north_rule: vectorized
    pandas/Arrow UDF for canonicalization). Hashing happens OUTSIDE the
    UDF on the JVM: the md5 key via native F.md5 and the salted shard
    via hash60 over the `rd` column (see frontier.normalize_candidates)
    — the Arrow boundary splits the codegen tree so the native stage
    stays far below janino's 64 KB limit. Tests pin the composed
    operator to the pure-Python oracle row-for-row.
    """
    import pyarrow as pa

    @F.pandas_udf(CANDIDATE_STRUCT)
    def parse(raw: pd.Series) -> pd.DataFrame:
        arr = pa.Array.from_pandas(raw, type=pa.string())
        url, host, path, admit = _parse_candidate_arrays(arr)
        host_pd = host.to_pandas()
        uniq = pd.Series(host_pd.dropna().unique())
        rd_map = dict(zip(uniq, _registered_domain_series(uniq)))
        return pd.DataFrame(
            {
                "url": url.to_pandas(),
                "host": host_pd,
                "rd": host_pd.map(rd_map),
                "path": path.to_pandas(),
                "admit": admit.to_pandas().astype(bool),
            }
        )

    # The UDF is pure, but Catalyst treats deterministic python UDFs as
    # free to duplicate: predicate pushdown clones the call into the
    # admit-filter AND the downstream projection (two ArrowEvalPython
    # stages = the whole parse runs twice). Marking it non-deterministic
    # pins exactly one evaluation; it only disables optimizations, never
    # changes results.
    return parse.asNondeterministic()
