"""URL semantics: the three synchronized forms must agree row-for-row,
and sharp reference edge cases must behave exactly as cited."""

import duckdb
import pytest
from pyspark.sql import functions as F

from searchengine_spark.corpus import raw_url_expr, raw_url_py, raw_url_sql
from searchengine_spark.functions import urls as U

N = 400

EDGES = [
    "http://www.example.com/a/",   # www + trailing slash
    "https://example.com/",        # https keeps scheme, drops slash
    "https://www.example.com/x",   # https keeps www in canonical AND key
    "http:///triple.com/x/",       # extra slashes after scheme
    "//scheme.rel/x",              # scheme-relative
    "ab",                          # too short
    "xy/",                         # strips to < 3
    "httpxfoo.com/aa",             # 'http' without ':' -> reject
    "httpsxfoo.com/aa",            # 'https' without ':' -> reject
    "http://x.jp/a",               # .jp TLD filtered (host len 4)
    "http://ab/aa",                # host too short
    "http://site.com/f.jpg",       # blocked extension
    "http://site.com:8080/p",      # port folds into host (reference quirk)
    "foo.co.uk/x",                 # registered domain = co.uk quirk
    "a.b.com.cn/x",                # .com label-extension quirk
    "x.a.com.cn/x",                # chained extension
    "http://www./x",               # empty-ish host
]


@pytest.fixture(scope="module")
def urls_df(spark):
    rows = [(u,) for u in EDGES] + [(raw_url_py(i),) for i in range(N)]
    return spark.createDataFrame(rows, "raw_url string")


def test_grammar_three_forms_agree(spark):
    df = (
        spark.range(N)
        .withColumnRenamed("id", "doc_id")
        .withColumn("u", raw_url_expr("doc_id"))
    )
    got = {r["doc_id"]: r["u"] for r in df.collect()}
    for i in range(N):
        assert got[i] == raw_url_py(i), i
    duck = duckdb.sql(
        f"SELECT i, {raw_url_sql('i')} AS u FROM range({N}) t(i)"
    ).fetchall()
    for i, u in duck:
        assert u == raw_url_py(i), i


def test_canonicalize_expr_matches_python(spark, urls_df):
    got = urls_df.select("raw_url", U.canonicalize_expr("raw_url").alias("c")).collect()
    for r in got:
        assert r["c"] == U.canonicalize_py(r["raw_url"]), r["raw_url"]


def test_canonicalize_udf_matches_expr(spark, urls_df):
    got = urls_df.select(
        U.canonicalize_expr("raw_url").alias("a"),
        U.canonicalize_udf(F.col("raw_url")).alias("b"),
    ).collect()
    for r in got:
        assert r["a"] == r["b"]


def test_canonicalize_sql_twin(spark, urls_df):
    pdf = urls_df.toPandas()
    duck = duckdb.sql(
        f"SELECT raw_url, {U.canonicalize_sql('raw_url')} AS c FROM pdf"
    ).fetchall()
    for raw, c in duck:
        assert c == U.canonicalize_py(raw), raw


def test_md5_host_shard_pipeline(spark, urls_df):
    df = (
        urls_df.withColumn("c", U.canonicalize_expr("raw_url"))
        .where(F.col("c").isNotNull())
        .select(
            "c",
            U.url_md5_expr("c").alias("m"),
            U.split_host_expr("c").alias("h"),
            U.registered_domain_expr(U.split_host_expr("c")).alias("rd"),
        )
    )
    for r in df.collect():
        c = r["c"]
        assert r["m"] == U.url_md5_py(c), c
        host = U.split_host_py(c)
        assert r["h"] == host, c
        assert r["rd"] == U.registered_domain_py(host), host


def test_registered_domain_udf_and_sql(spark, urls_df):
    hosts = [
        "a.b.com", "foo.co.uk", "a.b.com.cn", "x.a.com.cn", "x.com.com.cn",
        "hothost.com", "www.host0.com", "single", "a.borg.net", "a.computer.io",
    ]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = df.select("host", U.registered_domain_expr("host").alias("a")).collect()
    for r in got:
        assert r["a"] == U.registered_domain_py(r["host"]), r["host"]
    duck = duckdb.sql(
        "SELECT host, "
        + U.registered_domain_sql("host")
        + " AS rd FROM (SELECT unnest(?) AS host)",
        params=[hosts],
    ).fetchall()
    for h, rd in duck:
        assert rd == U.registered_domain_py(h), h


def test_registered_domain_adversarial_extension_chains(spark):
    """Hosts with long com/org boundary chains: all three forms must
    agree up to the native bound (the native expr would only diverge
    past _MAX_LABEL_EXTENSIONS consecutive extensions)."""
    hosts = [
        "a.com.com.com.com.com.cn",          # 5 extensions
        "a.com.com.com.com.com.com.com.cn",  # 7 extensions
        "x.org.com.org.com.org.com.cn",      # mixed chain
        "b.comx.com.cn",                     # prefix-only match ('comx')
    ]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = df.select("host", U.registered_domain_expr("host").alias("a")).collect()
    for r in got:
        assert r["a"] == U.registered_domain_py(r["host"]), r["host"]
    duck = duckdb.sql(
        "SELECT host, "
        + U.registered_domain_sql("host")
        + " AS rd FROM (SELECT unnest(?) AS host)",
        params=[hosts],
    ).fetchall()
    for h, rd in duck:
        assert rd == U.registered_domain_py(h), h


def test_reference_quirks():
    # https keeps scheme; http loses it (SearchEngine.h:779-799)
    assert U.canonicalize_py("https://a.com/") == "https://a.com"
    assert U.canonicalize_py("http://a.com/") == "a.com"
    # md5 strips www. and slashes (SearchEngine.h:213-223)
    assert U.url_md5_py("www.a.com/x") == U.url_md5_py("a.com/x")
    # ...but not behind an https scheme
    assert U.url_md5_py("https://www.a.com") != U.url_md5_py("https://a.com")
    # host includes the port (split scans to '/', SearchEngine.h:231-235)
    assert U.split_host_py("site.com:8080/p") == "site.com:8080"
    # label-extension: keep-3 for .com.cn, whole host when chain exhausts
    assert U.registered_domain_py("x.a.com.cn") == "a.com.cn"
    assert U.registered_domain_py("a.com.cn") == "a.com.cn"
    assert U.registered_domain_py("foo.co.uk") == "co.uk"
    assert U.registered_domain_py("x.com.com.cn") == "x.com.com.cn"


def test_parse_candidates_udf_matches_native(spark, urls_df):
    """Stage 1 (the vectorized pandas UDF) must agree with the Python
    oracle on every field; admit = canonicalize + filterURL (the md5
    key, shard and robots gate are native stage-2 exprs — pinned by
    test_normalize_candidates_matches_oracle)."""
    from searchengine_spark.corpus import url_path_py
    from searchengine_spark.functions.urls import make_parse_candidates_udf

    parse = make_parse_candidates_udf()
    got = urls_df.select("raw_url", parse(F.col("raw_url")).alias("p")).collect()
    for r in got:
        raw, p = r["raw_url"], r["p"]
        c = U.canonicalize_py(raw)
        if c is None:
            assert p["admit"] is False and p["url"] is None
            continue
        assert p["url"] == c
        host = U.split_host_py(c)
        assert p["host"] == host
        assert p["rd"] == U.registered_domain_py(host)
        assert p["path"] == url_path_py(c)
        assert p["admit"] == U.filter_url_py(c), raw


def test_normalize_candidates_matches_oracle(spark, urls_df):
    """The composed hot-path operator (UDF stage + native md5/shard/
    robots stage) must reproduce the pure-Python candidate rule set
    row-for-row, including the admit gate."""
    from searchengine_spark.config import CrawlConfig
    from searchengine_spark.corpus import robots_allows_py, url_path_py
    from searchengine_spark.operators.frontier import normalize_candidates

    cfg = CrawlConfig(n_shards=16, shard_salt="s0")
    got = {
        r["url"]: (r["url_md5"], r["host"], r["shard"])
        for r in normalize_candidates(urls_df, cfg).collect()
    }
    expect = {}
    for (raw,) in urls_df.collect():
        c = U.canonicalize_py(raw)
        if c is None:
            continue
        m = U.url_md5_py(c)
        host = U.split_host_py(c)
        if (
            m is not None
            and U.filter_url_py(c)
            and robots_allows_py(host, url_path_py(c))
        ):
            expect[c] = (m, host, U.host_shard_py(host, 16, "s0"))
    assert got == expect
