"""Span-sequence equality — the mandated per-document invariant:
(kind, text, media_ref, order) must match the oracle exactly."""

import duckdb
from pyspark.sql import functions as F

from searchengine_spark.corpus import (
    fetch_spans_expr,
    fetch_spans_py,
    gen_spans_py,
    html_of_spans_py,
    interleaved_docs_df,
    raw_url_py,
)
from searchengine_spark.functions.spans import (
    extract_spans_py,
    extract_spans_udf,
    resolve_href_py,
)

SF = "/root/testdata/sf0.001"


def _tuples(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def test_extract_spans_fast_matches_reference():
    """The r6-optimized extract_spans_py must be output-identical to
    the preserved reference implementation on every corpus page AND on
    adversarial shapes: skipped-title bodies containing tags, unclosed
    titles, script/style/comment removal, closing block/special tags,
    href-less anchors, trailing text, empty input."""
    from searchengine_spark.functions.spans import _extract_spans_ref_py

    cases = [
        "",
        "plain text only",
        "<p>a</p><p>b</p>",
        "<title>t <b>inner</b> x</title>after",
        "<title>unclosed title then <a href=\"/x\">link",
        "<!-- c --><script>var a='<title>no</title>'</script><style>.x{}</style>rest",
        "<SCRIPT>upper</SCRIPT><STYLE>u</STYLE>text",
        "text <a name=\"no-href\">anchor</a> tail",
        "<meta content=\"m\"><img src=\"i.bmp\"><a href=\"//h/x\">t</a>",
        "a</p>b</a>c</title>d",
        "  \n\t  <div>  ws   collapse  </div>  ",
        "<a href=\"/1\"><a href=\"/2\"><p>x</p>",
    ]
    txts = duckdb.sql(
        f"select doc_id, text from read_parquet('{SF}/documents.parquet')"
    ).fetchall()
    for did, t in txts[:100]:
        cases.append(html_of_spans_py(gen_spans_py(int(did), t, 500)))
    for html in cases:
        assert _tuples(extract_spans_py(html)) == _tuples(
            _extract_spans_ref_py(html)
        ), html[:120]


def test_roundtrip_python_oracle():
    txts = duckdb.sql(
        f"select doc_id, text from read_parquet('{SF}/documents.parquet')"
    ).fetchall()
    for did, t in txts:
        spans = gen_spans_py(int(did), t, 500)
        got = extract_spans_py(html_of_spans_py(spans))
        assert _tuples(got) == _tuples(spans), did


def test_extract_spans_udf_matches_oracle(spark):
    txts = duckdb.sql(
        f"select doc_id, text from read_parquet('{SF}/documents.parquet') limit 100"
    ).fetchall()
    rows = [
        (str(did), html_of_spans_py(gen_spans_py(int(did), t, 500)))
        for did, t in txts
    ]
    df = spark.createDataFrame(rows, "doc_id string, html string")
    got = df.select("doc_id", extract_spans_udf(F.col("html")).alias("spans")).collect()
    exp = {
        str(did): _tuples(gen_spans_py(int(did), t, 500)) for did, t in txts
    }
    for r in got:
        have = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        assert have == exp[r["doc_id"]], r["doc_id"]


def test_interleaved_docs_df_schema_and_equality(spark):
    df = interleaved_docs_df(spark, SF, max_doc=500)
    rows = {r["doc_id"]: r for r in df.limit(50).collect()}
    txts = dict(
        duckdb.sql(
            f"select doc_id, text from read_parquet('{SF}/documents.parquet')"
        ).fetchall()
    )
    assert df.schema.simpleString().startswith(
        "struct<doc_id:string,url:string,spans:array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    for did, r in rows.items():
        exp = _tuples(gen_spans_py(int(did), txts[int(did)], 500))
        have = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        assert have == exp
        assert r["url"] == raw_url_py(int(did))


def test_fetch_spans_expr_equals_py(spark):
    """The native JVM fetch twin is byte-equal to the pure synthetic
    fetch over a URL sample covering every conditional branch (media
    present/absent, style span b/h1/h2 present/absent)."""
    from searchengine_spark.functions.urls import canonicalize_py

    urls = [
        u
        for u in (canonicalize_py(raw_url_py(i)) for i in range(160))
        if u is not None
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {
        r["url"]: _tuples([s.asDict() for s in r["spans"]])
        for r in df.withColumn("spans", fetch_spans_expr(F.col("url"), 500)).collect()
    }
    kinds = set()
    for u in urls:
        expect = _tuples(fetch_spans_py(u, 500))
        assert got[u] == expect, u
        kinds |= {k for k, *_ in expect}
    # the sample genuinely exercised the conditional branches
    assert {"media", "title", "text", "link"} <= kinds
    assert kinds & {"b", "h1", "h2"}


def test_href_resolution():
    # the four reference patterns (SearchEngine.cpp:43-46,99-100)
    assert resolve_href_py("a.com/p", "http://b.com/x") == "http://b.com/x"
    assert resolve_href_py("a.com/p", "https://b.com/x") == "https://b.com/x"
    assert resolve_href_py("a.com/p", "//b.com/x") == "http://b.com/x"
    assert resolve_href_py("https://a.com/p", "//b.com/x") == "https://b.com/x"
    assert resolve_href_py("a.com/p", "/rel") == "http://a.com/rel"
    assert resolve_href_py("https://a.com/p", "/rel") == "https://a.com/rel"
    assert resolve_href_py("a.com/p", "mailto:x@y") is None
    assert resolve_href_py("a.com/p", "rel/no/slash") is None
