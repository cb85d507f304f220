"""End-to-end: crawl -> pagerank -> index -> search over the store —
the full 'a user of the reference switches to this repo' path."""

import pytest
from pyspark.sql import functions as F

from searchengine_spark.config import CrawlConfig
from searchengine_spark.corpus import raw_url_py
from searchengine_spark.plans.crawl import CrawlDriver
from searchengine_spark.plans.index_pipeline import (
    SearchService,
    build_index,
    doc_sections,
    rank_docs,
)

CFG = CrawlConfig(n_shards=4, per_shard_quota=8, politeness_rounds=1, max_doc=120)


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("e2estore"))
    d = CrawlDriver(spark, root, CFG)
    d.seed([raw_url_py(i) for i in range(32)])
    d.run(3)
    return d


def test_doc_sections_from_spans(crawled):
    docs = crawled.store.read("docs")
    row = doc_sections(docs).limit(1).collect()[0]
    assert row["url"]  # state URL: the self link is indexed at weight 40
    assert row["title"].startswith("page ")
    assert "body of" in row["body"]


def test_style_spans_amplify_index_rank(crawled):
    """Corpus style spans (<b>/<h1>/<h2>, corpus.fetch_spans_py) reach
    the index as weight amplifiers: the styled 'highlightN' word
    (mult >= 1.5) outranks the doc's plain body word (weight 1) even
    though the body word appears earlier (decay favors it)."""
    docs = crawled.store.read("docs")
    idx = build_index(docs, with_pagerank=False)
    styled = idx.where(F.col("term").startswith("highlight")).collect()
    assert styled, "no styled span in the crawled corpus slice"
    body = {
        r["doc_id"]: r["rank"]
        for r in idx.where(F.col("term") == "body").collect()
    }
    for r in styled:
        assert r["rank"] > body[r["doc_id"]]


def test_rank_docs_produces_valid_ranks(crawled):
    docs = crawled.store.read("docs")
    ranks = rank_docs(docs).collect()
    assert len(ranks) == docs.count()
    for r in ranks:
        assert 0.15 - 1e-9 <= r["page_rank"] <= 100.0


def test_build_index_rank_weighted(crawled):
    docs = crawled.store.read("docs")
    plain = build_index(docs, with_pagerank=False)
    weighted = build_index(docs, with_pagerank=True)
    assert plain.count() == weighted.count()
    # weighting preserves the postings keys, scales the rank
    p = {(r["term"], r["doc_id"]): r["rank"] for r in plain.collect()}
    w = {(r["term"], r["doc_id"]): r["rank"] for r in weighted.collect()}
    assert set(p) == set(w)


def test_small_postings_input_order_insensitive(crawled):
    """refresh() builds the small dict from the UNSORTED postings frame
    so its commit runs beside (not behind) the range-sort commit — safe
    only while build_small_postings' pick ignores input order. Pin
    that: the argmin-struct pick over the term-sorted frame and over a
    deliberately re-shuffled permutation of the same rows must be
    row-identical."""
    from searchengine_spark.operators.index import build_small_postings

    docs = crawled.store.read("docs")
    unsorted = build_index(docs, with_pagerank=True)
    sorted_p = unsorted.repartitionByRange(4, "term").sortWithinPartitions(
        "term", "rank", "doc_id"
    )
    shuffled = unsorted.repartition(7, "doc_id")  # a third, arbitrary layout
    key = lambda r: (r["sterm"], r["doc_id"], r["pos"], r["rank"])
    a = sorted(map(key, build_small_postings(unsorted, pos_col="pos").collect()))
    b = sorted(map(key, build_small_postings(sorted_p, pos_col="pos").collect()))
    c = sorted(map(key, build_small_postings(shuffled, pos_col="pos").collect()))
    assert a == b == c and len(a) > 0


def test_search_service_end_to_end(crawled):
    svc = SearchService(crawled.store)
    svc.refresh()
    # every synthetic page contains 'page' (title) and 'body' (text)
    hits = svc.search("page body", k=10).collect()
    assert 0 < len(hits) <= 10
    assert hits[0]["score"] >= hits[-1]["score"]
    assert all(h["url"] is not None for h in hits)
    # host-dedup: no host repeated
    hosts = [h["host"] for h in hits]
    assert len(hosts) == len(set(hosts))
    # postings snapshots committed for reuse
    assert crawled.store.exists("postings")
    assert crawled.store.exists("postings_small")
    assert crawled.store.exists("tokens")
    # postings, tokens and the small dict are served from their
    # committed snapshots, so an evicted cache block never re-runs the
    # (unpersisted) tokenize pipeline: with every served cache dropped,
    # search returns the same rows
    served = {"postings": svc._postings, "tokens": svc._tokens,
              "postings_small": svc._small}
    for t, df in served.items():
        assert df.sameSemantics(crawled.store.read(t)), t
    key = lambda r: (r["doc_id"], r["score"], r["host"], r["url"])
    queries = ("page body", '"page body"', "pag*")
    before = [sorted(map(key, svc.search(q, k=10).collect())) for q in queries]
    assert before[0] == sorted(map(key, hits))
    for df in served.values():
        df.unpersist()
    after = [sorted(map(key, svc.search(q, k=10).collect())) for q in queries]
    assert after == before


def test_console_parameter_surface(crawled):
    """The '#' console parameters (cmdExec, PageSearcher.cpp:111-150):
    #unmerge returns the raw top-K (no host-dedup, no n_more column),
    #maxSearch caps per-term reads, #get <index> seeks the positional
    content DB (insertion order = round, seq_in_round)."""
    svc = SearchService(crawled.store)
    svc.refresh()
    merged = svc.search("page body", k=10).collect()
    raw = svc.search("page body", k=10, merge_host=False).collect()
    assert len(raw) >= len(merged)  # dedup can only shrink
    assert "n_more_from_host" not in raw[0].asDict()
    assert {h["doc_id"] for h in merged} <= {h["doc_id"] for h in raw}

    capped = svc.search("page body", k=10, max_search=1).collect()
    assert len(capped) <= len(merged)

    first = svc.get_doc_by_index(0).collect()
    assert len(first) == 1
    assert first[0]["round"] == 0 and first[0]["seq_in_round"] == 1
    # and the index walks the insertion order
    second = svc.get_doc_by_index(1).collect()[0]
    assert (second["round"], second["seq_in_round"]) > (0, 1)
    assert svc.get_doc_by_index(10 ** 6).count() == 0  # out of bound


def test_search_service_batch_matches_single(crawled):
    """The request-log batch console (SearchService.search_batch over
    the fixed-size joined tier) returns, per query_id, exactly the
    single-query console's results — including host-dedup columns and
    the unmerged raw form — and rejects what the tier can't serve
    (phrase/prefix terms, empty queries) with a clear error.

    The comparison is exact here because these query words have no
    boundary-sibling dict words (no 'page.x') in the crawled corpus,
    so the single console's small-dict exact route and the batch
    tier's main-dict boundary join agree; the tiers' general
    main-dict-only contract is pinned at the operator level
    (test_operators::test_search_batch_joined_matches_branch_form)."""
    svc = SearchService(crawled.store)
    svc.refresh()
    queries = {"a": "page body", "b": "body", "c": "page sort"}

    batch = svc.search_batch(queries, k=10).collect()
    assert batch, "batch search returned nothing"
    key = lambda r: (r["doc_id"], round(r["score"], 6), r["host"],
                     r["n_more_from_host"], r["url"])
    for qid, q in queries.items():
        single = sorted(key(r) for r in svc.search(q, k=10).collect())
        got = sorted(key(r) for r in batch if r["query_id"] == qid)
        assert got == single, f"batch arm {qid!r} diverged from single"

    raw = svc.search_batch(queries, k=10, merge_host=False).collect()
    assert "n_more_from_host" not in raw[0].asDict()
    assert len(raw) >= len(batch)

    with pytest.raises(ValueError, match="phrase"):
        svc.search_batch({"p": '"page body"'})
    with pytest.raises(ValueError, match="prefix"):
        svc.search_batch({"p": "pag*"})
    with pytest.raises(ValueError, match="empty"):
        svc.search_batch({"e": "   "})


def test_search_service_phrase_adjacency(crawled):
    """Quoted phrases match only position-adjacent docs: every title is
    'page <canonical_url>', and only https docs keep their scheme, so
    '"page https"' must select exactly the https subset of 'page'."""
    svc = SearchService(crawled.store)
    svc.refresh()
    hits = svc.search('"page https"', k=500).collect()
    assert hits
    # adjacency: only https docs have 'https' right after 'page' in the
    # title ('page <canonical>'; http canonicals lost their scheme)
    assert all(h["url"].startswith("https:") for h in hits)
    loose = svc.search("page", k=500).collect()
    assert len(loose) >= len(hits)
    # a stop word inside a phrase occupies its position, no constraint
    assert svc.search('"body of"', k=500).collect()


def test_get_doc_dump(crawled):
    svc = SearchService(crawled.store)
    key = crawled.store.read("docs").limit(1).collect()[0]["url_md5"]
    dump = svc.get_doc(key).collect()
    assert len(dump) == 1 and dump[0]["spans"]


# ---- incremental index maintenance ---------------------------------------

@pytest.fixture(scope="module")
def inc_store(spark, tmp_path_factory):
    """Two-phase crawl with an incremental refresh after each phase:
    rounds 0-1 -> first build (overwrite), rounds 2-3 -> delta append."""
    root = str(tmp_path_factory.mktemp("incstore"))
    d = CrawlDriver(spark, root, CFG)
    d.seed([raw_url_py(i) for i in range(32)])
    d.run(2)
    svc = SearchService(d.store, incremental=True)
    svc.refresh_incremental()
    d.run(2, resume=True)
    svc.refresh_incremental()
    return d, svc


def test_incremental_appends_only_delta(inc_store):
    """The second refresh must fast-append exactly the new rounds'
    rows — old docs are never re-tokenized. Observable: the chain has
    one delta, and the delta files hold only round>1 doc_ids."""
    import os

    d, svc = inc_store
    store = d.store
    assert store.chain_length("postings_base") == 2
    assert store.pointer_meta("postings_base")["indexed_round"] == 3
    v = store.latest_version("postings_base")
    delta = svc.store.spark.read.parquet(
        os.path.join(store.snapshot_path("postings_base", v), "delta")
    )
    old_ids = {
        r["url_md5"]
        for r in store.read("docs").where("round <= 1").collect()
    }
    delta_ids = {r["doc_id"] for r in delta.select("doc_id").distinct().collect()}
    assert delta_ids and not (delta_ids & old_ids)


def test_links_base_pairs_survive_to_later_rounds(inc_store):
    """links_base stores pairs BEFORE the existence semi-join: a link
    extracted in rounds 0-1 whose target is only crawled in rounds 2-3
    must become a live edge of the final graph (the reason edges can't
    be persisted post-join)."""
    from searchengine_spark.operators.pagerank import edges_from_links

    d, _ = inc_store
    docs = d.store.read("docs")
    old = docs.where("round <= 1").select(F.col("url_md5").alias("src"))
    new = docs.where("round > 1").select(F.col("url_md5").alias("dst"))
    cross = (
        d.store.read("links_base")
        .join(old, "src", "left_semi")
        .join(new, "dst", "left_semi")
    )
    assert cross.count() > 0  # frontier mechanics guarantee these exist
    live = edges_from_links(d.store.read("links_base"), docs)
    assert live.join(cross, ["src", "dst"], "left_semi").count() == cross.count()


def test_incremental_noop_without_new_rounds(inc_store):
    """No new crawl rounds -> no new base/graph snapshots (views are
    rewired from persisted state; nothing is recomputed)."""
    d, _ = inc_store
    tables = ("postings_base", "tokens_base", "links_base", "doc_pr")
    before = {t: d.store.latest_version(t) for t in tables}
    svc2 = SearchService(d.store, incremental=True)
    svc2.refresh_incremental()
    assert {t: d.store.latest_version(t) for t in tables} == before
    assert d.store.pointer_meta("postings_small")["indexed_round"] == 3
    assert svc2.search("page body", k=5).count() > 0


def test_incremental_anchor_index_appends_and_merges(inc_store):
    """The anchors_base path of refresh_incremental: the second refresh
    fast-appends exactly the new rounds' source docs (O(delta), no
    anchor re-parse of old docs), the served merge is row-equal to the
    one-shot anchor_terms build over the final doc set, and the merged
    table is persisted under the docs_version freshness key so
    anchor_index()/search_anchors serve it without an ephemeral
    rebuild."""
    import os

    from searchengine_spark.operators.anchors import anchor_terms

    d, svc = inc_store
    store = d.store
    assert store.chain_length("anchors_base") == 2
    assert store.pointer_meta("anchors_base")["indexed_round"] == 3
    v = store.latest_version("anchors_base")
    delta = store.spark.read.parquet(
        os.path.join(store.snapshot_path("anchors_base", v), "delta")
    )
    old_ids = {
        r["url_md5"] for r in store.read("docs").where("round <= 1").collect()
    }
    delta_srcs = {r["src_doc"] for r in delta.select("src_doc").distinct().collect()}
    assert delta_srcs and not (delta_srcs & old_ids)

    docs = store.read("docs").select(
        F.col("url_md5").alias("doc_id"), "url", "spans"
    )
    key = lambda df: sorted(
        (r["target_md5"], r["term"], r["anchor_count"], r["n_source_docs"])
        for r in df.collect()
    )
    want = key(anchor_terms(docs, direction="both"))
    assert key(store.read("anchors")) == want and want

    # freshness key matches -> anchor_index serves the persisted table
    assert store.pointer_meta("anchors")["docs_version"] == svc._docs_version()
    assert key(SearchService(store, incremental=True).anchor_index()) == want
    # and the fused console runs over the incremental store
    assert svc.search_anchors("body", k=5).count() > 0


def test_incremental_refresh_equals_full_rebuild(inc_store):
    """base ∘ factor must be row-equal (ranks included) to the
    one-shot `refresh()` over the final doc set — postings, small
    dict, token stream, and served search results."""
    d, svc = inc_store
    full = SearchService(d.store)
    full.refresh()

    def rows(df, cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    pcols = ["term", "doc_id", "pos", "rank"]
    assert rows(svc._postings, pcols) == rows(full._postings, pcols)
    scols = ["sterm", "doc_id", "pos", "rank"]
    assert rows(svc._small, scols) == rows(full._small, scols)
    tcols = ["doc_id", "word", "position"]
    assert rows(svc._tokens, tcols) == rows(full._tokens, tcols)
    hcols = ["doc_id", "score", "url"]
    for q in ("page body", '"page https"', "highlight1"):
        assert rows(svc.search(q, k=10), hcols) == rows(full.search(q, k=10), hcols)


def test_snippets_hand_computed(spark):
    """snippets_for_hits over a hand-built token stream: window
    clipping, '…' only at true cut edges, earliest-occurrence anchor,
    phrase first-word and prefix anchors, and the no-match doc
    dropped (callers left-join to a NULL snippet)."""
    from searchengine_spark.plans.index_pipeline import snippets_for_hits

    words = "w0 w1 w2 target w4 w5 w6 w7 w8 w9".split()
    tokens = spark.createDataFrame(
        [("d1", w, i) for i, w in enumerate(words)]
        + [("d2", "target", 0), ("d2", "tail", 1)]
        + [("d3", "nothing", 0)],
        "doc_id string, word string, position int",
    )
    hits = spark.createDataFrame([("d1",), ("d2",), ("d3",)], "doc_id string")

    out = {
        r["doc_id"]: r["snippet"]
        for r in snippets_for_hits(
            hits, tokens, [{"term": "target", "kind": "word"}], window=2
        ).collect()
    }
    # d1: match at 3, window 2 -> tokens 1..5, cut on both sides
    assert out["d1"] == "… w1 w2 target w4 w5 …"
    # d2: match at 0 -> no leading ellipsis, stream ends inside window
    assert out["d2"] == "target tail"
    # d3 never matched -> no row
    assert "d3" not in out

    # phrase anchors on its FIRST word; prefix on startswith
    ph = {
        r["doc_id"]: r["snippet"]
        for r in snippets_for_hits(
            hits, tokens, [{"term": "target w4", "kind": "phrase"}], window=1
        ).collect()
    }
    assert ph["d1"] == "… w2 target w4 …"
    pr = {
        r["doc_id"]: r["snippet"]
        for r in snippets_for_hits(
            hits, tokens, [{"term": "tar", "kind": "prefix"}], window=1
        ).collect()
    }
    assert pr["d2"] == "target tail"
    # earliest occurrence among ALL terms wins
    multi = {
        r["doc_id"]: r["snippet"]
        for r in snippets_for_hits(
            hits,
            tokens,
            [{"term": "w8", "kind": "word"}, {"term": "w1", "kind": "word"}],
            window=1,
        ).collect()
    }
    assert multi["d1"] == "w0 w1 w2 …"


def test_search_snippets_end_to_end(crawled):
    """Console search with snippets=True: every hit carries the term
    in context from its own indexed token stream."""
    svc = SearchService(crawled.store)
    svc.refresh()
    hits = svc.search("body", k=5, snippets=True).collect()
    assert hits
    assert "snippet" in hits[0].asDict()
    for h in hits:
        assert h["snippet"] is not None and "body" in h["snippet"]
    # snippet join preserves score ordering
    scores = [h["score"] for h in hits]
    assert scores == sorted(scores, reverse=True)


def test_search_anchors_fused_ranking(crawled):
    """Anchor-boosted console search (SearchService.search_anchors):
    RRF fusion of the console arm with the inbound-anchor arm over the
    synthetic store. The synthetic corpus gives each page's FIRST
    outlink a text predecessor ("body of <url> w...", corpus
    fetch_spans_py order: title, text, links...), so querying 'body'
    engages both arms."""
    svc = SearchService(crawled.store)
    out = svc.search_anchors("body", k=5).collect()
    assert out, "no fused hits"
    # contract: fused rank 1..n by (rrf_e6 desc, doc_id)
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))
    ordered = sorted(out, key=lambda r: (-r["rrf_e6"], r["doc_id"]))
    assert [r["doc_id"] for r in ordered] == [r["doc_id"] for r in out]
    # both arms engaged somewhere in the pool
    assert any(r["anchor_rank"] is not None for r in out)
    assert any(r["console_rank"] is not None for r in out)
    # metadata joined for every hit
    assert all(r["url"] and r["host"] for r in out)
    # deterministic across evaluations
    again = svc.search_anchors("body", k=5).collect()
    assert [(r["doc_id"], r["rrf_e6"]) for r in again] == [
        (r["doc_id"], r["rrf_e6"]) for r in out
    ]
    # anchor arm is target-side: every anchor-ranked doc is some page's
    # first outlink target present in the store
    from searchengine_spark.operators.anchors import anchor_terms

    docs = crawled.store.read("docs").select(
        F.col("url_md5").alias("doc_id"), "url", "spans"
    )
    idx = anchor_terms(docs, direction="both")
    credited = {
        r["target_md5"] for r in idx.where(F.col("term") == "body").collect()
    }
    for r in out:
        if r["anchor_rank"] is not None:
            assert r["doc_id"] in credited


def test_anchor_index_persistence_and_freshness(crawled, spark):
    """refresh() persists the anchor index keyed on the docs snapshot
    version; anchor_index() serves the persisted table only while the
    version matches and rebuilds ephemerally otherwise — never a stale
    answer. Pinned observably with a poisoned table: version-matching
    poison IS served (persisted path taken), stale-version poison is
    ignored (rebuild path taken)."""
    svc = SearchService(crawled.store)
    svc.refresh()
    assert crawled.store.exists("anchors")
    v = svc._docs_version()
    assert v is not None
    assert crawled.store.pointer_meta("anchors").get("docs_version") == v
    baseline = {
        (r["target_md5"], r["term"], r["anchor_count"])
        for r in SearchService(crawled.store).anchor_index().collect()
    }
    assert baseline

    poison = spark.createDataFrame(
        [("deadbeef", "zzz", 1, 1)],
        "target_md5 string, term string, anchor_count long, n_source_docs long",
    )
    crawled.store.commit(
        "anchors", poison, meta={"kind": "index", "docs_version": v}
    )
    served = SearchService(crawled.store).anchor_index().collect()
    assert [(r["target_md5"], r["term"]) for r in served] == [("deadbeef", "zzz")]

    crawled.store.commit(
        "anchors", poison, meta={"kind": "index", "docs_version": "stale"}
    )
    rebuilt = {
        (r["target_md5"], r["term"], r["anchor_count"])
        for r in SearchService(crawled.store).anchor_index().collect()
    }
    assert rebuilt == baseline


def test_index_path_stays_whole_stage_codegen(crawled, spark):
    """The refresh path must compile: with codegen fallback DISABLED a
    janino 64 KB overflow raises instead of silently running the stage
    interpreted (Spark logs one ERROR otherwise — the CLAUDE.md trap).
    Found live 2026-08-19: link_pairs' canonicalize_expr chain fused
    into the edge distinct()'s hashAgg overflowed on every
    SearchService refresh, invisible to the catalog codegen sweep
    because catalog pagerank queries use synthetic edges. Pinned here
    on the real crawl-store shape so it cannot regress."""
    from searchengine_spark.plans import index_pipeline as IP

    docs = crawled.store.read("docs")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        IP.rank_docs(docs).collect()
        IP.build_index(docs).collect()
        IP.build_token_index(docs).collect()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", "true")
