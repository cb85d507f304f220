"""Rank + index + search over the crawl store — SURVEY.md §3.2/§3.3
(runRanking, SearchEngine.cpp:1072-1358; searchPages,
PageSearcher.cpp:348-559) as one DataFrame pipeline.

The reference's entry 3 (link extract -> PageRank -> tokenize ->
external-sort dictionaries) and entry 4 (console search) become:

    docs snapshot -> edges (semi-join) -> pagerank
    docs + ranks  -> tokenize spans text -> postings (rank-weighted,
                     sorted by term) -> small postings
    query string  -> parse -> k-way join search -> top-K -> host-dedup
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from searchengine_spark.operators.index import (
    STYLE_MULTS,
    build_small_postings,
    build_weighted_postings,
    factor_postings,
    search_query,
    tokenize_sections,
)
from searchengine_spark.operators.pagerank import (
    edges_from_docs,
    edges_from_links,
    link_pairs,
    pagerank,
)
from searchengine_spark.sources.statestore import TableStore

PAGERANK_ITERS = 5  # reference default loops (SearchEngine.cpp:1210-1264)

# fold incremental-index append chains once they reach this many deltas
# (same cadence rationale as plans/crawl.COMPACT_CHAIN: each crawl round
# appends one delta dir; compaction restores the global term sort)
INDEX_COMPACT_CHAIN = 16


def _span_text(kind: str) -> F.Column:
    return F.array_join(
        F.transform(
            F.filter("spans", lambda s: s["kind"] == F.lit(kind)),
            lambda s: s["text"],
        ),
        " ",
    )


def doc_sections(docs: DataFrame) -> DataFrame:
    """Interleaved docs -> the getWords weighted-block form: the self
    URL (state URL, weight 40 — SearchEngine.cpp:306,321-331), title
    spans (weight 100), then every body-bearing span in document order
    — plain text at weight 1, styled spans (<b>/<h1..h6>) amplified by
    STYLE_MULTS (SearchEngine.cpp:307,455-457); media/link spans carry
    no words. Keeps url/title/body string columns for token-stream
    consumers; `blocks` is what the index weighs."""
    style_kinds = list(STYLE_MULTS)
    mult = F.create_map(
        *[x for k, m in STYLE_MULTS.items() for x in (F.lit(k), F.lit(m))]
    )
    body_kinds = ["text", *style_kinds]
    body_blocks = F.transform(
        F.filter("spans", lambda s: s["kind"].isin(*body_kinds)),
        lambda s: F.struct(
            s["text"].alias("text"),
            F.coalesce(mult[s["kind"]], F.lit(1.0)).alias("w"),
        ),
    )
    head = F.array(
        F.struct(F.col("url").alias("text"), F.lit(40.0).alias("w")),
        F.struct(_span_text("title").alias("text"), F.lit(100.0).alias("w")),
    )
    return docs.select(
        F.col("url_md5").alias("doc_id"),
        F.col("url"),
        _span_text("title").alias("title"),
        _span_text("text").alias("body"),
        F.concat(head, body_blocks).alias("blocks"),
        F.col("host"),
    )


def rank_docs(
    docs: DataFrame, n_iter: int = PAGERANK_ITERS, tol: float | None = None
) -> DataFrame:
    """docs(url_md5, spans) -> (url_md5, page_rank).

    `tol` (production convenience) makes n_iter a cap with L-inf
    delta-norm early stop; the default None keeps the reference's
    fixed refine count for oracle parity."""
    edges = edges_from_docs(docs)
    nodes = docs.select(F.col("url_md5").alias("node")).distinct()
    ranks = pagerank(edges, nodes, n_iter=n_iter, tol=tol)
    return ranks.select(F.col("node").alias("url_md5"), F.col("rank").alias("page_rank"))


def build_index(docs: DataFrame, with_pagerank: bool = True) -> DataFrame:
    """docs -> reference-faithful weighted postings (getWords,
    SearchEngine.cpp:306-490): URL/title/body section weights, capital
    factor, per-word decay, stop-word drop, maxWordPerPage cap, and the
    pageRank/totalRank normalization (:479-488) folded in at index time
    exactly where getWords_helper reads m_pageRank (:512-528)."""
    sections = doc_sections(docs)
    pr = None
    if with_pagerank:
        pr = rank_docs(docs).withColumnRenamed("url_md5", "doc_id")
    return build_weighted_postings(sections, page_rank=pr, blocks_col="blocks")


def build_token_index(docs: DataFrame) -> DataFrame:
    """The positional token stream (doc_id, word, position) used by
    quoted-phrase adjacency matching — the Spark analogue of the
    reference's in-dict phrase entries."""
    return tokenize_sections(doc_sections(docs), blocks_col="blocks").select(
        "doc_id", "word", "position"
    )


class SearchService:
    """The console (entry 4) over a crawl TableStore: builds/refreshes
    the index from the docs snapshot, serves parsed queries."""

    def __init__(self, store: TableStore, incremental: bool = False):
        self.store = store
        self.incremental = incremental
        self._postings: DataFrame | None = None
        self._small: DataFrame | None = None
        self._tokens: DataFrame | None = None
        self._meta: DataFrame | None = None
        self._anchors: DataFrame | None = None

    def _docs_pinned(self) -> DataFrame:
        """Docs via the round manifest, never bare _latest: after a torn
        round (crash between the docs append and commit_manifest) the
        orphan snapshot holds duplicate rows — the manifest is the only
        cross-table commit point (same rule as CrawlDriver reads)."""
        from searchengine_spark.sources.tables import spread_scan

        m = self.store.read_manifest()
        if m is not None and "docs" in m.get("versions", {}):
            docs = self.store.read("docs", m["versions"]["docs"])
        else:
            docs = self.store.read("docs")
        # spread_scan: the docs snapshot of a small store packs into 1-2
        # splits (openCost file packing), so the tokenize/anchor per-row
        # chains of refresh() would run 1-2-way parallel (guide §2.5);
        # no-op once the snapshot carries >= cores splits
        return spread_scan(docs)

    def refresh(self) -> None:
        # r6 optimization — same tables, same rows, fewer passes:
        # * ONE tokenizer evaluation feeds both the postings build and
        #   the tokens table (was: build_index + build_token_index each
        #   re-tokenized the corpus);
        # * the unsorted postings are persisted before the
        #   repartitionByRange, so the range sampling pass re-reads the
        #   cached rows instead of re-running tokenize+aggregate;
        # * the four table commits are independent jobs — a small
        #   driver thread pool overlaps each job's straggler tail with
        #   the next job's ramp-up (optimization guide §2.6).
        from concurrent.futures import ThreadPoolExecutor

        docs = self._docs_pinned()
        sections = doc_sections(docs)
        stream = tokenize_sections(sections, blocks_col="blocks").persist()
        self._anchors = self._build_anchor_index(docs).cache()

        def _rank() -> DataFrame:
            # built INSIDE the pool: pagerank's mid-loop localCheckpoint
            # is eager, so building the frame runs most of the sweeps
            pr = rank_docs(docs).withColumnRenamed("url_md5", "doc_id").persist()
            pr.count()
            return pr

        # materialize the token stream, the PageRank factor and the
        # anchor index as CONCURRENT jobs (guide §2.6): all three are
        # independent (the anchor build reads only docs spans), but
        # inside one action the PageRank loop's mid-loop
        # localCheckpoint would serialize the whole text pass behind
        # the (latency-bound) graph sweeps, and the anchor parse was
        # the commit pool's longest pole. Same frames, same lineage —
        # only the materialization overlaps.
        with ThreadPoolExecutor(max_workers=3) as pool:
            stream_fut = pool.submit(stream.count)
            pr_fut = pool.submit(_rank)
            anchors_fut = pool.submit(self._anchors.count)
            stream_fut.result()
            pr = pr_fut.result()
            anchors_fut.result()
        unsorted = build_weighted_postings(
            sections,
            page_rank=pr,
            blocks_col="blocks",
            token_stream=stream,
            sorted_output=False,
        ).persist()
        unsorted.count()  # agg+window+factor join over the warm caches
        self._postings = (
            unsorted.repartitionByRange(8, "term")
            .sortWithinPartitions("term", "rank", "doc_id")
            .cache()
        )
        # small dict from the UNSORTED persisted frame: same rows as the
        # sorted postings, and build_small_postings is an argmin-struct
        # aggregate — input order cannot change its pick — so the small
        # commit no longer waits behind the postings range-sort commit
        # and all four table commits overlap fully (guide §2.6)
        self._small = build_small_postings(unsorted, pos_col="pos").cache()
        self._tokens = stream.select("doc_id", "word", "position").cache()
        self._meta = docs.select(
            F.col("url_md5").alias("doc_id"), "url", "host"
        ).cache()
        # (self._anchors was built and materialized in the concurrent
        # phase above — its commit below writes from the warm cache)
        meta = {"kind": "index"}
        a_meta = {"kind": "index", "docs_version": self._docs_version()}
        served = {"postings": self._postings, "tokens": self._tokens,
                  "postings_small": self._small}
        with ThreadPoolExecutor(max_workers=4) as pool:
            futs = {
                t: pool.submit(self.store.commit, t, df, meta=meta)
                for t, df in served.items()
            }
            anchors_fut = pool.submit(
                self.store.commit, "anchors", self._anchors, meta=a_meta
            )
            versions = {t: f.result() for t, f in futs.items()}
            anchors_fut.result()
        # serve postings, tokens and the small dict from their committed
        # snapshots: the cached frames' lineage roots in `unsorted` and
        # `stream`, so an evicted block would re-run the whole tokenize
        # pipeline once those are unpersisted
        for df in served.values():
            df.unpersist()
        self._postings, self._tokens, self._small = (
            self.store.read(t, versions[t]).cache() for t in served
        )
        stream.unpersist()
        unsorted.unpersist()
        pr.unpersist()

    def refresh_incremental(self) -> None:
        """Refresh by re-indexing ONLY crawl rounds newer than the last
        indexed round — the 100 TB shape of index maintenance, where a
        round adds a fraction of a percent of the corpus and a full
        re-tokenize (what `refresh()` does, and what the reference's
        batch runRanking does, SearchEngine.cpp:1072-1358) would
        dominate the whole pipeline.

        Split of work, keyed off `build_weighted_postings(
        components=True)`'s observation that the final rank
        round(rank_raw * pageRank / tot, 6) has exactly one
        corpus-dependent input (pageRank — global graph state); every
        other factor is a pure per-doc function and docs are
        append-only (the seen-set guarantees a URL is fetched once):

        - APPEND-ONLY (delta docs only; fast-append commits, O(delta)):
          `postings_base` (term, doc_id, pos, rank_raw, tot),
          `tokens_base` (phrase stream), `links_base` (per-doc link
          pairs — pre-existence-join, since later rounds turn old
          pairs into live edges).
        - GRAPH-SIZED RECOMPUTE (no text re-parse): existence
          semi-join + out-degree over `links_base`, PageRank, commit
          as `doc_pr`.
        - READ-TIME VIEW: `factor_postings(postings_base, doc_pr)` —
          bit-equal to the one-shot build (same expression tree); the
          term predicate of a search still pushes below the factor
          join to the sorted base files.
        - `postings_small` re-materialized from the factored view
          (same `build_small_postings` call as `refresh()`, so the
          6-dp-tie instance pick is identical). This is the one
          remaining corpus-order pass — a window over postings, NOT a
          re-tokenize; cheap relative to text parse, and the pick
          could be narrowed to docs whose rounded rank changed if it
          ever shows up in a profile.

        Crash safety: `doc_pr`'s `indexed_round` meta is the commit
        marker — a crash between the base appends and the doc_pr
        commit leaves a stale marker, and the next call recomputes the
        graph half from the persisted base (self-healing, no
        re-tokenize). Append chains fold at INDEX_COMPACT_CHAIN deltas
        (Iceberg rewrite_data_files cadence), restoring the global
        term sort."""
        docs = self._docs_pinned()
        have = self.store.exists("postings_base")
        k = (
            int(self.store.pointer_meta("postings_base").get("indexed_round", -1))
            if have
            else -1
        )
        m = docs.agg(F.max("round").alias("m")).first()["m"]
        max_round = -1 if m is None else int(m)
        new_rounds = (not have) or max_round > k
        # All four base-delta commits are independent delta-sized jobs:
        # overlap them on a driver thread pool (guide §2.6) so one
        # job's straggler tail back-fills with the next job's ramp-up.
        # Compaction checks run after, per table, exactly as before.
        from concurrent.futures import ThreadPoolExecutor

        jobs: list[tuple[str, DataFrame, str, dict]] = []
        if new_rounds:
            delta = docs.where(F.col("round") > F.lit(k)) if have else docs
            mode = "append" if have else "overwrite"
            meta = {"kind": "index_base", "indexed_round": max_round}
            base_delta = build_weighted_postings(
                doc_sections(delta), blocks_col="blocks", components=True
            )
            jobs += [
                ("postings_base", base_delta, mode, meta),
                ("tokens_base", build_token_index(delta), mode, meta),
                ("links_base", link_pairs(delta), mode, meta),
            ]
        # Anchor base: same append-only split as postings_base — a source
        # doc's anchor contributions are a pure function of its own spans
        # (operators/anchors.anchor_contributions), so a round's delta is
        # O(delta).  Keyed on its OWN indexed_round marker (not `k`) so a
        # crash between the postings append and this commit, or an older
        # store that predates the table, self-heals from the docs it
        # actually missed rather than re-parsing everything.
        a_have = self.store.exists("anchors_base")
        ak = (
            int(self.store.pointer_meta("anchors_base").get("indexed_round", -1))
            if a_have
            else -1
        )
        if (not a_have) or max_round > ak:
            a_delta = docs.where(F.col("round") > F.lit(ak)) if a_have else docs
            jobs.append(
                (
                    "anchors_base",
                    self._anchor_contributions(a_delta),
                    "append" if a_have else "overwrite",
                    {"kind": "index_base", "indexed_round": max_round},
                )
            )
        pr_round = int(self.store.pointer_meta("doc_pr").get("indexed_round", -2))
        need_pr = new_rounds or pr_round != max_round

        def _compute_ranks() -> DataFrame:
            # runs after the links_base commit (same lineage as before:
            # edges read from the COMMITTED table) but CONCURRENTLY with
            # the other base-delta commits (guide §2.6) — the graph
            # sweeps are latency-bound and back-fill the text commits'
            # straggler tails. Materialized via persist+count so the
            # doc_pr commit (kept AFTER every base append — the crash
            # marker contract) only writes warm rows.
            edges = edges_from_links(self.store.read("links_base"), docs)
            nodes = docs.select(F.col("url_md5").alias("node")).distinct()
            ranks = pagerank(edges, nodes, n_iter=PAGERANK_ITERS).persist()
            ranks.count()
            return ranks

        f_ranks = None
        if jobs:
            with ThreadPoolExecutor(max_workers=min(5, len(jobs) + 1)) as pool:
                futs = {
                    t: pool.submit(self.store.commit, t, df, mode=m, meta=me)
                    for t, df, m, me in jobs
                }
                if need_pr:
                    if "links_base" in futs:
                        futs["links_base"].result()
                    f_ranks = pool.submit(_compute_ranks)
                for f in futs.values():
                    f.result()
                if f_ranks is not None:
                    f_ranks = f_ranks.result()
            for t, _df, _m, _me in jobs:
                if self.store.chain_length(t) >= INDEX_COMPACT_CHAIN:
                    self.store.compact(t)
        elif need_pr:
            f_ranks = _compute_ranks()
        if need_pr:
            ranks = f_ranks
            self.store.commit(
                "doc_pr",
                ranks.select(
                    F.col("node").alias("doc_id"), F.col("rank").alias("page_rank")
                ),
                meta={"kind": "index", "indexed_round": max_round},
            )
            ranks.unpersist()
            pr_round = max_round
        self._postings = factor_postings(
            self.store.read("postings_base"), self.store.read("doc_pr")
        ).cache()
        small_round = int(
            self.store.pointer_meta("postings_small").get("indexed_round", -2)
        )
        self._tokens = self.store.read("tokens_base").cache()
        self._meta = docs.select(
            F.col("url_md5").alias("doc_id"), "url", "host"
        ).cache()
        # Served anchor index: re-merge the base partials when the docs
        # snapshot moved (one (target_md5, term) hash agg — the same
        # single shuffle as the one-shot build, no text re-parse), and
        # persist under the SAME docs_version freshness key refresh()
        # uses so anchor_index()/search_anchors serve it unchanged.
        # The small-dict re-pick and the anchor re-merge are independent
        # jobs — overlapped on the same §2.6 pool pattern as the base
        # commits above.
        from searchengine_spark.operators.anchors import merge_anchor_contributions

        v = self._docs_version()
        anchors_fresh = (
            v is not None
            and self.store.exists("anchors")
            and self.store.pointer_meta("anchors").get("docs_version") == v
        )
        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = []
            if small_round != max_round:
                self._small = build_small_postings(
                    self._postings, pos_col="pos"
                ).cache()
                futs.append(
                    pool.submit(
                        self.store.commit,
                        "postings_small",
                        self._small,
                        meta={"kind": "index", "indexed_round": max_round},
                    )
                )
            else:
                self._small = self.store.read("postings_small").cache()
            if anchors_fresh:
                self._anchors = self.store.read("anchors").cache()
            else:
                self._anchors = merge_anchor_contributions(
                    self.store.read("anchors_base")
                ).cache()
                futs.append(
                    pool.submit(
                        self.store.commit,
                        "anchors",
                        self._anchors,
                        meta={"kind": "index", "docs_version": v},
                    )
                )
            for f in futs:
                f.result()

    def search(
        self,
        q: str,
        k: int = 20,
        merge_host: bool = True,
        max_search: int | None = None,
        snippets: bool = False,
        snippet_window: int = 5,
    ) -> DataFrame:
        """Console search with the '#' parameter surface
        (PageSearcher.cpp:111-150): k = #maxShow, merge_host =
        #merge/#unmerge (host-dedup of results on/off), max_search =
        #maxSearch (per-term postings read cap). `snippets` adds a
        keyword-in-context column from the token stream
        (snippets_for_hits); hits whose truncated stream lost every
        term keep a NULL snippet."""
        from searchengine_spark.operators.index import MAX_SEARCH, parse_query

        if self._postings is None:
            if self.incremental:
                self.refresh_incremental()
            else:
                self.refresh()
        hits = search_query(
            self._postings,
            q,
            self._meta.select("doc_id", "host") if merge_host else None,
            k=k,
            tokens=self._tokens,
            small=self._small,
            max_search=MAX_SEARCH if max_search is None else max_search,
        )
        meta_cols = ["doc_id", "url"] if merge_host else ["doc_id", "url", "host"]
        out = hits.join(self._meta.select(*meta_cols), "doc_id")
        if snippets:
            snips = snippets_for_hits(
                out, self._tokens, parse_query(q), window=snippet_window
            )
            out = out.join(snips, "doc_id", "left")
        return out.orderBy(F.desc("score"), "doc_id")

    def _docs_version(self):
        """The committed docs snapshot version (the manifest is the
        cross-table commit point) — the anchors table's freshness key."""
        m = self.store.read_manifest()
        return (m or {}).get("versions", {}).get("docs")

    def _build_anchor_index(self, docs: DataFrame | None = None) -> DataFrame:
        from searchengine_spark.operators.anchors import anchor_terms

        cfg = self.store.read_config() or {}
        if docs is None:
            docs = self._docs_pinned()
        return anchor_terms(
            docs.select(F.col("url_md5").alias("doc_id"), "url", "spans"),
            direction="both",
            resolve_raw_hrefs=(cfg.get("adapter") == "http"),
        )

    def _anchor_contributions(self, docs: DataFrame) -> DataFrame:
        """Per-source-doc anchor partials for the incremental base —
        same direction/href-resolution contract as _build_anchor_index
        (the two must agree or the merged index diverges from the
        one-shot build; pinned by test_incremental_anchor_index_*)."""
        from searchengine_spark.operators.anchors import anchor_contributions

        cfg = self.store.read_config() or {}
        return anchor_contributions(
            docs.select(F.col("url_md5").alias("doc_id"), "url", "spans"),
            direction="both",
            resolve_raw_hrefs=(cfg.get("adapter") == "http"),
        )

    def anchor_index(self) -> DataFrame:
        """Anchor-context term index over the pinned docs snapshot
        (operators/anchors.anchor_terms, direction='both': real-HTML
        anchor inner text flushes into the FOLLOWING text span, the
        leading prose into the preceding one — the console credits
        both). HTTP-adapter stores carry raw hrefs in link spans and
        resolve them against the page URL; synthetic stores are
        pre-resolved and must not re-resolve (the
        functions/spans.resolve_href_expr contract).

        Served from the table `refresh()` persisted when its
        docs_version matches the current manifest (scan pushdown on
        the term predicate, no re-parse); any staleness — crawl rounds
        after the last refresh, or an incremental-index store that
        never ran the full refresh — falls back to an ephemeral
        session-cached build, never a stale answer."""
        if self._anchors is None:
            v = self._docs_version()
            if (
                v is not None
                and self.store.exists("anchors")
                and self.store.pointer_meta("anchors").get("docs_version") == v
            ):
                self._anchors = self.store.read("anchors").cache()
            else:
                self._anchors = self._build_anchor_index().cache()
        return self._anchors

    def search_anchors(
        self,
        q: str,
        k: int = 20,
        pool: int | None = None,
        max_search: int | None = None,
    ) -> DataFrame:
        """Anchor-boosted console search: reciprocal-rank fusion
        (operators/retrieval.rrf_fuse) of the reference-model console
        ranking with an inbound-anchor arm — per-target total
        anchor_count of the query's word terms, known docs only. RRF
        needs no calibration between the reference's float rank model
        and anchor counts, and a page whose body never says the term
        can still surface through what its neighbors call it (the
        anchor file's raison d'être, Brin & Page 1998 §4.2.2).

        Each arm contributes a ``pool``-sized ranked list (default
        2k, min 20); rank windows only ever see ≤pool rows. Returns
        (doc_id, console_rank, anchor_rank, rrf_e6, rank, url, host)
        ordered by fused rank.
        """
        from pyspark.sql import Window as W

        from searchengine_spark.operators.index import (
            MAX_SEARCH,
            parse_query,
        )
        from searchengine_spark.operators.retrieval import rrf_fuse

        if self._postings is None:
            if self.incremental:
                self.refresh_incremental()
            else:
                self.refresh()
        pool = pool or max(2 * k, 20)
        base = search_query(
            self._postings,
            q,
            None,  # host-dedup off inside the arm; fusion re-ranks
            k=pool,
            tokens=self._tokens,
            small=self._small,
            max_search=MAX_SEARCH if max_search is None else max_search,
        )
        w_c = W.orderBy(F.desc("score"), "doc_id")  # bounded: ≤ pool
        console = (
            base.select("doc_id", "score")
            .orderBy(F.desc("score"), "doc_id")
            .limit(pool)
            .withColumn("rank", F.row_number().over(w_c).cast("int"))
        )
        words = [t["term"] for t in parse_query(q) if t["kind"] == "word"]
        anc = self.anchor_index()
        arm = (
            anc.where(F.col("term").isin(words) if words else F.lit(False))
            .groupBy("target_md5")
            .agg(F.sum("anchor_count").cast("long").alias("anchor_hits"))
            .join(
                self._meta.select("doc_id"),
                F.col("target_md5") == F.col("doc_id"),
            )
            .select("doc_id", "anchor_hits")
        )
        w_a = W.orderBy(F.desc("anchor_hits"), "doc_id")  # bounded: ≤ pool
        anchor = (
            arm.orderBy(F.desc("anchor_hits"), "doc_id")
            .limit(pool)
            .withColumn("rank", F.row_number().over(w_a).cast("int"))
        )
        fused = rrf_fuse({"anchor": anchor, "console": console}, k=k)
        return fused.join(
            self._meta.select("doc_id", "url", "host"), "doc_id"
        ).orderBy("rank")

    def search_batch(
        self,
        queries: dict[str, str],
        k: int = 20,
        merge_host: bool = True,
        max_search: int | None = None,
    ) -> DataFrame:
        """Request-log batch search: MANY console queries answered in
        one action over one dict evaluation through the fixed-size
        joined tier (operators/index.py search_batch_joined) — the
        amortization the serve-one-request reference cannot do
        (PageSearcher.cpp:400-440 re-walks its dict per request).
        Word terms only (phrases/prefix terms need per-query plan
        branches — they stay on the single-query console); duplicate
        words within a query collapse, main-dict routing (both batch
        tiers are main-dict-only by contract).

        Returns per-query hits (query_id, doc_id, score[, host,
        n_more_from_host], url)."""
        from searchengine_spark.operators.index import (
            MAX_SEARCH,
            parse_query,
            queries_table,
            search_batch_joined,
        )

        if self._postings is None:
            if self.incremental:
                self.refresh_incremental()
            else:
                self.refresh()
        parsed: dict[str, list[str]] = {}
        for qid, q in queries.items():
            terms: list[str] = []
            for t in parse_query(q):
                if t["kind"] != "word":
                    raise ValueError(
                        f"batch search is word-terms-only (query {qid!r} "
                        f"has a {t['kind']} term); phrases and prefix terms "
                        f"use the single-query console"
                    )
                if t["term"] not in terms:
                    terms.append(t["term"])
            if not terms:
                raise ValueError(f"empty query {qid!r}")
            parsed[qid] = terms
        qdf = queries_table(self._postings.sparkSession, parsed)
        hits = search_batch_joined(
            self._postings,
            qdf,
            self._meta.select("doc_id", "host") if merge_host else None,
            k=k,
            max_search=MAX_SEARCH if max_search is None else max_search,
        )
        meta_cols = ["doc_id", "url"] if merge_host else ["doc_id", "url", "host"]
        return hits.join(self._meta.select(*meta_cols), "doc_id").orderBy(
            "query_id", F.desc("score"), "doc_id"
        )

    def get_doc(self, url_md5: str) -> DataFrame:
        """'#get' page dump (PageSearcher.cpp:111-150): fetch one doc's
        spans by key — a pruned snapshot scan."""
        return self._docs_pinned().where(F.col("url_md5") == url_md5)

    def get_doc_by_index(self, index: int) -> DataFrame:
        """'#get <index>' (PageSearcher.cpp:119-137): the reference's
        content DB is positional (contentDB->seek(index)); the stable
        twin of that insertion order is (round, seq_in_round) — S4."""
        return (
            self._docs_pinned()
            .orderBy("round", "seq_in_round")
            .offset(index)
            .limit(1)
        )


def snippets_for_hits(
    hits: DataFrame,
    tokens: DataFrame,
    terms: list[dict],
    window: int = 5,
) -> DataFrame:
    """Keyword-in-context snippets for a k-row hit set: each hit doc's
    FIRST query-term occurrence in the indexed token stream
    (build_token_index's document-order word sequence — the same
    stream phrase adjacency matches against), ± `window` tokens,
    space-joined, '…' at cut edges. The reference prints result pages
    by a keyed content read (PageSearcher.cpp:111-150 '#get'); the
    snippet is the search-page abbreviation of that read.

    Scale shape: the hit set is k-bounded, so everything after the
    left-semi prune is k·(2·window+1)-sized; the token scan itself
    prunes to (doc_id, word, position) columns. Deterministic:
    positions are unique per doc, array_sort fixes collect_list order.

    terms: parse_query output — word terms match exactly, phrase
    terms anchor on their first word, prefix terms on startswith.
    Returns (doc_id, snippet); docs whose stream lost every query term
    (weight-cap truncation) get no row — callers left-join.
    """
    anchors = []
    for t in terms:
        if t["kind"] == "word":
            anchors.append(F.col("word") == F.lit(t["term"].lower()))
        elif t["kind"] == "phrase":
            first = t["term"].split(" ")[0].lower()
            anchors.append(F.col("word") == F.lit(first))
        else:  # prefix
            anchors.append(F.col("word").startswith(F.lit(t["term"].lower())))
    if not anchors:
        raise ValueError("snippets need at least one query term")
    is_match = anchors[0]
    for a in anchors[1:]:
        is_match = is_match | a

    t = tokens.join(F.broadcast(hits.select("doc_id")), "doc_id", "left_semi")
    match_pos = (
        t.where(is_match).groupBy("doc_id").agg(F.min("position").alias("_m"))
    )
    bounds = t.groupBy("doc_id").agg(
        F.min("position").alias("_lo"), F.max("position").alias("_hi")
    )
    span = (
        t.join(F.broadcast(match_pos), "doc_id")
        .where(
            (F.col("position") >= F.col("_m") - window)
            & (F.col("position") <= F.col("_m") + window)
        )
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("position", "word"))),
                    lambda s: s["word"],
                ),
                " ",
            ).alias("_body"),
            F.min("position").alias("_s"),
            F.max("position").alias("_e"),
        )
    )
    return span.join(F.broadcast(bounds), "doc_id").select(
        "doc_id",
        F.concat(
            F.when(F.col("_s") > F.col("_lo"), F.lit("… ")).otherwise(F.lit("")),
            F.col("_body"),
            F.when(F.col("_e") < F.col("_hi"), F.lit(" …")).otherwise(F.lit("")),
        ).alias("snippet"),
    )
