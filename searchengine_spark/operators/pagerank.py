"""Link graph + PageRank (SURVEY.md D6/D7, J2/J3, A7).

The reference replays a flat binary edge file per iteration with
double-buffered rank arrays (SearchEngine.cpp:1210-1264; constants
:1074 — damping 0.85, init 1.0, final clamp at 100). Spark form:
cache the edges DataFrame once, loop `edges ⋈ ranks -> groupBy(dst)`,
checkpoint every few iterations to cut lineage.

Edge semantics: an edge (src, dst) exists only when dst is itself a
crawled doc (left-semi existence probe, SearchEngine.cpp:1034-1043);
out_degree is denormalized onto edges in the reference (:1045-1046) —
we compute it with a window instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

DAMPING = 0.85  # SearchEngine.cpp:1074
RANK_CLAMP = 100.0  # SearchEngine.cpp:1267-1281


def link_pairs(docs: DataFrame) -> DataFrame:
    """docs(url_md5, spans) -> raw link pairs (src, dst): canonical
    md5-keyed targets, per-page dedup (A10), self-loops dropped —
    everything about a link that is a PURE PER-DOC function. This is
    the append-only half of the edge derivation: a doc's link pairs
    never change after it is fetched, so an incremental indexer can
    persist them per crawl round and never re-parse old spans. The
    target-EXISTENCE semi-join (J2) is deliberately not here — new
    crawl rounds legitimately turn old pairs into live edges."""
    from searchengine_spark.functions.urls import canonicalize_udf, url_md5_expr

    raw = docs.select(
        F.col("url_md5").alias("src"),
        F.explode(
            F.array_distinct(
                F.transform(
                    F.filter("spans", lambda s: s["kind"] == F.lit("link")),
                    lambda s: s["media_ref"],
                )
            )
        ).alias("raw_target"),
    )
    # canonicalize via the Arrow kernel, NOT canonicalize_expr: the
    # expr chain fused into the downstream distinct()'s hashAgg blows
    # janino's 64 KB method cap (Spark logs ONE CodeGenerator ERROR and
    # silently runs the whole stage interpreted — found 2026-08-19 on
    # the SearchService refresh path, invisible to the catalog codegen
    # sweep because catalog pagerank queries use synthetic edges).
    # Kernel ≡ expr row-equal is pinned by tests/test_urls.py.
    tgt = raw.withColumn("_c", canonicalize_udf(F.col("raw_target"))).where(
        F.col("_c").isNotNull()
    )
    return tgt.select("src", url_md5_expr("_c").alias("dst")).where(
        F.col("dst").isNotNull() & (F.col("dst") != F.col("src"))
    ).distinct()


def edges_from_links(links: DataFrame, docs: DataFrame) -> DataFrame:
    """links(src, dst) + the current doc set -> edges(src, dst,
    out_degree): the corpus-dependent half — existence semi-join (J2,
    SearchEngine.cpp:1034-1043) and out-degree over the SURVIVING
    edges (:1045-1046)."""
    exists = docs.select(F.col("url_md5").alias("dst"))
    edges = links.join(exists, "dst", "left_semi")
    w = W.partitionBy("src")
    return edges.withColumn("out_degree", F.count("*").over(w))


def edges_from_docs(docs: DataFrame) -> DataFrame:
    """docs(url_md5, spans) -> edges(src, dst, out_degree).

    Link spans -> canonical target key; J2 semi-join keeps only edges
    whose target exists in the doc set; per-page dedup via
    array_distinct before explode (A10). Composition of the per-doc
    (`link_pairs`) and corpus-dependent (`edges_from_links`) halves so
    the one-shot and incremental index paths share one definition."""
    return edges_from_links(link_pairs(docs), docs)


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    n_iter: int = 3,
    damping: float = DAMPING,
    checkpoint_every: int = 4,
    tol: float | None = None,
) -> DataFrame:
    """nodes(node) + edges(src, dst, out_degree) -> (node, rank).

    rank_{i+1}(d) = (1-damping) + damping * Σ_{(s,d)∈E} rank_i(s)/out(s),
    init 1.0, final clamp at RANK_CLAMP — the reference's exact update.
    Dangling mass is dropped exactly as the reference drops it (no
    redistribution — SearchEngine.cpp:1240-1260 only credits real edges).

    With `tol` set, `n_iter` becomes a CAP: iteration stops as soon as
    the L-infinity rank delta of a sweep falls below tol (one tiny agg
    per sweep over the checkpointed old/new ranks — the reference runs
    a fixed refine count, SearchEngine.cpp:1210, so early stop is a
    production convenience, not a parity behavior). The stop decision
    is deterministic (pure function of the deterministic ranks), but
    driver-gate queries pin tol=None for fixed-iteration parity with
    the unrolled SQL oracle.
    """
    ranks = nodes.select(F.col("node"), F.lit(1.0).alias("rank"))
    if tol is not None:
        # delta checks re-read the previous sweep's ranks: keep both
        # sides materialized and lineage flat
        ranks = ranks.localCheckpoint(eager=True)
    # every sweep re-reads the edges: a lazy local checkpoint computes
    # them once on first use and stays private to this call (a cache()
    # would register the plan with the session's CacheManager, where
    # any later query over the same edge plan would pick it up)
    edges = edges.localCheckpoint(eager=False)
    for i in range(n_iter):
        contribs = (
            edges.join(ranks, edges.src == ranks.node, "inner")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("out_degree")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        prev = ranks
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce(F.col("in_sum"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        if tol is not None:
            ranks = ranks.localCheckpoint(eager=True)
            delta = (
                ranks.alias("n")
                .join(prev.alias("p"), "node")
                .agg(
                    F.max(F.abs(F.col("n.rank") - F.col("p.rank"))).alias("d")
                )
                .collect()[0]["d"]
            )
            if delta is not None and delta < tol:
                break
        elif (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=True)  # cut lineage
    return ranks.select(
        "node", F.round(F.least(F.col("rank"), F.lit(RANK_CLAMP)), 6).alias("rank")
    )


def weighted_pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    base: float = 0.15,
) -> DataFrame:
    """PageRank over a WEIGHTED graph: fixed synchronous iterations of
    r(v) = base + damping · Σ_{u→v} (w_uv / wdeg_u) · r(u), init 1.0 —
    the same fixed-iteration contract as :func:`pagerank` (which this
    generalizes: weight 1 edges reduce to 1/out_degree), oracle-
    expressible as chained CTEs like the pagerank3 twin. Nodes = every
    src ∪ dst; a node with no inbound weight settles at `base`.

    edges: (src, dst, weight). Returns (node, rank) rounded to 6 dp —
    the float SUM inside each sweep is the pagerank3-vetted class
    (well-conditioned, rounding absorbs association order).
    """
    wdeg = edges.groupBy("src").agg(F.sum("weight").alias("wdeg"))
    e = edges.join(wdeg, "src").select("src", "dst", "weight", "wdeg")
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    ranks = nodes.select("node", F.lit(1.0).alias("rank"))
    for _ in range(iters):
        contrib = (
            e.join(ranks, e["src"] == ranks["node"])
            .groupBy("dst")
            .agg(
                F.sum(
                    F.col("rank") * F.col("weight") / F.col("wdeg")
                ).alias("s")
            )
        )
        ranks = nodes.join(
            contrib, nodes["node"] == contrib["dst"], "left"
        ).select(
            "node",
            (
                F.lit(base) + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def personalized_pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    seeds: DataFrame,
    n_iter: int = 3,
    damping: float = DAMPING,
) -> DataFrame:
    """Personalized PageRank (random walk with restart to a SEED set —
    Haveliwala 2002's topic-sensitive form with a 0/1 restart vector):

        r_{i+1}(v) = (1-damping)·s(v) + damping·Σ_{(u,v)∈E} r_i(u)/out(u)

    with s = seed-membership indicator and r_0 = s — the same
    fixed-iteration sweep/oracle contract as :func:`pagerank` (whose
    s ≡ 1 it generalizes; same float-sum class, rounding absorbs
    association order). Rank mass concentrates around the seeds, so
    the top non-seed nodes are the 'related pages' of the seed set.

    edges: (src, dst, out_degree); seeds: (node). Returns
    (node, rank, is_seed) rounded to 6 dp.
    """
    s = nodes.join(
        seeds.select("node").distinct().withColumn("_s", F.lit(1)),
        "node",
        "left",
    ).select("node", F.coalesce(F.col("_s"), F.lit(0)).alias("is_seed"))
    ranks = s.select("node", "is_seed", F.col("is_seed").cast("double").alias("rank"))
    for _ in range(n_iter):
        contribs = (
            edges.join(ranks, edges.src == ranks.node, "inner")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("out_degree")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = s.join(contribs, "node", "left").select(
            "node",
            "is_seed",
            (
                F.lit(1.0 - damping) * F.col("is_seed")
                + F.lit(damping) * F.coalesce(F.col("in_sum"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"), "is_seed")


def hits(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Hubs & authorities (Kleinberg 1999, JACM 46(5)) over a directed
    graph — the link-analysis complement of :func:`pagerank` (which
    follows the reference, SearchEngine.cpp:1210-1264; HITS is the
    standard companion the reference does not ship).

    Fixed synchronous sweeps from h₀ ≡ 1:
        a(v) = Σ_{u→v} h(u)        then        h(u) = Σ_{u→v} a(v)
    run UNNORMALIZED — with integer init the scores are exact path
    counts, so every sweep stays in BIGINT (no float sums at all).
    Normalization happens ONCE at the end, by the global MAX of each
    score (max is association-order-independent, unlike a float Σ, so
    the result is bit-deterministic across partition layouts); a
    lone-max division is the only float step. Overflow bound: scores
    grow as ≲ (d_max)^(2·iters)·|V| paths — far inside int64 for
    web-ish degrees at the default 3 sweeps. Past the documented safe
    depth (iters > 8) a one-sided tripwire runs: path counts are
    nonnegative by construction, so a negative score PROVES int64 wrap
    (non-ANSI sums wrap like Java longs) and raises ArithmeticError.
    One-sided means a wrap can also land positive and slip through
    (e.g. d=15 wraps positive at iters=9, provably negative at 10) —
    the check costs one tiny agg over the checkpointed scores and
    turns the likeliest silent corruption into a hard error; callers
    needing deep sweeps should normalize per sweep instead (loses the
    exact-integer property). The default-depth path (iters ≤ 8) is
    untouched — zero extra jobs.

    edges: (src, dst), pre-deduped. Returns (node, authority, hub)
    rounded to 6 dp; a graph with no edges yields empty.
    """
    e = edges.select("src", "dst")
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    h = nodes.select("node", F.lit(1).cast("long").alias("h"))
    a = None
    for _ in range(iters):
        a = (
            e.join(h, e["src"] == h["node"])
            .groupBy("dst")
            .agg(F.sum("h").cast("long").alias("a"))
            .select(F.col("dst").alias("node"), "a")
        )
        a = nodes.join(a, "node", "left").select(
            "node", F.coalesce(F.col("a"), F.lit(0)).cast("long").alias("a")
        )
        h = (
            e.join(a, e["dst"] == a["node"])
            .groupBy("src")
            .agg(F.sum("a").cast("long").alias("h"))
            .select(F.col("src").alias("node"), "h")
        )
        h = nodes.join(h, "node", "left").select(
            "node", F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("h")
        )
    scores = nodes.join(a, "node", "left").join(h, "node", "left")
    if iters > 8:
        # Checkpoint so the overflow probe and the final read share one
        # evaluation of the deep iterative plan (same pattern as the
        # tol-mode pagerank loop).
        scores = scores.localCheckpoint(eager=True)
        lo = scores.agg(
            F.min("a").alias("_amin"), F.min("h").alias("_hmin")
        ).first()
        if (lo["_amin"] is not None and lo["_amin"] < 0) or (
            lo["_hmin"] is not None and lo["_hmin"] < 0
        ):
            raise ArithmeticError(
                f"hits(iters={iters}): negative path count — int64 "
                "overflow in the unnormalized sweeps (bound ≲ "
                "d_max^(2·iters)·|V|). Lower iters or normalize per "
                "sweep."
            )
    # ADVICE r5: the iters>8 eager probe's coverage was narrower than
    # the hazard (a dense graph wraps int64 at the default depth). The
    # mins ride the SAME one-row aggregate as the normalization maxes,
    # and an in-plan raise_error guard on the normalized columns turns
    # a proven wrap (negative path count) into a hard error at EVERY
    # depth — zero extra jobs, nothing for shallow sweeps to opt into.
    mx = scores.agg(
        F.max("a").cast("long").alias("_amax"),
        F.max("h").cast("long").alias("_hmax"),
        F.min("a").cast("long").alias("_amin"),
        F.min("h").cast("long").alias("_hmin"),
    )
    wrapped = (F.col("_amin") < 0) | (F.col("_hmin") < 0)
    err = F.raise_error(
        F.lit(
            f"hits(iters={iters}): negative path count — int64 overflow "
            "in the unnormalized sweeps (bound ≲ d_max^(2·iters)·|V|). "
            "Lower iters or normalize per sweep."
        )
    )
    return scores.crossJoin(F.broadcast(mx)).select(
        "node",
        F.when(wrapped, err)
        .otherwise(
            F.round(F.col("a") / F.nullif(F.col("_amax"), F.lit(0)), 6)
        )
        .alias("authority"),
        F.when(wrapped, err)
        .otherwise(
            F.round(F.col("h") / F.nullif(F.col("_hmax"), F.lit(0)), 6)
        )
        .alias("hub"),
    )


def textrank_keywords(
    docs: DataFrame,
    k: int = 20,
    iters: int = 3,
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus keyword extraction à la TextRank (Mihalcea & Tarau 2004):
    PageRank over the word co-occurrence graph — undirected edges
    between ADJACENT words (the bigram stream, window 2), weight =
    corpus co-occurrence count, self-loops dropped. One corpus-sized
    groupBy builds the pair table; everything after is vocab-sized.

    Returns the top-k (term, rank, pos) by (rank desc, term) —
    TakeOrderedAndProject, pos window over the ≤k survivors.
    """
    from pyspark.sql import Window as _W

    from searchengine_spark.operators.lm import doc_bigrams

    bg = doc_bigrams(docs, doc_col, text_col).where(F.col("a") != F.col("b"))
    pair = bg.groupBy("a", "b").agg(F.count("*").cast("long").alias("w"))
    edges = pair.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), F.col("w").alias("weight")
    ).unionByName(
        pair.select(
            F.col("b").alias("src"), F.col("a").alias("dst"),
            F.col("w").alias("weight"),
        )
    ).groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    ranks = weighted_pagerank(edges, iters=iters)
    top = ranks.select(F.col("node").alias("term"), "rank").orderBy(
        F.desc("rank"), "term"
    ).limit(k)
    w_pos = _W.orderBy(F.desc("rank"), "term")  # bounded: ≤ k rows
    return top.withColumn("pos", F.row_number().over(w_pos).cast("int"))


def project_graph(edges: DataFrame, mapping: DataFrame) -> DataFrame:
    """Project a node-level edge list onto a coarser partition (host /
    domain level): edges(src, dst, [out_degree]) + mapping(node, part)
    -> (src, dst, out_degree) over parts.

    Web-graph standard move (host graph / domain graph): map both
    endpoints through the partition, drop edges with an unmapped
    endpoint and the self-loops that intra-part edges collapse into,
    dedup, recount out-degree. The reference has no analogue (its rank
    is page-level only); at 10^10 pages the host graph is 3-4 orders
    smaller and is what link-spam / site-authority analyses run on.

    Scale shape: two broadcast-able joins against the mapping (hosts
    dimension << edges), one distinct (hash shuffle on the projected
    pair), one partial-agg groupBy for out-degree — no window over the
    full edge set.
    """
    m_src = mapping.select(F.col("node").alias("src"), F.col("part").alias("_ps"))
    m_dst = mapping.select(F.col("node").alias("dst"), F.col("part").alias("_pd"))
    proj = (
        edges.select("src", "dst")
        .join(m_src, "src")
        .join(m_dst, "dst")
        .select(F.col("_ps").alias("src"), F.col("_pd").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    deg = proj.groupBy("src").agg(F.count("*").cast("long").alias("out_degree"))
    return proj.join(deg, "src").select("src", "dst", "out_degree")


def neighborhood_function(
    edges: DataFrame, nodes: DataFrame, radius: int = 4, k: int = 16
) -> DataFrame:
    """ANF / HyperBall-style neighborhood function: per-node estimate
    of |{u : dist(v,u) <= radius}| via mergeable bottom-k (KMV)
    sketches (Palmer et al. KDD'02 "ANF"; Boldi & Vigna "HyperBall" —
    same sweep with HLL counters; we use KMV because its state is plain
    array<bigint> over the shared hash60, so the DuckDB oracle
    reproduces it bit-for-bit).

    Sweep r over adj = E ∪ {(v,v) : v ∈ nodes}:
    S_r(v) = bottomk(⋃_{(v,u)∈adj} S_{r-1}(u)), S_0(v) = {hash60(v)}.
    This equals the textbook S_{r-1}(v) ∪ ⋃_{(v,u)∈E} S_{r-1}(u): with a
    self-loop at every hashed node, a walk of length r reaches exactly
    the nodes a path of length <= r reaches (pad a shorter path with
    self-loops at its end). An edge source outside `nodes` has no
    self-loop, yet loses nothing: its sketch is the union over its
    out-neighbours, and every sketch only grows from sweep to sweep.
    Bottom-k truncation is exactly mergeable, so the final sketch
    equals the bottom-k of the true reachable set; a final sketch
    shorter than k IS the exact distinct count (nothing was ever
    dropped — a drop implies >= k smaller survivors).
    Estimate: exact size below k, else floor((k-1)·2^60 / kth) — the
    KMV estimator in operators/sketches.py, floor for portability.

    Scale shape: one join and one aggregate per hop, both keyed on
    node, each row carrying <= k longs; `sk` is read once per sweep, so
    the plan grows linearly in radius, not 2^radius. The ONLY way to
    get r-hop neighborhood sizes on a 10^10-node graph (exact per-node
    BFS is quadratic blowup; this is O(radius · |E| · k) with partial
    map-side merges). Per-node reach at small radius is the standard
    centrality/spam feature (link-farm neighborhoods balloon at r=2-3).
    """
    from ..functions.hashes import hash60

    h0 = hash60(F.col("node").cast("string"))
    sk = nodes.select("node", F.array(h0).alias("kmv"))
    adj = edges.select("src", "dst").unionByName(
        nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
    )
    bottomk = lambda c: F.slice(F.array_distinct(F.array_sort(c)), 1, k)
    for _ in range(radius):
        sk = (
            adj.join(sk.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(bottomk(F.flatten(F.collect_list("kmv"))).alias("kmv"))
        )
    below = F.size("kmv") < k
    kth = F.element_at("kmv", k)
    est = F.floor(
        F.lit(float(k - 1)) * F.lit(float(1 << 60)) / kth.cast("double")
    ).cast("long")
    return sk.select(
        "node",
        F.when(below, F.size("kmv").cast("long")).otherwise(est).alias("reach_est"),
        F.when(below, F.lit(None).cast("long")).otherwise(kth).alias("kth_min"),
    )
