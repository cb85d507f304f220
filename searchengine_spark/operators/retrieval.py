"""Retrieval scoring beyond the reference's rank model: BM25 and
reciprocal-rank fusion (hybrid lexical + vector retrieval).

The reference ranks hits with its own positional weight model
(PageSearcher.cpp:400-520 — per-term dict ranks, PosRanks top-2,
coRank proximity decay); a training-data / RAG pipeline additionally
wants the standard public baselines next to it:

* **BM25** (Robertson et al., the Lucene ``k1``/``b`` form with the
  always-positive ``ln(1 + …)`` idf) over a tokenized text column.
* **Reciprocal-rank fusion** (Cormack et al. 2009): combine any number
  of ranked retriever arms by ``sum 1/(k + rank)`` — the standard way
  to merge lexical and embedding retrieval without score calibration.
* **Hybrid top-k** = BM25 arm + brute-force cosine arm, RRF-fused.

Cross-engine exactness contract (same discipline as operators/lm.py):
every per-(doc, term) BM25 score is floored to BIGINT micro-points
(``floor(1e6 · idf · tfnorm)``) BEFORE any sum, so both engines sum
identical integers in any order; RRF contributions are pure integer
floor divisions ``1000000 div (k + rank)``. The only IEEE surface is
one ``ln``/one division per (doc, term) from identical integer
operands — the lm.py-vetted class.

100 TB shape: the exploded token stream is filtered to the query's
terms BEFORE any shuffle (matched stream is postings-of-the-query
sized, not corpus sized); corpus stats (N, Σdl) are one 1-row
aggregate cross-joined in; per-term df is a ≤|terms|-row aggregate
broadcast back. Top-k is orderBy+limit (TakeOrderedAndProject — a
distributed partial top-k, no global window); rank numbers are
assigned by a window only AFTER the limit, over ≤ pool rows.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window as W, functions as F

BM25_K1 = 1.2
BM25_B = 0.75
RRF_K = 60


def bm25_term_scores(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-(doc, term) BM25 partial scores for the given query terms.

    Returns (doc_id, term, tf, score_e6) — score_e6 = floor(1e6 ·
    idf(term) · tfnorm(doc, term)) as BIGINT, where

      idf    = ln(1 + (N - df + 0.5) / (df + 0.5))
      tfnorm = tf·(k1+1) / (tf + k1·(1 - b + b·dl·N/Σdl))

    with k1=1.2, b=0.75 and dl = whitespace token count. A term absent
    from the corpus simply contributes no rows (df=0 can't occur on a
    produced row), which is BM25's OR semantics.
    """
    if len(set(terms)) != len(terms):
        raise ValueError("query terms must be distinct")
    if not terms:
        raise ValueError("empty term list")
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("_w"),
    ).withColumn("dl", F.size("_w").cast("long"))
    stats = d.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    matched = d.select(
        "doc_id", "dl", F.explode("_w").alias("term")
    ).where(F.col("term").isin(terms))
    tf = matched.groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tf"), F.max("dl").alias("dl")
    )
    df_t = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    scored = tf.join(F.broadcast(df_t), "term").crossJoin(F.broadcast(stats))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    dlnorm = (F.col("dl").cast("double") * F.col("n_docs")) / F.col("sum_dl")
    tfnorm = (F.col("tf").cast("double") * F.lit(BM25_K1 + 1.0)) / (
        F.col("tf")
        + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * dlnorm)
    )
    return scored.select(
        "doc_id",
        "term",
        "tf",
        F.floor(F.lit(1000000.0) * (idf * tfnorm)).cast("long").alias(
            "score_e6"
        ),
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 top-k docs for one query (OR semantics over the terms).

    Returns (doc_id, n_terms, bm25_e6, rank) — rank 1..k by
    (bm25_e6 desc, doc_id). The top-k is a TakeOrderedAndProject;
    the rank window runs over the ≤k surviving rows only.
    """
    per_doc = (
        bm25_term_scores(docs, terms, id_col, text_col)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_terms"),
            F.sum("score_e6").alias("bm25_e6"),
        )
    )
    top = per_doc.orderBy(F.desc("bm25_e6"), "doc_id").limit(k)
    w = W.orderBy(F.desc("bm25_e6"), "doc_id")  # bounded: ≤ k rows
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def rrf_fuse(
    arms: dict[str, DataFrame],
    k: int = 10,
    k_rrf: int = RRF_K,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked retriever arms.

    Each arm is (id, rank); output is the fused top-k
    (doc_id, <name>_rank …, rrf_e6, rank) where
    rrf_e6 = Σ_arms 1000000 div (k_rrf + arm_rank), missing arms
    contributing 0 — exact integer arithmetic in both engines. Arms
    are ranked pools (≤ pool rows each), so the full-outer join chain
    and the final rank window are bounded by Σ pool sizes.
    """
    if not arms:
        raise ValueError("need at least one ranked arm")
    fused = None
    for name in sorted(arms):
        side = arms[name].select(
            F.col(id_col).alias("doc_id"),
            F.col(rank_col).cast("int").alias(f"{name}_rank"),
        )
        fused = side if fused is None else fused.join(
            side, "doc_id", "full_outer"
        )
    contrib = [
        F.coalesce(
            F.expr(f"CAST(1000000 DIV ({k_rrf} + {name}_rank) AS BIGINT)"),
            F.lit(0).cast("long"),
        )
        for name in sorted(arms)
    ]
    fused = fused.withColumn("rrf_e6", reduce(lambda a, b: a + b, contrib))
    top = fused.orderBy(F.desc("rrf_e6"), "doc_id").limit(k)
    w = W.orderBy(F.desc("rrf_e6"), "doc_id")  # bounded: ≤ k rows
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def hybrid_topk(
    docs: DataFrame,
    embeddings: DataFrame,
    terms: list[str],
    query_vec: DataFrame,
    k: int = 10,
    pool: int = 20,
    k_rrf: int = RRF_K,
) -> DataFrame:
    """Hybrid retrieval: BM25 lexical arm over ``docs`` + brute-force
    cosine arm over ``embeddings`` (ids shared between the tables),
    RRF-fused. ``query_vec`` is a 1-row (query_id, qvec) frame.

    Returns (doc_id, bm25_rank, vec_rank, rrf_e6, rank). Each arm
    retrieves a ``pool``-sized candidate list; fusion re-ranks the
    union. At scale the cosine arm swaps for ann_topk/ivf_topk
    (operators/similarity.py) unchanged — any (id, rank) frame fuses.
    """
    from searchengine_spark.operators.similarity import brute_force_topk

    bm = bm25_topk(docs, terms, k=pool)
    vec = brute_force_topk(embeddings, query_vec, k=pool).select(
        F.col("vec_id").alias("doc_id"), "rank"
    )
    return rrf_fuse({"bm25": bm, "vec": vec}, k=k, k_rrf=k_rrf)


W_ANCHOR_E2 = 150  # anchor field weight vs body, integer percent (1.5x)


def anchor_term_scores(
    anchor_idx: DataFrame, terms: list[str]
) -> DataFrame:
    """Per-target anchor-field BM25 partial sums for the query terms.

    ``anchor_idx`` is operators/anchors.anchor_terms output
    (target_md5, term, anchor_count, n_source_docs). The anchor field
    scores like a BM25 field with b=0 — anchor pseudo-documents have
    no meaningful length, so tf saturates without length
    normalization: tfnorm = tf·(k1+1)/(tf+k1) with tf = anchor_count.
    idf uses N = distinct targets in the index and df = targets whose
    anchor text contains the term. Same exactness contract as
    bm25_term_scores: floor to BIGINT micro-points per (target, term)
    before summing.

    Returns (target_md5, anchor_e6). Scale shape: the matched slice is
    postings-of-the-query sized; stats/df are 1-row / ≤|terms|-row
    broadcasts.
    """
    if len(set(terms)) != len(terms):
        raise ValueError("query terms must be distinct")
    if not terms:
        raise ValueError("empty term list")
    stats = anchor_idx.agg(
        F.countDistinct("target_md5").cast("long").alias("n_tgts")
    )
    matched = anchor_idx.where(F.col("term").isin(terms)).select(
        "target_md5", "term", F.col("anchor_count").alias("tf")
    )
    df_t = matched.groupBy("term").agg(
        F.count("*").cast("long").alias("df")
    )
    scored = matched.join(F.broadcast(df_t), "term").crossJoin(
        F.broadcast(stats)
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_tgts") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tfnorm = (F.col("tf").cast("double") * F.lit(BM25_K1 + 1.0)) / (
        F.col("tf") + F.lit(BM25_K1)
    )
    return (
        scored.select(
            "target_md5",
            F.floor(F.lit(1000000.0) * (idf * tfnorm)).cast("long").alias(
                "score_e6"
            ),
        )
        .groupBy("target_md5")
        .agg(F.sum("score_e6").cast("long").alias("anchor_e6"))
    )


def anchor_boosted_topk(
    docs: DataFrame,
    anchor_idx: DataFrame,
    doc_keys: DataFrame,
    terms: list[str],
    k: int = 10,
    w_anchor_e2: int = W_ANCHOR_E2,
) -> DataFrame:
    """BM25F-style two-field retrieval: body BM25 + weighted anchor
    field, fused full-outer so a page whose body lacks the query terms
    but whose inbound anchors carry them still surfaces — the point of
    the anchor signal (Brin & Page 1998 §4.2.2; the reference ranks
    on-page text only, PageSearcher.cpp:400-520).

    ``doc_keys`` maps doc_id -> the engine's page key
    (url_md5(canonicalize(url))); aliased raw variants of one page
    share a key and both receive its anchor credit.
    comb_e6 = body_e6 + (w_anchor_e2 · anchor_e6) div 100 — exact
    integers end to end.

    Scale shape: the anchor arm result is query-postings sized and is
    broadcast against the corpus-sized key map (no shuffle on the big
    side); the final full-outer joins two aggregated query-sized
    frames. Top-k is TakeOrderedAndProject; the rank window sees ≤k
    rows.

    Returns (doc_id, body_e6, anchor_e6, comb_e6, rank).
    """
    body = (
        bm25_term_scores(docs, terms)
        .groupBy("doc_id")
        .agg(F.sum("score_e6").cast("long").alias("body_e6"))
    )
    anc = anchor_term_scores(anchor_idx, terms)
    anc_docs = doc_keys.join(
        F.broadcast(anc),
        doc_keys["doc_key"] == anc["target_md5"],
    ).select("doc_id", "anchor_e6")
    fused = (
        body.join(anc_docs, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce(F.col("body_e6"), F.lit(0)).cast("long").alias(
                "body_e6"
            ),
            F.coalesce(F.col("anchor_e6"), F.lit(0)).cast("long").alias(
                "anchor_e6"
            ),
        )
        .withColumn(
            "comb_e6",
            (
                F.col("body_e6")
                + F.expr(f"CAST(({w_anchor_e2} * anchor_e6) DIV 100 AS BIGINT)")
            ).cast("long"),
        )
    )
    top = fused.orderBy(F.desc("comb_e6"), "doc_id").limit(k)
    w = W.orderBy(F.desc("comb_e6"), "doc_id")  # bounded: ≤ k rows
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def tfidf_weights(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-(doc, term) tf-idf weights in exact integer milli-points:
    w_e3 = floor(1e3 · tf · ln(N/df)) as BIGINT. A term present in
    every doc gets weight 0 (ln 1) — the classic common-word
    vanishing. One corpus-sized groupBy (tf), a vocab-sized df
    re-aggregation joined back, and a 1-row N cross join.
    """
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    )
    tf = d.groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    df_t = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    n = docs.agg(F.count("*").cast("long").alias("n_docs"))
    return (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.floor(
                F.lit(1000.0)
                * (
                    F.col("tf").cast("double")
                    * F.log(F.col("n_docs").cast("double") / F.col("df"))
                )
            )
            .cast("long")
            .alias("w_e3"),
        )
    )


def more_like_this(
    docs: DataFrame,
    doc_id,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Related-document retrieval: top-k docs by tf-idf cosine to the
    given document ("more like this" — the reference's console has no
    analogue; PageSearcher serves term queries only).

    Scale shape: the query doc's weight vector is ONE doc's vocabulary
    — broadcast it and equi-join on term, so only the corpus weight
    rows sharing a term with the query doc survive (sparse dot product;
    never a doc×doc self-join). Dot
    products are exact BIGINT sums of w_e3 products; norms are exact
    BIGINT sums of squares; the ONLY float step is the final
    round(dot / (sqrt(nq)·sqrt(nd)), 6) from identical integers.
    Zero-norm docs (every term corpus-universal) are excluded — a
    0/0 cosine is undefined, not similar.

    Evaluation: the tf-idf weights are derived inline and each consumer
    (query vector, all-docs norms, the dot join) re-derives them from
    the scan — a single-lineage plan with no barrier and no doc_id
    exchange of the corpus-sized weights. Re-tokenizing per consumer
    costs less than pinning one shared evaluation behind an exchange.

    Returns (doc_id, cosine, rank), rank 1..k by (cosine desc, doc_id).
    """
    w = tfidf_weights(docs, id_col, text_col)
    qv = w.where(F.col("doc_id") == doc_id).select(
        "term", F.col("w_e3").alias("qw_e3")
    )
    # query norm from the (tiny) query vector, not from the all-docs
    # norms aggregate
    qnorm = qv.agg(
        F.sum(F.col("qw_e3") * F.col("qw_e3")).cast("long").alias("qnorm2")
    )
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("w_e3") * F.col("w_e3")).alias("norm2")
    )
    dots = (
        w.where(F.col("doc_id") != doc_id)
        .join(F.broadcast(qv), "term")
        .groupBy("doc_id")
        .agg(F.sum(F.col("w_e3") * F.col("qw_e3")).alias("dot"))
    )
    scored = (
        dots.join(norms, "doc_id")
        .crossJoin(F.broadcast(qnorm))
        .where((F.col("norm2") > 0) & (F.col("qnorm2") > 0))
        .select(
            "doc_id",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("qnorm2").cast("double"))
                    * F.sqrt(F.col("norm2").cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
    )
    top = scored.orderBy(F.desc("cosine"), "doc_id").limit(k)
    w_rank = W.orderBy(F.desc("cosine"), "doc_id")  # bounded: ≤ k rows
    return top.withColumn("rank", F.row_number().over(w_rank).cast("int"))
