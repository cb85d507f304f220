"""BM25 + reciprocal-rank-fusion retrieval (operators/retrieval.py):
hand-computed python twins for the integer micro-score contract, OR
semantics, fusion arithmetic, and layout independence."""

import math
from collections import Counter

import pytest

from searchengine_spark.operators import retrieval as RET

CORPUS = {
    1: "a b a c",
    2: "a d",
    3: "e e e a b",
    4: "b b c d e",
}


def _bm25_py(corpus: dict[int, str], terms: list[str]) -> dict:
    """Pure-python twin mirroring the Spark expression tree's float
    grouping exactly (same operand order, floor at micro-points)."""
    n = len(corpus)
    words = {d: t.split(" ") for d, t in corpus.items()}
    dl = {d: len(w) for d, w in words.items()}
    sum_dl = sum(dl.values())
    tf = {
        (d, term): words[d].count(term)
        for d in corpus
        for term in set(words[d]) & set(terms)
    }
    df = Counter(term for (_, term) in tf)
    out = {}
    for (d, term), f in tf.items():
        idf = math.log(1.0 + (n - df[term] + 0.5) / (df[term] + 0.5))
        dlnorm = (float(dl[d]) * n) / sum_dl
        tfn = (float(f) * 2.2) / (f + 1.2 * (0.25 + 0.75 * dlnorm))
        out[(d, term)] = math.floor(1000000.0 * (idf * tfn))
    return out


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        sorted(CORPUS.items()), "doc_id long, text string"
    )


def test_bm25_term_scores_hand_computed(docs):
    rows = RET.bm25_term_scores(docs, ["a", "b", "zz"]).collect()
    got = {(r["doc_id"], r["term"]): r["score_e6"] for r in rows}
    assert got == _bm25_py(CORPUS, ["a", "b"])
    # absent term: no rows at all (OR semantics — contributes nothing)
    assert not [r for r in rows if r["term"] == "zz"]
    # tf carried correctly
    tf = {(r["doc_id"], r["term"]): r["tf"] for r in rows}
    assert tf[(1, "a")] == 2 and tf[(3, "a")] == 1
    with pytest.raises(ValueError):
        RET.bm25_term_scores(docs, ["a", "a"])
    with pytest.raises(ValueError):
        RET.bm25_term_scores(docs, [])


def test_bm25_topk_ranks_and_sums(docs):
    top = RET.bm25_topk(docs, ["a", "b"], k=3).collect()
    per_term = _bm25_py(CORPUS, ["a", "b"])
    sums: dict = {}
    matched: dict = {}
    for (d, _), s in per_term.items():
        sums[d] = sums.get(d, 0) + s
        matched[d] = matched.get(d, 0) + 1
    expect = sorted(sums.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert [(r["doc_id"], r["bm25_e6"]) for r in
            sorted(top, key=lambda r: r["rank"])] == expect
    assert sorted(r["rank"] for r in top) == [1, 2, 3]
    assert all(r["n_terms"] == matched[r["doc_id"]] for r in top)


def test_rrf_fuse_hand_computed(spark):
    bm = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank int")
    vec = spark.createDataFrame([(2, 1), (3, 2)], "doc_id long, rank int")
    fused = RET.rrf_fuse({"bm25": bm, "vec": vec}, k=10).collect()
    rows = {r["doc_id"]: r for r in fused}
    assert rows[2]["rrf_e6"] == 1000000 // 62 + 1000000 // 61
    assert rows[1]["rrf_e6"] == 1000000 // 61 and rows[1]["vec_rank"] is None
    assert rows[3]["rrf_e6"] == 1000000 // 62 and rows[3]["bm25_rank"] is None
    assert [r["doc_id"] for r in sorted(fused, key=lambda r: r["rank"])] == [
        2, 1, 3,
    ]
    # top-k truncation by fused score
    assert RET.rrf_fuse({"bm25": bm, "vec": vec}, k=1).count() == 1
    with pytest.raises(ValueError):
        RET.rrf_fuse({})


def test_hybrid_topk_wiring(spark, docs):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.0, 1.0, 0.0]),
            (4, [0.0, 0.0, 1.0]),
            (7, [1.0, 0.1, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    qv = emb.where("vec_id = 7").selectExpr(
        "vec_id as query_id", "embedding as qvec"
    )
    out = RET.hybrid_topk(docs, emb, ["a", "b"], qv, k=4, pool=3).collect()
    assert set(out[0].asDict()) == {
        "doc_id", "bm25_rank", "vec_rank", "rrf_e6", "rank",
    }
    by_id = {r["doc_id"]: r for r in out}
    # vector arm: 2 ([.9,.1,0]) then 1 ([1,0,0]) are closest to the query
    assert by_id[2]["vec_rank"] == 1 and by_id[1]["vec_rank"] == 2
    # a doc present in both arms outranks one present in a single arm
    both = [r for r in out if r["bm25_rank"] and r["vec_rank"]]
    single = [r for r in out if (r["bm25_rank"] is None) != (r["vec_rank"] is None)]
    assert both and single
    assert max(r["rrf_e6"] for r in single) < max(r["rrf_e6"] for r in both)


def test_bm25_layout_independence(docs):
    a = RET.bm25_topk(docs, ["a", "b", "c"], k=4).collect()
    b = RET.bm25_topk(docs.repartition(7), ["a", "b", "c"], k=4).collect()
    key = lambda rows: sorted(tuple(r) for r in rows)
    assert key(a) == key(b)


def test_pmi_collocations_hand_computed(spark):
    """PMI over the adjacent-bigram stream with positional marginals,
    exact micro-nat floors; min_count suppresses hapax pairs; rank is
    (pmi desc, a, b)."""
    from searchengine_spark.operators.lm import pmi_collocations

    docs = spark.createDataFrame(
        [
            (1, "x y x y x y"),
            (2, "x y z q"),
            (3, "z q z q"),
            (4, "w"),  # no bigrams
        ],
        "doc_id long, text string",
    )
    out = pmi_collocations(docs, min_count=2, k=10).collect()
    # python twin
    corpus = {1: "x y x y x y", 2: "x y z q", 3: "z q z q"}
    pairs: dict = {}
    for t in corpus.values():
        ws = t.split(" ")
        for a, b in zip(ws, ws[1:]):
            pairs[(a, b)] = pairs.get((a, b), 0) + 1
    t_big = sum(pairs.values())
    left: dict = {}
    right: dict = {}
    for (a, b), c in pairs.items():
        left[a] = left.get(a, 0) + c
        right[b] = right.get(b, 0) + c
    expect = {}
    for (a, b), c in pairs.items():
        if c >= 2:
            expect[(a, b)] = math.floor(
                1000000.0
                * math.log((float(c) * t_big) / (float(left[a]) * right[b]))
            )
    got = {(r["a"], r["b"]): r["pmi_e6"] for r in out}
    assert got == expect
    # min_count: only pairs with c_ab >= 2 survive
    assert all(pairs[(r["a"], r["b"])] >= 2 for r in out)
    # rank is dense 1..n by (pmi desc, a, b)
    ranked = sorted(out, key=lambda r: r["rank"])
    assert [r["rank"] for r in ranked] == list(range(1, len(out) + 1))
    assert sorted(
        ((-r["pmi_e6"], r["a"], r["b"]) for r in out)
    ) == [(-r["pmi_e6"], r["a"], r["b"]) for r in ranked]
    # layout independence
    again = pmi_collocations(docs.repartition(7), min_count=2, k=10).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_more_like_this_hand_computed(spark):
    """tf-idf cosine related docs: exact milli-point weights, BIGINT
    dots/norms, excluded zero-norm docs and the query doc itself."""
    corpus = {
        1: "x y z",
        2: "x y q",     # shares x,y with 1
        3: "z z z w",   # shares z
        4: "q w q w",   # shares no term with 1 -> no dot-product row
        5: "c c",       # c appears only here
        6: "x y z",     # identical to 1 -> cosine 1.0
    }
    docs = spark.createDataFrame(
        sorted(corpus.items()), "doc_id long, text string"
    )
    res = RET.more_like_this(docs, 1, k=10)
    out = res.collect()
    # single lineage: no element_at(shuffle([true]),1) barrier
    assert "shuffle(" not in (
        res._jdf.queryExecution().executedPlan().toString()
    )
    # python twin
    n = len(corpus)
    words = {d: t.split(" ") for d, t in corpus.items()}
    from collections import Counter

    df = Counter()
    tfs = {d: Counter(w) for d, w in words.items()}
    for d in corpus:
        for t in set(words[d]):
            df[t] += 1
    w_e3 = {
        (d, t): math.floor(1000.0 * (float(c) * math.log(float(n) / df[t])))
        for d, tf in tfs.items()
        for t, c in tf.items()
    }
    import itertools

    def vec(d):
        return {t: w for (dd, t), w in w_e3.items() if dd == d}

    qv = vec(1)
    expect = {}
    for d in corpus:
        if d == 1:
            continue
        v = vec(d)
        dot = sum(w * qv[t] for t, w in v.items() if t in qv)
        n2 = sum(w * w for w in v.values())
        q2 = sum(w * w for w in qv.values())
        if n2 > 0 and q2 > 0 and dot != 0:
            expect[d] = round(dot / (math.sqrt(q2) * math.sqrt(n2)), 6)
    got = {r["doc_id"]: r["cosine"] for r in out}
    # docs sharing no weighted term have dot 0 rows only if the join hit;
    # python twin keeps only docs the sparse join would produce
    for d, c in got.items():
        assert d in expect and abs(c - expect[d]) < 1e-9, (d, c, expect.get(d))
    # identical doc 6 has cosine 1.0 and rank 1
    best = min(out, key=lambda r: r["rank"])
    assert best["doc_id"] == 6 and abs(best["cosine"] - 1.0) < 1e-9
    # the query doc itself is never returned
    assert 1 not in got
    # layout independence
    again = RET.more_like_this(docs.repartition(5), 1, k=10).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_textrank_keywords_hand_computed(spark):
    """Weighted PageRank over the adjacent-word graph: 3 synchronous
    sweeps from init 1.0, undirected count-weighted edges, no
    self-loops; python twin computes the identical recurrence."""
    from searchengine_spark.operators.pagerank import textrank_keywords

    docs = spark.createDataFrame(
        [(1, "x y x y"), (2, "y z"), (3, "w w q")],
        "doc_id long, text string",
    )
    out = textrank_keywords(docs, k=10, iters=3).collect()
    # python twin: bigrams (x,y)(y,x)(x,y) doc1; (y,z) doc2; (w,w)->drop,
    # (w,q) doc3
    pair: dict = {}
    for t in ["x y x y", "y z", "w w q"]:
        ws = t.split(" ")
        for a, b in zip(ws, ws[1:]):
            if a != b:
                pair[(a, b)] = pair.get((a, b), 0) + 1
    edges: dict = {}
    for (a, b), w in pair.items():
        edges[(a, b)] = edges.get((a, b), 0) + w
        edges[(b, a)] = edges.get((b, a), 0) + w
    wdeg: dict = {}
    for (s, _), w in edges.items():
        wdeg[s] = wdeg.get(s, 0) + w
    nodes = sorted({n for e in edges for n in e})
    rank = {n: 1.0 for n in nodes}
    for _ in range(3):
        contrib = {n: 0.0 for n in nodes}
        for (s, d), w in edges.items():
            contrib[d] += rank[s] * w / wdeg[s]
        rank = {n: 0.15 + 0.85 * contrib[n] for n in nodes}
    expect = {n: round(r, 6) for n, r in rank.items()}
    got = {r["term"]: r["rank"] for r in out}
    assert set(got) == set(expect)
    for n in got:
        assert abs(got[n] - expect[n]) < 2e-6, (n, got[n], expect[n])
    # pos is dense 1..n by (rank desc, term)
    by_pos = sorted(out, key=lambda r: r["pos"])
    assert [r["pos"] for r in by_pos] == list(range(1, len(out) + 1))
    assert sorted(got.items(), key=lambda kv: (-kv[1], kv[0])) == [
        (r["term"], r["rank"]) for r in by_pos
    ]
    # the doubly-linked hub y outranks the leaf q
    assert got["y"] > got["q"]


def test_anchor_boosted_topk_anchor_only_doc_surfaces(spark, docs):
    """BM25F fusion: a doc whose body lacks the query term but whose
    inbound anchors carry it must surface with body_e6=0, scored at
    the integer anchor weight (W_ANCHOR_E2 div 100)."""
    # anchor index: doc 2's page key carries term 'b' from 3 links out
    # of 2 source docs; doc 4's key carries 'a' once.
    anchor_idx = spark.createDataFrame(
        [("k2", "b", 3, 2), ("k4", "a", 1, 1)],
        "target_md5 string, term string, anchor_count long, n_source_docs long",
    )
    doc_keys = spark.createDataFrame(
        [(1, "k1"), (2, "k2"), (3, "k3"), (4, "k4")],
        "doc_id long, doc_key string",
    )
    out = RET.anchor_boosted_topk(
        docs, anchor_idx, doc_keys, ["b"], k=10, w_anchor_e2=150
    ).collect()
    by_doc = {r.doc_id: r for r in out}

    # doc 2's body is "a d" — no 'b' — yet it appears via its anchors
    assert 2 in by_doc and by_doc[2].body_e6 == 0
    # hand-compute the anchor arm: N=2 targets, df('b')=1, tf=3
    idf = math.log(1.0 + (2 - 1 + 0.5) / (1 + 0.5))
    tfn = (3.0 * 2.2) / (3 + 1.2)
    anchor_e6 = math.floor(1000000.0 * (idf * tfn))
    assert by_doc[2].anchor_e6 == anchor_e6
    assert by_doc[2].comb_e6 == (150 * anchor_e6) // 100
    # body-only docs keep pure body scores and zero anchor field
    assert by_doc[1].anchor_e6 == 0 and by_doc[1].body_e6 > 0
    # ranks are 1..n by (comb_e6 desc, doc_id)
    ranked = sorted(out, key=lambda r: (-r.comb_e6, r.doc_id))
    assert [r.rank for r in ranked] == list(range(1, len(out) + 1))
