"""Operator-level semantics tests: dedup families, ANN recall,
pagerank, index/search, multimodal plumbing."""

import numpy as np
import pytest
from hypothesis import Phase, given, settings, strategies as st
from pyspark.sql import functions as F

from searchengine_spark.operators import dedup as DD
from searchengine_spark.operators import index as IX
from searchengine_spark.operators import multimodal as MM
from searchengine_spark.operators import pagerank as PR
from searchengine_spark.operators import similarity as SIM

SF = "/root/testdata/sf0.001"


# ---- dedup ---------------------------------------------------------------

def test_exact_dup_groups(spark):
    df = spark.createDataFrame(
        [("a", "x y z"), ("b", "x y z"), ("c", "q"), ("d", "x y z")],
        "doc_id string, text string",
    )
    got = DD.exact_dup_groups(df).collect()
    assert len(got) == 1
    assert got[0]["n_docs"] == 3 and got[0]["keep_doc_id"] == "a"


def test_minhash_lsh_finds_near_dups_not_distinct(spark):
    """A doc and its 90%-overlap variant must pair; unrelated docs must not."""
    base = " ".join(f"w{i}" for i in range(50))
    near = " ".join(f"w{i}" for i in range(45))
    other = " ".join(f"v{i}" for i in range(50))
    df = spark.createDataFrame(
        [("a", base), ("b", near), ("c", other)], "doc_id string, text string"
    )
    got = DD.minhash_dedup(df, threshold=0.5).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in got}
    assert ("a", "b") in pairs
    assert all("c" not in p for p in pairs)


def test_connected_components_transitive_chain(spark):
    """A~B and B~C must land in ONE group even though A≁C (the
    transitive closure a pairwise dedup can't provide); disjoint pairs
    stay separate; group_id is the component MIN (deterministic keep)."""
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")],
        "doc_a string, doc_b string",
    )
    got = {r["doc_id"]: (r["group_id"], r["group_size"])
           for r in DD.dup_groups(pairs).collect()}
    assert got == {
        "a": ("a", 3), "b": ("a", 3), "c": ("a", 3),
        "x": ("x", 2), "y": ("x", 2),
    }


def test_connected_components_path_graph_converges(spark):
    """Worst-case diameter: a 17-node path (d00-d01-...-d16) plus a
    star, reversed-order edges — the alternating-star loop must reach
    the fixpoint well inside the documented O(log^2 n) bound and label
    everything with the single component min."""
    n = 17
    edges = [(f"d{i + 1:02d}", f"d{i:02d}") for i in range(n - 1)]
    pairs = spark.createDataFrame(edges, "doc_a string, doc_b string")
    cc = DD.connected_components(pairs).collect()
    assert {r["group_id"] for r in cc} == {"d00"}
    assert len(cc) == n


def test_connected_components_empty_and_selfpair(spark):
    pairs = spark.createDataFrame(
        [("a", "a")], "doc_a string, doc_b string"
    )
    got = DD.dup_groups(pairs).collect()
    # self-pairs are dropped; 'a' is still a node -> singleton group
    assert [(r["doc_id"], r["group_id"], r["group_size"]) for r in got] == [
        ("a", "a", 1)
    ]


def test_span_hashes_udf_matches_expr(spark):
    """Arrow-kernel window fingerprints (span_hashes_udf) must equal
    the native hash60-over-slice form for every edge: normal doc,
    exactly one window, short doc (empty array), empty text, NULL."""
    from searchengine_spark.functions.hashes import hash60

    w = DD.SPAN_WINDOW
    df = spark.createDataFrame(
        [
            ("a", "t0 t1 t2 t3 t4 t5 t6 t7"),
            ("b", "t0 t1 t2 t3 t4 t5"),
            ("c", "t0 t1"),
            ("d", ""),
            ("e", None),
        ],
        "doc_id string, text string",
    )
    toks = F.split(F.col("text"), " ")
    npos = F.size(toks) - w + 1
    expr = F.when(
        npos >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(npos, F.lit(1))),
            lambda i: hash60(F.array_join(F.slice(toks, i, w), " ")),
        ),
    ).otherwise(F.array().cast("array<long>"))
    rows = df.select(
        "doc_id", expr.alias("e"), DD.span_hashes_udf(F.col("text")).alias("u")
    ).collect()
    for r in rows:
        assert list(r["e"] or []) == list(r["u"] or []), r["doc_id"]


def test_minhash_udf_matches_expr(spark):
    """Arrow-kernel minhash signatures (minhash_sig_udf — the hot path
    since r6) must equal the native N-window transform form the DuckDB
    twin pins. Covers repeats, single-element, unicode, NULL array."""
    df = spark.createDataFrame(
        [
            ("a", ["x y z", "y z q", "x y z"]),
            ("b", ["solo"]),
            ("c", ["Café 北京", "naïve word"]),
            ("d", None),
        ],
        "doc_id string, sh array<string>",
    )
    expr_cols = [
        F.array_min(
            F.transform(F.transform("sh", lambda w: F.md5(w)), DD._window_of(i))
        ).alias(f"e{i}")
        for i in range(DD.N_MINHASH)
    ]
    rows = df.select(
        "doc_id", *expr_cols, DD.minhash_sig_udf(F.col("sh")).alias("u")
    ).collect()
    for r in rows:
        for i in range(DD.N_MINHASH):
            u = r["u"][i] if r["u"] is not None else None
            assert r[f"e{i}"] == u, (r["doc_id"], i)


def test_simhash_udf_matches_expr(spark):
    """The Arrow kernel (simhash_udf, the hot path since the r6
    optimization round) must stay bit-identical to the native expr —
    which the DuckDB twin (simhash_sql) pins cross-engine. Covers the
    ASCII corpus shape, repeated/empty tokens, non-ASCII words, and
    NULL text (expr folds NULL votes to the all-zero hash)."""
    df = spark.createDataFrame(
        [
            ("a", "x y z q r"),
            ("b", "x  y"),  # empty token from the double space
            ("c", ""),
            ("d", None),
            ("e", "Café 北京大学 mixedCase x x x"),
        ],
        "doc_id string, text string",
    )
    rows = df.select(
        "doc_id",
        DD.simhash_expr("text").alias("e"),
        DD.simhash_udf(F.col("text")).alias("u"),
    ).collect()
    for r in rows:
        assert r["e"] == r["u"], r["doc_id"]


def test_simhash_identical_and_disjoint(spark):
    df = spark.createDataFrame(
        [("a", "x y z q r"), ("b", "x y z q r"), ("c", "m n o p s")],
        "doc_id string, text string",
    )
    rows = df.withColumn("sh", DD.simhash_expr("text")).collect()
    sh = {r["doc_id"]: r["sh"] for r in rows}
    assert sh["a"] == sh["b"]
    assert sh["a"] != sh["c"]
    # 64-bit simhash packed as 16 lowercase hex chars
    assert len(sh["a"]) == 16
    assert int(sh["a"], 16) >= 0


# ---- similarity ----------------------------------------------------------

@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def test_ann_lsh_recall_vs_brute_force(spark, emb):
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    exact = SIM.brute_force_topk(emb, q, k=10)
    approx = SIM.ann_topk(emb, q, k=10)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 16 tables x 6 planes, hamming-1 multi-probe (0.96 measured)
    assert recall >= 0.9, recall


def test_ivf_recall_and_pruning(spark, emb):
    """IVF ANN: nprobe of N_IVF_CENTROIDS cells scanned -> candidates
    must come only from probed cells (pruning is real), and recall vs
    brute force stays useful at nprobe=half the cells."""
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    exact = SIM.brute_force_topk(emb, q, k=10)
    approx = SIM.ivf_topk(emb, q, k=10)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, recall  # nprobe/k = 4/8 of the corpus scanned

    # determinism: a second fit/search run is bit-identical
    again = {(r["query_id"], r["vec_id"]) for r in SIM.ivf_topk(emb, q, k=10).collect()}
    assert a == again

    # the coarse quantizer partitions the corpus: every vector assigned
    # to exactly one cell, cells cover the corpus
    cents = SIM.ivf_fit(emb)
    asg = SIM.ivf_assign(
        emb.select("vec_id", SIM._q6(F.col("embedding")).alias("xi")), cents
    )
    n = emb.count()
    assert asg.count() == n
    assert asg.select("vec_id").distinct().count() == n


def test_ivf_assign_carried_columns_follow_winning_row(spark, emb):
    """ivf_assign must take carried columns from the min-distance row
    deterministically — NOT via first(). A deliberately non-constant
    column within the (replicated) vec_id group must come back with a
    single deterministic value on every run."""
    cents = SIM.ivf_fit(emb)
    base = emb.limit(20).select(
        "vec_id", SIM._q6(F.col("embedding")).alias("xi")
    )
    # non-constant rider: differs per replica after the crossJoin?
    # no — it rides on e, so it IS constant per vec_id; instead pin
    # determinism by checking repeated runs and winning-row extraction
    tagged = base.withColumn("tag", F.concat(F.lit("t"), F.col("vec_id")))
    a = {(r["vec_id"], r["tag"], r["cid"])
         for r in SIM.ivf_assign(tagged, cents).collect()}
    b = {(r["vec_id"], r["tag"], r["cid"])
         for r in SIM.ivf_assign(tagged, cents).collect()}
    assert a == b
    assert all(t == f"t{v}" for v, t, _ in a)
    # plan stays narrow-keyed: grouping on vec_id only, and the agg
    # carries no first() anymore
    plan = SIM.ivf_assign(tagged, cents)._jdf.queryExecution().executedPlan().toString()
    assert "first(" not in plan


def test_no_cartesian_product_in_scale_paths(spark):
    """The dedup/similarity catalog queries must never plan an
    all-pairs product — LSH bucket joins only."""
    from searchengine_spark.queries import QUERIES

    for name in ("dedup_ngram_jaccard", "embedding_near_dups", "ann_lsh",
                 "dedup_minhash"):
        plan = (
            QUERIES[name](spark, SF)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_cosine_expr_matches_numpy(spark, emb):
    rows = emb.limit(4).collect()
    a, b = np.array(rows[0]["embedding"]), np.array(rows[1]["embedding"])
    expected = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    df = spark.createDataFrame(
        [(rows[0]["embedding"], rows[1]["embedding"])],
        "x array<double>, y array<double>",
    )
    got = df.select(SIM.cosine_expr(F.col("x"), F.col("y")).alias("c")).collect()[0]["c"]
    assert abs(got - expected) < 1e-9


# ---- pagerank -------------------------------------------------------------

def test_pagerank_chain_and_conservation(spark):
    # a -> b -> c: rank should accumulate downstream
    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1)], "src string, dst string, out_degree int"
    )
    nodes = spark.createDataFrame([("a",), ("b",), ("c",)], "node string")
    r = {x["node"]: x["rank"] for x in PR.pagerank(edges, nodes, n_iter=10).collect()}
    assert r["a"] < r["b"] < r["c"]
    assert abs(r["a"] - 0.15) < 1e-6  # no in-links -> 1-damping


def test_pagerank_tol_early_stop(spark):
    """tol turns n_iter into a cap: a converged graph stops early with
    the same ranks (within tol); a huge tol stops after one sweep and
    equals the fixed 1-iteration result exactly."""
    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1)], "src string, dst string, out_degree int"
    )
    nodes = spark.createDataFrame([("a",), ("b",), ("c",)], "node string")
    fixed = {x["node"]: x["rank"]
             for x in PR.pagerank(edges, nodes, n_iter=25).collect()}
    early = {x["node"]: x["rank"]
             for x in PR.pagerank(edges, nodes, n_iter=25, tol=1e-7).collect()}
    assert all(abs(fixed[n] - early[n]) < 1e-5 for n in fixed)
    one_fixed = {x["node"]: x["rank"]
                 for x in PR.pagerank(edges, nodes, n_iter=1).collect()}
    one_tol = {x["node"]: x["rank"]
               for x in PR.pagerank(edges, nodes, n_iter=25, tol=1e9).collect()}
    assert one_tol == one_fixed


def test_hits_hand_computed(spark):
    """HITS: exact BIGINT path-count sweeps, single final
    max-normalization; python twin computes the identical recurrence.
    Graph: hub a points at b and c; b points at c — c is the
    authority, a the hub."""
    edges_rows = [("a", "b"), ("a", "c"), ("b", "c")]
    edges = spark.createDataFrame(edges_rows, "src string, dst string")
    out = {r["node"]: (r["authority"], r["hub"]) for r in PR.hits(edges, iters=3).collect()}

    nodes = sorted({n for e in edges_rows for n in e})
    h = {n: 1 for n in nodes}
    for _ in range(3):
        a = {n: 0 for n in nodes}
        for s, d in edges_rows:
            a[d] += h[s]
        h = {n: 0 for n in nodes}
        for s, d in edges_rows:
            h[s] += a[d]
    amax, hmax = max(a.values()), max(h.values())
    expect = {
        n: (round(a[n] / amax, 6), round(h[n] / hmax, 6)) for n in nodes
    }
    assert out == expect
    # c is the top authority, a the top hub; both normalized to 1.0
    assert out["c"][0] == 1.0 and out["a"][1] == 1.0
    assert out["a"][0] == 0.0  # nothing links to a
    assert out["c"][1] == 0.0  # c links nowhere


def test_hits_deep_sweep_overflow_tripwire(spark):
    """Past the documented safe depth (iters > 8), a proven int64 wrap
    (negative path count — counts are nonnegative by construction)
    raises instead of silently normalizing garbage. Fixture: complete
    digraph on 16 nodes (d_max = 15); the uniform scores are exactly
    15^(2t-1)/15^(2t), which wrap NEGATIVE first at t = 10 (at t = 9
    they have already wrapped but land positive — the tripwire is
    one-sided by design, documented in the hits docstring)."""
    n = 16
    rows = [(f"n{i}", f"n{j}") for i in range(n) for j in range(n) if i != j]
    edges = spark.createDataFrame(rows, "src string, dst string")
    with pytest.raises(ArithmeticError, match="overflow"):
        PR.hits(edges, iters=10)
    # the guard does not fire on a deep sweep that stays in range:
    # 3 nodes in a cycle keep every count at 1 forever
    ring = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    out = {r["node"]: r["authority"] for r in PR.hits(ring, iters=10).collect()}
    assert out == {"a": 1.0, "b": 1.0, "c": 1.0}


def test_hits_shallow_wrap_tripwire(spark):
    """ADVICE r5: the wrap hazard depends on degree, not only depth — a
    complete digraph on 256 nodes (d_max = 255) wraps int64 at
    iters=4 (h = 255^8 ≈ 1.79e19 > 2^63, landing negative), far below
    the old iters>8 probe gate. Since r6 the wrap guard rides the
    normalization aggregate at every depth as an in-plan raise_error,
    so the shallow sweep raises instead of silently normalizing
    wrapped counts."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    n = 256
    rows = [(f"n{i}", f"n{j}") for i in range(n) for j in range(n) if i != j]
    edges = spark.createDataFrame(rows, "src string, dst string")
    with pytest.raises(SparkRuntimeException, match="overflow"):
        PR.hits(edges, iters=4).collect()


def test_edges_from_docs_semi_join(spark):
    from searchengine_spark.functions.urls import url_md5_py

    def linkspan(url):
        return {"kind": "link", "text": None, "media_ref": url, "offset": 0}

    docs = spark.createDataFrame(
        [
            (url_md5_py("a.com/1"), [linkspan("http://a.com/2"), linkspan("http://nowhere.com/x")]),
            (url_md5_py("a.com/2"), [linkspan("http://a.com/1"), linkspan("http://a.com/1")]),
        ],
        "url_md5 string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    got = PR.edges_from_docs(docs).collect()
    # nowhere.com dropped (J2 semi-join); duplicate link deduped (A10)
    assert len(got) == 2
    assert all(r["out_degree"] == 1 for r in got)


# ---- index / search --------------------------------------------------------

def test_postings_and_search(spark):
    docs = spark.createDataFrame(
        [
            ("d1", "apple banana apple cherry", "h1"),
            ("d2", "banana cherry banana banana", "h1"),
            ("d3", "apple cherry", "h2"),
        ],
        "doc_id string, text string, host string",
    )
    p = IX.build_postings(docs)
    rows = {(r["term"], r["doc_id"]): r for r in p.collect()}
    assert rows[("apple", "d1")]["tf"] == 2
    assert rows[("apple", "d1")]["first_pos"] == 1
    assert rows[("banana", "d2")]["tf"] == 3


def test_small_postings_max_rank(spark):
    docs = spark.createDataFrame(
        [("d1", "abcdefghXX abcdefghXX abcdefghYY")], "doc_id string, text string"
    )
    p = IX.build_postings(docs)
    s = IX.build_small_postings(p).collect()
    assert len(s) == 1  # both truncate to 'abcdefgh'; max-rank instance kept
    assert s[0]["tf"] == 2  # the XX one (tf 2 > tf 1)


# ---- multimodal -------------------------------------------------------------

def test_media_features_shape_and_determinism(spark):
    media = MM.synth_media_df(spark, SF).limit(20)
    f1 = MM.extract_media_features(media).collect()
    f2 = MM.extract_media_features(media).collect()
    assert len(f1) == 20
    for r in f1:
        assert len(r["features"]) == MM.FEATURE_DIM
        assert abs(sum(r["features"]) - 1.0) < 1e-3
    assert sorted(map(str, f1)) == sorted(map(str, f2))


def test_media_stats_prunes_payload(spark, tmp_path):
    """Metadata aggregate must not read the binary payload column."""
    path = str(tmp_path / "media.parquet")
    MM.synth_media_df(spark, SF).write.mode("overwrite").parquet(path)
    plan = MM.media_stats(spark.read.parquet(path))._jdf.queryExecution().executedPlan().toString()
    assert "payload" not in plan


def test_media_dedup_groups_byte_identical_payloads(spark):
    """media_dedup keys on a pure function of the payload BYTES: the
    injected 'dup'||doc_id copies (every 10th doc) must land in the same
    group as their originals, the kept id must be the (string-)min which
    is always the original, and no group may mix distinct payloads."""
    from searchengine_spark import queries as Q

    rows = Q.QUERIES["media_dedup"](spark, SF).collect()
    n_dup_sources = (
        MM.synth_media_df(spark, SF)
        .where(F.col("doc_id").cast("long") % 10 == 0)
        .select("payload")
        .distinct()
        .count()
    )
    assert len(rows) == n_dup_sources
    for r in rows:
        assert r["n_copies"] >= 2
        assert not r["keep_doc_id"].startswith("dup")


def _make_bmp_24(pixels_topdown, width, height, bottom_up=True):
    """Build a real uncompressed 24-bpp BMP byte-for-byte: 14-byte file
    header + 40-byte BITMAPINFOHEADER + padded pixel rows."""
    row_bytes = width * 3
    stride = (row_bytes + 3) & ~3
    rows = [
        bytes(pixels_topdown[r * row_bytes : (r + 1) * row_bytes])
        + b"\x00" * (stride - row_bytes)
        for r in range(height)
    ]
    if bottom_up:
        rows = rows[::-1]
    data = b"".join(rows)
    off = 54
    hdr = (
        b"BM"
        + (off + len(data)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + width.to_bytes(4, "little", signed=True)
        + (height if bottom_up else -height).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(data).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return hdr + data


def test_decode_bmp_real_format(spark):
    """A REAL decode on the multimodal path: a hand-built 24-bpp BMP
    (bottom-up storage, padded rows) decodes to its exact pixel bytes,
    both directly and end-to-end through the mapInPandas feature
    extractor."""
    # 2x2 image, known BGR bytes, top-down order
    px = [0, 0, 255, 0, 255, 0, 255, 0, 0, 200, 200, 200]
    bmp = _make_bmp_24(px, 2, 2, bottom_up=True)
    got = MM.decode_bmp(bmp)
    assert got.tolist() == [float(b) for b in px]
    # top-down (negative height) variant decodes identically
    bmp_td = _make_bmp_24(px, 2, 2, bottom_up=False)
    assert MM.decode_bmp(bmp_td).tolist() == got.tolist()
    # dispatch: decode_media routes BMP to the real decoder
    assert MM.decode_media(bmp, "image/bmp").tolist() == got.tolist()

    media = spark.createDataFrame(
        [("mb1", "doc1", "image/bmp", 2, 2, len(bmp), bytearray(bmp))],
        MM.MEDIA_SCHEMA,
    )
    feats = MM.extract_media_features(media).collect()
    assert len(feats) == 1
    hist, _ = np.histogram(
        np.array(px, dtype=np.float64), bins=MM.FEATURE_DIM, range=(0, 256)
    )
    expect = np.round(hist / hist.sum(), 6).tolist()
    assert feats[0]["features"] == expect


def test_parse_query_and_search_query(spark):
    from searchengine_spark.operators.index import parse_query, search_query

    assert parse_query('apple "banana cherry" pre*') == [
        {"term": "apple", "kind": "word"},
        {"term": "banana cherry", "kind": "phrase"},
        {"term": "pre", "kind": "prefix"},
    ]
    docs = spark.createDataFrame(
        [("d1", "apple banana cherry", "h1"), ("d2", "apple pear", "h2")],
        "doc_id string, text string, host string",
    )
    p = IX.build_postings(docs)
    got = search_query(p, '"apple banana"', docs.select("doc_id", "host"))
    assert [r["doc_id"] for r in got.collect()] == ["d1"]
    got2 = search_query(p, "pea*", docs.select("doc_id", "host"))
    assert [r["doc_id"] for r in got2.collect()] == ["d2"]


def test_search_query_prefix_probe_batched(spark):
    """All prefix terms share ONE expansion probe action: building a
    3-prefix query fires exactly as many driver jobs as a 1-prefix
    query (the old path paid one collect per prefix term), and the
    expansion semantics are unchanged — most-common dict word wins,
    a count tie goes to the lexicographically first word, and a
    no-match prefix is dropped without consuming a term slot or
    blocking the AND over the other terms."""
    p = spark.createDataFrame(
        [
            ("pear", "d1", 1, 0.5), ("pear", "d2", 2, 0.4),
            ("peach", "d1", 3, 0.3),
            ("tart", "d1", 4, 0.2), ("tame", "d2", 5, 0.1),
        ],
        "term string, doc_id string, pos int, rank double",
    )
    sc = spark.sparkContext

    def probe_jobs(group, q):
        sc.setJobGroup(group, "prefix expansion probe")
        df = IX.search_query(p, q)
        sc.setJobGroup(None, None)
        return df, len(sc.statusTracker().getJobIdsForGroup(group))

    _, n1 = probe_jobs("pref1", "pea*")
    df3, n3 = probe_jobs("pref3", "pea* ta* zzz*")
    assert n3 == n1, f"probe jobs scale with prefix count: {n1} -> {n3}"

    # pea* -> pear (2 postings beat peach's 1); ta* -> tame (tie with
    # tart at 1 posting each resolves lexicographically); zzz* matches
    # no dict word and is dropped, so the AND is (pear, tame) = d2 only
    assert {r["doc_id"] for r in df3.collect()} == {"d2"}
    # dropped prefix consumed no term slot: scores equal the explicit
    # two-word query's
    explicit = {r["doc_id"]: r["score"] for r in IX.search_query(p, "pear tame").collect()}
    got = {r["doc_id"]: r["score"] for r in df3.collect()}
    assert got == explicit


# ---- weighted dict (getWords parity) ----------------------------------------

def _sections_df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, url string, title string, body string"
    )


def test_weighted_postings_weight_model(spark):
    """Hand-computed getWords semantics: section weights 40/100/1,
    capitalFactor 4, defactor 0.999 per accepted token, stop words
    dropped (but occupying a position), max-rank occurrence wins,
    rank normalized by the doc's total."""
    docs = _sections_df(
        spark, [("d1", "x.io/Q", "Alpha beta", "beta gamma the alpha")]
    )
    got = {r["term"]: r for r in IX.build_weighted_postings(docs).collect()}
    d = 0.999
    w = {
        "x.io": 40.0 * d**0,          # pos 1
        "q": 40.0 * 4 * d**1,         # pos 2, capital
        "alpha": 100.0 * 4 * d**2,    # pos 3 (title, capital) beats body pos 8
        "beta": 100.0 * d**3,         # pos 4 (title) beats body pos 5
        "gamma": 1.0 * d**5,          # pos 6 ('the' at 7 holds a position)
    }
    tot = sum(w.values())
    assert set(got) == set(w)
    for term, exp in w.items():
        assert got[term]["rank"] == round(exp / tot, 6), term
    assert got["alpha"]["pos"] == 3
    assert got["beta"]["pos"] == 4
    assert got["gamma"]["pos"] == 6


def test_weighted_postings_max_words_cap(spark):
    """The scan stops once max_words distinct words were inserted
    (SearchEngine.cpp:466): later tokens — updates included — vanish."""
    docs = _sections_df(spark, [("d1", "", "", "aa bb cc dd AA")])
    got = {r["term"] for r in
           IX.build_weighted_postings(docs, max_words=3).collect()}
    assert got == {"aa", "bb", "cc"}
    # and the capital 'AA' at pos 5 did NOT update aa's rank
    full = {r["term"]: r["rank"] for r in
            IX.build_weighted_postings(docs, max_words=3).collect()}
    uncapped = {r["term"]: r["rank"] for r in
                IX.build_weighted_postings(docs).collect()}
    assert uncapped["aa"] > full["aa"]  # uncapped sees the 4x capital update


def test_style_weight_blocks(spark):
    """SearchEngine.cpp:307,455-457: <b>/<h1..h6> amplify the section
    base weight. Same text, one doc with the second word bold: the
    styled doc's ranking flips relative to the plain doc."""
    from pyspark.sql import Row, functions as F

    def blocks(mult):
        return [Row(text="alpha", w=1.0), Row(text="beta", w=1.0 * mult)]

    docs = spark.createDataFrame(
        [("plain", blocks(1.0)), ("bold", blocks(IX.STYLE_MULTS["b"]))],
        "doc_id string, blocks array<struct<text string, w double>>",
    )
    got = {
        (r["doc_id"], r["term"]): r["rank"]
        for r in IX.build_weighted_postings(docs, blocks_col="blocks").collect()
    }
    # plain: alpha (w=1) outranks beta (w=0.999 after decay)
    assert got[("plain", "alpha")] > got[("plain", "beta")]
    # bold: beta (w=2*0.999) outranks alpha (w=1)
    assert got[("bold", "beta")] > got[("bold", "alpha")]
    # h1..h6 multipliers are the reference's exact table
    assert IX.STYLE_MULTS["h1"] == 4.0 and IX.STYLE_MULTS["h6"] == 0.8


def test_expand_word_term_boundary_rule(spark):
    """SearchEngine.h:404-414: prefix hit only counts when the next
    char is not an ASCII letter."""
    p = spark.createDataFrame(
        [("sort", "d1", 1, 0.5), ("sorted", "d2", 1, 0.5),
         ("sort.x", "d3", 1, 0.5), ("sort9", "d4", 1, 0.5)],
        "term string, doc_id string, pos int, rank double",
    )
    got = {r["term"] for r in IX.expand_word_term(p, "sort").collect()}
    assert got == {"sort", "sort.x", "sort9"}  # NOT 'sorted'


def test_search_top2_posranks_and_min_posdiff(spark):
    """PosRanks keeps the best two postings per (doc, term); the
    proximity uses the min |p-q| over kept pairs."""
    p = spark.createDataFrame(
        [
            # term 'ho' expands to ho1/ho2/ho3 on d1: top-2 = 0.5+0.3
            ("ho1", "d1", 10, 0.5), ("ho2", "d1", 50, 0.3), ("ho3", "d1", 2, 0.1),
            ("zz", "d1", 49, 0.2),  # min diff vs {10, 50} = 1
        ],
        "term string, doc_id string, pos int, rank double",
    )
    got = IX.search_weighted(p, ["ho", "zz"], k=10).collect()
    assert len(got) == 1
    # score = (0.8 + 0.2) * 0.9^(1-1)  -> 1.0
    assert got[0]["score"] == 1.0


def test_small_dict_routing(spark):
    """PageSearcher.cpp:412-419 + DictWordSmall cmp (Phrase=false,
    SearchEngine.h:389-404): a short query word uses the small dict's
    EXACT range when non-empty (losing the main dict's boundary
    expansions), falls back to the main dict when absent, and finds
    8-byte truncations of long words the main boundary rule rejects."""
    p = spark.createDataFrame(
        [("ho", "d1", 1, 0.5), ("ho9", "d2", 1, 0.4),
         ("verylongword", "d3", 7, 0.3)],
        "term string, doc_id string, pos int, rank double",
    )
    small = IX.build_small_postings(p, pos_col="pos")

    # exact small hit: 'ho' matches ONLY d1 (main-only would add d2
    # through the digit-boundary expansion ho9)
    assert {r["doc_id"] for r in
            IX.search_weighted(p, ["ho"], k=10, small=small).collect()} == {"d1"}
    assert {r["doc_id"] for r in
            IX.search_weighted(p, ["ho"], k=10).collect()} == {"d1", "d2"}

    # truncation-only hit: 'verylong' (8 chars) is no main-dict word
    # and its boundary expansion is rejected (next char 'w' a letter),
    # but the small dict's 8-byte truncation of verylongword finds d3
    got = IX.search_weighted(p, ["verylong"], k=10, small=small).collect()
    assert {r["doc_id"] for r in got} == {"d3"}
    assert got[0]["score"] == 0.3
    assert IX.search_weighted(p, ["verylong"], k=10).count() == 0

    # a query word longer than SMALLWORDSIZE never probes the small
    # dict: the full word still resolves through the main dict
    assert IX.search_weighted(p, ["verylongword"], k=10, small=small).count() == 1


def test_search_query_small_routing_and_no_probe_actions(spark):
    """search_query word terms route through the small/main dict in ONE
    plan: (a) routing semantics match search_weighted's (exact small
    range wins, absent term falls back to the main dict); (b) building
    the query plan fires ZERO Spark jobs — the old per-term
    route_small() probe cost one limit(1).count() action per short
    word (statusTracker-asserted)."""
    p = spark.createDataFrame(
        [("ho", "d1", 1, 0.5), ("ho9", "d2", 1, 0.4),
         ("verylongword", "d3", 7, 0.3)],
        "term string, doc_id string, pos int, rank double",
    )
    small = IX.build_small_postings(p, pos_col="pos")

    sc = spark.sparkContext
    sc.setJobGroup("sq_build", "plan construction must be action-free")
    df_hit = IX.search_query(p, "ho", small=small)
    df_fallback = IX.search_query(p, "verylong", small=small)
    sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("sq_build") == []

    # exact small hit: only d1 (main-only would add d2 via ho9)
    assert {r["doc_id"] for r in df_hit.collect()} == {"d1"}
    # truncation-only hit through the small dict
    assert {r["doc_id"] for r in df_fallback.collect()} == {"d3"}
    # absent from small AND > SMALLWORDSIZE: main dict resolves it
    assert IX.search_query(p, "verylongword", small=small).count() == 1


def test_search_max_search_cap(spark):
    """PageSearcher.cpp:425: per-term postings capped before the join."""
    p = spark.createDataFrame(
        [("t", f"d{i}", 1, float(5 - i)) for i in range(4)],
        "term string, doc_id string, pos int, rank double",
    )
    got = {r["doc_id"] for r in
           IX.search_weighted(p, ["t"], k=10, max_search=2).collect()}
    assert got == {"d0", "d1"}


def test_phrase_doc_matches_adjacency(spark):
    toks = spark.createDataFrame(
        [("A", "new", 1), ("A", "york", 2),
         ("B", "new", 1), ("B", "x", 2), ("B", "york", 3),
         # C: 'of' was a stop word occupying position 2
         ("C", "statue", 1), ("C", "liberty", 3)],
        "doc_id string, word string, position int",
    )
    got = {r["doc_id"] for r in
           IX.phrase_doc_matches(toks, ["new", "york"]).collect()}
    assert got == {"A"}
    got2 = {r["doc_id"] for r in
            IX.phrase_doc_matches(toks, ["statue", "of", "liberty"]).collect()}
    assert got2 == {"C"}


def test_utf8_tokenizer_asymmetry(spark):
    """P7 (getWords, SearchEngine.cpp:407-447 + getNextUTF8Len,
    SearchEngine.h:167-194): an ASCII word stops at a non-ASCII byte,
    a word STARTING non-ASCII absorbs trailing ASCII word chars, C
    tolower touches ASCII only, and capital is only set in the ASCII
    branch."""
    docs = spark.createDataFrame(
        [("d1", "", "Café naïve Über 北京大学x", "")],
        "doc_id string, url string, title string, body string",
    )
    got = [
        (r["word"], r["capital"])
        for r in IX.tokenize_sections(docs).orderBy("position").collect()
    ]
    assert got == [
        ("caf", True),
        ("é", False),
        ("na", False),
        ("ïve", False),
        ("Über", False),  # tolower is ASCII-only; non-ASCII start => no capital
        ("北京大学x", False),  # non-ASCII word absorbs trailing ASCII
    ]


def test_tokenizer_ascii_fast_path_equivalence(spark):
    """The octet_length==length fast path must extract the identical
    token sequence the full two-branch alternation would: the
    non-ASCII alternative can never fire on pure-ASCII input, and any
    row with a multi-byte char must still take the full regex."""
    texts = [
        "Plain ASCII with.dots and CAPS 123",
        "",
        "...",
        "Café naïve Über 北京大学x",
        "mixed ascii première ASCII tail",
        "a" * 50 + " trailing",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    fast = F.when(
        F.octet_length("s") == F.length("s"),
        F.regexp_extract_all("s", F.lit(IX._ASCII_TOKEN_RE), F.lit(0)),
    ).otherwise(F.regexp_extract_all("s", F.lit(IX._TOKEN_RE), F.lit(0)))
    full = F.regexp_extract_all("s", F.lit(IX._TOKEN_RE), F.lit(0))
    rows = df.select(fast.alias("fast"), full.alias("full")).collect()
    for r in rows:
        assert r["fast"] == r["full"]


def test_repeated_spans_maximal_merge(spark):
    """Substring-level dedup: a passage pasted into two otherwise
    distinct docs surfaces as ONE maximal span per doc (overlapping
    fixed-length windows merge); two repeated passages separated by
    unique text stay TWO spans; a doc with no shared passage emits
    nothing; short docs (< window tokens) are safe."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    other = "iota kappa lambda mu nu xi omicron pi"  # 8 tokens, also shared
    docs = spark.createDataFrame(
        [
            # d0: shared at tokens 3..10, other at 14..21 (two spans)
            (0, "u0 u1 " + shared + " v0 v1 v2 " + other + " v3"),
            # d1: shared at 1..8 (one span at doc start)
            (1, shared + " w0 w1 w2 w3 w4"),
            # d2: other at 4..11 (one span)
            (2, "x0 x1 x2 " + other + " x3 x4"),
            # d3: wholly unique -> no spans
            (3, "q0 q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11"),
            # d4: shorter than the window -> zero windows, no crash
            (4, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    import searchengine_spark.operators.dedup as DD

    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in DD.repeated_spans(docs, window=6).collect()
    }
    assert got == {
        (0, 3, 10, 8),
        (0, 14, 21, 8),
        (1, 1, 8, 8),
        (2, 4, 11, 8),
    }


# ---- temporal ---------------------------------------------------------------

def test_asof_join_semantics(spark):
    """Backward-inclusive as-of: equal timestamps match; later right
    rows never leak; keys with no eligible right row keep NULLs; at a
    (key, ts) collision on the right the LARGEST tiebreak wins
    (running last() over the tiebreak ordering), deterministically."""
    from searchengine_spark.operators import temporal as TP

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c"), (3, 7, "d")],
        "k long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 10, "r10"), (1, 15, "r15"), (1, 15, "r15b"), (2, 99, "r99")],
        "k long, ts long, rtag string",
    )
    out = TP.asof_join(
        left, right, key="k", left_ts="ts", right_ts="ts",
        right_payload=["rtag", "ts"], tiebreak="rtag",
    )
    got = {(r["k"], r["ts"]): (r["rtag_r"], r["ts_r"]) for r in out.collect()}
    assert got[(1, 10)] == ("r10", 10)        # inclusive at equal ts
    assert got[(1, 20)] == ("r15b", 15)       # max tiebreak at the tie
    assert got[(2, 5)] == (None, None)        # right row is in the future
    assert got[(3, 7)] == (None, None)        # key absent on the right
    assert out.count() == 4                   # exactly one row per left row


def test_rollup_time_one_pass_consistency(spark):
    """Day rows must equal the sum of their hour rows, and the whole
    rollup is ONE grouping-sets aggregate (single shuffle), not one
    job per resolution."""
    from searchengine_spark.operators import temporal as TP

    ev = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "v", (F.col("value") * 100).cast("long")
    )
    r = TP.rollup_time(ev, ts="ts", group="event_type", value="v").collect()
    day = {(x["g"], x["day"]): (x["n_events"], x["sum_value"])
           for x in r if x["resolution"] == "day"}
    from collections import defaultdict
    acc = defaultdict(lambda: [0, 0])
    for x in r:
        if x["resolution"] == "hour":
            a = acc[(x["g"], x["day"].replace(hour=0))]
            a[0] += x["n_events"]
            a[1] += x["sum_value"]
    assert day == {k: (v[0], v[1]) for k, v in acc.items()}
    plan = TP.rollup_time(ev, ts="ts", group="event_type", value="v") \
        ._jdf.queryExecution().executedPlan().toString()
    import re
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_quantiles_interpolation_definition(spark):
    """Spark ``percentile`` must implement the interpolated-rank
    definition rank = q*(n-1) (numpy's method="linear") — the same
    definition DuckDB's quantile_cont uses, which is what makes the
    events_quantiles oracle a comparison of two INDEPENDENT
    implementations rather than a tautology."""
    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = df.agg(
        F.expr("percentile(v, array(0.25D, 0.5D, 0.9D, 0.99D))").alias("p")
    ).collect()[0]["p"]
    want = np.percentile(vals, [25, 50, 90, 99], method="linear")
    assert np.allclose(got, want, atol=1e-12)


def test_embedding_clusters_partition_and_exact_inertia(spark):
    """embedding_clusters is a true partition of the corpus (members
    sum to n, every vec assigned once) and its inertia is the EXACT
    integer sum of e6^2 squared distances — recomputed independently
    here in numpy int64 from the fitted centroids."""
    from searchengine_spark import queries as Q

    e = Q._emb(spark, "/root/testdata/sf0.001")
    n = e.count()
    prof = SIM.embedding_clusters(e).collect()
    assert sum(r["n_members"] for r in prof) == n
    assert len({r["cid"] for r in prof}) == len(prof)

    cents = {
        r["cid"]: np.array(r["cvec"], dtype=np.int64)
        for r in SIM.ivf_fit(e).collect()
    }
    asg = SIM.ivf_assign(
        e.select("vec_id", SIM._q6(F.col("embedding")).alias("xi")),
        SIM.ivf_fit(e),
        keep_dist=True,
    ).collect()
    inertia = {}
    for r in asg:
        xi = np.array(r["xi"], dtype=np.int64)
        d = xi - cents[r["cid"]]
        want = int((d * d).sum())
        assert want == r["d2"]  # keep_dist emits the exact winner distance
        inertia[r["cid"]] = inertia.get(r["cid"], 0) + want
    assert {r["cid"]: r["inertia_e12"] for r in prof} == inertia


def test_semdedup_clones_share_cluster_and_match_lsh(spark):
    """SemDeDup ground truth: an exact clone has identical e6
    quantization -> identical centroid distances -> (ties -> min cid)
    the SAME cluster, so cluster-bounded search can never miss a
    clone pair. On the clone-augmented corpus the semdedup pair set
    must equal the LSH near-dup pair set at the same threshold — two
    independent candidate generators, one ground truth."""
    from searchengine_spark import queries as Q

    aug = Q._emb_aug(spark, "/root/testdata/sf0.001")
    sd = SIM.semdedup_pairs(aug, threshold=0.999)
    sd_pairs = {(r["vec_a"], r["vec_b"]) for r in sd.collect()}
    lsh = SIM.embedding_near_dups(aug, threshold=0.999)
    lsh_pairs = {(r["vec_a"], r["vec_b"]) for r in lsh.collect()}
    assert sd_pairs == lsh_pairs
    assert sd_pairs  # non-vacuous: the planted clones are found
    # every planted clone pair present
    clones = {
        (r["vec_id"], r["vec_id"] + 100000)
        for r in aug.where((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 500)).collect()
    }
    assert clones <= sd_pairs


def test_search_weighted_batch_matches_single(spark):
    """Every arm of a batched search returns exactly the single-query
    search_weighted rows (plus query_id) — term sharing and the one
    shared pivot must not change any score, host dedup, or AND
    semantics — and the batch stays a single lineage (no per-query
    branches)."""
    p = spark.createDataFrame(
        [
            ("alpha", "d1", 10, 0.5), ("beta", "d1", 12, 0.3),
            ("alpha", "d2", 1, 0.4), ("beta", "d2", 9, 0.2),
            ("gamma", "d2", 3, 0.6), ("alpha", "d3", 5, 0.7),
            ("gamma", "d3", 6, 0.1), ("beta", "d4", 2, 0.9),
        ],
        "term string, doc_id string, pos int, rank double",
    )
    meta = spark.createDataFrame(
        [("d1", "h1"), ("d2", "h1"), ("d3", "h2"), ("d4", "h3")],
        "doc_id string, host string",
    )
    queries = {
        "ab": ["alpha", "beta"],
        "ag": ["alpha", "gamma"],
        "b": ["beta"],
        "abg": ["alpha", "beta", "gamma"],
    }
    batch = IX.search_weighted_batch(p, queries, meta, k=10)
    by_q: dict = {}
    for r in batch.collect():
        by_q.setdefault(r["query_id"], set()).add(
            (r["doc_id"], r["score"], r["host"], r["n_more_from_host"])
        )
    for qid, terms in queries.items():
        single = {
            (r["doc_id"], r["score"], r["host"], r["n_more_from_host"])
            for r in IX.search_weighted(p, terms, meta, k=10).collect()
        }
        assert single, qid  # non-vacuous fixture: every arm has hits
        assert by_q.get(qid, set()) == single, qid
    # r6: the batch tier is a SINGLE lineage (one pivot over the union
    # of all queries' terms, per-query scores as projection columns) —
    # the executed plan must carry exactly the tag-array explode and
    # the per-query-struct explode, NOT one tagged pass per query (the
    # pre-r6 per-branch+barrier form re-evaluated the whole dict build
    # per query at runtime: AQE never reused the barrier'd exchange
    # because self-union dedup re-aliases each branch's subtree).
    final = (
        batch._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    n_gen = final.count("Generate")
    assert n_gen <= 2, (
        f"search_weighted_batch's single-lineage shape regressed: "
        f"{n_gen} Generate nodes in the final plan (expected <= 2: tag "
        "explode + query-struct explode) — per-query branches are back "
        "and each one re-evaluates the dict build"
    )
    with pytest.raises(ValueError):
        IX.search_weighted_batch(p, {"bad": ["alpha", "alpha"]})


def test_search_batch_joined_matches_branch_form(spark):
    """The request-log-scale tier (queries as a TABLE, fixed-size plan,
    grouped-aggregate scoring) returns row-identical results to the
    per-branch search_weighted_batch — including the main dict's
    prefix+boundary expansion ('alpha' matches 'alpha.x' but never
    'alphabet'), the per-term max_search cap, host dedup, and the
    single-term coRank=1 guard (sequence(1,0) counts DOWN in Spark —
    the size<2 branch must short-circuit it)."""
    p = spark.createDataFrame(
        [
            ("alpha", "d1", 10, 0.5), ("beta", "d1", 12, 0.3),
            ("alpha", "d2", 1, 0.4), ("beta", "d2", 9, 0.2),
            ("gamma", "d2", 3, 0.6), ("alpha", "d3", 5, 0.7),
            ("gamma", "d3", 6, 0.1), ("beta", "d4", 2, 0.9),
            ("alpha.x", "d5", 4, 0.8), ("beta", "d5", 7, 0.1),
            ("alphabet", "d6", 2, 0.9), ("beta", "d6", 3, 0.2),
        ],
        "term string, doc_id string, pos int, rank double",
    )
    meta = spark.createDataFrame(
        [("d1", "h1"), ("d2", "h1"), ("d3", "h2"),
         ("d4", "h3"), ("d5", "h4"), ("d6", "h4")],
        "doc_id string, host string",
    )
    queries = {
        "ab": ["alpha", "beta"],
        "ag": ["alpha", "gamma"],
        "b": ["beta"],
        "abg": ["alpha", "beta", "gamma"],
    }
    qdf = IX.queries_table(spark, queries)

    def keyed(df, cols):
        out: dict = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(tuple(r[c] for c in cols))
        return out

    cols = ("doc_id", "score", "host", "n_more_from_host")
    b = keyed(IX.search_weighted_batch(p, queries, meta, k=10), cols)
    j = keyed(IX.search_batch_joined(p, qdf, meta, k=10), cols)
    assert b == j
    # boundary semantics rode through the join-key expansion
    assert any(d == "d5" for d, *_ in j["ab"])
    assert not any(d == "d6" for d, *_ in j["ab"])
    # capped, no-meta: compare per-query against search_weighted
    # (queries whose AND fails under the cap simply emit no rows)
    jc = keyed(IX.search_batch_joined(p, qdf, None, k=10, max_search=2),
               ("doc_id", "score"))
    for qid, terms in queries.items():
        single = {
            (r["doc_id"], r["score"])
            for r in IX.search_weighted(p, terms, None, k=10, max_search=2).collect()
        }
        assert jc.get(qid, set()) == single, qid
    with pytest.raises(ValueError):
        IX.queries_table(spark, {"bad": ["alpha", "alpha"]})


def test_search_batch_joined_plan_is_batch_size_invariant(spark):
    """The whole point of the joined tier: doubling the batch must not
    grow the plan (the per-branch form adds a scoring subplan per
    query). Pin exchange count equal across a 4-query and an 8-query
    batch."""
    p = spark.createDataFrame(
        [("alpha", "d1", 1, 0.5), ("beta", "d2", 2, 0.4)],
        "term string, doc_id string, pos int, rank double",
    )
    q4 = {f"q{i}": ["alpha", "beta"] for i in range(4)}
    q8 = {f"q{i}": ["alpha", "beta"] for i in range(8)}

    def n_exchanges(queries):
        df = IX.search_batch_joined(p, IX.queries_table(spark, queries))
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange")

    assert n_exchanges(q4) == n_exchanges(q8)


def test_bigram_lm_hand_computed(spark):
    """Hand-computed add-one bigram NLL: counts, smoothing denominator,
    per-bigram e6 floor, integer sum and integer-division average all
    pinned on a 2-doc fixture."""
    from searchengine_spark.operators import lm as LMO

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "b a")], "doc_id int, text string"
    )
    model = LMO.fit_bigram_lm(docs)
    pair = {(r["a"], r["b"]): r["c_ab"] for r in model.pair_counts.collect()}
    ctx = {r["a"]: r["c_a"] for r in model.ctx_counts.collect()}
    assert pair == {("a", "b"): 1, ("b", "a"): 2}
    assert ctx == {"a": 1, "b": 2}
    assert model.vocab.collect()[0]["vsz"] == 2

    got = {r["doc_id"]: r for r in LMO.score_bigram_lm(docs, model).collect()}
    # d1: (a,b) P=2/3 -> floor(1e6*ln(2/3)) = -405466
    #     (b,a) P=3/4 -> floor(1e6*ln(3/4)) = -287683
    assert got[1]["n_bigrams"] == 2
    assert got[1]["nll_e6"] == 405466 + 287683
    assert got[1]["avg_nll_e6"] == (405466 + 287683) // 2
    assert got[2]["n_bigrams"] == 1
    assert got[2]["nll_e6"] == 287683

    # train/score split: unseen pair AND unseen context take the
    # smoothed 1/(0+V) path through the left joins
    target = spark.createDataFrame([(3, "c a"), (4, "x")], "doc_id int, text string")
    sc = {r["doc_id"]: r for r in LMO.score_bigram_lm(target, model).collect()}
    assert sc[3]["nll_e6"] == 693148  # -floor(1e6*ln(1/2))
    assert 4 not in sc  # single-token doc: no bigrams, absent by contract


def test_kn_bigram_lm_hand_computed(spark):
    """Interpolated-KN arithmetic against an independent python
    computation on a corpus small enough to enumerate: pair/context/
    continuation counts, the 4x-scaled discount, the +1/+V continuation
    floor, and the exact per-bigram integer micro-nat floors."""
    import math

    from searchengine_spark.operators import lm as LM

    docs = spark.createDataFrame(
        [("d1", "x y x z"), ("d2", "x y")], "doc_id string, text string"
    )
    model = LM.fit_kn_bigram_lm(docs)  # min_count=1: no trimming
    # bigrams: d1 -> (x,y),(y,x),(x,z); d2 -> (x,y)
    pair = {(r["a"], r["b"]): r["c_ab"] for r in model.pair_counts.collect()}
    assert pair == {("x", "y"): 2, ("y", "x"): 1, ("x", "z"): 1}
    ctx = {r["a"]: (r["c_a"], r["n1a"]) for r in model.ctx.collect()}
    assert ctx == {"x": (3, 2), "y": (1, 1)}
    cont = {r["b"]: r["n1b"] for r in model.cont.collect()}
    assert cont == {"y": 1, "x": 1, "z": 1}
    tot = model.totals.collect()[0]
    assert (tot["t_types"], tot["vsz"]) == (3, 3 + 1)  # 3 types; V=3+unk

    def lp(c_ab, c_a, n1a, n1b, tv=3 + 4):
        if c_a is None:
            return math.floor(1e6 * math.log((n1b + 1) / tv))
        num = max(4 * c_ab - 3, 0) * tv + 3 * n1a * (n1b + 1)
        return math.floor(1e6 * math.log(num / (4 * c_a * tv)))

    want = {
        "d1": [lp(2, 3, 2, 1), lp(1, 1, 1, 1), lp(1, 3, 2, 1)],
        "d2": [lp(2, 3, 2, 1)],
    }
    got = {
        r["doc_id"]: (r["n_bigrams"], r["nll_e6"], r["avg_nll_e6"])
        for r in LM.score_kn_bigram_lm(docs, model).collect()
    }
    for d, lps in want.items():
        nll = -sum(lps)
        assert got[d] == (len(lps), nll, nll // len(lps)), d


def test_kn_bigram_lm_unseen_and_trimmed(spark):
    """Split train/score: an unseen CONTEXT takes the pure-continuation
    path, an unseen pair under a seen context takes the discounted
    back-off, and min_count=2 trims singletons to '<unk>' on both
    bigram sides (train and score mapped through the SAME kept table)."""
    import math

    from searchengine_spark.operators import lm as LM

    train = spark.createDataFrame(
        [("t1", "a b a b c"), ("t2", "a b a")], "doc_id string, text string"
    )
    # word counts: a=5, b=4, c=1 -> min_count=2 keeps {a, b}; c -> <unk>
    model = LM.fit_kn_bigram_lm(train, min_count=2)
    assert {r["w"] for r in model.kept.collect()} == {"a", "b"}
    pair = {(r["a"], r["b"]): r["c_ab"] for r in model.pair_counts.collect()}
    # mapped bigrams: t1 (a,b),(b,a),(a,b),(b,<unk>); t2 (a,b),(b,a)
    assert pair == {("a", "b"): 3, ("b", "a"): 2, ("b", "<unk>"): 1}
    tot = model.totals.collect()[0]
    tv = tot["t_types"] + tot["vsz"]  # 3 types + (2 kept + 1 unk)
    assert tv == 6

    score = spark.createDataFrame(
        [("s1", "a b"), ("s2", "q a"), ("s3", "a a")],
        "doc_id string, text string",
    )
    got = {
        r["doc_id"]: r["nll_e6"]
        for r in LM.score_kn_bigram_lm(score, model).collect()
    }
    # independent python fit over the mapped train bigrams:
    # (a,b)x3, (b,a)x2, (b,<unk>)x1
    tp = {("a", "b"): 3, ("b", "a"): 2, ("b", "<unk>"): 1}
    c_a = {"a": 3, "b": 3}
    n1a = {"a": 1, "b": 2}
    n1b = {"b": 1, "a": 1, "<unk>": 1}

    def lp(a, b):
        if a not in c_a:  # unseen context -> pure continuation
            return math.floor(1e6 * math.log((n1b.get(b, 0) + 1) / tv))
        num = max(4 * tp.get((a, b), 0) - 3, 0) * tv + 3 * n1a[a] * (
            n1b.get(b, 0) + 1
        )
        return math.floor(1e6 * math.log(num / (4 * c_a[a] * tv)))

    # s1 (a,b): seen pair. s2 (q,a)->(<unk>,a): unseen context <unk>.
    # s3 (a,a): seen context a, unseen pair (c_ab=0).
    assert got == {
        "s1": -lp("a", "b"),
        "s2": -lp("<unk>", "a"),
        "s3": -lp("a", "a"),
    }


def test_personalized_pagerank_concentrates_on_seeds(spark):
    """PPR with a 0/1 restart vector: python twin recomputes the
    recurrence; rank mass stays in the seed's neighborhood (a node
    unreachable from the seed holds rank 0)."""
    edge_rows = [("a", "b"), ("b", "a"), ("b", "c"), ("x", "y")]
    out_deg: dict = {}
    for s, _ in edge_rows:
        out_deg[s] = out_deg.get(s, 0) + 1
    edges = spark.createDataFrame(
        [(s, d, out_deg[s]) for s, d in edge_rows],
        "src string, dst string, out_degree int",
    )
    nodes = spark.createDataFrame(
        [(n,) for n in "abcxy"], "node string"
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {
        r["node"]: (r["rank"], r["is_seed"])
        for r in PR.personalized_pagerank(edges, nodes, seeds, n_iter=4).collect()
    }
    rank = {n: (1.0 if n == "a" else 0.0) for n in "abcxy"}
    for _ in range(4):
        contrib = {n: 0.0 for n in "abcxy"}
        for s, d in edge_rows:
            contrib[d] += rank[s] / out_deg[s]
        rank = {
            n: 0.15 * (1 if n == "a" else 0) + 0.85 * contrib[n]
            for n in "abcxy"
        }
    for n in "abcxy":
        assert abs(got[n][0] - round(rank[n], 6)) < 2e-6, (n, got[n], rank[n])
    assert got["a"][1] == 1 and got["b"][1] == 0
    # disconnected component holds zero rank; seed neighborhood does not
    assert got["x"][0] == 0.0 and got["y"][0] == 0.0
    assert got["b"][0] > 0 and got["c"][0] > 0


def test_trap_host_stats_flags_template_explosion(spark):
    """A host with many distinct URLs collapsing to one digit-template
    is a trap; a host with one URL per template is not; a small host is
    never flagged regardless of amplification."""
    from searchengine_spark.operators import frontier as FR_

    rows = (
        # trap.com: 25 urls, all /cal/N -> amp 25e6 over min_urls
        [(f"trap.com/cal/{i}", f"m{i:03d}t", "trap.com") for i in range(25)]
        # ok.com: 25 urls, 25 distinct templates -> amp 1e6
        + [(f"ok.com/{'ab'*(i+1)}/{i}", f"m{i:03d}o", "ok.com") for i in range(25)]
        # tiny.com: 3 urls one template -> amp 3e6 but below min_urls
        + [(f"tiny.com/x/{i}", f"m{i}y", "tiny.com") for i in range(3)]
    )
    cand = spark.createDataFrame(rows, ["url", "url_md5", "host"])
    out = {
        r["host"]: r
        for r in FR_.trap_host_stats(cand, min_urls=20, amp_e6=20_000_000).collect()
    }
    assert out["trap.com"]["is_trap"] == 1
    assert out["trap.com"]["amp_e6"] == 25_000_000
    assert out["ok.com"]["is_trap"] == 0
    assert out["ok.com"]["n_templates"] == 25
    assert out["tiny.com"]["is_trap"] == 0


def test_recrawl_closed_form_equals_doubling_simulation():
    """The one-agg closed form IS the exponential-backoff recurrence:
    exhaustive over all 2^6 change patterns."""
    import itertools

    from searchengine_spark.operators import recrawl as RC_

    for pattern in itertools.product([0, 1], repeat=RC_.N_ROUNDS):
        n, lc, iv, nxt = RC_.recrawl_schedule_py(list(pattern))
        interval = 1
        for c in pattern:
            interval = 1 if c else min(interval * 2, RC_.MAX_INTERVAL)
        assert iv == interval, pattern
        assert n == sum(pattern)
        assert nxt == RC_.N_ROUNDS + interval


def test_recrawl_spark_matches_pure_twin(spark):
    from searchengine_spark.functions.hashes import hash60_py
    from searchengine_spark.operators import recrawl as RC_

    keys = [f"{i:032x}" for i in range(40)]
    urls = spark.createDataFrame([(k,) for k in keys], ["url_md5"])
    got = {
        r["url_md5"]: r
        for r in RC_.recrawl_schedule(RC_.synthetic_changes(urls)).collect()
    }
    for k in keys:
        changes = [
            int(hash60_py(f"chg{r}|{k}") % 100 < RC_.change_rate_py(k))
            for r in range(1, RC_.N_ROUNDS + 1)
        ]
        n, lc, iv, nxt = RC_.recrawl_schedule_py(changes)
        row = got[k]
        assert (row["n_changes"], row["last_change"]) == (n, lc), k
        assert (row["revisit_interval"], row["next_fetch_round"]) == (iv, nxt), k


def test_project_graph_host_projection(spark):
    """Hand graph: intra-part edges vanish, parallel projected edges
    dedup, out-degree recounted over surviving projected edges,
    unmapped endpoints dropped."""
    edges = spark.createDataFrame(
        [(1, 2, 9), (2, 1, 9), (1, 3, 9), (2, 3, 9), (3, 4, 9), (3, 99, 9)],
        ["src", "dst", "out_degree"],
    )
    mapping = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "c")], ["node", "part"]
    )
    got = {
        (r["src"], r["dst"]): r["out_degree"]
        for r in PR.project_graph(edges, mapping).collect()
    }
    # 1->2,2->1 intra-a dropped; 1->3,2->3 both project to a->b (dedup);
    # 3->4 -> b->c; 3->99 dropped (99 unmapped)
    assert got == {("a", "b"): 1, ("b", "c"): 1}


def test_neighborhood_function_exact_below_k_and_estimates(spark):
    """Directed path a->b->c->d plus hub edges: radius-2 reach is the
    exact closed set when below k; with k=2 the estimator fires and
    stays within the KMV error envelope."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "e"), ("e", "f")],
        ["src", "dst"],
    )
    nodes = spark.createDataFrame([(n,) for n in "abcdef"], ["node"])
    out = {
        r["node"]: r
        for r in PR.neighborhood_function(edges, nodes, radius=2, k=16).collect()
    }
    # exact (all sets < 16): a reaches {a,b,e,c,f}; d reaches {d}
    assert out["a"]["reach_est"] == 5
    assert out["b"]["reach_est"] == 3
    assert out["d"]["reach_est"] == 1
    assert all(r["kth_min"] is None for r in out.values())

    est = {
        r["node"]: r
        for r in PR.neighborhood_function(edges, nodes, radius=2, k=2).collect()
    }
    # truncated sketches: estimate must be positive and k-1 exactness
    # below k still holds for singleton reach
    assert est["d"]["reach_est"] == 1 and est["d"]["kth_min"] is None
    assert est["a"]["kth_min"] is not None and est["a"]["reach_est"] >= 1


def _neighborhood_union_form(edges, nodes, radius, k):
    """The per-hop union sweep neighborhood_function replaced, kept as
    the reference: S_r(v) = bottomk(S_{r-1}(v) ∪ ⋃_{(v,u)∈E} S_{r-1}(u)),
    with the same estimator."""
    from searchengine_spark.functions.hashes import hash60

    sk = nodes.select(
        "node", F.array(hash60(F.col("node").cast("string"))).alias("kmv")
    )
    bottomk = lambda c: F.slice(F.array_distinct(F.array_sort(c)), 1, k)
    for _ in range(radius):
        nbr = (
            edges.select("src", "dst")
            .join(sk.withColumnRenamed("node", "dst"), "dst")
            .select(F.col("src").alias("node"), "kmv")
        )
        sk = (
            sk.unionByName(nbr)
            .groupBy("node")
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


@st.composite
def _small_graphs(draw):
    """Nodes drawn from 0..7, edge endpoints from 0..10 (8..10 are never
    nodes), plus forced cases: an edge into and an edge out of a
    non-node, a duplicated edge and an isolated node (11)."""
    nodes = sorted(draw(st.sets(st.integers(0, 7), min_size=1, max_size=8)))
    ids = st.integers(0, 10)
    edges = draw(st.lists(st.tuples(ids, ids), max_size=16))
    v = nodes[0]
    edges += [(v, 9), (10, v), (10, 9)]
    edges.append(edges[0])
    return nodes + [11], edges


@pytest.mark.parametrize("radius", [0, 1, 2, 3, 4])
@given(graph=_small_graphs())
# no shrink phase: each example runs Spark jobs, so shrinking a
# failure would take minutes; the failing example is reported as is
@settings(
    max_examples=2,
    deadline=None,
    phases=[Phase.explicit, Phase.reuse, Phase.generate],
)
def test_neighborhood_function_equals_union_form(spark, radius, graph):
    """The self-loop sweep (one join + one aggregate per hop) yields the
    same estimate per node as the union form at k in {2, 3, 16}, on
    graphs with non-node endpoints, isolated nodes and duplicate edges."""
    node_ids, edge_ids = graph
    nodes = spark.createDataFrame([(n,) for n in node_ids], "node long")
    edges = spark.createDataFrame(edge_ids, "src long, dst long")

    def rows(nf):
        # one action per form: the three k's ride in one union
        per_k = [
            nf(edges, nodes, radius, k).withColumn("k", F.lit(k))
            for k in (2, 3, 16)
        ]
        out = per_k[0].unionByName(per_k[1]).unionByName(per_k[2]).collect()
        return sorted(map(tuple, out))

    want = rows(_neighborhood_union_form)
    got = rows(lambda e, n, r, k: PR.neighborhood_function(e, n, radius=r, k=k))
    assert got == want


def test_band_range_join_equals_naive(spark):
    """Banded proximity join == naive key-join + abs filter, pair for
    pair, including band-boundary values; no duplicates from the
    3-band explode."""
    import random

    from searchengine_spark.operators.temporal import band_range_join

    rng = random.Random(7)
    left = [(k, rng.randrange(0, 40)) for k in ("a", "b") for _ in range(30)]
    right = [(k, rng.randrange(0, 40)) for k in ("a", "b") for _ in range(30)]
    l = spark.createDataFrame(left, ["k", "va"])
    r = spark.createDataFrame(right, ["k", "vb"])
    for d in (1, 4, 7):
        got = sorted(
            (x["k"], x["va"], x["vb"])
            for x in band_range_join(l, r, ["k"], "va", "vb", d).collect()
        )
        want = sorted(
            (lk, lv, rv)
            for (lk, lv) in left
            for (rk, rv) in right
            if lk == rk and abs(lv - rv) <= d
        )
        assert got == want, d
