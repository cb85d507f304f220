"""Physical-plan shape assertions — the scale contract, checked in CI:
filters and projections reach the parquet scan, small dims broadcast,
seen-dedup with bloom equals the exact anti-join."""

import re

import pytest
from pyspark.sql import functions as F

from searchengine_spark.config import CrawlConfig
from searchengine_spark.corpus import raw_url_expr
from searchengine_spark.operators import frontier as FR
from searchengine_spark.operators.seen import (
    build_bloom_blocks,
    build_filter_blocks,
    dedup_seen_with_bloom,
    dedup_seen_with_filter,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_filter_pushdown(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .where(F.col("l_shipdate") < "1996-01-01")
        .select("l_orderkey", "l_extendedprice")
    )
    df.collect()
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    # column pruning: read schema restricted to the 3 referenced columns
    assert "l_comment" not in plan and "l_quantity" not in plan


def test_hosts_join_is_broadcast(spark):
    cfg = CrawlConfig(n_shards=4)
    frontier = spark.createDataFrame(
        [("a.com/1", "m1", "a.com", 0, 0)],
        "url string, url_md5 string, host string, shard int, discovered_round int",
    )
    hosts = spark.createDataFrame(
        [("a.com", 0)], "host string, next_allowed_round int"
    )
    df = FR.schedule_round(frontier, hosts, 0, cfg)
    df.collect()  # AQE picks the join strategy at runtime (no hint)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_bloom_dedup_equals_exact_antijoin(spark):
    cfg = CrawlConfig(n_shards=4, use_bloom=True, bloom_bits_per_shard=1 << 12)
    raw = spark.range(0, 400).select(
        F.col("id").alias("doc_id"), raw_url_expr("id").alias("raw_url")
    )
    cand = FR.dedup_batch(FR.normalize_candidates(raw, cfg))
    seen = cand.where(F.col("url_md5").substr(1, 1) < "8").select("url_md5", "shard")
    blocks = build_bloom_blocks(seen, cfg)
    via_bloom = {
        r["url_md5"]
        for r in dedup_seen_with_bloom(spark, cand, seen, blocks, cfg).collect()
    }
    exact = {r["url_md5"] for r in FR.dedup_seen(cand, seen).collect()}
    assert via_bloom == exact


def test_global_seq_bucket_path_exact(spark):
    """The static-range (md5-prefix bucket) form of with_global_seq —
    the shape large scheduling rounds take — produces the exact global
    (discovered_round, url_md5) rank, no sampling pass, no cache."""
    import hashlib

    rows = [(hashlib.md5(f"u{i}".encode()).hexdigest(), i % 3) for i in range(5000)]
    df = spark.createDataFrame(rows, "url_md5 string, discovered_round int")
    bucket = F.conv(F.substring("url_md5", 1, 2), 16, 10).cast("int")
    got = FR.with_global_seq(
        df, ["discovered_round", "url_md5"], "seq", bound=None, bucket=bucket
    ).collect()
    expect = {k: i + 1 for i, k in enumerate(sorted((r[1], r[0]) for r in rows))}
    assert all(
        expect[(r["discovered_round"], r["url_md5"])] == r["seq"] for r in got
    )
    # and the bounded fast path agrees on the same input
    fast = FR.with_global_seq(df, ["discovered_round", "url_md5"], "seq", bound=5000)
    assert {(r["url_md5"], r["seq"]) for r in fast.collect()} == {
        (r["url_md5"], r["seq"]) for r in got
    }


def test_postings_sorted_within_partitions(spark):
    from searchengine_spark.operators.index import build_postings

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = build_postings(docs)
    # verify each partition is sorted by term (the parquet min/max
    # pruning contract for term lookups)
    def check(it):
        prev = None
        for row in it:
            if prev is not None and row["term"] < prev:
                yield ("unsorted",)
            prev = row["term"]

    bad = p.rdd.mapPartitions(check).collect()
    assert bad == []


def test_ivf_corpus_partition_pruning(spark, tmp_path):
    """The IVF scale rule (similarity.py): the assigned corpus persists
    partitioned by cid, so an nprobe query touches only its cells —
    the cid filter must reach the scan as a PartitionFilter, pruning
    the other cells' files entirely."""
    from searchengine_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = SIM.ivf_fit(emb)
    asg = SIM.ivf_assign(
        emb.select("vec_id", SIM._q6(F.col("embedding")).alias("xi")), cents
    ).select("vec_id", "cid")
    out = str(tmp_path / "ivf_corpus")
    asg.write.partitionBy("cid").parquet(out)

    probe = spark.read.parquet(out).where(F.col("cid").isin(0, 1))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan.split("PartitionFilters")[1][:120]
    got_cells = {r["cid"] for r in probe.select("cid").distinct().collect()}
    assert got_cells <= {0, 1}


def test_aqe_and_arrow_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_bucketed_postings_join_avoids_shuffle(spark, tmp_path):
    """Bucketing showcase: two tables bucketed+sorted on doc_id join
    without exchanging either side (the co-located join the crawl
    store uses for repeated doc-keyed joins at scale)."""
    from searchengine_spark.operators.index import build_postings

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = build_postings(docs)
    for name in ("t_post_a", "t_post_b"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            p.write.bucketBy(8, "doc_id")
            .sortBy("doc_id")
            .mode("overwrite")
            .saveAsTable(name)
        )
    a = spark.table("t_post_a").groupBy("doc_id").count()
    b = spark.table("t_post_b").groupBy("doc_id").count()
    j = a.join(b, "doc_id")
    j.collect()
    plan = _plan(j)
    assert "Exchange" not in plan.replace("BroadcastExchange", ""), plan[:2000]


def test_external_sort_flagship_at_volume(spark):
    """O1 parity with the reference's externalSortTest
    (ExternalSorter.hpp:453-470; 160M random int64s there, scaled here):
    shuffle-sort 2M pseudo-random longs, verify global sortedness and
    exact count across partition boundaries."""
    from searchengine_spark.functions.hashes import hash60

    n = 2_000_000
    df = (
        spark.range(n)
        .select(hash60(F.col("id").cast("string"), "sort").alias("v"))
        .repartitionByRange(16, "v")
        .sortWithinPartitions("v")
    )

    def check(it):
        prev = None
        cnt = 0
        first = last = None
        for row in it:
            v = row["v"]
            if first is None:
                first = v
            if prev is not None and v < prev:
                yield ("UNSORTED", 0, 0)
                return
            prev = v
            last = v
            cnt += 1
        yield ("ok", cnt, first if first is not None else 0)

    parts = df.rdd.mapPartitionsWithIndex(
        lambda i, it: [(i, r) for r in check(it)]
    ).collect()
    assert all(r[1][0] == "ok" for r in parts)
    assert sum(r[1][1] for r in parts) == n
    # cross-partition monotonicity: partition i's first >= partition i-1's first
    firsts = [r[1][2] for r in sorted(parts) if r[1][1] > 0]
    assert firsts == sorted(firsts)


def test_snapshot_zstd_roundtrip(spark, tmp_path):
    """Menu-103 parity (KeyValDB_compressTest): compress -> decompress
    -> byte-equality, here as a zstd parquet round trip of spans docs."""
    from searchengine_spark.corpus import interleaved_docs_df

    docs = interleaved_docs_df(spark, SF, max_doc=500)
    path = str(tmp_path / "docs_zstd")
    docs.write.mode("overwrite").option("compression", "zstd").parquet(path)
    back = spark.read.parquet(path)
    a = sorted(str(r) for r in docs.collect())
    b = sorted(str(r) for r in back.collect())
    assert a == b


def test_term_lookup_pushdown_on_sorted_postings(spark, tmp_path):
    """S13: a term predicate over the range-partitioned, sorted postings
    parquet reaches the scan as a pushed filter (min/max stats then
    prune to the O(1) files that can contain the term — the reference's
    binary search over the sorted flat dict, PageSearcher.cpp:39-67)."""
    from searchengine_spark.operators.index import build_postings

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    path = str(tmp_path / "postings")
    build_postings(docs).write.mode("overwrite").parquet(path)
    p = spark.read.parquet(path)
    q = p.where(F.col("term") == "sort")
    q.collect()
    plan = _plan(q)
    assert "PushedFilters" in plan and "EqualTo(term,sort)" in plan, plan[:1500]


def test_seen_filter_cogroup_matches_broadcast(spark):
    """Both seen-filter probes are native joins whose strategy the
    planner picks, so each has two physical arms: the broadcast join
    of the small block table and, with broadcasts off, the shuffle
    join on `shard` (the at-scale shape, where no block table ships
    whole). Both arms must tag IDENTICAL rows, and the exact dedup
    through either must equal the plain anti-join, including a shard
    with no block, whose candidates are all suspects."""
    from searchengine_spark.operators import seen as SN
    from searchengine_spark.operators.cuckoo import cuckoo_prefilter

    n = 400
    cand = spark.range(n).select(
        F.md5(F.col("id").cast("string")).alias("url_md5"),
        F.pmod(F.col("id"), F.lit(7)).cast("int").alias("shard"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
    )
    # seen = even ids, but shard 6 keeps NO block (missing-shard rule)
    seen = cand.where(F.expr("conv(substring(url_md5,1,2),16,10) % 2 = 0"))
    expected = sorted(
        r["url_md5"]
        for r in cand.join(seen.select("url_md5"), "url_md5", "left_anti").collect()
    )
    sh6 = {r["url_md5"] for r in cand.where(F.col("shard") == 6).collect()}

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    for flt, prefilter in (("bloom", SN.bloom_prefilter), ("cuckoo", cuckoo_prefilter)):
        cfg = CrawlConfig(n_shards=7, seen_filter=flt)
        blocks = build_filter_blocks(seen.where(F.col("shard") != 6), cfg)
        arms = []
        try:
            for threshold in (old, "-1"):
                spark.conf.set(key, threshold)
                dedup = sorted(
                    r["url_md5"]
                    for r in dedup_seen_with_filter(
                        spark, cand, seen, blocks, cfg
                    ).collect()
                )
                tagged = sorted(
                    (r["url_md5"], r["maybe_seen"])
                    for r in prefilter(spark, cand, blocks, cfg).collect()
                )
                arms.append((dedup, tagged))
        finally:
            spark.conf.set(key, old)
        (via_bc, got_bc), (via_sh, got_sh) = arms
        assert via_bc == via_sh == expected, flt
        assert got_bc == got_sh, flt
        assert sh6 <= {m for m, s in got_bc if s}, flt


@pytest.mark.parametrize("seen_filter", ["bloom", "cuckoo"])
def test_bloom_dedup_runs_no_python(spark, tmp_path, seen_filter):
    """The crawl round reads its filter blocks from the store, and the
    probe over them is native SQL for either filter: the executed dedup
    plan carries no Python evaluator of any kind."""
    cfg = CrawlConfig(n_shards=4, seen_filter=seen_filter)
    cand = spark.range(300).select(
        F.md5(F.col("id").cast("string")).alias("url_md5"),
        F.pmod(F.col("id"), F.lit(4)).cast("int").alias("shard"),
    )
    seen = cand.where("id % 3 = 0")
    build_filter_blocks(seen, cfg).write.parquet(str(tmp_path / seen_filter))
    blocks = spark.read.parquet(str(tmp_path / seen_filter))
    out = dedup_seen_with_filter(spark, cand, seen, blocks, cfg)
    assert out.count() == 200
    out.collect()
    plan = _plan(out)
    for node in ("ArrowEvalPython", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas"):
        assert node not in plan, (node, plan)
    # the small stored block table is broadcast, once for both branches
    assert "BroadcastHashJoin" in plan and "ReusedExchange" in plan, plan


def test_catalog_plan_audit_invariants(spark):
    """North-rule sweep over EVERY catalog query's physical plan:
    'vectorized pandas/Arrow UDFs (no per-row Python) throughout' means
    zero BatchEvalPython nodes anywhere, and no unbounded CartesianProduct
    may appear (tiny-side cross joins must come through as
    BroadcastNestedLoopJoin). Noise-immune counterpart to the wall-clock
    bench: tools/plan_audit.py emits the full per-query inventory."""
    import sys

    sys.path.insert(0, "tools")
    from plan_audit import audit_catalog

    audit = audit_catalog(spark, SF)
    assert len(audit) >= 50  # the whole catalog, not a subset
    row_python = {n: a["row_python"] for n, a in audit.items() if a["row_python"]}
    assert not row_python, (
        "row-at-a-time Python UDF (BatchEvalPython) found in catalog "
        f"plans — the north rule mandates Arrow-vectorized only: {row_python}"
    )
    cartesian = {n: a["cartesian"] for n, a in audit.items() if a["cartesian"]}
    assert not cartesian, f"CartesianProduct in catalog plans: {cartesian}"


# every shuffle and broadcast exchange, the round-robin spread included
_EXCHANGE = re.compile(r"Exchange (hash|range|Single|RoundRobin)|BroadcastExchange")


def test_graph_reach_exchanges_linear_in_radius(spark):
    """neighborhood_function reads its sketch once per hop (one join and
    one aggregate over edges ∪ self-loops), and graph_reach reads the
    raw documents scan: the executed plan stays linear in radius (the
    per-hop union form with a spread scan executed 119 exchanges)."""
    from searchengine_spark.queries import QUERIES

    df = QUERIES["graph_reach"](spark, SF)
    df.collect()
    n = len(_EXCHANGE.findall(_plan(df)))
    assert n <= 24, f"graph_reach executed {n} exchanges"


def test_pagerank_leaves_no_cached_frame(spark):
    """pagerank reuses its edges across sweeps through a checkpoint
    private to the call: nothing is left in the session's CacheManager
    for a later query with the same edge plan to pick up."""
    from searchengine_spark.queries import QUERIES

    spark.catalog.clearCache()  # earlier tests in the session may cache
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    QUERIES["pagerank3"](spark, SF).collect()
    assert cache_manager.isEmpty()


def test_query_scratch_dirs_share_one_root(spark):
    """One-shot queries that materialize a stage write it under one
    per-process scratch root (removed at interpreter exit): a second run
    adds nothing to the temp dir outside that root."""
    import os
    import tempfile

    from searchengine_spark import queries as Q

    def entries():
        return {e for e in os.listdir(tempfile.gettempdir()) if e.startswith("se_")}

    Q.QUERIES["host_pagerank"](spark, SF).collect()
    before, inside = entries(), set(os.listdir(Q._SCRATCH_ROOT))
    Q.QUERIES["host_pagerank"](spark, SF).collect()
    assert entries() == before
    assert os.path.dirname(Q._SCRATCH_ROOT) == tempfile.gettempdir()
    assert len(set(os.listdir(Q._SCRATCH_ROOT)) - inside) == 1


def test_spread_is_the_consumers_decision(spark):
    """sf0.001's documents table is one split, so a spread shows in the
    plan: the shared reader stays raw, and only the consumers whose
    per-row chain is heavy (LM scoring, minhash signatures) spread."""
    from searchengine_spark import queries as Q

    assert "RoundRobinPartitioning" not in _plan(Q._docs(spark, SF))
    for name in ("lm_perplexity", "dedup_minhash"):
        assert "RoundRobinPartitioning" in _plan(Q.QUERIES[name](spark, SF)), name
