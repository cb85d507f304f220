"""Cuckoo-filter URL-seen arm (D3 "bloom/cuckoo", operators/cuckoo.py).

Contract under test: the cuckoo filter is a PREFILTER with an exact
anti-join fallback — no false negative is ever possible (inserted keys
always probe positive, even under forced stash overflow), so dedup
through it is row-identical to the exact anti-join and the crawl stays
byte-equal to the oracle simulator across bloom<->cuckoo switches.
Plus the capability bloom lacks: delete-one-occurrence.
"""

import dataclasses
import hashlib

import numpy as np
import pytest
from hypothesis import Phase, given, settings, strategies as st
from pyspark.sql import functions as F

from searchengine_spark.config import CrawlConfig
from searchengine_spark.corpus import raw_url_py
from searchengine_spark.operators import cuckoo as CK
from searchengine_spark.operators.seen import (
    build_filter_blocks,
    dedup_seen_with_filter,
    filter_table_name,
)
from searchengine_spark.oracle import simulator as sim
from searchengine_spark.plans.crawl import CrawlDriver

CFG = CrawlConfig(
    n_shards=4,
    per_shard_quota=6,
    politeness_rounds=2,
    max_urls_per_host=5,
    max_doc=160,
    use_bloom=True,
    seen_filter="cuckoo",
)
# 8 buckets x 4 slots = 32 slots/shard against hundreds of seen keys:
# forces the stash path to carry most of the filter, the worst case
# for the no-false-negative invariant
TINY = dataclasses.replace(CFG, cuckoo_buckets_per_shard=8)
SEEDS = [raw_url_py(i) for i in range(48)]
N_ROUNDS = 4


def _md5(i: int) -> str:
    return hashlib.md5(f"key-{i}".encode()).hexdigest()


def _keys_df(spark, ids, cfg):
    return spark.createDataFrame(
        [(_md5(i), i % cfg.n_shards) for i in ids], "url_md5 string, shard int"
    )


def _probe_set(spark, blocks, ids, cfg):
    """ids whose md5 probes positive against blocks."""
    cand = spark.createDataFrame(
        [(_md5(i), i % cfg.n_shards, i) for i in ids],
        "url_md5 string, shard int, id int",
    )
    tagged = CK.cuckoo_prefilter(spark, cand, blocks, cfg)
    return {r["id"] for r in tagged.where(F.col("maybe_seen")).collect()}


def test_cuckoo_key_cols_match_py(spark):
    rows = [(_md5(i),) for i in range(300)]
    df = spark.createDataFrame(rows, "url_md5 string")
    fp, i1, i2 = CK.cuckoo_key_cols(F.col("url_md5"), CFG)
    got = df.select(
        "url_md5", fp.alias("fp"), i1.alias("i1"), i2.alias("i2")
    ).collect()
    for r in got:
        assert (r["fp"], r["i1"], r["i2"]) == CK.cuckoo_key_py(r["url_md5"], CFG)
        # xor involution: the alternate of the alternate is home
        assert CK.cuckoo_key_py(r["url_md5"], CFG)[1] == r["i2"] ^ (
            (r["fp"] * CK.ALT_MULT) & (CFG.cuckoo_buckets_per_shard - 1)
        )


def test_no_false_negatives_under_stash_overflow(spark):
    ids = list(range(400))
    blocks = CK.build_cuckoo_blocks(_keys_df(spark, ids, TINY), TINY).cache()
    # the tiny table really did overflow into the stash
    stash_items = sum(
        len(np.frombuffer(r["stash"], dtype=np.uint32)) for r in blocks.collect()
    )
    assert stash_items > 0
    assert _probe_set(spark, blocks, ids, TINY) == set(ids)
    blocks.unpersist()


def _probe_np(shards, fp, i1, i2, block_map):
    """The numpy reference probe (the pandas UDF the native probe
    replaced): bucket-1, bucket-2, then a sorted-stash search; a
    missing block => suspect."""
    out = np.ones(len(shards), dtype=bool)
    packed = (np.minimum(i1, i2).astype(np.uint32) << np.uint32(16)) | fp.astype(
        np.uint32
    )
    for s in np.unique(shards):
        blk = block_map.get(int(s))
        if blk is None:
            continue
        slots2d, stash = blk
        m = shards == s
        f16 = fp[m].astype(np.uint16)[:, None]
        hit = (slots2d[i1[m]] == f16).any(axis=1)
        hit |= (slots2d[i2[m]] == f16).any(axis=1)
        if len(stash):
            pos = np.minimum(np.searchsorted(stash, packed[m]), len(stash) - 1)
            hit |= stash[pos] == packed[m]
        out[m] = hit
    return out


md5s = st.binary(min_size=16, max_size=16).map(bytes.hex)


@given(
    big=st.lists(md5s, max_size=40),
    few=st.lists(md5s, min_size=1, max_size=3),
    dup=md5s,
    seed=st.integers(0, 1 << 32),
    fresh=st.lists(st.tuples(md5s, st.integers(0, 3)), max_size=40),
    nb=st.sampled_from([8, 32]),
    bsize=st.sampled_from([2, 4]),
)
# no shrink phase: each example runs Spark jobs, so shrinking a
# failure would take minutes; the failing example is reported as is
@settings(
    max_examples=6,
    deadline=None,
    phases=[Phase.explicit, Phase.reuse, Phase.generate],
)
def test_native_probe_equals_numpy_probe(
    spark, big, few, dup, seed, fresh, nb, bsize
):
    """The native probe tags every candidate exactly as the numpy
    probe does. Shard 0 holds random keys plus one key inserted
    2*bsize + 2 times, so its stash always carries a duplicate packed
    entry; shard 1 holds 1 to 3 keys, so its stash is empty; shard 2
    holds 16 more keys than it has slots, so its stash always holds
    keys whose fingerprint sits in neither bucket; shard 3 has no
    block. Checked under the default join and with broadcasts off."""
    cfg = dataclasses.replace(
        CFG, cuckoo_buckets_per_shard=nb, cuckoo_bucket_size=bsize
    )
    overload = [
        hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
        for i in range(nb * bsize + 16)
    ]
    seen = (
        [(m, 0) for m in big + [dup] * (2 * bsize + 2)]
        + [(m, 1) for m in few]
        + [(m, 2) for m in overload]
    )
    schema = "url_md5 string, shard int"
    blocks = CK.build_cuckoo_blocks(spark.createDataFrame(seen, schema), cfg).cache()
    block_map = {
        r["shard"]: (
            np.frombuffer(r["slots"], dtype=np.uint16).reshape(-1, bsize),
            np.frombuffer(r["stash"], dtype=np.uint32),
        )
        for r in blocks.collect()
    }
    stash0 = block_map[0][1]
    assert len(stash0) > len(np.unique(stash0))
    assert len(block_map[1][1]) == 0 and 3 not in block_map
    assert len(block_map[2][1]) >= 16
    rows = seen + fresh
    keys = np.array([CK.cuckoo_key_py(m, cfg) for m, _ in rows], dtype=np.int64)
    shards = np.array([s for _, s in rows], dtype=np.int64)
    expect = _probe_np(shards, keys[:, 0], keys[:, 1], keys[:, 2], block_map)
    assert expect[: len(seen)].all()  # no false negatives
    expected = sorted(zip(range(len(rows)), expect.tolist()))
    cand = spark.createDataFrame(
        [(m, s, i) for i, (m, s) in enumerate(rows)], schema + ", i long"
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        for threshold in (old, "-1"):
            spark.conf.set(key, threshold)
            tagged = CK.cuckoo_prefilter(spark, cand, blocks, cfg)
            got = sorted((r["i"], r["maybe_seen"]) for r in tagged.collect())
            assert got == expected, threshold
    finally:
        spark.conf.set(key, old)
        blocks.unpersist()


def test_dedup_with_cuckoo_equals_exact(spark):
    cand = spark.createDataFrame(
        [(_md5(i), i % CFG.n_shards, f"u{i}") for i in range(250)],
        "url_md5 string, shard int, url string",
    )
    seen = _keys_df(spark, range(0, 250, 3), CFG)
    blocks = CK.build_cuckoo_blocks(seen, CFG)
    got = {
        r["url"]
        for r in CK.dedup_seen_with_cuckoo(spark, cand, seen, blocks, CFG).collect()
    }
    expect = {
        r["url"]
        for r in cand.join(seen.select("url_md5"), "url_md5", "left_anti").collect()
    }
    assert got == expect
    # and under stash-overload geometry too
    blocks_t = CK.build_cuckoo_blocks(seen, TINY)
    got_t = {
        r["url"]
        for r in CK.dedup_seen_with_cuckoo(spark, cand, seen, blocks_t, TINY).collect()
    }
    assert got_t == expect


def test_merge_equals_one_shot_membership(spark):
    a_ids, b_ids = list(range(0, 300, 2)), list(range(1, 300, 2))
    merged = CK.merge_cuckoo_blocks(
        CK.build_cuckoo_blocks(_keys_df(spark, a_ids, TINY), TINY),
        CK.build_cuckoo_blocks(_keys_df(spark, b_ids, TINY), TINY),
        TINY,
    ).cache()
    # every inserted key still probes positive after the merge
    assert _probe_set(spark, merged, list(range(300)), TINY) == set(range(300))
    # never-inserted keys rarely probe positive (fp-collision FPR only;
    # generous bound — the point is the merge didn't go all-positive)
    fresh = list(range(1000, 1400))
    fp_hits = _probe_set(spark, merged, fresh, TINY)
    assert len(fp_hits) < len(fresh) * 0.2
    merged.unpersist()


def test_delete_one_occurrence(spark):
    ids = list(range(120))
    # key 7 inserted TWICE (multiset semantics)
    seen = _keys_df(spark, ids, CFG).unionByName(_keys_df(spark, [7], CFG))
    blocks = CK.build_cuckoo_blocks(seen, CFG)
    dels = _keys_df(spark, [7, 11, 13], CFG)
    after = CK.delete_from_cuckoo_blocks(blocks, dels, CFG).cache()
    hits = _probe_set(spark, after, ids, CFG)
    assert 7 in hits  # one of two occurrences remains
    assert 11 not in hits and 13 not in hits
    assert set(ids) - hits == {11, 13}  # everything else still positive
    # second delete removes the surviving occurrence
    after2 = CK.delete_from_cuckoo_blocks(after, _keys_df(spark, [7], CFG), CFG)
    assert 7 not in _probe_set(spark, after2, ids, CFG)
    after.unpersist()


def test_geometry_guard():
    bad = dataclasses.replace(CFG, cuckoo_buckets_per_shard=12)
    with pytest.raises(ValueError, match="power of two"):
        CK._check_geometry(bad)
    with pytest.raises(ValueError, match="seen_filter"):
        filter_table_name(dataclasses.replace(CFG, seen_filter="xor"))


def test_crawl_cuckoo_byte_equal_and_switches(spark, tmp_path_factory):
    """The full crawl under the cuckoo prefilter — including a
    mid-crawl bloom->cuckoo->bloom switch — stays byte-equal to the
    oracle simulator (the prefilter must be physical-only), and each
    round's manifest carries ONLY the active structure's table."""
    oracle = sim.simulate(SEEDS, N_ROUNDS, CFG)

    # (a) all rounds under cuckoo, stash-overload geometry
    root = str(tmp_path_factory.mktemp("cuckoostore"))
    d = CrawlDriver(spark, root, TINY)
    d.seed(SEEDS)
    d.run(N_ROUNDS)
    got = [
        (r["round"], r["seq_in_round"], r["url"], r["host"])
        for r in d.fetch_log().collect()
    ]
    assert got == oracle.fetch_log
    assert {r["url_md5"] for r in d.seen_set().collect()} == oracle.seen
    pinned = d._pinned_versions()
    assert "cuckoo" in pinned and "bloom" not in pinned

    # (b) switch structures mid-crawl: bloom rounds, cuckoo round, back
    root2 = str(tmp_path_factory.mktemp("switchstore"))
    bloom_cfg = dataclasses.replace(CFG, seen_filter="bloom")
    d1 = CrawlDriver(spark, root2, bloom_cfg)
    d1.seed(SEEDS)
    d1.run(2)
    # the switch keeps the PINNED geometry (geometry drift is refused
    # by check_config); only the structure knob flips
    CrawlDriver(spark, root2, CFG).run(1, resume=True)
    mid = CrawlDriver(spark, root2, bloom_cfg)._pinned_versions()
    assert "cuckoo" in mid and "bloom" not in mid
    d3 = CrawlDriver(spark, root2, bloom_cfg)
    d3.run(N_ROUNDS - 3, resume=True)
    got2 = [
        (r["round"], r["seq_in_round"], r["url"], r["host"])
        for r in d3.fetch_log().collect()
    ]
    assert got2 == oracle.fetch_log
    assert {r["url_md5"] for r in d3.seen_set().collect()} == oracle.seen
    end = d3._pinned_versions()
    assert "bloom" in end and "cuckoo" not in end


def test_resume_pre_cuckoo_store_backfills_defaults(spark, tmp_path_factory):
    """A store pinned before the cuckoo fields existed resumes under
    the DEFAULT cuckoo config (it was crawled under default semantics)
    but refuses a non-default geometry (config-pinning migration)."""
    root = str(tmp_path_factory.mktemp("prestore"))
    bloom_cfg = dataclasses.replace(CFG, seen_filter="bloom")
    d = CrawlDriver(spark, root, bloom_cfg)
    d.seed(SEEDS)
    stored = d.store.read_config()
    for k in ("seen_filter", "cuckoo_buckets_per_shard", "cuckoo_bucket_size"):
        stored.pop(k)
    d.store.write_config(stored)
    CrawlDriver(spark, root, bloom_cfg).check_config()  # defaults: ok
    drifted = dataclasses.replace(bloom_cfg, cuckoo_buckets_per_shard=1 << 12)
    with pytest.raises(ValueError, match="different CrawlConfig"):
        CrawlDriver(spark, root, drifted).check_config()


def test_dispatch_builds_the_right_structure(spark):
    seen = _keys_df(spark, range(40), CFG)
    cols = set(build_filter_blocks(seen, CFG).columns)
    assert cols == {"shard", "slots", "stash"}
    bloom_cfg = dataclasses.replace(CFG, seen_filter="bloom")
    cols_b = set(build_filter_blocks(seen, bloom_cfg).columns)
    assert cols_b == {"shard", "bitmap"}
    # the dispatched dedup is exact under both structures
    cand = spark.createDataFrame(
        [(_md5(i), i % CFG.n_shards, f"u{i}") for i in range(80)],
        "url_md5 string, shard int, url string",
    )
    expect = {
        r["url"]
        for r in cand.join(seen.select("url_md5"), "url_md5", "left_anti").collect()
    }
    for cfg in (CFG, bloom_cfg):
        blocks = build_filter_blocks(seen, cfg)
        got = {
            r["url"]
            for r in dedup_seen_with_filter(spark, cand, seen, blocks, cfg).collect()
        }
        assert got == expect, cfg.seen_filter


def test_evict_seen_byte_equal_and_refetch(spark, tmp_path_factory):
    """Mid-crawl seen-set eviction (the adaptive-recrawl actuator)
    stays byte-equal to the simulator twin and actually drives a
    RE-FETCH of an evicted URL, under both filter structures (cuckoo
    deletes in-place; bloom drops its version and rebuilds)."""
    from collections import Counter

    total_rounds = 5
    state = sim.SimState()
    sim.seed(state, SEEDS, CFG)
    for r in range(2):
        sim.run_round(state, r, CFG)
    evict_urls = [u for (_, _, u, _) in state.fetch_log]
    n_sim = sim.evict(state, evict_urls, CFG)
    assert n_sim > 0
    for r in range(2, total_rounds):
        sim.run_round(state, r, CFG)
    counts = Counter(u for (_, _, u, _) in state.fetch_log)
    assert any(k > 1 for k in counts.values()), "fixture never re-fetched"

    for cfg in (TINY, dataclasses.replace(CFG, seen_filter="bloom")):
        root = str(tmp_path_factory.mktemp(f"evict_{cfg.seen_filter}"))
        d = CrawlDriver(spark, root, cfg)
        d.seed(SEEDS)
        d.run(2)
        out = d.evict_seen(evict_urls)
        assert out["evicted"] == n_sim, cfg.seen_filter
        d.run(total_rounds - 2, resume=True)
        got = [
            (r["round"], r["seq_in_round"], r["url"], r["host"])
            for r in d.fetch_log().collect()
        ]
        assert got == state.fetch_log, cfg.seen_filter
        assert {
            r["url_md5"] for r in d.seen_set().collect()
        } == state.seen, cfg.seen_filter


def test_evict_skips_pending_frontier_urls(spark, tmp_path_factory):
    """A URL still queued in the frontier must NOT be evictable (it
    would be admitted twice and double-fetched)."""
    root = str(tmp_path_factory.mktemp("evictpend"))
    d = CrawlDriver(spark, root, CFG)
    d.seed(SEEDS)
    d.run(1)
    pend = d.store.read("frontier").select("url").limit(1).collect()[0]["url"]
    before = d.store.read("seen").count()
    out = d.evict_seen([pend])
    assert out["evicted"] == 0
    assert d.store.read("seen").count() == before


def test_requeue_guaranteed_refetch_byte_equal(spark, tmp_path_factory):
    """requeue (the direct complement of evict_seen: seen untouched,
    frontier appended) stays byte-equal to its simulator twin and every
    requeued URL is re-fetched exactly once more — no link
    re-discovery needed, politeness/pick-order still gate WHEN."""
    from collections import Counter

    total_rounds = 8
    state = sim.SimState()
    sim.seed(state, SEEDS, CFG)
    for r in range(2):
        sim.run_round(state, r, CFG)
    targets = [u for (_, _, u, _) in state.fetch_log][:4]
    assert sim.requeue(state, targets, CFG, 2) == 4
    # second requeue of the same URLs is a no-op (already pending)
    assert sim.requeue(state, targets, CFG, 2) == 0
    for r in range(2, total_rounds):
        sim.run_round(state, r, CFG)
    counts = Counter(u for (_, _, u, _) in state.fetch_log)
    assert all(counts[u] == 2 for u in targets), "fixture must re-fetch all"

    root = str(tmp_path_factory.mktemp("requeue"))
    d = CrawlDriver(spark, root, CFG)
    d.seed(SEEDS)
    d.run(2)
    assert d.requeue(targets)["requeued"] == 4
    assert d.requeue(targets)["requeued"] == 0
    d.run(total_rounds - 2, resume=True)
    got = [
        (r["round"], r["seq_in_round"], r["url"], r["host"])
        for r in d.fetch_log().collect()
    ]
    assert got == state.fetch_log
    assert {r["url_md5"] for r in d.seen_set().collect()} == state.seen


def test_recrawl_due_composed_freshness_byte_equal(spark, tmp_path_factory):
    """recrawl_due (the DECIDER + ACTUATOR composition: change log
    derived from the store's own fetch history, Cho backoff closed
    form, requeue of due keys) stays byte-equal to its simulator twin
    across two passes, and the backoff actually backs off: after a key
    is re-observed unchanged its interval doubles, so an immediate
    second pass at the same target requeues nothing."""
    from collections import Counter

    state = sim.SimState()
    sim.seed(state, SEEDS, CFG)
    for r in range(2):
        sim.run_round(state, r, CFG)
    n1 = sim.recrawl_due(state, 2, CFG)
    assert n1 > 0  # every once-fetched key has interval 1 -> due
    assert sim.recrawl_due(state, 2, CFG) == 0  # all pending now
    for r in range(2, 5):
        sim.run_round(state, r, CFG)
    # keys re-observed unchanged carry interval 2 from their re-fetch
    n2 = sim.recrawl_due(state, 5, CFG)
    for r in range(5, 7):
        sim.run_round(state, r, CFG)

    root = str(tmp_path_factory.mktemp("recrawl_due"))
    d = CrawlDriver(spark, root, CFG)
    d.seed(SEEDS)
    d.run(2)
    out1 = d.recrawl_due()
    assert out1["requeued"] == n1 and out1["target_round"] == 2
    out1b = d.recrawl_due()
    assert out1b["requeued"] == 0  # pending-safe, matches the twin
    d.run(3, resume=True)
    out2 = d.recrawl_due()
    assert out2["requeued"] == n2 and out2["target_round"] == 5
    d.run(2, resume=True)

    got = [
        (r["round"], r["seq_in_round"], r["url"], r["host"])
        for r in d.fetch_log().collect()
    ]
    assert got == state.fetch_log
    assert {r["url_md5"] for r in d.seen_set().collect()} == state.seen
    # the loop actually re-fetched: some key has >= 2 observations
    counts = Counter(u for (_, _, u, _) in state.fetch_log)
    assert max(counts.values()) >= 2
