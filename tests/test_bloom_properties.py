"""Property test for the native bloom probe (operators/seen.py).

`bloom_prefilter` tests the k bits of a candidate's shard block with
native byte/bit expressions over a left join. The reference below is
the numpy gather the probe used to run as a pandas UDF, copied here:
for random md5 keys, both geometries' byte sizes and every hash count,
the native `maybe_seen` must equal it row for row — under the planner's
default join (a broadcast of the small block table) and with broadcasts
switched off (a shuffle on `shard`, the at-scale shape). A shard with
no block is always a suspect.
"""

import dataclasses

import numpy as np
from hypothesis import Phase, given, settings, strategies as st

from searchengine_spark.config import CrawlConfig
from searchengine_spark.operators.seen import (
    _bit_positions,
    bloom_prefilter,
    build_bloom_blocks,
)

N_SHARDS = 4  # shard 3 never gets a block

md5s = st.binary(min_size=16, max_size=16).map(bytes.hex)


def _probe_np(shards, pos, block_map):
    """The numpy reference: maybe_seen per row, missing block => True."""
    out = np.ones(len(shards), dtype=bool)
    for s in np.unique(shards):
        bm = block_map.get(int(s))
        if bm is None:
            continue
        m = shards == s
        p = pos[m]
        out[m] = (((bm[p >> 3] >> (p & 7)) & 1) != 0).all(axis=1)
    return out


@given(
    seen=st.lists(st.tuples(md5s, st.integers(0, N_SHARDS - 2)), max_size=60),
    fresh=st.lists(st.tuples(md5s, st.integers(0, N_SHARDS - 1)), max_size=60),
    bits=st.sampled_from([1 << 10, 1 << 16]),
    k=st.integers(1, 4),
)
# no shrink phase: each example runs Spark jobs, so shrinking a
# failure would take minutes; the failing example is reported as is
@settings(
    max_examples=10,
    deadline=None,
    phases=[Phase.explicit, Phase.reuse, Phase.generate],
)
def test_native_probe_equals_numpy_probe(spark, seen, fresh, bits, k):
    cfg = dataclasses.replace(
        CrawlConfig(), n_shards=N_SHARDS, bloom_bits_per_shard=bits, bloom_hashes=k
    )
    schema = "url_md5 string, shard int"
    blocks = build_bloom_blocks(spark.createDataFrame(seen, schema), cfg)
    block_map = {
        r["shard"]: np.frombuffer(r["bitmap"], dtype=np.uint8)
        for r in blocks.collect()
    }
    rows = seen + fresh
    if not rows:
        return
    keys = [m for m, _ in rows]
    pos = np.array([_bit_positions(m, cfg) for m in keys], dtype=np.int64)
    expect = _probe_np(np.array([s for _, s in rows], dtype=np.int64), pos, block_map)
    expected = sorted(zip(keys, range(len(rows)), expect.tolist()))
    cand = spark.createDataFrame(
        [(m, s, i) for i, (m, s) in enumerate(rows)], schema + ", i long"
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        for threshold in (old, "-1"):
            spark.conf.set(key, threshold)
            tagged = bloom_prefilter(spark, cand, blocks, cfg)
            got = sorted((r["url_md5"], r["i"], r["maybe_seen"]) for r in tagged.collect())
            assert got == expected, threshold
            assert tagged.columns == ["url_md5", "shard", "i", "maybe_seen"]
        # broadcasts off: the block table is never shipped whole
        plan = tagged._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set(key, old)
    # every key that went into a block probes positive: no false negatives
    assert expect[: len(seen)].all()
