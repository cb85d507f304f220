"""Property tests for the cuckoo filter's vectorized numpy core
(operators/cuckoo.py) — no Spark session needed.

Invariants fuzzed over random key multisets and geometries:

* conservation — slots occupancy + stash size == number of inserted
  keys (the two-round placement drops nothing and duplicates nothing);
* no false negatives — every inserted (bucket, fp) pair is findable in
  bucket-1, bucket-2 or the stash (the pure-python probe twin below
  follows cuckoo_prefilter's membership rule);
* front-compaction — every bucket holds its occupied slots before its
  empty slots (the _place append contract);
* delete-one — deleting k occurrences of an inserted key removes
  exactly k (conservation again), leaves everything else positive,
  and preserves compaction.
"""

import dataclasses

import numpy as np
from hypothesis import given, settings, strategies as st

from searchengine_spark.config import CrawlConfig
from searchengine_spark.operators import cuckoo as CK

GEOMS = [
    dataclasses.replace(
        CrawlConfig(), seen_filter="cuckoo", cuckoo_buckets_per_shard=nb,
        cuckoo_bucket_size=bs,
    )
    for nb, bs in [(2, 1), (4, 2), (8, 4), (64, 4)]
]

keys = st.lists(
    st.tuples(st.integers(0, 1 << 20), st.integers(1, 65535)),
    min_size=0,
    max_size=200,
)


def _probe_py(slots2d, stash, bucket, fp, mask):
    """Pure-python twin of cuckoo_prefilter's test for one key."""
    b2 = bucket ^ ((fp * CK.ALT_MULT) & mask)
    if fp in slots2d[bucket] or fp in slots2d[b2]:
        return True
    packed = (min(bucket, b2) << 16) | fp
    return packed in stash


def _build(pairs, cfg):
    mask = cfg.cuckoo_buckets_per_shard - 1
    slots, stash = CK._empty_block(cfg)
    bucket = np.array([b & mask for b, _ in pairs], dtype=np.int64)
    fp = np.array([f for _, f in pairs], dtype=np.int64)
    order = np.lexsort((fp, bucket))
    stash = CK._insert(slots, stash, bucket[order], fp[order], mask)
    return slots, stash, bucket, fp, mask


@given(keys)
@settings(max_examples=200, deadline=None)
def test_insert_conserves_and_probes_positive(pairs):
    for cfg in GEOMS:
        slots, stash, bucket, fp, mask = _build(pairs, cfg)
        assert int((slots != 0).sum()) + len(stash) == len(pairs)
        st_list = stash.tolist()
        for b, f in zip(bucket, fp):
            assert _probe_py(slots, st_list, int(b), int(f), mask)
        # front-compaction: no occupied slot after an empty one
        occ = slots != 0
        assert (occ[:, 1:] <= occ[:, :-1]).all()
        assert np.all(stash[:-1] <= stash[1:])  # stash stays sorted


@given(keys, st.data())
@settings(max_examples=100, deadline=None)
def test_delete_removes_exactly_one_each(pairs, data):
    for cfg in GEOMS[:2] + GEOMS[-1:]:
        slots, stash, bucket, fp, mask = _build(pairs, cfg)
        if not len(pairs):
            continue
        n_del = data.draw(st.integers(1, len(pairs)))
        idx = data.draw(
            st.lists(
                st.integers(0, len(pairs) - 1),
                min_size=n_del,
                max_size=n_del,
                unique=True,
            )
        )
        stash_list = stash.tolist()
        # mirror delete_from_cuckoo_blocks' per-key clear on the numpy
        # core directly (the Spark wrapper is pinned by test_cuckoo)
        for i in sorted(idx):
            b1, f = int(bucket[i]), int(fp[i])
            b2 = b1 ^ ((f * CK.ALT_MULT) & mask)
            for b in (b1, b2):
                hit = np.nonzero(slots[b] == f)[0]
                if hit.size:
                    slots[b, hit[0]] = 0
                    break
            else:
                stash_list.remove((min(b1, b2) << 16) | f)
        assert int((slots != 0).sum()) + len(stash_list) == len(pairs) - n_del
        # surviving multiset still fully probe-positive
        remaining = [j for j in range(len(pairs)) if j not in set(idx)]
        from collections import Counter

        want = Counter(
            (int(bucket[j]) & mask, int(fp[j])) for j in remaining
        )
        # compare canonically: a stored bucket may be i1 or i2
        have = Counter()
        b_idx, s_idx = np.nonzero(slots)
        for b, s in zip(b_idx, s_idx):
            f = int(slots[b, s])
            b2 = b ^ ((f * CK.ALT_MULT) & mask)
            have[(min(int(b), int(b2)), f)] += 1
        for packed in stash_list:
            have[(packed >> 16, packed & 0xFFFF)] += 1
        want_canon = Counter()
        for (b, f), c in want.items():
            b2 = b ^ ((f * CK.ALT_MULT) & mask)
            want_canon[(min(b, b2), f)] += c
        assert have == want_canon
