"""Partitioned cuckoo-filter URL-seen set (D3, cuckoo variant).

The north rule names a "bloom/cuckoo-filter URL-seen set"; operators/
seen.py provides the bloom arm, this module provides the cuckoo arm
(Fan, Andersen, Kaminsky & Mitzenmacher 2014, "Cuckoo Filter:
Practically Better Than Bloom") under the SAME contract: the filter is
a PREFILTER, never the verdict — probe-negative candidates are
definitely new and skip the exact anti-join; probe-positive candidates
(true hits + fingerprint collisions) still shuffle into the exact
`left_anti` against `seen`, so dedup stays exact (reference keeps the
whole set exact in RAM, SearchEngine.h:517-522 — at 10^10 URLs we go
approximate-with-exact-fallback, SURVEY.md §7.4-3).

What the cuckoo arm adds over bloom: **deletion**. A bloom bitmap can
only grow; evicting keys (e.g. a recrawl policy expiring URLs so they
re-enter the frontier) forces a full rebuild. A cuckoo filter stores
per-key 16-bit fingerprints in one of two buckets, so a key can be
removed by clearing one matching fingerprint (`delete_from_cuckoo_
blocks`). Space: 2 bytes/slot vs bloom's ~2 bytes/key at comparable
FPR; probe cost: 2 bucket gathers of `bucket_size` slots.

Layout per host-shard (mirrors the bloom blocks table):
  slots  binary — uint16[nbuckets * bucket_size], 0 = empty slot,
          buckets front-compacted (occupied slots first);
  stash  binary — sorted uint32[], packed (canonical_bucket<<16)|fp.

Partial-key cuckoo hashing: fp = 16-bit fingerprint of url_md5
(never 0); i1 = 60 md5 bits mod nbuckets (power of two); the alternate
bucket i2 = i1 XOR (h(fp) & mask) with h(fp) = fp * 0x5bd1e995 (the
public MurmurHash2 mixing constant). XOR makes the pair an involution:
alt(i2, fp) == i1, so a stored (bucket, fp) pair names its partner
without knowing which of the two is canonical — that is what makes
blocks MERGEABLE (incremental per-round deltas, like the bloom OR).

The reference C++ insert resolves overflow with a sequential eviction
("kick") loop — per-row and order-dependent, the wrong shape for an
Arrow batch. This build instead places each batch in two vectorized
rounds (all fps try their first bucket, losers try the alternate) and
sends residual losers to an exact per-shard STASH (Kirsch,
Mitzenmacher & Wieder 2009, "More Robust Hashing: Cuckoo Hashing with
a Stash"). Probe checks bucket-1, bucket-2, then the stash, so NO
false negative is possible no matter how overloaded the table gets —
an overloaded shard degrades to a bigger stash (weaker prefilter),
never to a dedup violation. Size `cuckoo_buckets_per_shard` so
nbuckets*bucket_size ≳ expected seen keys per shard / 0.9, exactly
like sizing bloom_bits_per_shard.

False-positive rate ≈ 2*bucket_size/2^16 (+ a stash term, only
relevant when overloaded) ≈ 1.2e-4 at the default bucket_size=4 —
comparable to the bloom arm at default geometry.

No Python on the J1 hot path: fp/i1/i2 are NATIVE columns
(conv/pmod/xor on the md5 hex, like seen.bloom_position_cols), and the
probe is native SQL over a left join on `shard`, shaped like the bloom
probe — 2 x bucket_size fixed-offset slot reads, and a stash decoded
once per block row and tested with `array_contains`. Python runs only
in the block build, merge and delete, once per shard; the only Python
loop is inside `delete` — an offline maintenance batch (bounded by the
eviction batch size), never part of a crawl round.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from searchengine_spark.config import CrawlConfig

FP_MOD = 65535  # fingerprints live in [1, 65535]; 0 marks an empty slot
ALT_MULT = 0x5BD1E995  # MurmurHash2 mixing constant (public domain)

BLOCK_SCHEMA = "shard int, slots binary, stash binary"


# -- key derivation (native columns + pure-Python twin, pinned equal) --------


def _check_geometry(cfg: CrawlConfig) -> None:
    n = cfg.cuckoo_buckets_per_shard
    if n & (n - 1) or not 0 < n <= 1 << 16:
        raise ValueError(
            "cuckoo_buckets_per_shard must be a power of two in (0, 2^16] "
            f"(xor alternate bucket + uint32 stash packing), got {n}"
        )


def cuckoo_key_py(md5_hex: str, cfg: CrawlConfig) -> tuple[int, int, int]:
    """(fp, i1, i2) for one url_md5 — pure-Python twin of
    :func:`cuckoo_key_cols` (tests pin them equal)."""
    mask = cfg.cuckoo_buckets_per_shard - 1
    fp = (int(md5_hex[:4], 16) % FP_MOD) + 1
    i1 = int(md5_hex[4:19], 16) & mask
    i2 = i1 ^ ((fp * ALT_MULT) & mask)
    return fp, i1, i2


def cuckoo_key_cols(md5_col: Column, cfg: CrawlConfig) -> list[Column]:
    """[fp, i1, i2] as native JVM columns (no Python): the same hex
    windows of the already-uniform md5 key the bloom arm uses."""
    mask = cfg.cuckoo_buckets_per_shard - 1
    fp = (
        F.pmod(F.conv(F.substring(md5_col, 1, 4), 16, 10).cast("long"), F.lit(FP_MOD))
        + 1
    )
    i1 = F.conv(F.substring(md5_col, 5, 15), 16, 10).cast("long").bitwiseAND(
        F.lit(mask)
    )
    i2 = i1.bitwiseXOR((fp * F.lit(ALT_MULT)).bitwiseAND(F.lit(mask)))
    return [fp.cast("long"), i1.cast("long"), i2.cast("long")]


def _alt(bucket: np.ndarray, fp: np.ndarray, mask: int) -> np.ndarray:
    return bucket ^ ((fp.astype(np.int64) * ALT_MULT) & mask)


def _pack(bucket: np.ndarray, fp: np.ndarray, mask: int) -> np.ndarray:
    """Canonical stash key: min of the bucket pair (derivable from
    EITHER bucket, so probe and insert always agree) packed with fp."""
    cb = np.minimum(bucket, _alt(bucket, fp, mask))
    return (cb.astype(np.uint32) << np.uint32(16)) | fp.astype(np.uint32)


# -- vectorized build / merge --------------------------------------------------


def _place(slots2d: np.ndarray, bucket: np.ndarray, fp: np.ndarray) -> np.ndarray:
    """Append fps into front-compacted buckets (one vectorized pass:
    sort by bucket, within-bucket rank fills the free tail slots).
    Returns the placed mask in input order."""
    bsize = slots2d.shape[1]
    occ = (slots2d != 0).sum(axis=1)
    order = np.argsort(bucket, kind="stable")
    b = bucket[order]
    f = fp[order]
    rank = np.arange(len(b)) - np.searchsorted(b, b, side="left")
    slot = occ[b] + rank
    ok = slot < bsize
    slots2d[b[ok], slot[ok]] = f[ok]
    placed = np.empty(len(b), dtype=bool)
    placed[order] = ok
    return placed


def _insert(
    slots2d: np.ndarray,
    stash: np.ndarray,
    bucket: np.ndarray,
    fp: np.ndarray,
    mask: int,
) -> np.ndarray:
    """Two vectorized placement rounds + stash overflow; returns the
    new sorted stash. `bucket` may be either member of a key's pair
    (merge feeds stored buckets back in) — probe checks both."""
    placed = _place(slots2d, bucket, fp)
    rb, rf = bucket[~placed], fp[~placed]
    if len(rb):
        placed2 = _place(slots2d, _alt(rb, rf, mask), rf)
        sb, sf = rb[~placed2], rf[~placed2]
        if len(sb):
            stash = np.sort(np.concatenate([stash, _pack(sb, sf, mask)]))
    return stash


def _empty_block(cfg: CrawlConfig) -> tuple[np.ndarray, np.ndarray]:
    slots = np.zeros(
        (cfg.cuckoo_buckets_per_shard, cfg.cuckoo_bucket_size), dtype=np.uint16
    )
    return slots, np.zeros(0, dtype=np.uint32)


def _decode(row, cfg: CrawlConfig) -> tuple[np.ndarray, np.ndarray]:
    slots = (
        np.frombuffer(row["slots"], dtype=np.uint16)
        .reshape(cfg.cuckoo_buckets_per_shard, cfg.cuckoo_bucket_size)
        .copy()
    )
    return slots, np.frombuffer(row["stash"], dtype=np.uint32).copy()


def _block_items(
    slots2d: np.ndarray, stash: np.ndarray, mask: int
) -> tuple[np.ndarray, np.ndarray]:
    """All stored (bucket, fp) pairs of a block — the bucket each fp
    actually sits in (for stash items the canonical bucket). Feeding
    these back to _insert reproduces the same membership semantics."""
    b_idx, _ = np.nonzero(slots2d)
    fps = slots2d[slots2d != 0].astype(np.int64)
    sb = (stash >> np.uint32(16)).astype(np.int64)
    sf = (stash & np.uint32(0xFFFF)).astype(np.int64)
    return np.concatenate([b_idx.astype(np.int64), sb]), np.concatenate([fps, sf])


def build_cuckoo_blocks(seen: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """seen(url_md5, shard) -> blocks(shard, slots, stash).

    fp/i1 arrive as native columns; the grouped-pandas body is
    vectorized numpy placement — no per-row Python."""
    _check_geometry(cfg)
    mask = cfg.cuckoo_buckets_per_shard - 1

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        slots, stash = _empty_block(cfg)
        fp = pdf["fp"].to_numpy(dtype=np.int64)
        i1 = pdf["i1"].to_numpy(dtype=np.int64)
        order = np.lexsort((fp, i1))  # deterministic layout across runs
        stash = _insert(slots, stash, i1[order], fp[order], mask)
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "slots": [slots.tobytes()],
                "stash": [stash.tobytes()],
            }
        )

    fp, i1, _ = cuckoo_key_cols(F.col("url_md5"), cfg)
    return (
        seen.select("shard", fp.alias("fp"), i1.alias("i1"))
        .groupBy("shard")
        .applyInPandas(build, schema=BLOCK_SCHEMA)
    )


def merge_cuckoo_blocks(a: DataFrame, b: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """Merge two block tables (incremental maintenance: each round
    builds blocks only from that round's new keys and merges them in —
    the full seen set is never rescanned, same contract as the bloom
    OR-merge). Re-packs each shard's ≤ nbuckets*bsize + |stash| stored
    pairs — KiB-scale numpy work per shard, independent of |seen|."""
    _check_geometry(cfg)
    mask = cfg.cuckoo_buckets_per_shard - 1

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        slots, stash = _empty_block(cfg)
        buckets, fps = [], []
        for _, row in pdf.iterrows():
            s2d, st = _decode(row, cfg)
            bi, fi = _block_items(s2d, st, mask)
            buckets.append(bi)
            fps.append(fi)
        bucket = np.concatenate(buckets)
        fp = np.concatenate(fps)
        order = np.lexsort((fp, bucket))
        stash = _insert(slots, stash, bucket[order], fp[order], mask)
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "slots": [slots.tobytes()],
                "stash": [stash.tobytes()],
            }
        )

    return a.unionByName(b).groupBy("shard").applyInPandas(merge, schema=BLOCK_SCHEMA)


# -- probe / dedup -------------------------------------------------------------


def _swap16(x: Column) -> Column:
    """x's two low bytes swapped: a uint16 stored little-endian reads
    back through `conv(hex(bytes),16,10)` byte-swapped, so the probe
    compares against the swapped key instead of decoding every slot."""
    return F.shiftleft(x.bitwiseAND(0xFF), 8).bitwiseOR(F.shiftright(x, 8))


# the sorted uint32 stash as array<bigint>, each entry byte-swapped
# (little-endian bytes read big-endian). The empty-stash guard is
# needed: sequence(0, -1) is [0, -1], not empty.
_STASH_ARRAY = """
CASE WHEN octet_length(stash) = 0 THEN CAST(array() AS array<bigint>)
ELSE transform(sequence(0, shiftright(octet_length(stash), 2) - 1),
               k -> CAST(conv(hex(substr(stash, k * 4 + 1, 4)), 16, 10) AS bigint))
END"""


def cuckoo_prefilter(
    spark: SparkSession, candidates: DataFrame, blocks: DataFrame, cfg: CrawlConfig
) -> DataFrame:
    """Tag candidates with maybe_seen; cuckoo-negatives are exact-new.

    Native SQL, no Python: candidates left-join their shard's block.
    The bucket test reads the `bucket_size` uint16 slots of bucket i1
    and of bucket i2 from :func:`cuckoo_key_cols` (slot j of bucket b
    sits at byte (b*bucket_size + j)*2 of `slots`) and compares each
    with the fingerprint. The stash is decoded once per block row, on
    the block side of the join, and probed with `array_contains` for
    the canonical packed key (min(i1, i2) << 16) | fp. Slots and stash
    are stored little-endian, so both tests compare against the
    byte-swapped key. The planner picks the join strategy by size, as
    for the bloom probe: a small block table broadcasts, a large one
    shuffles the candidates on `shard`, and no block ever passes
    through the driver.

    Same missing-shard rule as the bloom arm: no block for a shard =>
    suspect (True), so config drift can only cost a no-op exact probe,
    never skip the exact check (dedup-exactness invariant)."""
    _check_geometry(cfg)
    bsize = cfg.cuckoo_bucket_size
    slots = F.col("_ck_slots")
    fp, i1, i2 = cuckoo_key_cols(F.col("url_md5"), cfg)
    fp_swapped = _swap16(fp)
    hit = F.lit(False)
    for b in (i1, i2):
        for j in range(bsize):
            slot = F.substr(slots, (b * bsize + j) * 2 + 1, F.lit(2))
            hit = hit | (F.conv(F.hex(slot), 16, 10).cast("long") == fp_swapped)
    packed_swapped = F.shiftleft(fp_swapped, 16).bitwiseOR(_swap16(F.least(i1, i2)))
    # coalesce: from a bare (null-intolerant) array_contains the
    # optimizer infers a not-null filter on the decoded stash for the
    # definitely-new branch only, and the two branches of the dedup
    # union would stop sharing one exchange of the block table
    in_stash = F.array_contains(F.col("_ck_stash"), packed_swapped)
    maybe_seen = slots.isNull() | hit | F.coalesce(in_stash, F.lit(False))
    # as in bloom_prefilter: the explicit null filter is the one the
    # optimizer infers for the definitely-new branch, so both branches'
    # block sides stay identical
    blocks = blocks.where(F.col("shard").isNotNull() & F.col("slots").isNotNull())
    return candidates.join(
        blocks.select(
            "shard",
            F.col("slots").alias("_ck_slots"),
            F.expr(_STASH_ARRAY).alias("_ck_stash"),
        ),
        "shard",
        "left",
    ).select(*candidates.columns, maybe_seen.alias("maybe_seen"))


def dedup_seen_with_cuckoo(
    spark: SparkSession,
    candidates: DataFrame,
    seen: DataFrame,
    blocks: DataFrame,
    cfg: CrawlConfig,
) -> DataFrame:
    """Exact seen-dedup with the cuckoo fast path.

    result ≡ candidates ANTI JOIN seen — verified by tests; only the
    physical shape differs (cuckoo-negatives never shuffle)."""
    tagged = cuckoo_prefilter(spark, candidates, blocks, cfg)
    definitely_new = tagged.where(~F.col("maybe_seen")).drop("maybe_seen")
    suspects = tagged.where(F.col("maybe_seen")).drop("maybe_seen")
    cleared = suspects.join(seen.select("url_md5"), "url_md5", "left_anti")
    return definitely_new.unionByName(cleared)


# -- deletion (the capability bloom lacks) -------------------------------------


def delete_from_cuckoo_blocks(
    blocks: DataFrame, keys: DataFrame, cfg: CrawlConfig
) -> DataFrame:
    """Remove ONE stored occurrence per key (url_md5, shard) — the
    standard cuckoo-filter delete. Only keys that were actually
    inserted may be deleted (deleting a never-inserted key can clear a
    colliding fingerprint and create a false negative — the classic
    cuckoo caveat, Fan 2014 §3.3); callers evict the same keys from
    the exact `seen` table in the same transaction, so the filter and
    the set stay in lockstep.

    Maintenance path (eviction batches), not the J1 hot path: the
    per-key clear loop is bounded by the delete batch size per shard;
    bucket re-compaction and stash rebuild stay vectorized."""
    _check_geometry(cfg)
    mask = cfg.cuckoo_buckets_per_shard - 1
    bsize = cfg.cuckoo_bucket_size

    fp, i1, _ = cuckoo_key_cols(F.col("url_md5"), cfg)
    key_lists = (
        keys.select("shard", fp.alias("fp"), i1.alias("i1"))
        .groupBy("shard")
        .agg(
            F.collect_list("fp").alias("del_fp"),
            F.collect_list("i1").alias("del_i1"),
        )
    )
    joined = blocks.join(key_lists, "shard", "left")

    def apply_deletes(pdf: pd.DataFrame) -> pd.DataFrame:
        row = pdf.iloc[0]
        if row["del_fp"] is None or len(row["del_fp"]) == 0:
            return pdf[["shard", "slots", "stash"]]
        slots2d, stash = _decode(row, cfg)
        stash_list = stash.tolist()
        dfp = np.asarray(row["del_fp"], dtype=np.int64)
        di1 = np.asarray(row["del_i1"], dtype=np.int64)
        order = np.lexsort((dfp, di1))  # deterministic across layouts
        for fp_k, b1 in zip(dfp[order], di1[order]):
            b2 = int(b1) ^ ((int(fp_k) * ALT_MULT) & mask)
            hit = False
            for b in (int(b1), b2):
                idx = np.nonzero(slots2d[b] == fp_k)[0]
                if idx.size:
                    slots2d[b, idx[0]] = 0
                    hit = True
                    break
            if not hit:
                packed = (min(int(b1), b2) << 16) | int(fp_k)
                try:
                    stash_list.remove(packed)
                except ValueError:
                    pass  # never-inserted key: documented no-op
        # re-compact buckets front-first (keeps the _place invariant)
        key = (slots2d == 0).astype(np.uint8)
        order2 = np.argsort(key, axis=1, kind="stable")
        slots2d = np.take_along_axis(slots2d, order2, axis=1)
        stash = np.sort(np.asarray(stash_list, dtype=np.uint32))
        return pd.DataFrame(
            {
                "shard": [int(row["shard"])],
                "slots": [slots2d.tobytes()],
                "stash": [stash.tobytes()],
            }
        )

    return joined.groupBy("shard").applyInPandas(apply_deletes, schema=BLOCK_SCHEMA)
