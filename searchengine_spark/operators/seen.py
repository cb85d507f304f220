"""Partitioned bloom-filter URL-seen set (D3).

The reference holds the entire seen set as exact in-RAM MD5 hashes
(SearchEngine.h:517-522; 48 MB per 1 M pages, README.md:9). At the
10^10-URL scale of the north rule no single JVM holds that, so the
engine keeps the *exact* set as a distributed table and adds a
partitioned bloom prefilter:

* blocks table: one bitmap per host-shard, built with `applyInPandas`
  over the seen table grouped by shard (numpy bit ops, Arrow batches);
* probe: native SQL. Candidates left-join their shard's block and test
  k bits of it with byte/bit expressions; the planner chooses the join
  by size (the block table broadcasts while it is small, e.g. 16 shards
  x 8 KiB, and shuffles on `shard` at scale). Bloom-negative candidates
  are *definitely new* and skip the exact anti-join; only bloom-positive
  candidates (true hits + false positives) shuffle into the exact
  `left_anti` against `seen`.

Exactness is therefore preserved (bloom is a prefilter, never the
verdict — SURVEY.md §7.4-3) while the shuffled side of the hot J1 join
shrinks by roughly the new-URL fraction, which at steady-state crawl is
the dominant fraction.

Bit positions come from overlapping 15-hex windows of the (uniformly
distributed) url_md5 key, computed as NATIVE columns
(`conv(substr(md5,…),16,10) % nbits`), so the probe runs no Python at
all; Python runs only in the block build and merge, once per shard.
The pure-Python twin (_bit_positions) keeps the oracle/tests in
lockstep.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from searchengine_spark.config import CrawlConfig


def _bit_positions(md5_hex: str, cfg: CrawlConfig) -> list[int]:
    """k independent positions from k overlapping 15-hex windows of the
    (already uniformly distributed) md5 key — no re-hashing needed.
    Pure-Python twin of :func:`bloom_position_cols` (tests pin them
    equal)."""
    return [
        int(md5_hex[4 * k : 4 * k + 15], 16) % cfg.bloom_bits_per_shard
        for k in range(cfg.bloom_hashes)
    ]


def bloom_position_cols(md5_col: Column, cfg: CrawlConfig) -> list[Column]:
    """The k bloom bit positions as native JVM columns (no Python):
    position_k = int(md5_hex[4k:4k+15], 16) % bits."""
    return [
        F.pmod(
            F.conv(F.substring(md5_col, 4 * k + 1, 15), 16, 10).cast("long"),
            F.lit(cfg.bloom_bits_per_shard),
        ).cast("long")
        for k in range(cfg.bloom_hashes)
    ]


def build_bloom_blocks(seen: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """seen(url_md5, shard) -> blocks(shard, bitmap binary).

    Positions are computed natively and exploded before the grouped
    pandas stage, so the numpy body is one vectorized scatter
    (`np.bitwise_or.at`) per shard — no per-row Python."""
    nbytes = cfg.bloom_bits_per_shard // 8

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(nbytes, dtype=np.uint8)
        pos = pdf["pos"].to_numpy(dtype=np.int64)
        np.bitwise_or.at(
            bits, pos >> 3, np.left_shift(np.uint8(1), (pos & 7).astype(np.uint8))
        )
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "bitmap": [bits.tobytes()]}
        )

    positions = F.array(*bloom_position_cols(F.col("url_md5"), cfg))
    return (
        seen.select("shard", F.explode(positions).alias("pos"))
        .groupBy("shard")
        .applyInPandas(build, schema="shard int, bitmap binary")
    )


def merge_bloom_blocks(a: DataFrame, b: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """OR-merge two block tables (incremental maintenance: each round
    builds blocks only from that round's new keys and ORs them in —
    the full seen set is never rescanned)."""
    nbytes = cfg.bloom_bits_per_shard // 8

    def orall(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = np.zeros(nbytes, dtype=np.uint8)
        for bm in pdf["bitmap"]:
            acc |= np.frombuffer(bm, dtype=np.uint8)
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "bitmap": [acc.tobytes()]}
        )

    return (
        a.unionByName(b)
        .groupBy("shard")
        .applyInPandas(orall, schema="shard int, bitmap binary")
    )


def bloom_prefilter(
    spark: SparkSession, candidates: DataFrame, blocks: DataFrame, cfg: CrawlConfig
) -> DataFrame:
    """Tag candidates with maybe_seen; bloom-negatives are exact-new.

    Native SQL, no Python: candidates left-join their shard's block,
    and each of the k positions from :func:`bloom_position_cols` tests
    bit `pos % 8` of byte `pos div 8` of the bitmap — the byte and bit
    order of :func:`build_bloom_blocks`'s numpy scatter. The planner
    picks the join strategy by size: a block table under the broadcast
    threshold ships whole to every task, a larger one shuffles the
    candidates on `shard`, and no block ever passes through the driver.

    A shard with NO bitmap returns maybe_seen=True (suspect), routing
    those rows through the exact anti-join. Under a consistent config
    a missing bitmap means "no seen keys in this shard" and True only
    costs a no-op join probe; under config drift (e.g. a resume with a
    different n_shards) False would silently skip the exact check —
    a dedup-exactness violation caught live in round-3 verification.
    """
    bitmap = F.col("_bloom_bitmap")
    all_set = F.lit(True)
    for pos in bloom_position_cols(F.col("url_md5"), cfg):
        byte = F.conv(
            F.hex(F.substr(bitmap, F.shiftright(pos, 3) + 1, F.lit(1))), 16, 10
        )
        # (shiftright's Python wrapper takes only a literal shift)
        bit = F.call_function("shiftright", byte.cast("int"), pos.bitwiseAND(7))
        all_set = all_set & (bit.bitwiseAND(1) == 1)
    maybe_seen = bitmap.isNull() | all_set
    # the null filter is the one the optimizer infers for the
    # definitely-new branch (where the left join turns inner); stating
    # it keeps both branches' block sides identical, so they share one
    # broadcast or shuffle of the block table
    blocks = blocks.where(F.col("shard").isNotNull() & F.col("bitmap").isNotNull())
    return candidates.join(
        blocks.select("shard", F.col("bitmap").alias("_bloom_bitmap")),
        "shard",
        "left",
    ).select(*candidates.columns, maybe_seen.alias("maybe_seen"))


def dedup_seen_with_bloom(
    spark: SparkSession,
    candidates: DataFrame,
    seen: DataFrame,
    blocks: DataFrame,
    cfg: CrawlConfig,
) -> DataFrame:
    """Exact seen-dedup with the bloom fast path.

    result ≡ candidates ANTI JOIN seen — verified by tests; only the
    physical shape differs (bloom-negatives never shuffle).
    """
    tagged = bloom_prefilter(spark, candidates, blocks, cfg)
    definitely_new = tagged.where(~F.col("maybe_seen")).drop("maybe_seen")
    suspects = tagged.where(F.col("maybe_seen")).drop("maybe_seen")
    cleared = suspects.join(seen.select("url_md5"), "url_md5", "left_anti")
    return definitely_new.unionByName(cleared)


# -- prefilter dispatch (north rule: "bloom/cuckoo-filter URL-seen set") -------
#
# cfg.seen_filter selects the structure; both arms share the exact-
# anti-join fallback contract, so the choice is physical-only. The
# crawl loop goes through these dispatchers and stays structure-
# agnostic; each round commits ONLY the active structure's table
# (plans/crawl.py drops the inactive version so a switch-back rebuilds
# from the pinned seen set instead of trusting a stale filter).


def _filter_impl(cfg: CrawlConfig):
    if cfg.seen_filter == "bloom":
        return None  # this module
    if cfg.seen_filter == "cuckoo":
        from searchengine_spark.operators import cuckoo

        return cuckoo
    raise ValueError(
        f"unknown seen_filter {cfg.seen_filter!r} (expected 'bloom' or 'cuckoo')"
    )


def filter_table_name(cfg: CrawlConfig) -> str:
    _filter_impl(cfg)  # validate the knob
    return cfg.seen_filter


def build_filter_blocks(seen: DataFrame, cfg: CrawlConfig) -> DataFrame:
    impl = _filter_impl(cfg)
    if impl is None:
        return build_bloom_blocks(seen, cfg)
    return impl.build_cuckoo_blocks(seen, cfg)


def merge_filter_blocks(a: DataFrame, b: DataFrame, cfg: CrawlConfig) -> DataFrame:
    impl = _filter_impl(cfg)
    if impl is None:
        return merge_bloom_blocks(a, b, cfg)
    return impl.merge_cuckoo_blocks(a, b, cfg)


def dedup_seen_with_filter(
    spark: SparkSession,
    candidates: DataFrame,
    seen: DataFrame,
    blocks: DataFrame,
    cfg: CrawlConfig,
) -> DataFrame:
    impl = _filter_impl(cfg)
    if impl is None:
        return dedup_seen_with_bloom(spark, candidates, seen, blocks, cfg)
    return impl.dedup_seen_with_cuckoo(spark, candidates, seen, blocks, cfg)
