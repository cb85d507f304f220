"""Similarity search over embedding columns (array<float/double>).

* brute-force cosine top-k — the exactness baseline: broadcast the
  query set, native `zip_with`/`aggregate` dot products (JVM, no
  Python), window top-k. At 100 TB this is one scan of the corpus per
  query batch — right when the query set is small.
* LSH-bucketed ANN — the scale path: deterministic random-hyperplane
  signatures via a vectorized pandas UDF (numpy matmul over Arrow
  batches), candidates = bucket collisions (multi-probe by hamming-1),
  exact cosine re-rank inside buckets only.
* embedding-cosine near-duplicates — pairs above a cosine threshold
  within LSH buckets (near-dup dedup for training data).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W, functions as F

from searchengine_spark.functions.hashes import hash60_py

# Multi-table banded LSH: L independent tables of b hyperplanes each.
# Recall ~ 1 - (1 - p_probe^b)^L per neighbor (p = 1 - theta/pi), so L
# buys recall while b bounds bucket size. Scale rule for 10^10 vectors:
# grow b ~ log2(n / target_bucket_rows) and keep L fixed — candidate
# volume per query stays ~ L * (b+1) * n / 2^b.
N_TABLES = 16
N_HYPERPLANES = 6  # bits per table -> 2^6 buckets/table
DIM = 64


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query vector. queries: (query_id, qvec)."""
    joined = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    ).crossJoin(F.broadcast(queries.select("query_id", "qvec")))
    scored = joined.where(F.col("vec_id") != F.col("query_id")).withColumn(
        "cosine", F.round(cosine_expr(F.col("vec"), F.col("qvec")), 4)
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def _hyperplanes(
    dim: int = DIM, n: int = N_HYPERPLANES, table: int = 0
) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes from hash60 — no RNG;
    each table gets an independent plane set via the salt."""
    m = np.empty((n, dim), dtype=np.float64)
    for j in range(n):
        for d in range(dim):
            m[j, d] = (hash60_py(f"{table}:{j}:{d}", "hp") % 2001) - 1000
    return m / 1000.0


def _all_planes(n_tables: int, n_planes: int, dim: int = DIM) -> np.ndarray:
    return np.stack([_hyperplanes(dim, n_planes, t) for t in range(n_tables)])


def add_lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    n_tables: int = N_TABLES,
    n_planes: int = N_HYPERPLANES,
) -> DataFrame:
    """Per-table sign-pattern bucket ids (`lsh_buckets` array<int>, one
    per table) via ONE numpy matmul over Arrow batches — all tables'
    planes in a single (L*b, dim) multiply."""
    planes = _all_planes(n_tables, n_planes).reshape(n_tables * n_planes, DIM)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf("array<int>")
    def buckets(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.values)  # (batch, dim)
        signs = (m @ planes.T) > 0  # (batch, L*b)
        signs = signs.reshape(len(m), n_tables, n_planes)
        ids = (signs @ weights).astype(np.int32)  # (batch, L)
        return pd.Series(list(ids))

    return df.withColumn("lsh_buckets", buckets(F.col(vec_col)))


def _explode_tables(df: DataFrame) -> DataFrame:
    """(…, lsh_buckets) -> (…, table, bucket) — the join key per table."""
    return df.select(
        *[c for c in df.columns if c != "lsh_buckets"],
        F.posexplode("lsh_buckets").alias("table", "bucket"),
    )


def ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = N_TABLES,
    n_planes: int = N_HYPERPLANES,
) -> DataFrame:
    """Approximate top-k: exact cosine re-rank within multi-table,
    multi-probe LSH buckets.

    Queries probe their own bucket plus every hamming-1 neighbor in
    EACH of the L tables (L*(b+1) probes), candidates = bucket
    collisions in any table, deduped before the exact re-rank. The
    corpus side is bucketed once (at scale: a persisted table bucketed
    by (table, bucket) -> co-located joins, no corpus reshuffle per
    query batch); the query side is broadcast.
    """
    corpus = _explode_tables(
        add_lsh_buckets(
            embeddings.select(
                F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
            ),
            "vec",
            n_tables,
            n_planes,
        )
    )
    q = add_lsh_buckets(
        queries.select("query_id", F.col("qvec")), "qvec", n_tables, n_planes
    )
    probes = _explode_tables(q).select(
        "query_id",
        "qvec",
        "table",
        F.explode(
            F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)],
            )
        ).alias("bucket"),
    )
    cand = (
        corpus.join(F.broadcast(probes), ["table", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qvec", "vec_id", "vec")
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cand.withColumn(
        "cosine", F.round(cosine_expr(F.col("vec"), F.col("qvec")), 4)
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


# --- IVF (inverted-file) ANN: the k-means scale path ---------------------
#
# Coarse quantizer = Lloyd k-means over HASH-DETERMINISTIC seeds with
# EXACT integer arithmetic, so the Spark engine and the DuckDB oracle
# converge to bit-identical centroids:
# * vectors quantize to the 1e-6 grid (e6 bigints) before anything;
# * seeds = the N_IVF_CENTROIDS vectors with smallest
#   (hash60(vec_id), vec_id) — a distributed top-k, no RNG;
# * assignment distance = squared L2 over e6 ints. Exactness bounds at
#   dim 64 (component diff <= 2*M where M = max |e6 component|):
#   64*(2M)^2 <= 2^63 needs |x| <= ~190 on the Spark int64 path, and
#   64*(2M)^2 <= 2^53 needs |x| <= ~5.9 for the oracle's double-typed
#   list arithmetic to stay integer-exact. _q6 guards the tighter one
#   at runtime (raise_error per out-of-range component), so a
#   larger-magnitude corpus fails loudly instead of silently diverging
#   between engines; ties -> min cid;
# * centroid update = per-dim integer sums; the new component is
#   rounded BACK ONTO the e6 grid with offset-positive integer
#   division ((2*(s + n*OFF) + n) div (2*n) - OFF), identical in both
#   engines regardless of their negative-division conventions.
# Scale shape per iteration: one corpus scan, one broadcast of k
# centroids, one map-side-combinable (cid, dim) integer aggregation.
# Scale rule: k ~ sqrt(n) cells, nprobe buys recall linearly in
# scanned fraction; at 10^10 vectors the assigned corpus persists
# partitioned by cid so a query touches only nprobe partitions.

N_IVF_CENTROIDS = 8
IVF_ITERS = 2
IVF_NPROBE = 4
_IVF_OFF = 10_000_000  # > max |mean_e6|; makes the division operand positive


# |e6 component| cap keeping BOTH engines exact (the binding constraint
# is the oracle's double arithmetic: 64*(2M)^2 <= 2^53 => M <= 5.93e6).
# Test embeddings max at |x| ~ 0.49 — far inside.
_Q6_MAX_ABS = 5_900_000


def _q6(vec: Column) -> Column:
    """e6 integer grid (exact in both engines). Components whose
    magnitude would break the engines' exact-arithmetic bounds (see
    the IVF notes above) raise instead of silently diverging."""
    return F.transform(
        vec,
        lambda x: F.when(
            F.abs(F.round(x * 1e6)) > _Q6_MAX_ABS,
            F.raise_error(
                F.concat(
                    F.lit(
                        "embedding component out of the exact-arithmetic "
                        f"range (|e6| > {_Q6_MAX_ABS}): "
                    ),
                    x.cast("string"),
                )
            ).cast("long"),
        ).otherwise(F.round(x * 1e6).cast("long")),
    )


def _sqdist_e6(a: Column, b: Column) -> Column:
    """Exact squared L2 between two e6-grid bigint arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )


def ivf_fit(
    embeddings: DataFrame,
    k: int = N_IVF_CENTROIDS,
    n_iter: int = IVF_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd k-means -> centroids (cid, cvec: e6 bigints).

    A cluster that loses all members simply drops out (classic Lloyd);
    both engines drop it identically."""
    from searchengine_spark.functions.hashes import hash60

    e = embeddings.select(
        F.col(id_col).alias("vec_id"), _q6(F.col(vec_col)).alias("xi")
    )
    seeds = (
        e.withColumn("_h", hash60(F.col("vec_id").cast("string"), "ivf"))
        .orderBy("_h", "vec_id")
        .limit(k)
    )
    w_seed = W.partitionBy(F.lit(0)).orderBy("_h", "vec_id")  # k rows only
    cents = seeds.select(
        (F.row_number().over(w_seed) - 1).alias("cid"), F.col("xi").alias("cvec")
    )
    for _ in range(n_iter):
        asg = ivf_assign(e, cents, vec_col="xi")
        # half-up rounding of s/n on the positive-shifted value:
        # floor((2*(s + n*OFF) + n) / (2*n)) - OFF. The numerator stays
        # under 2^53, so the double quotient is exact enough that floor
        # agrees with pure integer division in both engines.
        summed = (
            asg.select("cid", F.posexplode("xi").alias("dim", "x"))
            .groupBy("cid", "dim")
            .agg(
                F.floor(
                    (2 * (F.sum("x") + F.count("*") * _IVF_OFF) + F.count("*"))
                    / (2 * F.count("*"))
                ).alias("_c")
            )
            .withColumn("_c", F.col("_c") - _IVF_OFF)
        )
        cents = (
            summed.groupBy("cid")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("dim", "_c"))),
                    lambda s: s["_c"],
                ).alias("cvec")
            )
        )
    return cents


def ivf_assign(
    e: DataFrame, cents: DataFrame, vec_col: str = "xi", keep_dist: bool = False
) -> DataFrame:
    """Nearest-centroid assignment by exact integer distance; ties ->
    smallest cid. One broadcast of k centroids; the reduce is keyed by
    vec_id alone so the shuffle key stays narrow, never the vector
    arrays. Carried columns ride INSIDE the min-struct (after the
    (_d, cid) sort prefix, which is unique per group since cid is
    distinct), so the winning row's values are taken deterministically
    — no first()-nondeterminism even if a caller adds a column that is
    not constant within a vec_id group. keep_dist=True also emits the
    winning exact squared distance as `d2` (e6² integer units)."""
    d = _sqdist_e6(F.col(vec_col), F.col("cvec"))
    scored = e.crossJoin(F.broadcast(cents)).withColumn("_d", d)
    others = [c for c in e.columns if c != "vec_id"]
    m = F.min(
        F.struct(F.col("_d"), F.col("cid"), *[F.col(c) for c in others])
    ).alias("_m")
    extra = [F.col("_m._d").alias("d2")] if keep_dist else []
    return (
        scored.groupBy("vec_id")
        .agg(m)
        .select(
            "vec_id",
            *[F.col(f"_m.{c}").alias(c) for c in others],
            F.col("_m.cid").alias("cid"),
            *extra,
        )
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = IVF_NPROBE,
    n_centroids: int = N_IVF_CENTROIDS,
    n_iter: int = IVF_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: rank centroids per query by exact integer distance,
    scan only the nprobe nearest cells, exact cosine re-rank inside
    (the same proven 4-dp re-rank the LSH path uses)."""
    cents = ivf_fit(embeddings, n_centroids, n_iter, id_col, vec_col)
    corpus = ivf_assign(
        embeddings.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("vec"),
            _q6(F.col(vec_col)).alias("xi"),
        ),
        cents,
    ).drop("xi")
    q = queries.select("query_id", "qvec", _q6(F.col("qvec")).alias("qxi"))
    w_probe = W.partitionBy("query_id").orderBy("_d", "cid")
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("_d", _sqdist_e6(F.col("qxi"), F.col("cvec")))
        .withColumn("_pr", F.row_number().over(w_probe))
        .where(F.col("_pr") <= nprobe)
        .select("query_id", "qvec", "cid")
    )
    cand = corpus.join(F.broadcast(probes), "cid").where(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.withColumn(
        "cosine", F.round(cosine_expr(F.col("vec"), F.col("qvec")), 4)
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = N_TABLES,
    n_planes: int = N_HYPERPLANES,
) -> DataFrame:
    """Near-duplicate pairs by cosine within multi-table LSH buckets
    (a < b) — a pair is a candidate if ANY table collides, then exact
    cosine verifies. Never an all-pairs product: one shuffle on
    (table, bucket), one on the deduped pair set."""
    b = _explode_tables(
        add_lsh_buckets(
            embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")),
            "vec",
            n_tables,
            n_planes,
        )
    )
    # the self-join would evaluate the bucket UDF once per side: hang
    # both sides off ONE (table, bucket) exchange so AQE reuses it —
    # the numpy matmul and the upstream scan then run exactly once.
    b = b.repartition("table", "bucket")
    x, y = b.alias("x"), b.alias("y")
    pairs = (
        x.join(y, ["table", "bucket"])
        .where(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            F.col("x.vec_id").alias("vec_a"),
            F.col("y.vec_id").alias("vec_b"),
            F.col("x.vec").alias("va"),
            F.col("y.vec").alias("vb"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
        .withColumn("cosine", F.round(cosine_expr(F.col("va"), F.col("vb")), 4))
        .where(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )
    return pairs


def embedding_clusters(
    embeddings: DataFrame,
    n_centroids: int = N_IVF_CENTROIDS,
    n_iter: int = IVF_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster summary of the deterministic Lloyd k-means fit:
    members, exact integer inertia (e6^2 units), and the min member id
    as a stable exemplar. The corpus-curation clustering step (cluster
    profiles drive sampling/pruning decisions; SemDeDup-style dedup
    then runs inside clusters — see semdedup_pairs).

    Scale: k centroids broadcast; assignment reduce keyed by vec_id
    alone; the rollup is a k-row aggregate. Inertia terms are cast to
    long PER ROW before summing (each term <= 64*(2*_Q6_MAX_ABS)^2 <
    2^53, so the per-row value is exact in both engines; the long sum
    never rounds, where a double sum over many members would)."""
    e = embeddings.select(
        F.col(id_col).alias("vec_id"), _q6(F.col(vec_col)).alias("xi")
    )
    cents = ivf_fit(embeddings, n_centroids, n_iter, id_col, vec_col)
    asg = ivf_assign(e, cents, keep_dist=True).drop("xi")
    return (
        asg.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("d2").alias("inertia_e12"),
            F.min("vec_id").alias("exemplar_id"),
        )
    )


def semdedup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = N_IVF_CENTROIDS,
    n_iter: int = IVF_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-then-dedup near-duplicate pairs (SemDeDup, Abbas et al.
    2023, arXiv:2303.09540): k-means partitions the corpus, exact
    cosine runs only WITHIN each cluster — pair work is sum(n_c^2)
    instead of n^2, and the cid equi-join shuffles each vector once.
    Complementary to embedding_near_dups (LSH buckets): LSH recall
    depends on bucket collisions; cluster-bounded search catches pairs
    whose hyperplane signatures differ but who share a centroid.

    Scale: choose k ~ n / target_cluster_size to bound per-cluster
    pair work; a skewed giant cluster is re-split by raising k (the
    fit is cheap: centroids stay broadcast-sized). Pairs are emitted
    a < b once — no dedup pass needed since each vector lives in
    exactly one cluster (unlike multi-table LSH)."""
    e = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        _q6(F.col(vec_col)).alias("xi"),
    )
    cents = ivf_fit(embeddings, n_centroids, n_iter, id_col, vec_col)
    asg = ivf_assign(e, cents).drop("xi")
    x, y = asg.alias("x"), asg.alias("y")
    return (
        x.join(y, "cid")
        .where(F.col("x.vec_id") < F.col("y.vec_id"))
        .withColumn(
            "cosine", F.round(cosine_expr(F.col("x.vec"), F.col("y.vec")), 4)
        )
        .where(F.col("cosine") >= threshold)
        .select(
            F.col("cid"),
            F.col("x.vec_id").alias("vec_a"),
            F.col("y.vec_id").alias("vec_b"),
            F.col("cosine"),
        )
    )
