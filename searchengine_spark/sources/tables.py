"""Test-data table loaders (TESTDATA.md tables)."""

from __future__ import annotations

from pyspark.sql import DataFrame

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin a scan to cluster width when it has fewer splits than
    cores (optimization guide §2.5 "input skew", miniature form); a
    no-op (zero added exchange) once the scan carries >= cores splits,
    as it does at production scale.

    The caller decides. A small-SF table is ONE parquet split, so a
    heavy per-row chain above the scan runs in the scan stage's only
    task; the spread buys parallelism for that chain at the price of
    one exchange per read. It pays only where the chain is still
    heavy: at sf0.1/local[4] (median warm wall), lm_perplexity runs
    3.87 s spread vs 7.21 s raw and dedup_minhash 5.97 vs 7.12 s, while
    dedup_simhash (an Arrow kernel) runs 1.38 s raw vs 1.93 s spread,
    and graph_reach's cheap aggregates paid the exchange at every
    reference (2.53 vs 3.42 s). Rows are unchanged (round-robin with
    Spark's sort-before-repartition keeps the assignment deterministic
    under retries), so every oracle twin hashes identically."""
    p = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(p) if df.rdd.getNumPartitions() < p else df
