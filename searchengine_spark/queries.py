"""The engine's query catalog: every operator exposed as a
(spark_fn, oracle_sql) pair.

spark_fn(spark, sf_dir) builds the DataFrame with the engine's real
operators; oracle_sql is the ANSI-SQL twin DuckDB runs over the same
parquet views. Column names/aliases match exactly (driver hashes
values after sorting columns by name). Derived universes (URL grammar,
shingles, synthetic edges, near-dup augmentation) are regenerated
inside the SQL via the twin builders in functions/, so both engines
compute over bit-identical inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from searchengine_spark.config import CrawlConfig
from searchengine_spark.corpus import (
    ROBOTS_DISALLOWED_PREFIX,
    raw_url_expr,
    raw_url_sql,
    robots_state_sql,
)
from searchengine_spark.functions.hashes import hash60, hash60_sql
from searchengine_spark.functions import text as TX
from searchengine_spark.functions.urls import (
    canonicalize_sql,
    filter_url_sql,
    host_shard_sql,
    split_host_sql,
    url_md5_sql,
)
from searchengine_spark.operators import dedup as DD
from searchengine_spark.operators import frontier as FR
from searchengine_spark.operators import index as IX
from searchengine_spark.operators import lm as LM
from searchengine_spark.operators import multimodal as MM
from searchengine_spark.operators import pagerank as PR
from searchengine_spark.operators import similarity as SIM
from searchengine_spark.sources.tables import spread_scan
from searchengine_spark.streaming import events as EV

NSHARDS = 16
SALT = "s0"
QCFG = CrawlConfig(n_shards=NSHARDS, per_shard_quota=5, shard_salt=SALT)


# ---------------------------------------------------------------------------
# shared derivations
# ---------------------------------------------------------------------------

_SCRATCH_ROOT: str | None = None


def _scratch_dir(prefix: str) -> str:
    """A fresh directory for a one-shot query's materialized stage,
    under one per-process root that is removed at interpreter exit (the
    lazy reads that follow a query keep needing it until then)."""
    global _SCRATCH_ROOT
    import tempfile

    if _SCRATCH_ROOT is None:
        import atexit
        import shutil

        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="se_queries_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw scan; a consumer whose per-row chain is heavy wraps it in
    spread_scan (measured per consumer — see spread_scan)."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _candidates_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = _docs(spark, sf_dir).select(
        "doc_id", raw_url_expr("doc_id").alias("raw_url")
    )
    return FR.normalize_candidates(raw, QCFG)


_HOST = split_host_sql("url")

CAND_CTES = f"""
  urls AS (SELECT doc_id, {raw_url_sql('doc_id')} AS raw_url FROM documents),
  canon AS (SELECT doc_id, raw_url, {canonicalize_sql('raw_url')} AS url FROM urls),
  cand0 AS (
    SELECT doc_id, raw_url, url,
           {url_md5_sql('url')} AS url_md5,
           {_HOST} AS host,
           {host_shard_sql(_HOST, NSHARDS, SALT)} AS shard
    FROM canon
    WHERE url IS NOT NULL AND ({filter_url_sql('url')})
      AND {url_md5_sql('url')} IS NOT NULL
  ),
  cand AS (
    SELECT * FROM (
      SELECT c.*, {robots_state_sql('host')} AS _robots,
             CASE WHEN url LIKE 'https://%' THEN substr(url, 9 + length(host))
                  ELSE substr(url, 1 + length(host)) END AS _path
      FROM cand0 c
    )
    WHERE _robots <> 'deny'
      AND NOT (_robots LIKE 'disallow:%' AND _path LIKE '{ROBOTS_DISALLOWED_PREFIX}%')
  )
"""


# ---------------------------------------------------------------------------
# frontier / crawl queries
# ---------------------------------------------------------------------------

def q_url_canonicalize(spark, sf_dir):
    raw = _docs(spark, sf_dir).select("doc_id", raw_url_expr("doc_id").alias("raw_url"))
    from searchengine_spark.functions.urls import canonicalize_expr

    return raw.select(
        "doc_id", "raw_url", canonicalize_expr("raw_url").alias("url")
    ).orderBy("doc_id")


SQL_URL_CANONICALIZE = f"""
WITH urls AS (SELECT doc_id, {raw_url_sql('doc_id')} AS raw_url FROM documents)
SELECT doc_id, raw_url, {canonicalize_sql('raw_url')} AS url FROM urls ORDER BY doc_id
"""


def q_url_candidates(spark, sf_dir):
    return _candidates_df(spark, sf_dir).select(
        "doc_id", "url", "url_md5", "host", "shard"
    )


SQL_URL_CANDIDATES = f"""
WITH {CAND_CTES}
SELECT doc_id, url, url_md5, host, shard FROM cand
"""


def q_host_shards(spark, sf_dir):
    return (
        _candidates_df(spark, sf_dir)
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("host").alias("n_hosts"),
        )
        .orderBy("shard")
    )


SQL_HOST_SHARDS = f"""
WITH {CAND_CTES}
SELECT shard, count(*) AS n_urls, count(DISTINCT host) AS n_hosts
FROM cand GROUP BY shard ORDER BY shard
"""


def q_frontier_dedup(spark, sf_dir):
    """J1: candidates anti-join a seen set (docs with doc_id%3==0)."""
    cand = FR.dedup_batch(_candidates_df(spark, sf_dir))
    seen = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") % 3 == 0)
        .select(raw_url_expr("doc_id").alias("raw_url"))
    )
    seen_keys = FR.normalize_candidates(seen, QCFG).select("url_md5")
    return FR.dedup_seen(cand, seen_keys).select("url_md5", "url", "host")


SQL_FRONTIER_DEDUP = f"""
WITH {CAND_CTES},
  dedup AS (
    SELECT * FROM (
      SELECT c.*, ROW_NUMBER() OVER (PARTITION BY url_md5 ORDER BY url) rn
      FROM cand c) WHERE rn = 1
  ),
  seen AS (SELECT DISTINCT url_md5 FROM cand WHERE doc_id % 3 = 0)
SELECT d.url_md5, d.url, d.host FROM dedup d
LEFT JOIN seen s ON s.url_md5 = d.url_md5
WHERE s.url_md5 IS NULL
"""


def q_frontier_dedup_cuckoo(spark, sf_dir):
    """J1 through the cuckoo prefilter arm (operators/cuckoo.py — the
    north rule's 'bloom/cuckoo-filter URL-seen set'). The filter is
    physical-only (probe-negatives skip the exact anti-join, probe-
    positives still take it), so the oracle is the SAME exact-anti-join
    SQL as frontier_dedup: a hash-green run proves the no-false-
    negative contract on real parse-pipeline keys. Geometry is sized
    to OVERLOAD at this SF (32 buckets x 4 slots/shard) so the stash
    path is exercised, not just the bucket path."""
    import dataclasses

    cfg = dataclasses.replace(
        QCFG, seen_filter="cuckoo", cuckoo_buckets_per_shard=32
    )
    from searchengine_spark.operators import cuckoo as CK

    cand = FR.dedup_batch(_candidates_df(spark, sf_dir))
    seen = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") % 3 == 0)
        .select(raw_url_expr("doc_id").alias("raw_url"))
    )
    seen_keys = FR.normalize_candidates(seen, QCFG).select("url_md5", "shard")
    blocks = CK.build_cuckoo_blocks(seen_keys, cfg)
    return CK.dedup_seen_with_cuckoo(spark, cand, seen_keys, blocks, cfg).select(
        "url_md5", "url", "host"
    )


def q_schedule_round(spark, sf_dir):
    """Full deterministic scheduling semantics via the engine operator."""
    cand = FR.dedup_batch(
        _candidates_df(spark, sf_dir).withColumn(
            "discovered_round", (F.col("doc_id") % 4).cast("int")
        )
    ).select("url", "url_md5", "host", "shard", "discovered_round")
    hosts = cand.select("host").distinct().select(
        "host",
        F.pmod(hash60(F.col("host"), "na"), F.lit(3)).cast("int").alias(
            "next_allowed_round"
        ),
    )
    # hosts here is DERIVED (distinct over the parse pipeline) — Spark
    # has no static stats for it, so hint the broadcast instead of
    # paying an AQE replan wave (it is <= one row per grammar host)
    return FR.schedule_round(cand, hosts, 1, QCFG, small_hosts=True).select(
        "url", "url_md5", "host", "shard", "discovered_round", "seq_in_round"
    )


def q_schedule_priority(spark, sf_dir):
    """The north-star PRIORITY frontier queue: schedule_round with a
    priority column prepending the pick order at every level (per-host
    min-struct, per-shard quota, global seq). Priority here =
    shortest-URL-first (the synthetic grammar's canonical URLs all
    share path depth 2, so length is the observable classic heuristic;
    depth priority is pinned by the hand-built frontier pytest)."""
    cand = FR.dedup_batch(
        _candidates_df(spark, sf_dir).withColumn(
            "discovered_round", (F.col("doc_id") % 4).cast("int")
        )
    ).select("url", "url_md5", "host", "shard", "discovered_round")
    hosts = cand.select("host").distinct().select(
        "host",
        F.pmod(hash60(F.col("host"), "na"), F.lit(3)).cast("int").alias(
            "next_allowed_round"
        ),
    )
    return FR.schedule_round(
        cand,
        hosts,
        1,
        QCFG,
        small_hosts=True,
        priority=F.length("url").cast("int"),
    ).select(
        "url", "url_md5", "host", "shard", "discovered_round", "seq_in_round"
    )


SQL_SCHEDULE_PRIORITY = f"""
WITH {CAND_CTES},
  front AS (
    SELECT * FROM (
      SELECT url, url_md5, host, shard, (doc_id % 4) AS discovered_round,
             CAST(length(url) AS INT) AS prio,
             ROW_NUMBER() OVER (PARTITION BY url_md5 ORDER BY url) rn
      FROM cand) WHERE rn = 1
  ),
  hosts AS (
    SELECT host, ({hash60_sql('host', 'na')} % 3) AS next_allowed_round
    FROM (SELECT DISTINCT host FROM front)
  ),
  eligible AS (
    SELECT f.* FROM front f JOIN hosts h USING (host)
    WHERE h.next_allowed_round <= 1
  ),
  picked AS (
    SELECT * FROM (
      SELECT e.*, ROW_NUMBER() OVER (
        PARTITION BY host ORDER BY prio, discovered_round, url_md5) hrn
      FROM eligible e) WHERE hrn = 1
  ),
  quota AS (
    SELECT * FROM (
      SELECT p.*, ROW_NUMBER() OVER (
        PARTITION BY shard ORDER BY prio, discovered_round, url_md5) srn
      FROM picked p) WHERE srn <= {QCFG.per_shard_quota}
  )
SELECT url, url_md5, host, shard, discovered_round,
       CAST(ROW_NUMBER() OVER (ORDER BY prio, discovered_round, url_md5) AS INT)
         AS seq_in_round
FROM quota
"""


SQL_SCHEDULE_ROUND = f"""
WITH {CAND_CTES},
  front AS (
    SELECT * FROM (
      SELECT url, url_md5, host, shard, (doc_id % 4) AS discovered_round,
             ROW_NUMBER() OVER (PARTITION BY url_md5 ORDER BY url) rn
      FROM cand) WHERE rn = 1
  ),
  hosts AS (
    SELECT host, ({hash60_sql('host', 'na')} % 3) AS next_allowed_round
    FROM (SELECT DISTINCT host FROM front)
  ),
  eligible AS (
    SELECT f.* FROM front f JOIN hosts h USING (host)
    WHERE h.next_allowed_round <= 1
  ),
  picked AS (
    SELECT * FROM (
      SELECT e.*, ROW_NUMBER() OVER (
        PARTITION BY host ORDER BY discovered_round, url_md5) hrn
      FROM eligible e) WHERE hrn = 1
  ),
  quota AS (
    SELECT * FROM (
      SELECT p.*, ROW_NUMBER() OVER (
        PARTITION BY shard ORDER BY discovered_round, url_md5) srn
      FROM picked p) WHERE srn <= {QCFG.per_shard_quota}
  )
SELECT url, url_md5, host, shard, discovered_round,
       CAST(ROW_NUMBER() OVER (ORDER BY discovered_round, url_md5) AS INT)
         AS seq_in_round
FROM quota
"""


def q_top_hosts(spark, sf_dir):
    return FR.top_hosts(_candidates_df(spark, sf_dir), 20)


SQL_TOP_HOSTS = f"""
WITH {CAND_CTES}
SELECT host, count(*) AS n_urls FROM cand
GROUP BY host ORDER BY n_urls DESC, host LIMIT 20
"""


def q_robots_gate(spark, sf_dir):
    """Robots distribution over hosts of the *pre-robots* candidate set.

    Uses the hot-path parse UDF (admit = canonicalize + filterURL) so
    the aggregation stage never inlines the native canonicalize->filter
    expression chain (that composition is what used to blow janino's
    64 KB codegen limit and fall back to interpreted eval)."""
    from searchengine_spark.corpus import robots_state_expr
    from searchengine_spark.functions.urls import make_parse_candidates_udf

    parse = make_parse_candidates_udf()
    raw = _docs(spark, sf_dir).select(raw_url_expr("doc_id").alias("raw_url"))
    hosts = (
        raw.withColumn("_p", parse(F.col("raw_url")))
        .where(F.col("_p.admit"))
        .select(F.col("_p.host").alias("host"))
        .distinct()
    )
    return (
        hosts.withColumn("robots_state", robots_state_expr(F.col("host")))
        .groupBy("robots_state")
        .agg(F.count("*").alias("n_hosts"))
        .orderBy("robots_state")
    )


SQL_ROBOTS_GATE = f"""
WITH urls AS (SELECT doc_id, {raw_url_sql('doc_id')} AS raw_url FROM documents),
  canon AS (SELECT {canonicalize_sql('raw_url')} AS url FROM urls),
  ok AS (SELECT url, {_HOST} AS host FROM canon
         WHERE url IS NOT NULL AND ({filter_url_sql('url')})),
  hosts AS (SELECT DISTINCT host FROM ok)
SELECT {robots_state_sql('host')} AS robots_state, count(*) AS n_hosts
FROM hosts GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# one full crawl round, driver-verified end-to-end
# ---------------------------------------------------------------------------
#
# The crawl lifecycle (S1 seed -> S9/O4 schedule -> S5 fetch -> T2 spans
# -> T5 outlinks -> P1-P5 ingest -> A1 host cap -> J1 dedup) was pinned
# only by pytest byte-equality vs oracle/simulator.py; these two queries
# put the SAME round on the driver's hash gate. The engine side runs the
# real operators (schedule_round, the fetch pandas UDF, span array ops,
# normalize_candidates); the oracle re-derives every value from the
# hash-deterministic corpus formulas (corpus.py:212-257) in pure SQL.

DIGCFG = CrawlConfig(
    n_shards=NSHARDS,
    per_shard_quota=50,
    shard_salt=SALT,
    max_urls_per_host=4,  # small cap so A1 admission BINDS in the digest
)


def _digest_round(spark, sf_dir):
    """Round 0 of a crawl seeded with the full grammar universe:
    returns (cand_pre, hostcnt, frontier, fetched, ok_with_spans).

    cand_pre (the Arrow URL parse) fans out to every branch of both
    digest queries; run_round persists this stage through
    cache_handles, and the one-shot catalog twin materializes it to a
    tmp parquet instead (caching is banned here, CLAUDE.md rule)."""
    from searchengine_spark.plans.crawl import _fetch_fails_expr
    from searchengine_spark.corpus import fetch_spans_expr

    docs = _docs(spark, sf_dir)
    max_doc = docs.count()
    raw = docs.select(raw_url_expr("doc_id").alias("raw_url"))
    pdir = _scratch_dir("se_digest_") + "/cand_pre"
    FR.normalize_candidates(raw, DIGCFG).write.parquet(pdir)
    cand_pre = spread_scan(spark.read.parquet(pdir))
    hostcnt = cand_pre.groupBy("host").agg(F.count("*").alias("url_count"))
    frontier = FR.dedup_batch(cand_pre).withColumn(
        "discovered_round", F.lit(0).cast("int")
    )
    hosts = hostcnt.select("host", F.lit(0).alias("next_allowed_round"))
    sched = FR.schedule_round(frontier, hosts, 0, DIGCFG)
    fetched = sched.withColumn("failed", _fetch_fails_expr(F.col("host"), 0))

    ok = fetched.where(~F.col("failed")).withColumn(
        "spans", fetch_spans_expr(F.col("url"), max_doc)
    )
    return cand_pre, hostcnt, frontier, fetched, ok


# shared schedule CTEs: grammar seeds -> dedup -> per-host pick ->
# per-shard quota -> seq -> deterministic fetch failures
_DIGEST_CTES = f"""
  {CAND_CTES},
  hostcnt AS (SELECT host, count(*) AS url_count FROM cand GROUP BY host),
  front AS (
    SELECT * FROM (
      SELECT c.*, ROW_NUMBER() OVER (PARTITION BY url_md5 ORDER BY url) frn
      FROM cand c) WHERE frn = 1
  ),
  picked AS (
    SELECT * FROM (
      SELECT f.*, ROW_NUMBER() OVER (PARTITION BY host ORDER BY url_md5) hrn
      FROM front f) WHERE hrn = 1
  ),
  quota AS (
    SELECT * FROM (
      SELECT p.*, ROW_NUMBER() OVER (PARTITION BY shard ORDER BY url_md5) srn
      FROM picked p) WHERE srn <= {DIGCFG.per_shard_quota}
  ),
  sched AS (
    SELECT url, url_md5, host, shard,
           CAST(ROW_NUMBER() OVER (ORDER BY url_md5) AS INT) AS seq_in_round
    FROM quota
  ),
  fetched AS (
    SELECT s.*, ({hash60_sql("host || '|0'", 'fail')} % 13 = 0) AS failed
    FROM sched s
  ),
  ok AS (SELECT * FROM fetched WHERE NOT failed)
"""


def q_crawl_fetch_log(spark, sf_dir):
    """The round-0 fetch log with per-page span digests computed from
    the REAL spans column (fetch UDF output): title text, body length,
    link/media span counts — the oracle recomputes each from the
    hash formulas, so any drift in scheduling order, the fetch-failure
    gate, or span generation hash-fails this query."""
    *_, ok = _digest_round(spark, sf_dir)
    s = F.col("spans")
    first_of = lambda kind: F.element_at(  # noqa: E731
        F.filter(s, lambda x: x["kind"] == F.lit(kind)), 1
    )["text"]
    return ok.select(
        "url",
        "url_md5",
        "host",
        "shard",
        "seq_in_round",
        first_of("title").alias("title"),
        F.length(first_of("text")).alias("body_len"),
        F.size(F.filter(s, lambda x: x["kind"] == F.lit("link"))).alias("n_links"),
        F.exists(s, lambda x: x["kind"] == F.lit("media")).alias("has_media"),
        F.element_at(
            F.filter(s, lambda x: x["kind"].isin("b", "h1", "h2")), 1
        )["kind"].alias("style_kind"),
        F.size(s).alias("n_spans"),
    ).orderBy("seq_in_round")


SQL_CRAWL_FETCH_LOG = f"""
WITH {_DIGEST_CTES}
SELECT url, url_md5, host, shard, seq_in_round,
       'page ' || url AS title,
       (9 + length(url) + ({hash60_sql('url', 'len')} % 40)) AS body_len,
       4 AS n_links,
       ({hash60_sql('url', 'media')} % 3 = 0) AS has_media,
       CASE WHEN {hash60_sql('url', 'style')} % 4 = 0 THEN
         (CASE {hash60_sql('url', 'style')} % 3
            WHEN 0 THEN 'b' WHEN 1 THEN 'h1' WHEN 2 THEN 'h2' END)
       END AS style_kind,
       (6 + CASE WHEN {hash60_sql('url', 'media')} % 3 = 0 THEN 1 ELSE 0 END
          + CASE WHEN {hash60_sql('url', 'style')} % 4 = 0 THEN 1 ELSE 0 END)
         AS n_spans
FROM ok ORDER BY seq_in_round
"""


def q_crawl_round_digest(spark, sf_dir):
    """Per-shard digest of the full round: outlink extraction from the
    real spans, candidate normalization, host-cap admission (the cap
    binds under DIGCFG), batch dedup and the J1 seen anti-join — the
    run_round DAG (plans/crawl.py) minus the state-store commits.

    Plan note: run_round itself persists the parsed-candidates stage
    through cache_handles; this one-shot catalog form may not cache
    (CLAUDE.md rule), so the Arrow-parse output is materialized ONCE
    to a tmp parquet and read back — otherwise every digest branch
    (candidate count, admission, dedup chain) re-runs the parse UDF
    (~35 Arrow evals in the final plan before this)."""
    cand_pre, hostcnt, frontier, fetched, ok = _digest_round(spark, sf_dir)
    outlinks = ok.select(
        F.explode(
            F.transform(
                F.filter("spans", lambda x: x["kind"] == F.lit("link")),
                lambda x: x["media_ref"],
            )
        ).alias("raw_url")
    )
    cdir = _scratch_dir("se_digest_") + "/cnd"
    FR.normalize_candidates(outlinks, DIGCFG).write.parquet(cdir)
    cnd = spread_scan(spark.read.parquet(cdir))
    remaining = hostcnt.select(
        "host",
        (F.lit(DIGCFG.max_urls_per_host) - F.col("url_count")).alias("_rem"),
    )
    admitted = FR.admit_host_caps(
        cnd, F.broadcast(remaining), DIGCFG.max_urls_per_host
    )
    new = FR.dedup_seen(FR.dedup_batch(admitted), frontier.select("url_md5"))
    sch_s = fetched.groupBy("shard").agg(
        F.count("*").alias("scheduled"),
        F.sum(F.when(F.col("failed"), 0).otherwise(1)).alias("fetched_ok"),
        F.sum(F.when(F.col("failed"), 1).otherwise(0)).alias("fetch_failed"),
    )
    cand_s = (
        cnd.groupBy("shard")
        .agg(F.count("*").alias("candidates"))
        .join(
            admitted.groupBy("shard").agg(F.count("*").alias("admitted")),
            "shard",
            "left",
        )
        .withColumn("admitted", F.coalesce(F.col("admitted"), F.lit(0)))
    )
    new_s = new.groupBy("shard").agg(F.count("*").alias("new_urls"))
    return (
        sch_s.join(cand_s, "shard", "full_outer")
        .join(new_s, "shard", "full_outer")
        .fillna(0)
        .orderBy("shard")
    )


SQL_CRAWL_ROUND_DIGEST = f"""
WITH {_DIGEST_CTES},
  nn AS (SELECT count(*) AS n FROM documents),
  outl AS (
    SELECT ({hash60_sql("o.url || '#' || CAST(t.j AS VARCHAR)", 'link')}
            % (SELECT n FROM nn)) AS tid
    FROM ok o, range(0, 4) t(j)
  ),
  rawu AS (SELECT {raw_url_sql('tid')} AS raw_url FROM outl),
  canon2 AS (SELECT {canonicalize_sql('raw_url')} AS url FROM rawu),
  cnd0 AS (
    SELECT url, {url_md5_sql('url')} AS url_md5, {_HOST} AS host,
           {host_shard_sql(_HOST, NSHARDS, SALT)} AS shard
    FROM canon2
    WHERE url IS NOT NULL AND ({filter_url_sql('url')})
      AND {url_md5_sql('url')} IS NOT NULL
  ),
  cnd AS (
    SELECT * FROM (
      SELECT c.*, {robots_state_sql('host')} AS _robots,
             CASE WHEN url LIKE 'https://%' THEN substr(url, 9 + length(host))
                  ELSE substr(url, 1 + length(host)) END AS _path
      FROM cnd0 c
    )
    WHERE _robots <> 'deny'
      AND NOT (_robots LIKE 'disallow:%' AND _path LIKE '{ROBOTS_DISALLOWED_PREFIX}%')
  ),
  adm AS (
    SELECT c.url, c.url_md5, c.host, c.shard,
           ROW_NUMBER() OVER (PARTITION BY c.host ORDER BY url_md5, url) AS rn,
           ({DIGCFG.max_urls_per_host} - coalesce(h.url_count, 0)) AS rem
    FROM cnd c LEFT JOIN hostcnt h USING (host)
  ),
  ddup AS (
    SELECT * FROM (
      SELECT a.*, ROW_NUMBER() OVER (PARTITION BY url_md5 ORDER BY url) r2
      FROM adm a WHERE rn <= rem) WHERE r2 = 1
  ),
  seen0 AS (SELECT DISTINCT url_md5 FROM cand),
  newu AS (
    SELECT d.* FROM ddup d LEFT JOIN seen0 s USING (url_md5)
    WHERE s.url_md5 IS NULL
  ),
  sch_s AS (
    SELECT shard, count(*) AS scheduled,
           CAST(sum(CASE WHEN failed THEN 0 ELSE 1 END) AS BIGINT) AS fetched_ok,
           CAST(sum(CASE WHEN failed THEN 1 ELSE 0 END) AS BIGINT) AS fetch_failed
    FROM fetched GROUP BY shard
  ),
  cand_s AS (
    SELECT shard, count(*) AS candidates,
           CAST(sum(CASE WHEN rn <= rem THEN 1 ELSE 0 END) AS BIGINT) AS admitted
    FROM adm GROUP BY shard
  ),
  new_s AS (SELECT shard, count(*) AS new_urls FROM newu GROUP BY shard)
SELECT shard,
       coalesce(scheduled, 0) AS scheduled,
       coalesce(fetched_ok, 0) AS fetched_ok,
       coalesce(fetch_failed, 0) AS fetch_failed,
       coalesce(candidates, 0) AS candidates,
       coalesce(admitted, 0) AS admitted,
       coalesce(new_urls, 0) AS new_urls
FROM sch_s
FULL OUTER JOIN cand_s USING (shard)
FULL OUTER JOIN new_s USING (shard)
ORDER BY shard
"""


# ---------------------------------------------------------------------------
# link graph / pagerank
# ---------------------------------------------------------------------------

def _synth_edges(spark, sf_dir):
    d = _docs(spark, sf_dir)
    n = d.count()
    e = d.select(F.col("doc_id").alias("src"), ((F.col("doc_id") * 7 + 1) % n).alias("dst")).unionAll(
        d.select(F.col("doc_id").alias("src"), ((F.col("doc_id") * 13 + 2) % n).alias("dst"))
    )
    e = e.where(F.col("src") != F.col("dst")).distinct()
    return e.withColumn("out_degree", F.count("*").over(W.partitionBy("src")))


def q_pagerank3(spark, sf_dir):
    edges = _synth_edges(spark, sf_dir)
    nodes = _docs(spark, sf_dir).select(F.col("doc_id").alias("node"))
    return PR.pagerank(edges, nodes, n_iter=3).orderBy("node")


_EDGE_CTES = """
  nodes AS (SELECT doc_id AS node FROM documents),
  nn AS (SELECT count(*) AS n FROM documents),
  raw_edges AS (
    SELECT doc_id AS src, (doc_id*7+1) % (SELECT n FROM nn) AS dst FROM documents
    UNION ALL
    SELECT doc_id, (doc_id*13+2) % (SELECT n FROM nn) FROM documents
  ),
  edges0 AS (SELECT DISTINCT src, dst FROM raw_edges WHERE src <> dst),
  edges AS (SELECT src, dst,
                   COUNT(*) OVER (PARTITION BY src) AS out_degree FROM edges0)
"""


def _pr_iter_sql(prev: str, out: str) -> str:
    return f""",
  {out}_c AS (
    SELECT e.dst AS node, SUM(r.rank / e.out_degree) AS s
    FROM edges e JOIN {prev} r ON e.src = r.node GROUP BY e.dst
  ),
  {out} AS (
    SELECT n.node, 0.15 + 0.85 * COALESCE(c.s, 0.0) AS rank
    FROM nodes n LEFT JOIN {out}_c c ON n.node = c.node
  )"""


SQL_PAGERANK3 = (
    "WITH "
    + _EDGE_CTES
    + ", r0 AS (SELECT node, 1.0 AS rank FROM nodes)"
    + _pr_iter_sql("r0", "r1")
    + _pr_iter_sql("r1", "r2")
    + _pr_iter_sql("r2", "r3")
    + """
SELECT node, round(least(rank, 100.0), 6) AS rank FROM r3 ORDER BY node
"""
)


def q_link_graph_stats(spark, sf_dir):
    return (
        _synth_edges(spark, sf_dir)
        .select("src", "out_degree")
        .distinct()
        .groupBy("out_degree")
        .agg(F.count("*").alias("n_nodes"))
        .orderBy("out_degree")
    )


SQL_LINK_GRAPH_STATS = (
    "WITH "
    + _EDGE_CTES
    + """
SELECT out_degree, count(*) AS n_nodes
FROM (SELECT DISTINCT src, out_degree FROM edges)
GROUP BY out_degree ORDER BY out_degree
"""
)


def q_ppr3(spark, sf_dir):
    """Personalized PageRank from a deterministic seed set (doc_id %
    50 == 0): 3 restart sweeps; related-pages rank concentrated
    around the seeds."""
    edges = _synth_edges(spark, sf_dir)
    nodes = _docs(spark, sf_dir).select(F.col("doc_id").alias("node"))
    seeds = nodes.where(F.col("node") % 50 == 0)
    return PR.personalized_pagerank(edges, nodes, seeds, n_iter=3).orderBy(
        "node"
    )


def _ppr_iter_sql(prev: str, out: str) -> str:
    return f""",
  {out}_c AS (
    SELECT e.dst AS node, SUM(r.rank / e.out_degree) AS s
    FROM edges e JOIN {prev} r ON e.src = r.node GROUP BY e.dst
  ),
  {out} AS (
    SELECT n.node, n.is_seed,
           0.15 * n.is_seed + 0.85 * COALESCE(c.s, 0.0) AS rank
    FROM pnodes n LEFT JOIN {out}_c c ON n.node = c.node
  )"""


SQL_PPR3 = (
    "WITH "
    + _EDGE_CTES
    + """,
  pnodes AS (
    SELECT node, CASE WHEN node % 50 = 0 THEN 1 ELSE 0 END AS is_seed
    FROM nodes
  ),
  p0 AS (SELECT node, is_seed, CAST(is_seed AS DOUBLE) AS rank FROM pnodes)"""
    + _ppr_iter_sql("p0", "p1")
    + _ppr_iter_sql("p1", "p2")
    + _ppr_iter_sql("p2", "p3")
    + """
SELECT node, round(rank, 6) AS rank, CAST(is_seed AS INT) AS is_seed
FROM p3 ORDER BY node
"""
)


def q_hits3(spark, sf_dir):
    """Hubs & authorities over the synthetic link graph: 3 exact
    BIGINT path-count sweeps, one final max-normalization (the only
    float step — see operators/pagerank.hits)."""
    edges = _synth_edges(spark, sf_dir).select("src", "dst")
    return PR.hits(edges, iters=3).orderBy("node")


def _hits_iter_sql(prev_h: str, a_out: str, h_out: str) -> str:
    return f""",
  {a_out}_c AS (
    SELECT e.dst AS node, CAST(SUM(p.h) AS BIGINT) AS a
    FROM edges0 e JOIN {prev_h} p ON e.src = p.node GROUP BY e.dst
  ),
  {a_out} AS (
    SELECT n.node, CAST(COALESCE(c.a, 0) AS BIGINT) AS a
    FROM hnodes n LEFT JOIN {a_out}_c c ON n.node = c.node
  ),
  {h_out}_c AS (
    SELECT e.src AS node, CAST(SUM(a.a) AS BIGINT) AS h
    FROM edges0 e JOIN {a_out} a ON e.dst = a.node GROUP BY e.src
  ),
  {h_out} AS (
    SELECT n.node, CAST(COALESCE(c.h, 0) AS BIGINT) AS h
    FROM hnodes n LEFT JOIN {h_out}_c c ON n.node = c.node
  )"""


SQL_HITS3 = (
    "WITH "
    + _EDGE_CTES
    + """,
  hnodes AS (SELECT src AS node FROM edges0 UNION SELECT dst FROM edges0),
  h0 AS (SELECT node, CAST(1 AS BIGINT) AS h FROM hnodes)"""
    + _hits_iter_sql("h0", "a1", "h1")
    + _hits_iter_sql("h1", "a2", "h2")
    + _hits_iter_sql("h2", "a3", "h3")
    + """,
  hscores AS (
    SELECT n.node, a.a, h.h
    FROM hnodes n JOIN a3 a ON n.node = a.node JOIN h3 h ON n.node = h.node
  ),
  hmx AS (SELECT CAST(max(a) AS BIGINT) AS amax,
                 CAST(max(h) AS BIGINT) AS hmax FROM hscores)
SELECT node,
       round(a * 1.0 / nullif(amax, 0), 6) AS authority,
       round(h * 1.0 / nullif(hmax, 0), 6) AS hub
FROM hscores, hmx ORDER BY node
"""
)


# ---------------------------------------------------------------------------
# postings / search
# ---------------------------------------------------------------------------

_POSTINGS_CTES = """
  words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
  ),
  postings AS (
    SELECT w.doc_id, w.term,
           list_position(string_split(d.text, ' '), w.term) AS first_pos,
           cnt.tf,
           round(CAST(cnt.tf AS DOUBLE) / len(string_split(d.text, ' ')), 6)
             AS rank
    FROM (SELECT DISTINCT doc_id, term FROM words) w
    JOIN documents d ON d.doc_id = w.doc_id
    JOIN (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2) cnt
      ON cnt.doc_id = w.doc_id AND cnt.term = w.term
    WHERE length(w.term) > 0
  )
"""


def _postings(spark, sf_dir):
    return IX.build_postings(spread_scan(_docs(spark, sf_dir)))


def _e(col, scale: int):
    """Exact fixed-point lift: per-row values that already sit on a
    10^-scale decimal grid become exact integers, so the following SUM
    is order-independent (integer addition associates). round-after-
    float-SUM was the round-2 red surface: summing grid values lands
    EXACTLY on .5 rounding boundaries, where Spark's partition-order
    and DuckDB's scan-order accumulations flip the last digit."""
    return F.round(col * (10**scale)).cast("long")


def _e_sql(expr: str, scale: int) -> str:
    """DuckDB twin of :func:`_e`."""
    return f"CAST(round(({expr}) * 1e{scale}) AS BIGINT)"


def q_term_stats(spark, sf_dir):
    return (
        _postings(spark, sf_dir)
        .groupBy("term")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tf").alias("total_tf"),
            F.sum(_e(F.col("rank"), 6)).alias("total_rank_e6"),
        )
        .orderBy("term")
    )


SQL_TERM_STATS = (
    "WITH "
    + _POSTINGS_CTES
    + f"""
SELECT term, count(*) AS n_docs, CAST(sum(tf) AS BIGINT) AS total_tf,
       CAST(sum({_e_sql('rank', 6)}) AS BIGINT) AS total_rank_e6
FROM postings GROUP BY term ORDER BY term
"""
)

# ---------------------------------------------------------------------------
# weighted dict (getWords parity — SearchEngine.cpp:306-490)
# ---------------------------------------------------------------------------

# non-ASCII fixture tokens (P7): every ~29th title carries one, so the
# UTF-8 tokenizer branch (ASCII words break at non-ASCII bytes; words
# starting non-ASCII absorb trailing ASCII word chars) is exercised on
# the driver's hash gate — 'Café' -> 'caf'(capital)+'é', 'naïve' ->
# 'na'+'ïve', 'Über' stays 'Über' (C tolower touches ASCII only),
# '北京大学' is one word.
NONASCII_TOKENS = ["Café", "naïve", "Über", "北京大学"]


def _weighted_sections(spark, sf_dir):
    """Section columns + styled blocks for the weighted index over the
    documents table: url = the grammar URL, title = first 4 words with
    the first uppercased (so capitalFactor has real work) plus the
    periodic non-ASCII fixture token, body = text. `blocks` is the
    ordered weighted-block form: body words 5-8 carry a deterministic
    style amplifier (doc_id%7==3 -> <h1> x4.0, %7==5 -> <b> x2.0,
    %7==1 -> bold-inside-<h2> x(1.5*2.0) — SearchEngine.cpp:307,
    455-457), so style weights have driver-verified work to do."""
    d = spread_scan(_docs(spark, sf_dir))
    w = F.split(F.col("text"), " ")
    extra = F.when(
        F.col("doc_id") % 29 == 0,
        F.element_at(
            F.array(*[F.lit(t) for t in NONASCII_TOKENS]),
            (F.col("doc_id") % 4 + 1).cast("int"),
        ),
    )
    url = raw_url_expr("doc_id")
    title = F.concat_ws(
        " ",
        F.upper(F.element_at(w, 1)),
        F.element_at(w, 2),
        F.element_at(w, 3),
        F.element_at(w, 4),
        extra,
    )
    pre = F.array_join(F.slice(w, 1, 4), " ")
    mid = F.array_join(F.slice(w, 5, 4), " ")
    # slice is lenient on start > size; clamp length to >=1 so the
    # short-body case yields an empty tail instead of a negative length
    post = F.array_join(F.slice(w, 9, F.greatest(F.size(w) - 8, F.lit(1))), " ")
    mod7 = F.col("doc_id") % 7
    mult = (
        F.when(mod7 == 3, F.lit(IX.STYLE_MULTS["h1"]))
        .when(mod7 == 5, F.lit(IX.STYLE_MULTS["b"]))
        .when(mod7 == 1, F.lit(IX.STYLE_MULTS["h2"] * IX.STYLE_MULTS["b"]))
        .otherwise(F.lit(1.0))
    )

    def _blk(text, wgt):
        return F.struct(text.alias("text"), wgt.cast("double").alias("w"))

    return d.select(
        "doc_id",
        url.alias("url"),
        title.alias("title"),
        F.col("text").alias("body"),
        F.array(
            _blk(url, F.lit(IX.URL_WEIGHT)),
            _blk(title, F.lit(IX.TITLE_WEIGHT)),
            _blk(pre, F.lit(IX.BODY_WEIGHT)),
            _blk(mid, F.lit(IX.BODY_WEIGHT) * mult),
            _blk(post, F.lit(IX.BODY_WEIGHT)),
        ).alias("blocks"),
    )


def _wpostings_blocks(spark, sf_dir, **kw):
    """The styled weighted dict every search/index catalog query runs
    over (blocks form of _weighted_sections)."""
    return IX.build_weighted_postings(
        _weighted_sections(spark, sf_dir), blocks_col="blocks", **kw
    )


_STOP_SQL = ", ".join(f"'{s}'" for s in IX.STOPWORDS_REF)

# DuckDB twin of tokenize_sections + build_weighted_postings over the
# same derived sections. `acc` is the token stream (phrase matching),
# `wpostings` the final dict.
_NONASCII_SQL = (
    "CASE WHEN doc_id % 29 = 0 THEN (CASE (doc_id % 4) "
    + " ".join(f"WHEN {i} THEN '{t}'" for i, t in enumerate(NONASCII_TOKENS))
    + " END) ELSE NULL END"
)

_H1 = IX.STYLE_MULTS["h1"]
_B = IX.STYLE_MULTS["b"]
_H2B = IX.STYLE_MULTS["h2"] * IX.STYLE_MULTS["b"]

WEIGHTED_CTES = f"""
  secsrc AS (
    SELECT doc_id, {raw_url_sql('doc_id')} AS url,
           concat_ws(' ', upper(wl[1]), wl[2], wl[3], wl[4],
                     {_NONASCII_SQL}) AS title,
           array_to_string(list_slice(wl, 1, 4), ' ') AS body_pre,
           array_to_string(list_slice(wl, 5, 8), ' ') AS body_mid,
           array_to_string(list_slice(wl, 9, len(wl)), ' ') AS body_post,
           CASE doc_id % 7 WHEN 3 THEN {_H1} WHEN 5 THEN {_B}
                           WHEN 1 THEN {_H2B} ELSE 1.0 END AS style_mult
    FROM (SELECT doc_id, text, string_split(text, ' ') AS wl FROM documents)
  ),
  sections AS (
    SELECT doc_id, 0 AS sec_no, 40.0 AS sec_w, url AS sec_text FROM secsrc
    UNION ALL SELECT doc_id, 1, 100.0, title FROM secsrc
    UNION ALL SELECT doc_id, 2, 1.0, body_pre FROM secsrc
    UNION ALL SELECT doc_id, 3, style_mult, body_mid FROM secsrc
    UNION ALL SELECT doc_id, 4, 1.0, body_post FROM secsrc
  ),
  rawtok AS (
    SELECT doc_id, sec_no, sec_w,
           unnest(regexp_extract_all(coalesce(sec_text,''), '{IX._TOKEN_RE}')) AS tok0,
           unnest(range(1, len(regexp_extract_all(coalesce(sec_text,''), '{IX._TOKEN_RE}')) + 1)) AS sec_pos
    FROM sections
  ),
  cleantok AS (
    SELECT doc_id, sec_no, sec_w, sec_pos,
           substr(regexp_replace(regexp_replace(tok0, '\\.{{2,}}', '.', 'g'),
                                 '^\\.+|\\.+$', '', 'g'), 1, {IX.MAXWORDLEN}) AS tok
    FROM rawtok
  ),
  stream AS (
    SELECT doc_id, sec_w,
           translate(tok, '{IX._ASCII_UPPER}', '{IX._ASCII_LOWER}') AS word,
           (tok <> translate(tok, '{IX._ASCII_UPPER}', '{IX._ASCII_LOWER}')
            AND regexp_matches(tok, '^[A-Za-z0-9.]')) AS capital,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY sec_no, sec_pos) AS position
    FROM cleantok WHERE length(tok) > 0
  ),
  acc AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY position) AS decay_idx
    FROM stream WHERE word NOT IN ({_STOP_SQL})
  ),
  wtok AS (
    SELECT doc_id, word, position,
           sec_w * (CASE WHEN capital THEN {IX.CAPITAL_FACTOR} ELSE 1.0 END)
                 * power({IX.DECAY}, decay_idx - 1) AS weight
    FROM acc
  ),
  wf AS (SELECT doc_id, word, min(position) AS fp FROM wtok GROUP BY 1, 2),
  capn AS (SELECT doc_id, fp,
                  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY fp) AS ins FROM wf),
  cappos AS (SELECT doc_id, max(CASE WHEN ins = {IX.MAXWORDPERPAGE} THEN fp END) AS cp
             FROM capn GROUP BY doc_id),
  capped AS (
    SELECT w.* FROM wtok w JOIN cappos c USING (doc_id)
    WHERE c.cp IS NULL OR w.position <= c.cp
  ),
  best AS (
    SELECT doc_id, word AS term, weight, position AS pos FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id, word ORDER BY weight DESC, position ASC) AS rn
      FROM capped) WHERE rn = 1
  ),
  tot AS (SELECT doc_id, sum(weight) AS tw FROM best GROUP BY doc_id),
  wpostings AS (
    SELECT term, b.doc_id, CAST(pos AS INT) AS pos, round(weight / tw, 6) AS rank
    FROM best b JOIN tot t ON b.doc_id = t.doc_id
  )
"""


def q_weighted_postings(spark, sf_dir):
    """The full getWords-parity dict: every (term, doc, pos, rank) row
    hash-checked against the DuckDB twin — any drift in section
    weights, capital factor, decay, stop list, cap, or normalization
    fails this query."""
    # sorted_output=False: the catalog orderBy below IS the sort — the
    # persisted-dict repartitionByRange would sample (= re-evaluate)
    # the whole build once more for an ordering this orderBy redoes
    return _wpostings_blocks(spark, sf_dir, sorted_output=False).orderBy(
        "term", "doc_id"
    )


SQL_WEIGHTED_POSTINGS = (
    "WITH " + WEIGHTED_CTES + """
SELECT term, doc_id, pos, rank FROM wpostings ORDER BY term, doc_id
"""
)


def _top2_sql(src: str, idx: int, prefix: str = "") -> str:
    return f"""
  {prefix}k{idx} AS (
    SELECT doc_id, sum(rank) AS trank_{idx},
           min(CASE WHEN rn = 1 THEN pos END) AS p{idx}a,
           min(CASE WHEN rn = 2 THEN pos END) AS p{idx}b
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY rank DESC, term, pos) AS rn
          FROM {src})
    WHERE rn <= 2 GROUP BY doc_id
  )"""


def _min_posdiff_sql(i: int, j: int) -> str:
    return (
        f"least(abs(p{i}a - p{j}a), coalesce(abs(p{i}a - p{j}b), 65535), "
        f"coalesce(abs(p{i}b - p{j}a), 65535), coalesce(abs(p{i}b - p{j}b), 65535))"
    )


SEARCH_TERMS = ["join", "sort"]


def _score_tail_sql(n: int, k: int) -> str:
    """The shared scoring tail over per-term CTEs t0..t{n-1}: PosRanks
    top-2, min-posdiff coRank, top-K, host dedup."""
    parts = [_top2_sql(f"t{i}", i) for i in range(n)]
    joins = " JOIN ".join(["k0"] + [f"k{i} USING (doc_id)" for i in range(1, n)])
    sum_rank = " + ".join(f"trank_{i}" for i in range(n))
    co = " * ".join(
        f"greatest(power(0.9, {_min_posdiff_sql(i, i + 1)} - 1), 1e-6)"
        for i in range(n - 1)
    ) or "1.0"
    return (
        ",".join(parts)
        + f""",
  j AS (
    SELECT k0.doc_id, round(({sum_rank}) * {co}, 6) AS score
    FROM {joins}
  ),
  top AS (SELECT doc_id, score FROM j ORDER BY score DESC, doc_id LIMIT {k}),
  wh AS (SELECT t.doc_id, t.score, d.source AS host
         FROM top t JOIN documents d ON d.doc_id = t.doc_id),
  dd AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY host ORDER BY score DESC, doc_id) rn,
           COUNT(*) OVER (PARTITION BY host) AS nh
    FROM wh)
SELECT doc_id, score, host, (nh - 1) AS n_more_from_host
FROM dd WHERE rn = 1 ORDER BY score DESC, doc_id
"""
    )


def _search_sql(terms: list[str], k: int = 50) -> str:
    """DuckDB twin of search_weighted over the weighted dict: boundary
    expansion, PosRanks top-2, min-posdiff coRank, top-K, host dedup."""
    parts = [
        f"t{i} AS (SELECT * FROM wpostings WHERE {IX.expand_word_term_sql(t)})"
        for i, t in enumerate(terms)
    ]
    return (
        "WITH "
        + WEIGHTED_CTES
        + ","
        + ",".join(parts)
        + ","
        + _score_tail_sql(len(terms), k)
    )


def _search_small_sql(terms: list[str], k: int = 50) -> str:
    """DuckDB twin of search_weighted WITH the small dict: a query word
    of length <= SMALLWORDSIZE uses the small dict's EXACT range when
    non-empty (DictWordSmall cmp memcmp's the null terminator,
    SearchEngine.h:389-404; routing PageSearcher.cpp:412-419), else
    falls back to the main dict's boundary expansion. The routing is
    data-dependent, so the twin encodes it with EXISTS guards."""
    parts = [
        """sdict AS (
    SELECT doc_id, sterm AS term, pos, rank FROM (
      SELECT doc_id, substr(term, 1, 8) AS sterm, pos, rank,
             ROW_NUMBER() OVER (PARTITION BY doc_id, substr(term, 1, 8)
                                ORDER BY rank DESC, term) rn
      FROM wpostings) WHERE rn = 1
  )"""
    ]
    for i, t in enumerate(terms):
        tq = t.replace("'", "''")
        if len(t) <= IX.SMALLWORDSIZE:
            parts.append(f"st{i} AS (SELECT * FROM sdict WHERE term = '{tq}')")
            parts.append(
                f"t{i} AS (SELECT * FROM st{i} WHERE EXISTS (SELECT 1 FROM st{i})\n"
                f"    UNION ALL\n"
                f"    SELECT doc_id, term, pos, rank FROM wpostings\n"
                f"    WHERE {IX.expand_word_term_sql(t)}"
                f" AND NOT EXISTS (SELECT 1 FROM st{i}))"
            )
        else:
            parts.append(
                f"t{i} AS (SELECT doc_id, term, pos, rank FROM wpostings "
                f"WHERE {IX.expand_word_term_sql(t)})"
            )
    return (
        "WITH "
        + WEIGHTED_CTES
        + ","
        + ",".join(parts)
        + ","
        + _score_tail_sql(len(terms), k)
    )


def q_search_2term(spark, sf_dir):
    """J4/A8/O3/A9 over the weighted dict: boundary-rule expansion,
    PosRanks top-2 per (doc, term), min-posdiff proximity co-rank."""
    docs_meta = spread_scan(_docs(spark, sf_dir)).select(
        "doc_id", F.col("source").alias("host")
    )
    p = _wpostings_blocks(spark, sf_dir, sorted_output=False)
    return IX.search_weighted(p, SEARCH_TERMS, docs_meta, k=50)


SQL_SEARCH_2TERM = _search_sql(SEARCH_TERMS)


def q_prefix_search(spark, sf_dir):
    return IX.prefix_search(_postings(spark, sf_dir), "s")


SQL_PREFIX_SEARCH = (
    "WITH "
    + _POSTINGS_CTES
    + f"""
SELECT term, count(*) AS n_docs,
       CAST(sum({_e_sql('rank', 6)}) AS BIGINT) AS total_rank_e6
FROM postings WHERE term LIKE 's%' GROUP BY term ORDER BY term
"""
)


def q_small_postings(spark, sf_dir):
    return (
        IX.build_small_postings(_postings(spark, sf_dir))
        .groupBy("sterm")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(_e(F.col("rank"), 6)).alias("total_rank_e6"),
        )
        .orderBy("sterm")
    )


SQL_SMALL_POSTINGS = (
    "WITH "
    + _POSTINGS_CTES
    + f""",
  small AS (
    SELECT * FROM (
      SELECT doc_id, substr(term, 1, 8) AS sterm, rank, term,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id, substr(term, 1, 8)
               ORDER BY rank DESC, term) rn
      FROM postings) WHERE rn = 1
  )
SELECT sterm, count(*) AS n_docs,
       CAST(sum({_e_sql('rank', 6)}) AS BIGINT) AS total_rank_e6
FROM small GROUP BY sterm ORDER BY sterm
"""
)

# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------

def _docs_exactdup_aug(spark, sf_dir):
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    dups = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") % 10 == 0)
        .select(F.concat(F.lit("dup"), F.col("doc_id").cast("string")).alias("doc_id"), "text")
    )
    return d.unionByName(dups)


_EXACTDUP_CTES = """
  docs_aug AS (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
    UNION ALL
    SELECT 'dup' || CAST(doc_id AS VARCHAR), text FROM documents WHERE doc_id % 10 = 0
  )
"""


def q_dedup_exact(spark, sf_dir):
    return DD.exact_dup_groups(_docs_exactdup_aug(spark, sf_dir)).orderBy("content_hash")


SQL_DEDUP_EXACT = (
    "WITH "
    + _EXACTDUP_CTES
    + """
SELECT md5(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM docs_aug GROUP BY 1 HAVING count(*) > 1 ORDER BY content_hash
"""
)


def _shingles_expr(text_col="text"):
    """3-gram shingles via slide over a STAGED split array: the whole
    window is one slice, so `split` appears once per shingle instead of
    three element_at re-expansions."""
    w = F.split(F.col(text_col), " ")
    n = F.size(w)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1))),
            lambda i: F.array_join(F.slice(w, i, 3), " "),
        )
    )


_SHINGLES_SQL = (
    "list_distinct(list_transform("
    "range(1, greatest(len(string_split(text,' ')) - 2, 1) + 1), "
    "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] "
    "|| ' ' || string_split(text,' ')[i+2]))"
)


def _docs_neardup_aug(spark, sf_dir):
    """Original docs + truncated near-duplicates for doc_id%17==0."""
    d = spread_scan(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    w = F.split(F.col("text"), " ")
    nd = (
        spread_scan(_docs(spark, sf_dir))
        .where(F.col("doc_id") % 17 == 0)
        .select(
            F.concat(F.lit("nd"), F.col("doc_id").cast("string")).alias("doc_id"),
            F.array_join(
                F.slice(w, 1, F.greatest(F.size(w) - 5, F.lit(1))), " "
            ).alias("text"),
        )
    )
    return d.unionByName(nd)


_NEARDUP_CTES = """
  docs_aug AS (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
    UNION ALL
    SELECT 'nd' || CAST(doc_id AS VARCHAR),
           array_to_string(
             string_split(text,' ')[1:greatest(len(string_split(text,' '))-5,1)],
             ' ')
    FROM documents WHERE doc_id % 17 = 0
  )
"""


def _minhash_lsh_verify(aug: DataFrame, shingles, threshold: float) -> DataFrame:
    """Shared shape for shingle-dedup queries: md5-window minhash sigs
    -> banded LSH candidate pairs -> exact-Jaccard verify on candidates
    only. Never an all-pairs product."""
    aug = aug.withColumn("_sh", shingles)
    # signature via the Arrow kernel (one md5 per distinct shingle per
    # batch + byte-slice windows) instead of N_MINHASH interpreted
    # transform passes — r6 optimization, bit-equal by pinned test
    sigs = aug.select("doc_id", DD.minhash_sig_udf(F.col("_sh")).alias("_mh"))
    for i in range(DD.N_MINHASH):
        sigs = sigs.withColumn(f"mh_{i}", F.element_at("_mh", i + 1))
    pairs = DD.lsh_candidate_pairs(sigs.drop("_mh"))
    wsets = aug.select("doc_id", F.col("_sh").alias("wset"))
    return (
        pairs.join(
            wsets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("wset", "wa"),
            "doc_a",
        )
        .join(
            wsets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("wset", "wb"),
            "doc_b",
        )
        .withColumn("_i", F.size(F.array_intersect("wa", "wb")))
        # |A∪B| = |A|+|B|-|A∩B| for the distinct shingle arrays — skips
        # materializing the union array per pair (r6: the verify joins
        # dominated dedup_ngram_jaccard's wall)
        .withColumn("_u", F.size("wa") + F.size("wb") - F.col("_i"))
        .withColumn("jaccard", F.round(F.col("_i") / F.col("_u"), 4))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def q_dedup_minhash(spark, sf_dir):
    """MinHash(3-gram shingles) -> banded LSH -> exact-Jaccard verify.
    No .cache(): one-shot catalog queries must leave no pinned storage
    behind (the driver's DuckDB oracle runs in the same VM)."""
    return _minhash_lsh_verify(
        _docs_neardup_aug(spark, sf_dir), _shingles_expr(), 0.5
    )


def _minhash_band_sql(shingle_sql: str) -> str:
    sigs = ", ".join(
        f"list_min(list_transform(hs, h -> {DD._mh_window_sql('h', i)})) AS mh_{i}"
        for i in range(DD.N_MINHASH)
    )
    band_selects = []
    for b in range(DD.N_MINHASH // DD.LSH_BAND_SIZE):
        cols = [f"mh_{b * DD.LSH_BAND_SIZE + j}" for j in range(DD.LSH_BAND_SIZE)]
        key = " || ':' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(f"SELECT doc_id, {b} AS band, {key} AS key FROM sigs")
    return f"""
  shingled AS (SELECT doc_id, {shingle_sql} AS sh,
                      list_transform({shingle_sql}, w -> md5(w)) AS hs
               FROM docs_aug),
  sigs AS (SELECT doc_id, {sigs} FROM shingled),
  bands AS ({' UNION ALL '.join(band_selects)}),
  pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b USING (band, key)
    WHERE a.doc_id < b.doc_id
  )"""


def _minhash_verify_sql(shingle_sql: str, threshold: float) -> str:
    return (
        _minhash_band_sql(shingle_sql)
        + f"""
SELECT doc_a, doc_b,
       round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(sa.sh, sb.sh))), 4) AS jaccard
FROM pairs
JOIN shingled sa ON sa.doc_id = doc_a
JOIN shingled sb ON sb.doc_id = doc_b
WHERE round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(sa.sh, sb.sh))), 4) >= {threshold}
ORDER BY doc_a, doc_b
"""
    )


SQL_DEDUP_MINHASH = (
    "WITH " + _NEARDUP_CTES + "," + _minhash_verify_sql(_SHINGLES_SQL, 0.5)
)


def q_dedup_simhash(spark, sf_dir):
    return DD.simhash_dup_buckets(_docs_exactdup_aug(spark, sf_dir)).orderBy("simhash")


SQL_DEDUP_SIMHASH = (
    "WITH "
    + _EXACTDUP_CTES
    + f"""
SELECT simhash, count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM (SELECT doc_id, {DD.simhash_sql('text')} AS simhash FROM docs_aug)
GROUP BY simhash HAVING count(*) > 1 ORDER BY simhash
"""
)


def _bigrams_expr():
    w = F.split(F.col("text"), " ")
    n = F.size(w)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
            lambda i: F.array_join(F.slice(w, i, 2), " "),
        )
    )


def q_dedup_ngram_jaccard(spark, sf_dir):
    """n-gram (bigram) Jaccard near-dup over the FULL augmented corpus,
    routed through banded minhash LSH — the scale path: candidates come
    from bucket collisions, exact bigram Jaccard verifies candidates
    only. No crossJoin anywhere in the plan (asserted in tests)."""
    return _minhash_lsh_verify(
        _docs_neardup_aug(spark, sf_dir), _bigrams_expr(), 0.4
    )


_BIGRAMS_SQL = (
    "list_distinct(list_transform("
    "range(1, greatest(len(string_split(text,' ')) - 1, 1) + 1), "
    "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]))"
)

SQL_DEDUP_NGRAM_JACCARD = (
    "WITH " + _NEARDUP_CTES + "," + _minhash_verify_sql(_BIGRAMS_SQL, 0.4)
)


# ---------------------------------------------------------------------------
# similarity / ANN
# ---------------------------------------------------------------------------

def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def q_ann_cosine_topk(spark, sf_dir):
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return SIM.brute_force_topk(e, q, k=5)


SQL_ANN_COSINE_TOPK = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
  q AS (SELECT vec_id AS query_id, v AS qvec FROM e WHERE vec_id < 3),
  scored AS (
    SELECT q.query_id, e.vec_id,
           round(list_dot_product(e.v, q.qvec)
                 / (sqrt(list_dot_product(e.v, e.v))
                    * sqrt(list_dot_product(q.qvec, q.qvec))), 4) AS cosine
    FROM e, q WHERE e.vec_id <> q.query_id
  ),
  ranked AS (
    SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rank
    FROM scored)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5
"""


def _emb_aug(spark, sf_dir):
    e = _emb(spark, sf_dir).where(F.col("vec_id") < 500)
    clones = e.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    return e.unionByName(clones)


def q_embedding_near_dups(spark, sf_dir):
    """Near-dup pairs (cosine >= 0.999) over a clone-augmented set via
    the multi-table LSH bucket join (SIM.embedding_near_dups) — the
    scale path; identical vectors always share every table's bucket, so
    recall at this threshold is exact. No crossJoin in the plan."""
    return SIM.embedding_near_dups(_emb_aug(spark, sf_dir), threshold=0.999).orderBy(
        "vec_a", "vec_b"
    )


def _lsh_bucket_cols_sql(vcol: str = "v") -> str:
    """Per-table bucket-id columns b0..b{L-1} from the deterministic
    hyperplane literals (the DuckDB twin of SIM.add_lsh_buckets)."""
    planes = SIM._all_planes(SIM.N_TABLES, SIM.N_HYPERPLANES)

    def lit(t: int, j: int) -> str:
        return "[" + ", ".join(f"{x:.3f}" for x in planes[t, j]) + "]"

    cols = []
    for t in range(SIM.N_TABLES):
        expr = " + ".join(
            f"(CASE WHEN list_dot_product({vcol}, {lit(t, j)}) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j in range(SIM.N_HYPERPLANES)
        )
        cols.append(f"({expr}) AS b{t}")
    return ", ".join(cols)


def _lsh_explode_sql(src: str, keep: str) -> str:
    """(…, b0..b{L-1}) -> one row per (tbl, bucket)."""
    bl = ", ".join(f"b{t}" for t in range(SIM.N_TABLES))
    return (
        f"SELECT {keep}, unnest(range(0, {SIM.N_TABLES})) AS tbl, "
        f"unnest([{bl}]) AS bucket FROM {src}"
    )


SQL_EMBEDDING_NEAR_DUPS = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id < 500),
  aug AS (SELECT * FROM e
          UNION ALL SELECT vec_id + 100000, v FROM e WHERE vec_id % 50 = 0),
  bk AS (SELECT vec_id, v, {_lsh_bucket_cols_sql('v')} FROM aug),
  bx AS ({_lsh_explode_sql('bk', 'vec_id, v')}),
  cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM bx a JOIN bx b USING (tbl, bucket)
    WHERE a.vec_id < b.vec_id
  )
SELECT vec_a, vec_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 4) AS cosine
FROM cand JOIN aug a ON a.vec_id = vec_a JOIN aug b ON b.vec_id = vec_b
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.999
ORDER BY vec_a, vec_b
"""


def q_ann_lsh(spark, sf_dir):
    """LSH-bucketed ANN (pandas-UDF hyperplanes) — rows-only oracle;
    recall vs brute force is asserted in tests."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return SIM.ann_topk(e, q, k=5)


def q_ann_ivf(spark, sf_dir):
    """IVF ANN — deterministic Lloyd k-means coarse quantizer (exact
    e6-integer arithmetic, hash seeds) + nprobe cell scan + exact
    cosine re-rank. The oracle twin runs the SAME unrolled iterations
    in pure SQL, so the coarse quantizer itself is hash-verified, not
    just the final ranking."""
    e = spread_scan(_emb(spark, sf_dir))
    q = e.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return SIM.ivf_topk(e, q, k=5)


def _ivf_dist_sql(a: str, b: str) -> str:
    return (
        f"(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        f" + list_dot_product({b}, {b}))"
    )


def _ivf_assign_parts(
    k: int = SIM.N_IVF_CENTROIDS,
    n_iter: int = SIM.IVF_ITERS,
    source: str = "embeddings",
) -> tuple[list[str], str]:
    """Shared IVF oracle CTEs: eq -> seeded c0 -> n_iter Lloyd rounds
    -> final `corpus` assignment (vec_id, v, cid, d2). Reused by the
    ann_ivf, embedding_clusters and semdedup_pairs twins; returns
    (parts, final_centroid_cte_name). `source` must expose
    (vec_id, embedding)."""
    off = SIM._IVF_OFF
    dist = _ivf_dist_sql

    parts = [
        f"""eq AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> CAST(round(x * 1e6) AS BIGINT)) AS xi
    FROM {source}
  )""",
        f"""c0 AS (
    SELECT cid, xi AS cvec FROM (
      SELECT xi, ROW_NUMBER() OVER (
        ORDER BY {hash60_sql('CAST(vec_id AS VARCHAR)', 'ivf')}, vec_id
      ) - 1 AS cid
      FROM eq) WHERE cid < {k}
  )""",
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f"""a{i} AS (
    SELECT vec_id, xi, cid FROM (
      SELECT e.vec_id, e.xi, c.cid, ROW_NUMBER() OVER (
        PARTITION BY e.vec_id
        ORDER BY {dist('e.xi', 'c.cvec')}, c.cid) AS rn
      FROM eq e CROSS JOIN c{i - 1} c) WHERE rn = 1
  )"""
        )
        parts.append(
            f"""u{i} AS (
    SELECT cid, dim,
           CAST(floor((2 * (sum(x) + count(*) * {off}) + count(*))
                      / (2.0 * count(*))) AS BIGINT) - {off} AS c
    FROM (SELECT cid, unnest(xi) AS x, unnest(range(0, len(xi))) AS dim
          FROM a{i})
    GROUP BY cid, dim
  )"""
        )
        parts.append(
            f"c{i} AS (SELECT cid, list(c ORDER BY dim) AS cvec "
            f"FROM u{i} GROUP BY cid)"
        )
    cn = f"c{n_iter}"
    parts.append(
        f"""corpus AS (
    SELECT vec_id, v, cid, CAST(d2raw AS BIGINT) AS d2 FROM (
      SELECT e.vec_id, e.v, c.cid, {dist('e.xi', 'c.cvec')} AS d2raw,
        ROW_NUMBER() OVER (
        PARTITION BY e.vec_id
        ORDER BY {dist('e.xi', 'c.cvec')}, c.cid) AS rn
      FROM eq e CROSS JOIN {cn} c) WHERE rn = 1
  )"""
    )
    return parts, cn


def _ivf_sql(
    k: int = SIM.N_IVF_CENTROIDS,
    n_iter: int = SIM.IVF_ITERS,
    nprobe: int = SIM.IVF_NPROBE,
    topk: int = 5,
) -> str:
    dist = _ivf_dist_sql
    parts, cn = _ivf_assign_parts(k, n_iter)
    parts.append(
        "qv AS (SELECT vec_id AS query_id, v AS qvec, xi AS qxi "
        "FROM eq WHERE vec_id < 3)"
    )
    parts.append(
        f"""probes AS (
    SELECT query_id, qvec, cid FROM (
      SELECT q.query_id, q.qvec, c.cid, ROW_NUMBER() OVER (
        PARTITION BY q.query_id
        ORDER BY {dist('q.qxi', 'c.cvec')}, c.cid) AS pr
      FROM qv q CROSS JOIN {cn} c) WHERE pr <= {nprobe}
  )"""
    )
    return (
        "WITH "
        + ",\n  ".join(parts)
        + f""",
  cand AS (
    SELECT p.query_id, p.qvec, s.vec_id, s.v
    FROM corpus s JOIN probes p USING (cid)
    WHERE s.vec_id <> p.query_id
  ),
  scored AS (
    SELECT query_id, vec_id,
           round(list_dot_product(v, qvec)
                 / (sqrt(list_dot_product(v, v))
                    * sqrt(list_dot_product(qvec, qvec))), 4) AS cosine
    FROM cand
  ),
  ranked AS (
    SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rank
    FROM scored)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {topk}
"""
    )


SQL_ANN_IVF = _ivf_sql()


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def q_text_stats(spark, sf_dir):
    d = spread_scan(_docs(spark, sf_dir))
    return d.select(
        "doc_id",
        TX.token_count_expr("text").alias("n_tokens"),
        TX.bpe_token_count_expr("text").alias("n_bpe_tokens"),
        F.round(TX.punct_ratio_expr("text"), 4).alias("punct_ratio"),
        F.round(TX.stopword_ratio_expr("text"), 4).alias("stopword_ratio"),
        TX.quality_score_expr("text").alias("quality"),
    ).orderBy("doc_id")


SQL_TEXT_STATS = f"""
SELECT doc_id,
       len(string_split_regex(text, '\\s+')) AS n_tokens,
       {TX.bpe_token_count_sql('text')} AS n_bpe_tokens,
       round({TX.punct_ratio_sql('text')}, 4) AS punct_ratio,
       round({TX.stopword_ratio_sql('text')}, 4) AS stopword_ratio,
       {TX.quality_score_sql('text')} AS quality
FROM documents ORDER BY doc_id
"""


def q_lang_id(spark, sf_dir):
    return (
        spread_scan(_docs(spark, sf_dir))
        .select("doc_id", TX.lang_guess_expr("text").alias("lang_guess"))
        .groupBy("lang_guess")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang_guess")
    )


SQL_LANG_ID = f"""
SELECT lang_guess, count(*) AS n_docs
FROM (SELECT {TX.lang_guess_sql('text')} AS lang_guess FROM documents)
GROUP BY 1 ORDER BY 1
"""


def q_lm_perplexity(spark, sf_dir):
    """Model-based quality scoring (the CCNet recipe, here self-scored:
    fit the bigram LM on the corpus, score every doc's NLL under it —
    outlier docs surface as the high-avg_nll_e6 tail). Exact BIGINT
    micro-nats end-to-end: the per-bigram logprob is floored to e6
    BEFORE the per-doc sum, so both engines sum identical integers."""
    d = spread_scan(_docs(spark, sf_dir))
    model = LM.fit_bigram_lm(d)
    return LM.score_bigram_lm(d, model).orderBy("doc_id")


SQL_LM_PERPLEXITY = """
WITH lm_d AS (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
  FROM documents
),
lm_bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws)),
                               i -> {'a': ws[i], 'b': ws[i + 1]})) AS p
  FROM lm_d WHERE len(ws) >= 2
),
lm_bge AS (SELECT doc_id, p.a AS a, p.b AS b FROM lm_bg),
lm_ctx AS (SELECT a, count(*) AS c_a FROM lm_bge GROUP BY a),
lm_pair AS (SELECT a, b, count(*) AS c_ab FROM lm_bge GROUP BY a, b),
lm_v AS (SELECT count(DISTINCT w) AS vsz
         FROM (SELECT unnest(ws) AS w FROM lm_d)),
lm_scored AS (
  SELECT g.doc_id,
         CAST(floor(1e6 * ln(CAST(p.c_ab + 1 AS DOUBLE) / (c.c_a + v.vsz)))
              AS BIGINT) AS lp
  FROM lm_bge g
  JOIN lm_pair p USING (a, b)
  JOIN lm_ctx c USING (a)
  CROSS JOIN lm_v v
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(-sum(lp) AS BIGINT) AS nll_e6,
       CAST((-sum(lp)) // count(*) AS BIGINT) AS avg_nll_e6
FROM lm_scored GROUP BY doc_id ORDER BY doc_id
"""


def q_lm_kn_perplexity(spark, sf_dir):
    """Interpolated Kneser-Ney quality scoring with a frequency-trimmed
    vocabulary (min_count=2 so the '<unk>' mapping fires at test
    scale): the production estimator upgrade over lm_perplexity's
    add-one baseline — same fixed-point BIGINT micro-nat contract, the
    per-bigram probability is one IEEE division of integer-assembled
    operands (D = 3/4 as a 4x-scaling; see operators/lm.py)."""
    d = spread_scan(_docs(spark, sf_dir))
    model = LM.fit_kn_bigram_lm(d, min_count=2)
    return LM.score_kn_bigram_lm(d, model).orderBy("doc_id")


SQL_LM_KN_PERPLEXITY = """
WITH kn_d AS (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
  FROM documents
),
kn_bg0 AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws)),
                               i -> {'a': ws[i], 'b': ws[i + 1]})) AS p
  FROM kn_d WHERE len(ws) >= 2
),
kn_wc AS (
  SELECT w, count(*) AS c FROM (SELECT unnest(ws) AS w FROM kn_d) GROUP BY w
),
kn_kept AS (SELECT w FROM kn_wc WHERE c >= 2),
kn_bge AS (
  SELECT g.doc_id,
         CASE WHEN ka.w IS NULL THEN '<unk>' ELSE g.p.a END AS a,
         CASE WHEN kb.w IS NULL THEN '<unk>' ELSE g.p.b END AS b
  FROM kn_bg0 g
  LEFT JOIN kn_kept ka ON g.p.a = ka.w
  LEFT JOIN kn_kept kb ON g.p.b = kb.w
),
kn_pair AS (SELECT a, b, count(*) AS c_ab FROM kn_bge GROUP BY a, b),
kn_ctx AS (
  SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a, count(*) AS n1a
  FROM kn_pair GROUP BY a
),
kn_cont AS (SELECT b, count(*) AS n1b FROM kn_pair GROUP BY b),
kn_tot AS (
  SELECT CAST((SELECT count(*) FROM kn_pair) AS BIGINT) AS t_types,
         CAST((SELECT count(*) FROM kn_kept) + 1 AS BIGINT) AS vsz
),
kn_scored AS (
  SELECT g.doc_id,
         CAST(floor(1e6 * ln(
           CAST(greatest(4 * p.c_ab - 3, 0) * (t.t_types + t.vsz)
                + 3 * c.n1a * (o.n1b + 1) AS DOUBLE)
           / CAST(4 * c.c_a * (t.t_types + t.vsz) AS DOUBLE)))
              AS BIGINT) AS lp
  FROM kn_bge g
  JOIN kn_pair p USING (a, b)
  JOIN kn_ctx c USING (a)
  JOIN kn_cont o USING (b)
  CROSS JOIN kn_tot t
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(-sum(lp) AS BIGINT) AS nll_e6,
       CAST((-sum(lp)) // count(*) AS BIGINT) AS avg_nll_e6
FROM kn_scored GROUP BY doc_id ORDER BY doc_id
"""


def q_fingerprint(spark, sf_dir):
    return (
        spread_scan(_docs(spark, sf_dir))
        .select("doc_id", TX.fingerprint_expr("text").alias("fingerprint"))
        .orderBy("doc_id")
    )


SQL_FINGERPRINT = f"""
SELECT doc_id, {TX.fingerprint_sql('text')} AS fingerprint
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# events (streaming semantics on the batch view)
# ---------------------------------------------------------------------------

def q_events_window(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    agg = EV.windowed_event_agg(ev)
    return agg.select(
        F.unix_timestamp("window_start").alias("window_epoch"),
        "event_type",
        "n_events",
        "total_value_e4",
    ).orderBy("window_epoch", "event_type")


SQL_EVENTS_WINDOW = f"""
SELECT CAST(epoch(time_bucket(INTERVAL 5 MINUTE, ts)) AS BIGINT) AS window_epoch,
       event_type, count(*) AS n_events,
       CAST(sum({_e_sql('value', 4)}) AS BIGINT) AS total_value_e4
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_sessionize(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = EV.sessionize(ev)
    return s.select(
        "user_id",
        "session_no",
        "n_events",
        F.unix_timestamp("session_start").alias("start_epoch"),
        F.unix_timestamp("session_end").alias("end_epoch"),
        "session_value_e4",
    )


SQL_SESSIONIZE = f"""
WITH g AS (
  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                   OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
                 THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT *, CAST(SUM(new_s) OVER (
    PARTITION BY user_id ORDER BY ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
  FROM g)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no, count(*) AS n_events,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS start_epoch,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS end_epoch,
       CAST(sum({_e_sql('value', 4)}) AS BIGINT) AS session_value_e4
FROM s GROUP BY user_id, session_no
"""


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------

def q_media_stats(spark, sf_dir):
    return MM.media_stats(MM.synth_media_df(spark, sf_dir))


def _media_meta_sql() -> str:
    h = hash60_sql("CAST(doc_id AS VARCHAR)", "media")
    return f"""
  media AS (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           CASE ({h} % 4) WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
                          WHEN 2 THEN 'audio/wav' ELSE 'video/mp4' END AS media_type,
           ({h} % 1024 + 16) AS width,
           (({h} // 1024) % 1024 + 16) AS height,
           (({h} % 6) + 1) * 16 AS n_bytes
    FROM documents
  )"""


def _avg_e2_sql(col: str) -> str:
    """DuckDB twin of multimodal._avg_e2 (exact integer fixed-point avg)."""
    return (
        f"CAST(floor((200 * sum({col}) + count(*)) / (2.0 * count(*))) AS BIGINT)"
    )


SQL_MEDIA_STATS = (
    "WITH "
    + _media_meta_sql()
    + f"""
SELECT media_type, count(*) AS n_assets, CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       {_avg_e2_sql('width')} AS avg_width_e2,
       {_avg_e2_sql('height')} AS avg_height_e2
FROM media GROUP BY media_type ORDER BY media_type
"""
)


def q_media_features(spark, sf_dir):
    """binary decode->feature plumbing (mapInPandas) — now FULLY
    oracle-checked: the payload is n_rep repeats of the 16-byte
    md5('payload'||doc_id) digest (multimodal.synth_media_df), so the
    L1-normalized 8-bin byte histogram equals the single-digest
    histogram / 16 — derivable in pure SQL (the repeat factor cancels).

    The driver's row canonicalizer hashes cell values, so the
    array<double> feature vector is emitted as a fixed-format CSV
    string (hashable scalar) instead of a raw array; every k/16 value
    is binary-exact, so '%.6f' never rounds on either engine."""
    feats = MM.extract_media_features(MM.synth_media_df(spark, sf_dir))
    return feats.select(
        "media_id",
        "media_type",
        "n_bytes",
        F.concat_ws(
            ",", F.transform("features", lambda x: F.format_string("%.6f", x))
        ).alias("features_csv"),
    )


SQL_MEDIA_FEATURES = (
    "WITH "
    + _media_meta_sql()
    + f""",
  dg AS (
    SELECT doc_id, media_type, n_bytes,
           list_transform(range(0, 16),
             i -> ('0x' || substr(md5('payload' || doc_id), 2*i + 1, 2))::BIGINT
                  // 32) AS bins
    FROM media
  )
SELECT 'm' || doc_id AS media_id, media_type, n_bytes,
       array_to_string(
         list_transform(range(0, {MM.FEATURE_DIM}),
           bn -> printf('%.6f', len(list_filter(bins, x -> x = bn)) / 16.0)),
         ',') AS features_csv
FROM dg
"""
)


# ---------------------------------------------------------------------------
# generic operator parity (TPC-H-ish)
# ---------------------------------------------------------------------------

def q_tpch_q1ish(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # quantity is integer-valued, price/discount sit on a cents grid:
    # lift to exact integers so the sums are order-independent
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(
                _e(F.col("l_extendedprice"), 2)
                * (F.lit(100) - _e(F.col("l_discount"), 2))
            ).alias("revenue_e4"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_TPCH_Q1ISH = f"""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum({_e_sql('l_extendedprice', 2)}
                * (100 - {_e_sql('l_discount', 2)})) AS BIGINT) AS revenue_e4,
       count(*) AS n_rows
FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
"""


def q_semi_anti_join(spark, sf_dir):
    """Semi + anti join counts in ONE job: left join against the
    distinct key set, then a conditional aggregate (no driver-side
    collect/createDataFrame, no second pass over customer)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("_has", F.lit(1))
    )
    return c.join(o, "c_custkey", "left").agg(
        F.count("_has").alias("n_with_orders"),
        F.sum(F.when(F.col("_has").isNull(), 1).otherwise(0)).alias("n_without"),
    )


SQL_SEMI_ANTI_JOIN = """
SELECT (SELECT count(*) FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders)) AS n_with_orders,
       (SELECT count(*) FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)) AS n_without
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES = {
    "url_canonicalize": q_url_canonicalize,
    "url_candidates": q_url_candidates,
    "host_shards": q_host_shards,
    "frontier_dedup": q_frontier_dedup,
    "frontier_dedup_cuckoo": q_frontier_dedup_cuckoo,
    "schedule_round": q_schedule_round,
    "schedule_priority": q_schedule_priority,
    "crawl_fetch_log": q_crawl_fetch_log,
    "crawl_round_digest": q_crawl_round_digest,
    "top_hosts": q_top_hosts,
    "robots_gate": q_robots_gate,
    "pagerank3": q_pagerank3,
    "hits3": q_hits3,
    "ppr3": q_ppr3,
    "link_graph_stats": q_link_graph_stats,
    "term_stats": q_term_stats,
    "search_2term": q_search_2term,
    "prefix_search": q_prefix_search,
    "small_postings": q_small_postings,
    "dedup_exact": q_dedup_exact,
    "dedup_minhash": q_dedup_minhash,
    "dedup_simhash": q_dedup_simhash,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "ann_cosine_topk": q_ann_cosine_topk,
    "embedding_near_dups": q_embedding_near_dups,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "text_stats": q_text_stats,
    "lang_id": q_lang_id,
    "lm_perplexity": q_lm_perplexity,
    "lm_kn_perplexity": q_lm_kn_perplexity,
    "fingerprint": q_fingerprint,
    "events_window": q_events_window,
    "sessionize": q_sessionize,
    "media_stats": q_media_stats,
    "media_features": q_media_features,
    "tpch_q1ish": q_tpch_q1ish,
    "semi_anti_join": q_semi_anti_join,
}

ORACLE_SQL = {
    "url_canonicalize": SQL_URL_CANONICALIZE,
    "url_candidates": SQL_URL_CANDIDATES,
    "host_shards": SQL_HOST_SHARDS,
    "frontier_dedup": SQL_FRONTIER_DEDUP,
    # the cuckoo prefilter is physical-only, so its oracle IS the
    # exact-anti-join SQL (hash-green = no-false-negative proof)
    "frontier_dedup_cuckoo": SQL_FRONTIER_DEDUP,
    "schedule_round": SQL_SCHEDULE_ROUND,
    "schedule_priority": SQL_SCHEDULE_PRIORITY,
    "crawl_fetch_log": SQL_CRAWL_FETCH_LOG,
    "crawl_round_digest": SQL_CRAWL_ROUND_DIGEST,
    "top_hosts": SQL_TOP_HOSTS,
    "robots_gate": SQL_ROBOTS_GATE,
    "pagerank3": SQL_PAGERANK3,
    "hits3": SQL_HITS3,
    "ppr3": SQL_PPR3,
    "link_graph_stats": SQL_LINK_GRAPH_STATS,
    "term_stats": SQL_TERM_STATS,
    "search_2term": SQL_SEARCH_2TERM,
    "prefix_search": SQL_PREFIX_SEARCH,
    "small_postings": SQL_SMALL_POSTINGS,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_minhash": SQL_DEDUP_MINHASH,
    "dedup_simhash": SQL_DEDUP_SIMHASH,
    "dedup_ngram_jaccard": SQL_DEDUP_NGRAM_JACCARD,
    "ann_cosine_topk": SQL_ANN_COSINE_TOPK,
    "ann_ivf": SQL_ANN_IVF,
    "embedding_near_dups": SQL_EMBEDDING_NEAR_DUPS,
    # ann_lsh: rows-only (pandas-UDF hyperplanes; recall tested vs brute force)
    "text_stats": SQL_TEXT_STATS,
    "lang_id": SQL_LANG_ID,
    "lm_perplexity": SQL_LM_PERPLEXITY,
    "lm_kn_perplexity": SQL_LM_KN_PERPLEXITY,
    "fingerprint": SQL_FINGERPRINT,
    "events_window": SQL_EVENTS_WINDOW,
    "sessionize": SQL_SESSIONIZE,
    "media_stats": SQL_MEDIA_STATS,
    "media_features": SQL_MEDIA_FEATURES,
    "tpch_q1ish": SQL_TPCH_Q1ISH,
    "semi_anti_join": SQL_SEMI_ANTI_JOIN,
}


def q_events_props_json(spark, sf_dir):
    """JSON column extraction (events.props) + conditional agg."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.withColumn("k_bucket", (k % 10).cast("int"))
        .groupBy("k_bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.when(F.col("event_type") == "purchase", _e(F.col("value"), 4))
                .otherwise(F.lit(0).cast("long"))
            ).alias("purchase_value_e4"),
        )
        .orderBy("k_bucket")
    )


SQL_EVENTS_PROPS_JSON = f"""
SELECT CAST(CAST(json_extract_string(props, '$.k') AS INT) % 10 AS INT) AS k_bucket,
       count(*) AS n_events,
       CAST(sum(CASE WHEN event_type = 'purchase'
                     THEN {_e_sql('value', 4)} ELSE 0 END) AS BIGINT)
         AS purchase_value_e4
FROM events GROUP BY 1 ORDER BY 1
"""

QUERIES["events_props_json"] = q_events_props_json
ORACLE_SQL["events_props_json"] = SQL_EVENTS_PROPS_JSON


def q_events_asof(spark, sf_dir):
    """Point-in-time attribution: every purchase joined to the most
    recent prior click by the same user (backward-inclusive as-of
    join). The Spark side is the union+running-window form
    (operators/temporal.asof_join — ONE key shuffle, no range-join
    nested loop); the oracle is DuckDB's NATIVE ``ASOF LEFT JOIN`` —
    a fully independent implementation of the same semantics."""
    from searchengine_spark.operators import temporal as TP

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    c = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    j = TP.asof_join(
        p, c, key="user_id", left_ts="ts", right_ts="ts",
        right_payload=["event_id", "ts"], tiebreak="event_id",
    )
    return j.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_timestamp("ts").alias("purchase_epoch"),
        F.col("event_id_r").alias("click_id"),
        F.unix_timestamp("ts_r").alias("click_epoch"),
        (F.unix_timestamp("ts") - F.unix_timestamp("ts_r")).alias("lag_sec"),
        _e(F.col("value"), 4).alias("value_e4"),
    ).orderBy("purchase_id")


SQL_EVENTS_ASOF = f"""
WITH p AS MATERIALIZED (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = 'purchase'
),
c AS MATERIALIZED (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
)
SELECT p.event_id AS purchase_id, p.user_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch,
       c.event_id AS click_id,
       CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch,
       CAST(floor(epoch(p.ts)) - floor(epoch(c.ts)) AS BIGINT) AS lag_sec,
       {_e_sql('p.value', 4)} AS value_e4
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY purchase_id
"""

QUERIES["events_asof"] = q_events_asof
ORACLE_SQL["events_asof"] = SQL_EVENTS_ASOF


def q_events_rollup(spark, sf_dir):
    """Hypertable-style multi-resolution rollup: per-(type, day) and
    per-(type, day, hour) aggregates computed in ONE grouping-sets
    pass (operators/temporal.rollup_time — single shuffle, map-side
    partial agg across both resolutions)."""
    from searchengine_spark.operators import temporal as TP

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "value_e4", _e(F.col("value"), 4)
    )
    r = TP.rollup_time(ev, ts="ts", group="event_type", value="value_e4")
    return r.select(
        F.col("g").alias("event_type"),
        F.unix_timestamp("day").alias("day_epoch"),
        F.unix_timestamp("hour").alias("hour_epoch"),
        "resolution",
        "n_events",
        F.col("sum_value").alias("sum_value_e4"),
    ).orderBy("event_type", "day_epoch", "resolution", "hour_epoch")


SQL_EVENTS_ROLLUP = f"""
WITH base AS MATERIALIZED (
  SELECT event_type AS g, date_trunc('day', ts) AS day,
         date_trunc('hour', ts) AS hour, {_e_sql('value', 4)} AS v
  FROM events
)
SELECT g AS event_type,
       CAST(floor(epoch(day)) AS BIGINT) AS day_epoch,
       CAST(floor(epoch(hour)) AS BIGINT) AS hour_epoch,
       CASE WHEN GROUPING(hour) = 1 THEN 'day' ELSE 'hour' END AS resolution,
       CAST(count(v) AS BIGINT) AS n_events,
       CAST(sum(v) AS BIGINT) AS sum_value_e4
FROM base
GROUP BY GROUPING SETS ((g, day), (g, day, hour))
ORDER BY event_type, day_epoch, resolution, hour_epoch
"""

QUERIES["events_rollup"] = q_events_rollup
ORACLE_SQL["events_rollup"] = SQL_EVENTS_ROLLUP


def q_events_quantiles(spark, sf_dir):
    """Exact interpolated quantiles per event type — Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` are INDEPENDENT
    implementations of the same linear-interpolation definition
    (rank = q*(n-1)), compared here on the fixed-point integer grid.

    Scale note: exact percentile buffers each group's values (fine for
    a bounded number of groups; one shuffle, map-side partial
    collection). At 100 TB with huge groups the scale path is
    ``approx_percentile`` (t-digest-style mergeable sketch, same call
    shape) — exact is used here because the oracle gate needs
    bit-stable answers."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", _e(F.col("value"), 4).alias("v")
    )
    pct = F.expr("percentile(v, array(0.25D, 0.5D, 0.9D, 0.99D))")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("v").alias("n_events"),
            F.round(pct.getItem(0), 4).alias("p25_e4"),
            F.round(pct.getItem(1), 4).alias("p50_e4"),
            F.round(pct.getItem(2), 4).alias("p90_e4"),
            F.round(pct.getItem(3), 4).alias("p99_e4"),
        )
        .orderBy("event_type")
    )


SQL_EVENTS_QUANTILES = f"""
WITH base AS MATERIALIZED (
  SELECT event_type, {_e_sql('value', 4)} AS v FROM events
)
SELECT event_type,
       CAST(count(v) AS BIGINT) AS n_events,
       round(quantile_cont(v, 0.25), 4) AS p25_e4,
       round(quantile_cont(v, 0.5), 4) AS p50_e4,
       round(quantile_cont(v, 0.9), 4) AS p90_e4,
       round(quantile_cont(v, 0.99), 4) AS p99_e4
FROM base
GROUP BY event_type
ORDER BY event_type
"""

QUERIES["events_quantiles"] = q_events_quantiles
ORACLE_SQL["events_quantiles"] = SQL_EVENTS_QUANTILES


def q_ranked_term_stats(spark, sf_dir):
    """Rank-weighted index (§3.2 parity): postings rank scaled by the
    doc's PageRank (A5's rank *= pageRank), aggregated per term."""
    edges = _synth_edges(spark, sf_dir)
    nodes = _docs(spark, sf_dir).select(F.col("doc_id").alias("node"))
    pr = (
        PR.pagerank(edges, nodes, n_iter=3)
        .select(F.col("node").alias("doc_id"), F.col("rank").alias("page_rank"))
    )
    p = _postings(spark, sf_dir).join(F.broadcast(pr), "doc_id")
    # rank and page_rank are both 6 dp grid values; lifting each to an
    # exact integer BEFORE the product keeps the whole aggregate in
    # integer arithmetic (a float product of two grid values lands on
    # .5e-6 boundaries, where cross-engine round() parity is luck)
    return (
        p.withColumn("wrank_e12", _e(F.col("rank"), 6) * _e(F.col("page_rank"), 6))
        .groupBy("term")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("wrank_e12").alias("total_wrank_e12"),
        )
        .orderBy("term")
    )


SQL_RANKED_TERM_STATS = (
    "WITH "
    + _EDGE_CTES
    + ", r0 AS (SELECT node, 1.0 AS rank FROM nodes)"
    + _pr_iter_sql("r0", "r1")
    + _pr_iter_sql("r1", "r2")
    + _pr_iter_sql("r2", "r3")
    + ","
    + _POSTINGS_CTES.lstrip()
    + f"""
SELECT p.term, count(*) AS n_docs,
       CAST(sum({_e_sql('p.rank', 6)}
                * {_e_sql('round(least(r.rank, 100.0), 6)', 6)}) AS BIGINT)
         AS total_wrank_e12
FROM postings p JOIN r3 r ON r.node = p.doc_id
GROUP BY p.term ORDER BY p.term
"""
)

QUERIES["ranked_term_stats"] = q_ranked_term_stats
ORACLE_SQL["ranked_term_stats"] = SQL_RANKED_TERM_STATS


SEARCH3 = ["join", "sort", "batch"]


def q_search_3term(spark, sf_dir):
    """J4 with k=3 over the weighted dict: three-way inner join on doc,
    chained adjacent-pair min-posdiff proximity."""
    docs_meta = spread_scan(_docs(spark, sf_dir)).select(
        "doc_id", F.col("source").alias("host")
    )
    p = _wpostings_blocks(spark, sf_dir, sorted_output=False)
    return IX.search_weighted(p, SEARCH3, docs_meta, k=50)


SQL_SEARCH_3TERM = _search_sql(SEARCH3)


def q_doc_lookup(spark, sf_dir):
    """S3: pruned point-lookup scan by key list."""
    ids = [3, 77, 142, 400]
    return (
        _docs(spark, sf_dir)
        .where(F.col("doc_id").isin(ids))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


SQL_DOC_LOOKUP = """
SELECT doc_id, lang, source, n_chars FROM documents
WHERE doc_id IN (3, 77, 142, 400) ORDER BY doc_id
"""

QUERIES["search_3term"] = q_search_3term
ORACLE_SQL["search_3term"] = SQL_SEARCH_3TERM

SEARCH_PHRASE = ["table", "value"]  # adjacent in ~7% of docs; both words in ~63%


def q_search_phrase(spark, sf_dir):
    """True quoted-phrase search: only docs where the words are
    position-adjacent match (the oracle joins the token stream on
    position+1, so a words-present-but-not-adjacent doc failing THIS
    query while passing search_2term is the tested behavior)."""
    sections = _weighted_sections(spark, sf_dir)
    # one tokenizer pass for both consumers: the shared doc_id
    # repartition is a common exchange subtree, so ReuseExchange feeds
    # the postings build AND the adjacency index from one evaluation
    stream = IX.tokenize_sections(sections, blocks_col="blocks").repartition(
        "doc_id"
    )
    p = IX.build_weighted_postings(
        sections, sorted_output=False, blocks_col="blocks", token_stream=stream
    )
    toks = stream.select("doc_id", "word", "position")
    docs_meta = spread_scan(_docs(spark, sf_dir)).select(
        "doc_id", F.col("source").alias("host")
    )
    return IX.search_query(
        p, f'"{" ".join(SEARCH_PHRASE)}"', docs_meta, k=50, tokens=toks
    )


SQL_SEARCH_PHRASE = (
    "WITH "
    + WEIGHTED_CTES
    + f""",
  ph AS (
    SELECT DISTINCT a.doc_id, a.position AS start
    FROM acc a JOIN acc b ON a.doc_id = b.doc_id AND b.position = a.position + 1
    WHERE a.word = '{SEARCH_PHRASE[0]}' AND b.word = '{SEARCH_PHRASE[1]}'
  ),
  kept AS (
    SELECT * FROM (
      SELECT doc_id, start,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY start) AS rn
      FROM ph) WHERE rn <= 2
  ),
  agg AS (
    SELECT doc_id, count(*) AS nk,
           min(CASE WHEN rn = 1 THEN start END) AS p0a,
           min(CASE WHEN rn = 2 THEN start END) AS p0b
    FROM kept GROUP BY doc_id
  ),
  j AS (
    SELECT a.doc_id, round(w.rank * a.nk, 6) AS score
    FROM agg a JOIN wpostings w ON w.doc_id = a.doc_id
    WHERE w.term = '{SEARCH_PHRASE[0]}'
  ),
  top AS (SELECT doc_id, score FROM j ORDER BY score DESC, doc_id LIMIT 50),
  wh AS (SELECT t.doc_id, t.score, d.source AS host
         FROM top t JOIN documents d ON d.doc_id = t.doc_id),
  dd AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY host ORDER BY score DESC, doc_id) rn,
           COUNT(*) OVER (PARTITION BY host) AS nh
    FROM wh)
SELECT doc_id, score, host, (nh - 1) AS n_more_from_host
FROM dd WHERE rn = 1 ORDER BY score DESC, doc_id
"""
)

BOUNDARY_TERM = "host1"  # expands to host1.com, host10.net, ... NOT 'hosted'


def q_search_boundary(spark, sf_dir):
    """The English-boundary prefix rule (SearchEngine.h:389-415) as a
    single-term search: 'host1' range-matches every dict word it
    prefixes whose next char is not a letter (URL tokens host1.com,
    host19.org, ...), and PosRanks top-2 aggregates multi-word
    expansions per doc."""
    docs_meta = spread_scan(_docs(spark, sf_dir)).select(
        "doc_id", F.col("source").alias("host")
    )
    p = _wpostings_blocks(spark, sf_dir, sorted_output=False)
    return IX.search_weighted(p, [BOUNDARY_TERM], docs_meta, k=50)


SQL_SEARCH_BOUNDARY = _search_sql([BOUNDARY_TERM])

# 'httpxhos' is the 8-byte truncation of httpxhost0.com, httpxhost10.
# co.uk, ... URL tokens: the small dict's exact range finds those docs
# while the main dict's boundary rule REJECTS the expansion (next char
# 't' is a letter) — the query is only answerable via the small dict,
# which is exactly why the reference builds it (PageSearcher.cpp:412-419).
SMALLROUTE_TERMS = ["httpxhos"]


def q_search_smallterm(spark, sf_dir):
    """Small-dict routing (S13/A6 + PageSearcher.cpp:412-419): query
    words <= SMALLWORDSIZE probe the 8-byte small dict first and use
    its exact-match range when non-empty, falling back to the main
    dict's prefix+boundary expansion otherwise."""
    docs_meta = spread_scan(_docs(spark, sf_dir)).select(
        "doc_id", F.col("source").alias("host")
    )
    # the routed search is single-lineage: operators/index._routed_top2
    # fuses the main batch, the small-dict arm and the presence probe
    # into ONE tagged pass, so the dict is evaluated once
    p = _wpostings_blocks(spark, sf_dir, sorted_output=False)
    small = IX.build_small_postings(p, pos_col="pos")
    return IX.search_weighted(p, SMALLROUTE_TERMS, docs_meta, k=50, small=small)


SQL_SEARCH_SMALLTERM = _search_small_sql(SMALLROUTE_TERMS)


def q_search_unmerged(spark, sf_dir):
    """The console's #unmerge mode (cmdExec, PageSearcher.cpp:139-141):
    raw top-K scores with host-dedup (A9) switched off — docs_meta=None
    skips the merge window entirely."""
    p = _wpostings_blocks(spark, sf_dir, sorted_output=False)
    return IX.search_weighted(p, SEARCH_TERMS, None, k=50)


SQL_SEARCH_UNMERGED = (
    "WITH "
    + WEIGHTED_CTES
    + ","
    + ",".join(
        f"t{i} AS (SELECT * FROM wpostings WHERE {IX.expand_word_term_sql(t)})"
        for i, t in enumerate(SEARCH_TERMS)
    )
    + ","
    + ",".join(_top2_sql(f"t{i}", i) for i in range(len(SEARCH_TERMS)))
    + f""",
  j AS (
    SELECT k0.doc_id,
           round((trank_0 + trank_1)
                 * greatest(power(0.9, {_min_posdiff_sql(0, 1)} - 1), 1e-6),
                 6) AS score
    FROM k0 JOIN k1 USING (doc_id)
  )
SELECT doc_id, score FROM j ORDER BY score DESC, doc_id LIMIT 50
"""
)

QUERIES["search_unmerged"] = q_search_unmerged
ORACLE_SQL["search_unmerged"] = SQL_SEARCH_UNMERGED

# One batch = one dict evaluation; terms deliberately OVERLAP across
# queries (join/sort/batch each serve 2-3 queries) so the driver pins
# the term-sharing path, and lengths span 1/2/3 terms so the generic
# per-query scoring remap is exercised at every arity in the catalog.
BATCH_SEARCH = {
    "q1_joinsort": ["join", "sort"],  # == search_2term, batch-evaluated
    "q2_sortbatch": ["sort", "batch"],
    "q3_scan": ["scan"],
    "q4_three": ["join", "sort", "batch"],  # == search_3term
}


def q_search_batch(spark, sf_dir):
    """Batched multi-query search: four queries with overlapping terms
    answered in ONE action over ONE dict evaluation
    (IX.search_weighted_batch) — per-query semantics identical to
    search_2term/search_3term (the q1/q4 arms ARE those queries, plus
    a query_id column). The serve-one-query reference re-walks its
    dict per request (PageSearcher.cpp:400-440); a batch tier pays the
    dict scan once."""
    docs_meta = spread_scan(_docs(spark, sf_dir)).select(
        "doc_id", F.col("source").alias("host")
    )
    p = _wpostings_blocks(spark, sf_dir, sorted_output=False)
    return IX.search_weighted_batch(p, BATCH_SEARCH, docs_meta, k=50).orderBy(
        "query_id", F.desc("score"), "doc_id"
    )


def _search_batch_sql(queries: dict[str, list[str]], k: int = 50) -> str:
    """DuckDB twin of search_weighted_batch: one shared wpostings CTE,
    one qid-namespaced copy of the _search_sql scoring chain per query,
    arms UNION ALL'd under a query_id literal."""
    parts, arms = [], []
    for qid in sorted(queries):
        terms = queries[qid]
        n = len(terms)
        p = qid
        for i, t in enumerate(terms):
            parts.append(
                f"{p}_t{i} AS (SELECT * FROM wpostings "
                f"WHERE {IX.expand_word_term_sql(t)})"
            )
        parts += [_top2_sql(f"{p}_t{i}", i, prefix=f"{p}_") for i in range(n)]
        joins = " JOIN ".join(
            [f"{p}_k0"] + [f"{p}_k{i} USING (doc_id)" for i in range(1, n)]
        )
        sum_rank = " + ".join(f"trank_{i}" for i in range(n))
        co = " * ".join(
            f"greatest(power(0.9, {_min_posdiff_sql(i, i + 1)} - 1), 1e-6)"
            for i in range(n - 1)
        ) or "1.0"
        parts.append(
            f"{p}_j AS (SELECT {p}_k0.doc_id, round(({sum_rank}) * {co}, 6) "
            f"AS score FROM {joins})"
        )
        parts.append(
            f"{p}_top AS (SELECT doc_id, score FROM {p}_j "
            f"ORDER BY score DESC, doc_id LIMIT {k})"
        )
        parts.append(
            f"{p}_wh AS (SELECT t.doc_id, t.score, d.source AS host "
            f"FROM {p}_top t JOIN documents d ON d.doc_id = t.doc_id)"
        )
        parts.append(
            f"{p}_dd AS (SELECT *, ROW_NUMBER() OVER "
            f"(PARTITION BY host ORDER BY score DESC, doc_id) rn, "
            f"COUNT(*) OVER (PARTITION BY host) AS nh FROM {p}_wh)"
        )
        arms.append(
            f"SELECT '{p}' AS query_id, doc_id, score, host, "
            f"(nh - 1) AS n_more_from_host FROM {p}_dd WHERE rn = 1"
        )
    return (
        "WITH "
        + WEIGHTED_CTES
        + ","
        + ",".join(parts)
        + "\nSELECT * FROM (\n"
        + "\nUNION ALL\n".join(arms)
        + "\n) ORDER BY query_id, score DESC, doc_id\n"
    )


SQL_SEARCH_BATCH = _search_batch_sql(BATCH_SEARCH)
QUERIES["search_batch"] = q_search_batch
ORACLE_SQL["search_batch"] = SQL_SEARCH_BATCH


def q_search_batch_joined(spark, sf_dir):
    """Request-log-scale batch tier: the SAME four queries as
    search_batch, but evaluated through IX.search_batch_joined — the
    queries are a TABLE joined against boundary-prefix posting keys and
    scored with grouped aggregates, so the plan is fixed-size at ANY
    batch size (the per-branch form grows linearly and tops out at
    hundreds of queries/batch). Same oracle as search_batch: the two
    tiers are semantically identical by construction."""
    docs_meta = spread_scan(_docs(spark, sf_dir)).select(
        "doc_id", F.col("source").alias("host")
    )
    p = _wpostings_blocks(spark, sf_dir, sorted_output=False)
    qdf = IX.queries_table(spark, BATCH_SEARCH)
    return IX.search_batch_joined(p, qdf, docs_meta, k=50).orderBy(
        "query_id", F.desc("score"), "doc_id"
    )


QUERIES["search_batch_joined"] = q_search_batch_joined
ORACLE_SQL["search_batch_joined"] = SQL_SEARCH_BATCH

QUERIES["weighted_postings"] = q_weighted_postings
ORACLE_SQL["weighted_postings"] = SQL_WEIGHTED_POSTINGS
QUERIES["search_phrase"] = q_search_phrase
ORACLE_SQL["search_phrase"] = SQL_SEARCH_PHRASE
QUERIES["search_boundary"] = q_search_boundary
ORACLE_SQL["search_boundary"] = SQL_SEARCH_BOUNDARY
QUERIES["search_smallterm"] = q_search_smallterm
ORACLE_SQL["search_smallterm"] = SQL_SEARCH_SMALLTERM
QUERIES["doc_lookup"] = q_doc_lookup
ORACLE_SQL["doc_lookup"] = SQL_DOC_LOOKUP


def q_corpus_clean(spark, sf_dir):
    """The composed training-data cleaning pipeline: drop exact
    duplicates (keep first), keep quality >= 0.5, keep docs whose
    language heuristic fires (not 'und') — the shape of a 100 TB
    pretraining-corpus filter pass."""
    d = _docs_exactdup_aug(spark, sf_dir)
    keep_w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        d.withColumn("_rn", F.row_number().over(keep_w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("quality", TX.quality_score_expr("text"))
        .withColumn("lang_guess", TX.lang_guess_expr("text"))
        .where((F.col("quality") >= 0.5) & (F.col("lang_guess") != "und"))
        .withColumn("q_e4", _e(F.col("quality"), 4))
        .groupBy("lang_guess")
        .agg(
            F.count("*").alias("n_docs"),
            # exact integer fixed-point average (see multimodal._avg_e2):
            # quality is a 4 dp grid value, so avg-then-round is the
            # order-nondeterministic class the round-2 verdict flagged
            F.floor(
                (F.lit(2) * F.sum("q_e4") + F.count("*"))
                / (F.lit(2) * F.count("*"))
            ).cast("long").alias("avg_quality_e4"),
        )
        .orderBy("lang_guess")
    )


SQL_CORPUS_CLEAN = (
    "WITH "
    + _EXACTDUP_CTES
    + f""",
  kept AS (
    SELECT * FROM (
      SELECT d.*, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) rn
      FROM docs_aug d) WHERE rn = 1
  ),
  scored AS (
    SELECT doc_id, {TX.quality_score_sql('text')} AS quality,
           {TX.lang_guess_sql('text')} AS lang_guess
    FROM kept
  )
SELECT lang_guess, count(*) AS n_docs,
       CAST(floor((2 * sum({_e_sql('quality', 4)}) + count(*))
                  / (2.0 * count(*))) AS BIGINT) AS avg_quality_e4
FROM scored WHERE quality >= 0.5 AND lang_guess <> 'und'
GROUP BY lang_guess ORDER BY lang_guess
"""
)

QUERIES["corpus_clean"] = q_corpus_clean
ORACLE_SQL["corpus_clean"] = SQL_CORPUS_CLEAN


def q_quality_classifier(spark, sf_dir):
    """fastText-style linear quality-classifier inference over the
    corpus: hashed bag-of-words features, broadcast weight table,
    exact BIGINT dot product, integer keep/drop decision, sigmoid
    score for reporting (operators/curation.linear_classifier_score).
    Weights are the deterministic synthetic vector so the oracle
    needs no model file."""
    from searchengine_spark.operators import curation as CU

    docs = spread_scan(_docs(spark, sf_dir))
    w = CU.synthetic_weights(spark)
    return CU.linear_classifier_score(docs, w).orderBy("doc_id")


from searchengine_spark.operators.curation import linear_classifier_sql

SQL_QUALITY_CLASSIFIER = (
    "WITH "
    + linear_classifier_sql()
    + """
SELECT doc_id, n_tokens, dot_e6, keep, score FROM cls_out ORDER BY doc_id
"""
)

QUERIES["quality_classifier"] = q_quality_classifier
ORACLE_SQL["quality_classifier"] = SQL_QUALITY_CLASSIFIER


def _ann_lsh_sql() -> str:
    """Full SQL twin of the multi-table hyperplane-LSH ANN: the
    deterministic planes are embedded as literals; per-table bucket,
    hamming-1 multi-probe, candidate dedup and exact re-rank all
    replicated."""
    probes = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << j})" for j in range(SIM.N_HYPERPLANES)]
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
  bk AS (SELECT vec_id, v, {_lsh_bucket_cols_sql('v')} FROM e),
  bx AS ({_lsh_explode_sql('bk', 'vec_id, v')}),
  qx AS (SELECT vec_id AS query_id, v AS qvec, tbl, bucket
         FROM bx WHERE vec_id < 3),
  probes AS (SELECT query_id, qvec, tbl, unnest([{probes}]) AS bucket FROM qx),
  cand AS (
    SELECT DISTINCT p.query_id, c.vec_id
    FROM probes p JOIN bx c USING (tbl, bucket)
    WHERE c.vec_id <> p.query_id
  ),
  scored AS (
    SELECT query_id, cand.vec_id,
           round(list_dot_product(c.v, q.v)
                 / (sqrt(list_dot_product(c.v, c.v))
                    * sqrt(list_dot_product(q.v, q.v))), 4) AS cosine
    FROM cand JOIN e c ON c.vec_id = cand.vec_id
              JOIN e q ON q.vec_id = cand.query_id
  ),
  ranked AS (
    SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rank
    FROM scored)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5
"""


SQL_ANN_LSH = _ann_lsh_sql()
ORACLE_SQL["ann_lsh"] = SQL_ANN_LSH


def q_dedup_groups(spark, sf_dir):
    """Transitive duplicate GROUPS over the minhash-verified pairs:
    connected components (alternating large-star/small-star, min-label)
    turn A~B, B~C into one group even when A≁C — the per-doc keep/drop
    surface a production dedup needs (keep iff doc_id == group_id).
    Oracle twin: DuckDB recursive CTE over the same verified pairs."""
    import searchengine_spark.operators.dedup as DD_

    pairs = _minhash_lsh_verify(
        _docs_neardup_aug(spark, sf_dir), _shingles_expr(), 0.5
    )
    return DD_.dup_groups(pairs).orderBy("group_id", "doc_id")


# WITH RECURSIVE heads the clause; the leading dummy CTE keeps every
# real CTE on the ", name AS (" form the materializer rewrites (the
# opener after RECURSIVE itself is not matched by _CTE_OPEN). DuckDB
# accepts AS MATERIALIZED on the recursive CTE too.
SQL_DEDUP_GROUPS = (
    "WITH RECURSIVE _one AS (SELECT 1 AS one),"
    + _NEARDUP_CTES
    + ","
    + _minhash_band_sql(_SHINGLES_SQL)
    + f""",
  vpairs AS (
    SELECT doc_a, doc_b
    FROM pairs
    JOIN shingled sa ON sa.doc_id = doc_a
    JOIN shingled sb ON sb.doc_id = doc_b
    WHERE round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                / len(list_distinct(list_concat(sa.sh, sb.sh))), 4) >= 0.5
  ),
  edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM vpairs
    UNION
    SELECT doc_b, doc_a FROM vpairs
  ),
  reach AS (
    SELECT src AS doc_id, dst AS peer FROM edges
    UNION
    SELECT r.doc_id, e.dst FROM reach r JOIN edges e ON e.src = r.peer
  ),
  labels AS (
    SELECT doc_id, least(doc_id, min(peer)) AS group_id
    FROM reach GROUP BY doc_id
  )
SELECT doc_id, group_id,
       CAST(count(*) OVER (PARTITION BY group_id) AS BIGINT) AS group_size
FROM labels
ORDER BY group_id, doc_id
"""
)

QUERIES["dedup_groups"] = q_dedup_groups
ORACLE_SQL["dedup_groups"] = SQL_DEDUP_GROUPS


def q_dedup_spans(spark, sf_dir):
    """Substring-level dedup: maximal spans of >= SPAN_WINDOW
    consecutive tokens appearing verbatim in more than one document —
    the repeated-passage class that doc-level exact/minhash/simhash
    miss (operators/dedup.py repeated_spans; window fingerprints are
    built with in-row array ops, one hash-groupBy finds cross-doc
    windows, a per-doc lag merge emits maximal spans)."""
    import searchengine_spark.operators.dedup as DD_

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return DD_.repeated_spans(docs).orderBy("doc_id", "span_start")


_W_SPAN = 6  # keep in sync with operators/dedup.SPAN_WINDOW

SQL_DEDUP_SPANS = f"""
WITH wins AS (
    SELECT doc_id,
      unnest(range(1, greatest(len(string_split(text,' ')) - {_W_SPAN} + 1, 0) + 1)) AS pos,
      unnest(list_transform(
        range(1, greatest(len(string_split(text,' ')) - {_W_SPAN} + 1, 0) + 1),
        i -> ('0x' || substr(md5(array_to_string(
               list_slice(string_split(text,' '), i, i + {_W_SPAN} - 1), ' ')), 1, 15))::BIGINT
      )) AS whash
    FROM documents
  ),
  duph AS (
    SELECT whash FROM wins GROUP BY whash HAVING count(DISTINCT doc_id) > 1
  ),
  dwin AS (SELECT doc_id, pos FROM wins JOIN duph USING (whash)),
  brk AS (
    SELECT doc_id, pos,
      CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                <= {_W_SPAN} THEN 0 ELSE 1 END AS b
    FROM dwin
  ),
  grp AS (
    SELECT doc_id, pos,
      CAST(sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS g
    FROM brk
  ),
  spans AS (
    SELECT doc_id,
      CAST(min(pos) AS BIGINT) AS span_start,
      CAST(max(pos) + {_W_SPAN} - 1 AS BIGINT) AS span_end,
      CAST(count(*) AS BIGINT) AS n_windows
    FROM grp GROUP BY doc_id, g
  )
SELECT doc_id, span_start, span_end,
       CAST(span_end - span_start + 1 AS BIGINT) AS span_tokens, n_windows
FROM spans
ORDER BY doc_id, span_start
"""

QUERIES["dedup_spans"] = q_dedup_spans
ORACLE_SQL["dedup_spans"] = SQL_DEDUP_SPANS


def _docs_mirror_aug(spark, sf_dir):
    """documents + deterministic mirror hosts: origin host = `source`;
    every doc_id % 3 == 0 page is re-served by mirror host
    'mir<doc_id % 5>' — so each mirror carries slices of several
    origins (a partial-mirror farm, the Bharat & Broder test shape)."""
    d = _docs(spark, sf_dir).select(
        F.col("source").alias("host"), "text"
    )
    mir = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") % 3 == 0)
        .select(
            F.concat(F.lit("mir"), (F.col("doc_id") % 5).cast("string")).alias(
                "host"
            ),
            "text",
        )
    )
    return d.unionByName(mir)


def q_mirror_hosts(spark, sf_dir):
    """Mirror-host detection (operators/mirrors.py): host pairs ranked
    by shared distinct content fingerprints, containment scored
    against the smaller host in exact integer micro-points. The
    reference crawls a mirrored site twice (content keyed on md5(url),
    KeyValueDB.hpp:68-83, and host-dedup exists only at result marshal,
    PageSearcher.cpp:481-538); this is the crawl-budget guard a
    web-scale deployment adds. Pair fan-out is bounded per fingerprint
    bucket (MAX_HOSTS_PER_HASH boilerplate cap) — no all-pairs host
    product anywhere."""
    from searchengine_spark.operators import mirrors as MIR

    return MIR.mirror_pairs(_docs_mirror_aug(spark, sf_dir)).orderBy(
        "host_a", "host_b"
    )


SQL_MIRROR_HOSTS = """
WITH mdocs AS (
    SELECT source AS host, text FROM documents
    UNION ALL
    SELECT 'mir' || CAST(doc_id % 5 AS VARCHAR) AS host, text
    FROM documents WHERE doc_id % 3 = 0
  ),
  sigs AS (SELECT DISTINCT host, md5(text) AS chash FROM mdocs),
  sizes AS (
    SELECT host, CAST(count(*) AS BIGINT) AS n_pages FROM sigs GROUP BY host
  ),
  okh AS (
    SELECT chash FROM sigs GROUP BY chash
    HAVING count(*) BETWEEN 2 AND 16
  ),
  pairs AS (
    SELECT a.host AS host_a, b.host AS host_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM sigs a JOIN okh USING (chash) JOIN sigs b USING (chash)
    WHERE a.host < b.host
    GROUP BY 1, 2 HAVING count(*) >= 2
  )
SELECT p.host_a, p.host_b, p.n_shared,
       sa.n_pages AS n_a, sb.n_pages AS n_b,
       CAST((p.n_shared * 1000000) // least(sa.n_pages, sb.n_pages) AS BIGINT)
         AS containment_e6
FROM pairs p
JOIN sizes sa ON sa.host = p.host_a
JOIN sizes sb ON sb.host = p.host_b
ORDER BY host_a, host_b
"""

QUERIES["mirror_hosts"] = q_mirror_hosts
ORACLE_SQL["mirror_hosts"] = SQL_MIRROR_HOSTS


# ---------------------------------------------------------------------------
# corpus curation: decontamination / repetition filters / split+sampling
# ---------------------------------------------------------------------------

from searchengine_spark.operators import curation as CU


def q_decontaminate(spark, sf_dir):
    """Benchmark n-gram decontamination: candidate docs sharing >= 1
    distinct DECON_NGRAM-gram with the held-out benchmark subset
    (doc_id % DECON_BENCH_MOD == 0), with overlap fraction and a
    >= 50% flag.
    Broadcast hash-set join — see operators/curation.py scale notes."""
    return CU.decontaminate(spread_scan(_docs(spark, sf_dir))).orderBy("doc_id")


SQL_DECONTAMINATE = (
    "WITH "
    + CU.decontaminate_sql()
    + """
SELECT doc_id, n_grams, n_hit, overlap_frac, contaminated
FROM decon ORDER BY doc_id
"""
)

QUERIES["decontaminate"] = q_decontaminate
ORACLE_SQL["decontaminate"] = SQL_DECONTAMINATE


def q_quality_repetition(spark, sf_dir):
    """Gopher-style duplicate-n-gram fractions + pass flag, computed
    as one shuffle-free codegen'd projection (operators/curation.py
    repetition_stats)."""
    return CU.repetition_stats(spread_scan(_docs(spark, sf_dir))).orderBy("doc_id")


SQL_QUALITY_REPETITION = f"""
SELECT {CU.repetition_stats_sql('text')}
FROM documents ORDER BY doc_id
"""

QUERIES["quality_repetition"] = q_quality_repetition
ORACLE_SQL["quality_repetition"] = SQL_QUALITY_REPETITION


def q_corpus_sample(spark, sf_dir):
    """Deterministic hash train/val/test split + per-source mixture
    sampling rates, rolled up per (source, split). Map + small
    partial-agg — the corpus-assembly step of a training pipeline."""
    return CU.corpus_sample(_docs(spark, sf_dir)).orderBy("source", "split")


SQL_CORPUS_SAMPLE = CU.corpus_sample_sql() + " ORDER BY source, split"

QUERIES["corpus_sample"] = q_corpus_sample
ORACLE_SQL["corpus_sample"] = SQL_CORPUS_SAMPLE


def _pii_text_expr():
    """Deterministic PII-bearing text derived from doc columns: the
    synthetic corpus contains no PII, so the fixture injects an email /
    phone / IPv4 on interleaved doc_id residues (all 8 presence
    combinations occur). concat_ws skips the NULL branches."""
    return F.concat_ws(
        " ",
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("user"), F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ),
        F.when(F.col("doc_id") % 5 == 0, F.lit("call 555-867-5309")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit("from 10."), (F.col("doc_id") % 256).cast("string"),
                F.lit(".0.1"),
            ),
        ),
    )


_PII_TEXT_SQL = """concat_ws(' ', text,
      CASE WHEN doc_id % 3 = 0
           THEN 'user' || CAST(doc_id AS VARCHAR) || '@example.com' END,
      CASE WHEN doc_id % 5 = 0 THEN 'call 555-867-5309' END,
      CASE WHEN doc_id % 7 = 0
           THEN 'from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' END)"""


def q_pii_redact(spark, sf_dir):
    """PII scrub pass: per-rule match counts on the raw text plus the
    md5 + length of the redacted text (the redaction itself is a pure
    chained-regexp_replace projection — operators/curation.py)."""
    d = spread_scan(_docs(spark, sf_dir)).select(
        "doc_id", _pii_text_expr().alias("pii_text")
    )
    return d.select(
        "doc_id",
        *CU.pii_count_exprs("pii_text"),
        F.md5(CU.redact_pii_expr("pii_text")).alias("redacted_md5"),
        F.length(CU.redact_pii_expr("pii_text")).cast("long").alias(
            "redacted_len"
        ),
    ).orderBy("doc_id")


SQL_PII_REDACT = f"""
WITH pii AS MATERIALIZED (
  SELECT doc_id, {_PII_TEXT_SQL} AS pii_text FROM documents
)
SELECT doc_id, {', '.join(CU.pii_count_sqls('pii_text'))},
       md5({CU.redact_pii_sql('pii_text')}) AS redacted_md5,
       CAST(length({CU.redact_pii_sql('pii_text')}) AS BIGINT)
         AS redacted_len
FROM pii ORDER BY doc_id
"""

QUERIES["pii_redact"] = q_pii_redact
ORACLE_SQL["pii_redact"] = SQL_PII_REDACT


def q_media_dedup(spark, sf_dir):
    """Exact duplicate detection over BINARY media payloads (the
    image-dedup step of a multimodal pipeline): group by the content
    hash of the payload bytes, keep the min doc_id. The universe
    injects a byte-identical copy of every 10th payload under
    'dup'||doc_id so dup groups exist. Both engines key on
    md5(lower(hex(payload))) — DuckDB's md5 is VARCHAR-only, so the
    hex transport makes the key engine-portable while still being a
    pure function of the payload BYTES."""
    m = MM.synth_media_df(spark, sf_dir).select("doc_id", "payload")
    aug = m.unionByName(
        m.where(F.col("doc_id").cast("long") % 10 == 0).select(
            F.concat(F.lit("dup"), F.col("doc_id")).alias("doc_id"), "payload"
        )
    )
    return (
        aug.groupBy(F.md5(F.lower(F.hex("payload"))).alias("payload_md5"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .where(F.col("n_copies") > 1)
        .orderBy("payload_md5")
    )


def _sql_media_dedup() -> str:
    h = hash60_sql("CAST(doc_id AS VARCHAR)", "media")
    return f"""
WITH payloads AS MATERIALIZED (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         unhex(repeat(md5('payload' || CAST(doc_id AS VARCHAR)),
                      ({h} % 6) + 1)) AS payload
  FROM documents
),
aug AS MATERIALIZED (
  SELECT doc_id, payload FROM payloads
  UNION ALL
  SELECT 'dup' || doc_id, payload FROM payloads
  WHERE CAST(doc_id AS BIGINT) % 10 = 0
)
SELECT md5(lower(hex(payload))) AS payload_md5,
       CAST(count(*) AS BIGINT) AS n_copies,
       min(doc_id) AS keep_doc_id
FROM aug GROUP BY 1 HAVING count(*) > 1 ORDER BY payload_md5
"""


QUERIES["media_dedup"] = q_media_dedup
ORACLE_SQL["media_dedup"] = _sql_media_dedup()


def q_curation_funnel(spark, sf_dir):
    """The end-to-end corpus-curation funnel as ONE aggregate pass:
    total docs → exact-dedup survivors (first doc_id per md5(text))
    → repetition gate → decontamination gate (benchmark members and
    no-hit docs count clean) → mixture sampling. Per-doc flags are
    computed in one projection + one broadcast-joined contamination
    lookup, then a single summary agg — no per-stage re-scan.

    The universe is the numeric dup-augmented corpus (every 10th doc
    re-appears under doc_id+1_000_000) so the dedup stage has real
    work, mirroring _docs_exactdup_aug but keeping doc_id numeric for
    the benchmark-membership residue and `source` for sampling."""
    base = spread_scan(_docs(spark, sf_dir)).select("doc_id", "text", "source")
    d = base.unionByName(
        base.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "source"
        )
    )
    contaminated = (
        CU.decontaminate(d)
        .where("contaminated")
        .select("doc_id", F.lit(True).alias("_contam"))
    )
    keep_w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    flags = (
        d.withColumn("_first", F.row_number().over(keep_w) == 1)
        .withColumn("_rep", CU.repetition_pass_expr("text"))
        .join(F.broadcast(contaminated), "doc_id", "left")
        .withColumn("_clean", F.col("_contam").isNull())
        .withColumn(
            "_samp", CU.sampled_expr(F.col("doc_id"), F.col("source"))
        )
    )

    def n(cond, name):
        return F.sum(cond.cast("long")).alias(name)

    return flags.agg(
        F.count("*").alias("n_total"),
        n(F.col("_first"), "n_dedup"),
        n(F.col("_first") & F.col("_rep"), "n_rep_pass"),
        n(F.col("_first") & F.col("_rep") & F.col("_clean"), "n_decon_pass"),
        n(
            F.col("_first") & F.col("_rep") & F.col("_clean") & F.col("_samp"),
            "n_sampled",
        ),
    )


def _sql_curation_funnel():
    rep_pred = CU.repetition_pass_sql("text")
    return (
        """WITH
  docs_f AS MATERIALIZED (
    SELECT doc_id, text, source FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text, source FROM documents
    WHERE doc_id % 10 = 0
  ),
"""
        + CU.decontaminate_sql(table="docs_f")
        + f""",
  contam AS MATERIALIZED (
    SELECT doc_id FROM decon WHERE contaminated
  ),
  flags AS MATERIALIZED (
    SELECT d.doc_id,
           (ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY d.doc_id) = 1)
             AS first_doc,
           {rep_pred} AS rep_pass,
           (c.doc_id IS NULL) AS clean,
           {CU.sampled_sql('d.doc_id', 'source')} AS samp
    FROM docs_f d LEFT JOIN contam c ON d.doc_id = c.doc_id
  )
SELECT CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN first_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
       CAST(sum(CASE WHEN first_doc AND rep_pass THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rep_pass,
       CAST(sum(CASE WHEN first_doc AND rep_pass AND clean THEN 1 ELSE 0 END)
            AS BIGINT) AS n_decon_pass,
       CAST(sum(CASE WHEN first_doc AND rep_pass AND clean AND samp
                THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM flags
"""
    )


QUERIES["curation_funnel"] = q_curation_funnel
ORACLE_SQL["curation_funnel"] = _sql_curation_funnel()


def q_chunk_stats(spark, sf_dir):
    """Per-doc PAD-style chunking stats (tokens, seq_len chunks, tail
    padding) — a pure zero-shuffle projection."""
    return CU.chunk_stats(_docs(spark, sf_dir)).orderBy("doc_id")


SQL_CHUNK_STATS = (
    f"SELECT {CU.chunk_stats_sql()} FROM documents ORDER BY doc_id"
)

QUERIES["chunk_stats"] = q_chunk_stats
ORACLE_SQL["chunk_stats"] = SQL_CHUNK_STATS


def q_pack_stats(spark, sf_dir):
    """Per-source concat-and-chunk packing stats: sequences cut from
    the doc_id-ordered token stream, tail padding, and the number of
    docs straddling a sequence boundary (operators/curation.py
    pack_stats; prefix-sum window per source)."""
    return CU.pack_stats(_docs(spark, sf_dir)).orderBy("source")


SQL_PACK_STATS = CU.pack_stats_sql() + " ORDER BY source"

QUERIES["pack_stats"] = q_pack_stats
ORACLE_SQL["pack_stats"] = SQL_PACK_STATS


def q_mixture_budget(spark, sf_dir):
    """Token-budget mixture assembly: per-doc epoch counts filled in
    quality-level order against per-source token budgets
    (CU.mixture_assign — level-granular selection so the cumsum runs
    over the tiny per-(source, level) aggregate, never a skewed
    per-source window over all docs), summarized per source. The
    derived budgets span downsampling (×0.25/×0.6), exact fit (×1.0)
    and multi-epoch upsampling (×2.5)."""
    per_doc = CU.mixture_assign(spread_scan(_docs(spark, sf_dir)))
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("total_docs"),
            F.sum(F.when(F.col("n_epochs") > 0, 1).otherwise(0)).alias(
                "docs_kept"
            ),
            F.max("budget_tokens").alias("budget_tokens"),
            F.sum(F.col("tokens") * F.col("n_epochs")).alias("tokens_realized"),
            F.max("n_epochs").alias("max_epochs"),
            F.min("n_epochs").alias("min_epochs"),
        )
        .orderBy("source")
    )


SQL_MIXTURE_BUDGET = (
    "WITH "
    + CU.mixture_assign_sql()
    + """
SELECT source,
       count(*) AS total_docs,
       CAST(sum(CASE WHEN n_epochs > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_kept,
       max(budget_tokens) AS budget_tokens,
       CAST(sum(tokens * n_epochs) AS BIGINT) AS tokens_realized,
       max(n_epochs) AS max_epochs,
       min(n_epochs) AS min_epochs
FROM mx_doc
GROUP BY source
ORDER BY source
"""
)

QUERIES["mixture_budget"] = q_mixture_budget
ORACLE_SQL["mixture_budget"] = SQL_MIXTURE_BUDGET


# ---------------------------------------------------------------------------
# BPE vocabulary induction (operators/vocab.py)
# ---------------------------------------------------------------------------

from searchengine_spark.operators import vocab as VB


def q_bpe_merges(spark, sf_dir):
    """BPE vocabulary training: the first VB.N_MERGES merge rules
    learned from corpus word frequencies (word-level Sennrich BPE —
    one corpus pass builds the |V|-row word table, each merge is a
    vocab-sized pair-count agg + argmax; merge application is a
    codegen'd replace() over an engine-portable delimited symbol
    string — see operators/vocab.py module docstring)."""
    return VB.bpe_merges(spark, _docs(spark, sf_dir)).orderBy("merge_rank")


SQL_BPE_MERGES = (
    "WITH "
    + VB.bpe_ctes_sql()
    + "\n"
    + VB.merges_select_sql()
)

QUERIES["bpe_merges"] = q_bpe_merges
ORACLE_SQL["bpe_merges"] = SQL_BPE_MERGES


def q_bpe_encode_stats(spark, sf_dir):
    """Corpus encoding stats under the learned BPE vocabulary:
    per-source docs/words/BPE-tokens and chars-per-token compression.
    The encoded vocab joins back to the exploded corpus (vocab is tiny
    vs corpus -> AQE broadcasts; degrades to a word-key shuffle join
    at production vocab sizes)."""
    return VB.bpe_encode_stats(spark, _docs(spark, sf_dir)).orderBy("source")


SQL_BPE_ENCODE_STATS = (
    "WITH "
    + VB.bpe_ctes_sql()
    + ",\n"
    + VB.encode_stats_select_sql()
    + "\nORDER BY source"
)

QUERIES["bpe_encode_stats"] = q_bpe_encode_stats
ORACLE_SQL["bpe_encode_stats"] = SQL_BPE_ENCODE_STATS


# ---------------------------------------------------------------------------
# embedding clustering + cluster-bounded near-dup (SemDeDup)
# ---------------------------------------------------------------------------


def q_embedding_clusters(spark, sf_dir):
    """Per-cluster profile of the deterministic Lloyd k-means fit
    (members, exact integer inertia, min-id exemplar) — the clustering
    step of a curation pipeline; shares the hash-verified coarse
    quantizer with ann_ivf (operators/similarity.embedding_clusters)."""
    return SIM.embedding_clusters(spread_scan(_emb(spark, sf_dir))).orderBy("cid")


SQL_EMBEDDING_CLUSTERS = (
    "WITH "
    + ",\n  ".join(_ivf_assign_parts()[0])
    + """
SELECT CAST(cid AS INT) AS cid,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(d2) AS BIGINT) AS inertia_e12,
       min(vec_id) AS exemplar_id
FROM corpus GROUP BY cid ORDER BY cid
"""
)

QUERIES["embedding_clusters"] = q_embedding_clusters
ORACLE_SQL["embedding_clusters"] = SQL_EMBEDDING_CLUSTERS


def q_semdedup_pairs(spark, sf_dir):
    """Cluster-then-dedup (SemDeDup): exact-cosine near-dup pairs
    found WITHIN k-means clusters — sum(n_c^2) pair work instead of
    n^2, one cid equi-join, no LSH recall dependence
    (operators/similarity.semdedup_pairs). Runs on the same
    clone-augmented set as embedding_near_dups: identical vectors
    have identical e6 quantizations, hence identical centroid
    distances and (ties -> min cid) the same cluster — so every
    planted clone pair is provably intra-cluster and the two dedup
    paths cross-validate on the same ground truth."""
    return SIM.semdedup_pairs(_emb_aug(spark, sf_dir), threshold=0.999).orderBy(
        "vec_a", "vec_b"
    )


SQL_SEMDEDUP_PAIRS = (
    """WITH embaug AS (
    SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500
    UNION ALL
    SELECT vec_id + 100000, embedding FROM embeddings
    WHERE vec_id < 500 AND vec_id % 50 = 0
  ),
  """
    + ",\n  ".join(_ivf_assign_parts(source="embaug")[0])
    + """,
  sp AS (
    SELECT CAST(a.cid AS INT) AS cid,
           a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 4) AS cosine
    FROM corpus a JOIN corpus b
      ON a.cid = b.cid AND a.vec_id < b.vec_id
  )
SELECT cid, vec_a, vec_b, cosine FROM sp
WHERE cosine >= 0.999 ORDER BY vec_a, vec_b
"""
)

QUERIES["semdedup_pairs"] = q_semdedup_pairs
ORACLE_SQL["semdedup_pairs"] = SQL_SEMDEDUP_PAIRS


def q_distinct_sketch(spark, sf_dir):
    """Mergeable KMV distinct-cardinality sketch (operators/sketches.py)
    per event_type over user_id: exact n_distinct (free by-product),
    the kth-smallest hash, and the bottom-k estimate. The reference
    counts distincts exactly through its seen-set inserts
    (KeyValueDB.hpp:25-48); the sketch is the 100 TB replacement —
    fixed-size state, exactly mergeable across executors and rounds.

    k=64 exercises both branches across the driver SFs: sf0.001 has 15
    distinct users per type (below-k exact path), sf0.01 has 150
    (estimator path). kmv_lo8 exposes the first 8 sketch entries so the
    oracle pins the sketch CONTENT, not just the estimate."""
    from searchengine_spark.operators import sketches as SK

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.col("user_id").cast("string").alias("uid")
    )
    sk = SK.kmv_estimate(SK.kmv_sketch(ev, ["event_type"], "uid", k=64), k=64)
    return sk.select(
        "event_type",
        "n_distinct",
        "kth_min",
        "kmv_est",
        F.slice("kmv", 1, 8).alias("kmv_lo8"),
    ).orderBy("event_type")


SQL_DISTINCT_SKETCH = f"""
WITH h AS MATERIALIZED (
  SELECT DISTINCT event_type,
         {hash60_sql('CAST(user_id AS VARCHAR)')} AS h
  FROM events
),
ranked AS MATERIALIZED (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n_distinct
  FROM h
)
SELECT event_type,
       CAST(max(n_distinct) AS BIGINT) AS n_distinct,
       CAST(CASE WHEN max(n_distinct) < 64 THEN NULL
                 ELSE max(CASE WHEN rn = 64 THEN h END) END AS BIGINT)
         AS kth_min,
       CAST(CASE WHEN max(n_distinct) < 64 THEN max(n_distinct)
                 ELSE floor(63.0 * 1152921504606846976.0
                            / CAST(max(CASE WHEN rn = 64 THEN h END) AS DOUBLE))
            END AS BIGINT) AS kmv_est,
       list_sort(list(h) FILTER (WHERE rn <= 8)) AS kmv_lo8
FROM ranked
GROUP BY event_type
ORDER BY event_type
"""

QUERIES["distinct_sketch"] = q_distinct_sketch
ORACLE_SQL["distinct_sketch"] = SQL_DISTINCT_SKETCH


def q_heavy_hitters(spark, sf_dir):
    """Deterministic mergeable heavy-hitters (operators/sketches.
    topk_sketch): top-10 words per document language with exact counts
    for kept items and a sound miss_bound for everything truncated.
    t=4 over 4 hash cells against a ~30-word vocabulary forces real
    per-cell truncation at both driver SFs, so the oracle pins the
    estimator branch (nonzero bound), not just exact pass-through."""
    from searchengine_spark.operators import sketches as SK

    toks = (
        _docs(spark, sf_dir)
        .select("lang", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .where(F.length("w") > 0)
    )
    sk = SK.topk_sketch(toks, ["lang"], "w", t=4, n_cells=4)
    return SK.topk_estimate(sk, ["lang"], k=10).orderBy("lang", "rank")


SQL_HEAVY_HITTERS = f"""
WITH hh_tok AS (
  SELECT lang, w FROM (
    SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE length(w) > 0
),
hh_cnt AS (
  SELECT lang, w, CAST(count(*) AS BIGINT) AS cnt FROM hh_tok GROUP BY 1, 2
),
hh_rn AS (
  SELECT lang, w, cnt, {hash60_sql('w')} % 4 AS cell,
         ROW_NUMBER() OVER (
           PARTITION BY lang, {hash60_sql('w')} % 4
           ORDER BY cnt DESC, w) AS rn
  FROM hh_cnt
),
hh_bound AS (
  SELECT lang, cell,
         CAST(coalesce(max(CASE WHEN rn = 5 THEN cnt END), 0) AS BIGINT)
           AS bound
  FROM hh_rn GROUP BY 1, 2
),
hh_mb AS (
  SELECT lang, CAST(max(bound) AS BIGINT) AS miss_bound
  FROM hh_bound GROUP BY 1
),
hh_glob AS (
  SELECT lang, w, cnt,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, w) AS rank
  FROM hh_rn WHERE rn <= 4
)
SELECT g.lang, CAST(g.rank AS BIGINT) AS rank, g.w AS item,
       g.cnt AS cnt_lo, g.cnt AS cnt_hi, m.miss_bound
FROM hh_glob g JOIN hh_mb m USING (lang)
WHERE g.rank <= 10
ORDER BY lang, rank
"""

QUERIES["heavy_hitters"] = q_heavy_hitters
ORACLE_SQL["heavy_hitters"] = SQL_HEAVY_HITTERS


def q_sketch_set_ops(spark, sf_dir):
    """Theta-style set-operation estimates between per-type KMV
    sketches (operators/sketches.kmv_set_estimates): overlap of
    distinct (user, day) activity between every pair of event types —
    the fixed-size-sketch answer to "how much does corpus B overlap
    corpus A" that at 100 TB costs two sketches and an array op
    instead of a distinct-join between the corpora. user_id|day (not
    bare user_id) so the sets genuinely differ (~0.22 true Jaccard at
    sf0.01). jaccard_e6 is all-integer; the floor() estimates are
    IEEE-portable (sketches.py docstrings)."""
    from searchengine_spark.operators import sketches as SK

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.concat(
            F.col("user_id").cast("string"),
            F.lit("|"),
            F.date_format("ts", "yyyy-MM-dd"),
        ).alias("ud"),
    )
    sk = SK.kmv_sketch(ev, ["event_type"], "ud", k=64)
    pa = sk.select(F.col("event_type").alias("type_a"), F.col("kmv").alias("_ka"))
    pb = sk.select(F.col("event_type").alias("type_b"), F.col("kmv").alias("_kb"))
    pairs = pa.join(pb, F.col("type_a") < F.col("type_b"))
    return (
        SK.kmv_set_estimates(pairs, k=64)
        .select(
            "type_a",
            "type_b",
            "theta",
            "n_and",
            "n_or",
            "est_intersect",
            "est_union",
            "jaccard_e6",
        )
        .orderBy("type_a", "type_b")
    )


SQL_SKETCH_SET_OPS = f"""
WITH h AS MATERIALIZED (
  SELECT DISTINCT event_type,
         {hash60_sql("CAST(user_id AS VARCHAR) || '|' || strftime(ts, '%Y-%m-%d')")} AS h
  FROM events
),
ranked AS MATERIALIZED (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM h
),
sk AS MATERIALIZED (SELECT event_type, h FROM ranked WHERE rn <= 64),
th AS MATERIALIZED (
  SELECT event_type,
         CASE WHEN count(*) >= 64 THEN max(h)
              ELSE 1152921504606846976 END AS side_theta
  FROM sk GROUP BY event_type
),
pairs AS MATERIALIZED (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         least(a.side_theta, b.side_theta) AS theta
  FROM th a JOIN th b ON a.event_type < b.event_type
),
members AS MATERIALIZED (
  SELECT p.type_a, p.type_b, p.theta, s.h,
         count(DISTINCT s.event_type) AS sides
  FROM pairs p
  JOIN sk s ON s.event_type IN (p.type_a, p.type_b) AND s.h < p.theta
  GROUP BY 1, 2, 3, 4
)
SELECT type_a, type_b,
       CAST(theta AS BIGINT) AS theta,
       CAST(count(*) FILTER (WHERE sides = 2) AS BIGINT) AS n_and,
       CAST(count(*) AS BIGINT) AS n_or,
       CAST(floor(CAST(count(*) FILTER (WHERE sides = 2) AS DOUBLE)
                  * 1152921504606846976.0 / CAST(theta AS DOUBLE)) AS BIGINT)
         AS est_intersect,
       CAST(floor(CAST(count(*) AS DOUBLE)
                  * 1152921504606846976.0 / CAST(theta AS DOUBLE)) AS BIGINT)
         AS est_union,
       CAST(CASE WHEN count(*) = 0 THEN 0
                 ELSE (count(*) FILTER (WHERE sides = 2)) * 1000000 // count(*)
            END AS BIGINT) AS jaccard_e6
FROM members
GROUP BY type_a, type_b, theta
ORDER BY type_a, type_b
"""

QUERIES["sketch_set_ops"] = q_sketch_set_ops
ORACLE_SQL["sketch_set_ops"] = SQL_SKETCH_SET_OPS


# quantile_hist grid: e4 fixed-point values, 2.5-unit bins covering
# [0, 640) — events.value spans [0, ~560] at every SF; outliers clamp
_QH_LO, _QH_WIDTH, _QH_BINS = 0, 25_000, 256
_QH_QS_E6 = [500_000, 900_000, 990_000]


def q_quantile_hist(spark, sf_dir):
    """Mergeable histogram quantiles (operators/sketches.hist_sketch /
    hist_quantiles): ONE map-side-combined groupBy builds ≤256 counts
    per event_type; quantiles interpolate inside the located bin with
    all-integer rank arithmetic (rank = q·(n−1) in e6 units — same
    definition as events_quantiles' exact form, error ≤ one bin
    width). The scale story vs exact `percentile`: state is 256 longs
    per group instead of every value buffered, and histograms MERGE by
    addition across executors/rounds/days (tests pin merge≡full and
    the one-bin error bound)."""
    from searchengine_spark.operators import sketches as SK

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", _e(F.col("value"), 4).alias("v_e4")
    )
    h = SK.hist_sketch(ev, ["event_type"], "v_e4", _QH_LO, _QH_WIDTH, _QH_BINS)
    return (
        SK.hist_quantiles(h, ["event_type"], _QH_LO, _QH_WIDTH, _QH_QS_E6)
        .select("event_type", "q_e6", "n_rows", F.col("est").alias("est_e4"))
        .orderBy("event_type", "q_e6")
    )


SQL_QUANTILE_HIST = f"""
WITH base AS MATERIALIZED (
  SELECT event_type, {_e_sql('value', 4)} AS v FROM events
),
hist AS MATERIALIZED (
  SELECT event_type,
         least(greatest((v - {_QH_LO}) // {_QH_WIDTH}, 0), {_QH_BINS - 1}) AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM base GROUP BY 1, 2
),
cum AS MATERIALIZED (
  SELECT event_type, bucket, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS n
  FROM hist
),
ranks AS MATERIALIZED (
  SELECT c.*, q.q_e6, q.q_e6 * (c.n - 1) AS r_e6
  FROM cum c CROSS JOIN (VALUES (500000), (900000), (990000)) q(q_e6)
)
SELECT event_type,
       CAST(q_e6 AS BIGINT) AS q_e6,
       CAST(n AS BIGINT) AS n_rows,
       CAST({_QH_LO} + bucket * {_QH_WIDTH}
            + ({_QH_WIDTH} * (r_e6 - (cum - cnt) * 1000000)) // (cnt * 1000000)
         AS BIGINT) AS est_e4
FROM ranks
WHERE (cum - cnt) * 1000000 <= r_e6 AND r_e6 < cum * 1000000
ORDER BY event_type, q_e6
"""

QUERIES["quantile_hist"] = q_quantile_hist
ORACLE_SQL["quantile_hist"] = SQL_QUANTILE_HIST


def q_priority_sample(spark, sf_dir):
    """Priority sampling (sketches.priority_sample, Duffield-Lund-
    Thorup): per-lang fixed-size (k=16) weight-sensitive document
    sample over n_chars with the unbiased max(w, τ) estimator — the
    "estimate per-source corpus volume from k rows" primitive. The
    whole sample is pinned row-for-row against the oracle's
    row_number form: identical priorities (same IEEE int→double and
    two divisions), identical order (struct(-q, id) ≡ q DESC, id ASC),
    identical integer e6 outputs."""
    from searchengine_spark.operators import sketches as SK

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "lang", "doc_id", "n_chars"
    )
    return (
        SK.priority_sample(docs, ["lang"], "doc_id", "n_chars", k=16)
        .withColumnRenamed("sample_id", "doc_id")
        .orderBy("lang", "rank")
    )


SQL_PRIORITY_SAMPLE = f"""
WITH pr AS MATERIALIZED (
  SELECT lang, CAST(doc_id AS VARCHAR) AS doc_id, CAST(n_chars AS BIGINT) AS w,
         CAST(n_chars AS DOUBLE)
           / (CAST({hash60_sql('CAST(doc_id AS VARCHAR)', 'prio')} + 1 AS DOUBLE)
              / 1152921504606846976.0) AS q
  FROM documents
),
ranked AS MATERIALIZED (
  SELECT lang, doc_id, w, q,
         row_number() OVER (PARTITION BY lang ORDER BY q DESC, doc_id) AS rn
  FROM pr
),
tau AS MATERIALIZED (
  SELECT lang,
         coalesce(CAST(floor(max(CASE WHEN rn = 17 THEN q END) * 1000000)
                       AS BIGINT), 0) AS tau_e6
  FROM ranked GROUP BY lang
)
SELECT r.lang, CAST(r.rn AS BIGINT) AS rank, r.doc_id, r.w, t.tau_e6,
       greatest(r.w * 1000000, t.tau_e6) AS est_w_e6
FROM ranked r JOIN tau t USING (lang)
WHERE r.rn <= 16
ORDER BY r.lang, r.rn
"""

QUERIES["priority_sample"] = q_priority_sample
ORACLE_SQL["priority_sample"] = SQL_PRIORITY_SAMPLE


def q_warc_roundtrip(spark, sf_dir):
    """WARC sink+source round trip (sources/warc.py): export documents
    as WARC/1.0 response records (range-partitioned mapInPandas sink,
    one .warc.gz per partition — gzip members can't split mid-file, so
    file count IS the parallelism, Common-Crawl-style), read them back
    through the binaryFile+mapInPandas source, and aggregate per lang
    FROM THE PARSED RECORDS (group key comes out of the X-SE metadata
    headers, bytes out of the payload blocks). The oracle computes the
    same aggregates straight from the original parquet: round trip ≡
    identity is the assertion. Export goes to a fresh scratch dir per
    call (left for the lazy read; removed at interpreter exit)."""
    from searchengine_spark.sources import warc as WARC

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_key"),
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("uri"),
        F.col("text"),
        F.col("lang"),
        F.col("source"),
    )
    out_dir = _scratch_dir("se_warc_rt_")
    WARC.warc_export(
        docs, out_dir, key_col="doc_key", uri_col="uri", payload_col="text",
        meta_cols=["lang", "source"],
    )
    back = WARC.read_warc(spark, f"{out_dir}/*.warc.gz")
    return (
        back.select(
            F.col("meta").getItem("lang").alias("lang"),
            F.col("target_uri").alias("uri"),
            F.length("payload").alias("nbytes"),
            (hash60(F.col("payload").cast("string")) % F.lit(1_000_000_000_000)).alias(
                "pcheck"
            ),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_records"),
            F.countDistinct("uri").alias("n_uris"),
            F.sum("nbytes").cast("long").alias("total_bytes"),
            F.sum("pcheck").cast("long").alias("payload_check"),
        )
        .orderBy("lang")
    )


SQL_WARC_ROUNDTRIP = f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_records,
       CAST(count(DISTINCT 'doc://' || CAST(doc_id AS VARCHAR)) AS BIGINT)
         AS n_uris,
       CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
       CAST(sum({hash60_sql('text')} % 1000000000000) AS BIGINT)
         AS payload_check
FROM documents
GROUP BY lang
ORDER BY lang
"""

QUERIES["warc_roundtrip"] = q_warc_roundtrip
ORACLE_SQL["warc_roundtrip"] = SQL_WARC_ROUNDTRIP


# ---------------------------------------------------------------------------
# retrieval: BM25 + hybrid reciprocal-rank fusion
# ---------------------------------------------------------------------------

_BM25_TERMS = ["sort", "merge", "window"]
_HYBRID_TERMS = ["stream", "hash", "batch"]


def _bm25_ctes(terms: list[str]) -> str:
    """DuckDB twin of operators/retrieval.bm25_term_scores → per-doc
    sums: CTEs ending in `bm(doc_id, n_terms, bm25_e6)`. Float grouping
    mirrors the Spark expression tree token-for-token (the lm.py
    contract: one ln + one division per (doc, term) from identical
    integer operands, floored to BIGINT micro-points before any sum)."""
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
d AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
  FROM documents
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS sum_dl
  FROM d
),
matched AS (
  SELECT doc_id, dl, term
  FROM (SELECT doc_id, dl, unnest(w) AS term FROM d)
  WHERE term IN ({in_list})
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf, max(dl) AS dl
  FROM matched GROUP BY 1, 2
),
dft AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
),
scored AS (
  SELECT tf.doc_id,
         CAST(floor(1000000.0 * (
           ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * ((CAST(tf AS DOUBLE) * 2.2)
              / (tf + 1.2 * (0.25 + 0.75
                   * ((CAST(dl AS DOUBLE) * n_docs) / sum_dl))))
         )) AS BIGINT) AS score_e6
  FROM tf JOIN dft USING (term), stats
),
bm AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_terms,
         CAST(sum(score_e6) AS BIGINT) AS bm25_e6
  FROM scored GROUP BY 1
)"""


def q_bm25_topk(spark, sf_dir):
    """Classic BM25 retrieval (Lucene k1/b form) over the documents
    table — the public lexical baseline next to the reference's own
    positional rank model (PageSearcher.cpp:400-520). Integer
    micro-point scores; top-15 by (score, doc_id)."""
    from searchengine_spark.operators import retrieval as RET

    return RET.bm25_topk(_docs(spark, sf_dir), _BM25_TERMS, k=15).orderBy(
        "rank"
    )


SQL_BM25_TOPK = f"""
WITH {_bm25_ctes(_BM25_TERMS)},
ranked AS (
  SELECT *, CAST(row_number() OVER (ORDER BY bm25_e6 DESC, doc_id) AS INT)
         AS rank
  FROM bm
)
SELECT doc_id, n_terms, bm25_e6, rank FROM ranked
WHERE rank <= 15 ORDER BY rank
"""

QUERIES["bm25_topk"] = q_bm25_topk
ORACLE_SQL["bm25_topk"] = SQL_BM25_TOPK


def q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25 lexical arm over documents + brute-force
    cosine arm over embeddings (query = vector 7), fused by
    reciprocal-rank (Cormack et al. 2009) with exact integer
    contributions 1000000 div (60 + rank). The two tables share the
    id space by construction (doc_id ≡ vec_id)."""
    from searchengine_spark.operators import retrieval as RET

    qv = _emb(spark, sf_dir).where(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return RET.hybrid_topk(
        _docs(spark, sf_dir),
        _emb(spark, sf_dir),
        _HYBRID_TERMS,
        qv,
        k=10,
        pool=20,
    ).select("doc_id", "bm25_rank", "vec_rank", "rrf_e6", "rank").orderBy(
        "rank"
    )


SQL_HYBRID_RRF = f"""
WITH {_bm25_ctes(_HYBRID_TERMS)},
bmr AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25_e6 DESC, doc_id)
         AS INT) AS brank
  FROM bm
),
bmp AS (SELECT doc_id, brank FROM bmr WHERE brank <= 20),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qvec FROM e WHERE vec_id = 7),
vsc AS (
  SELECT e.vec_id,
         round(list_dot_product(e.v, q.qvec)
               / (sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(q.qvec, q.qvec))), 4) AS cosine
  FROM e, q WHERE e.vec_id <> 7
),
vr AS (
  SELECT vec_id AS doc_id,
         CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INT)
           AS vrank
  FROM vsc
),
vp AS (SELECT doc_id, vrank FROM vr WHERE vrank <= 20),
fused AS (
  SELECT COALESCE(bmp.doc_id, vp.doc_id) AS doc_id,
         bmp.brank AS bm25_rank, vp.vrank AS vec_rank,
         CAST(COALESCE(1000000 // (60 + bmp.brank), 0)
              + COALESCE(1000000 // (60 + vp.vrank), 0) AS BIGINT)
           AS rrf_e6
  FROM bmp FULL OUTER JOIN vp ON bmp.doc_id = vp.doc_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (ORDER BY rrf_e6 DESC, doc_id) AS INT)
         AS rank
  FROM fused
)
SELECT doc_id, bm25_rank, vec_rank, rrf_e6, rank FROM ranked
WHERE rank <= 10 ORDER BY rank
"""

QUERIES["hybrid_rrf"] = q_hybrid_rrf
ORACLE_SQL["hybrid_rrf"] = SQL_HYBRID_RRF


# ---------------------------------------------------------------------------
# spell suggestion (SymSpell deletion-key join + exact verify)
# ---------------------------------------------------------------------------

_SPELL_QUERIES = ["sorrt", "mege", "windoww", "ag", "sotr", "quxx"]


def q_spell_suggest(spark, sf_dir):
    """Did-you-mean over the documents vocabulary: SymSpell
    deletion-key equi-join (never a distance scan of the dict) +
    built-in levenshtein verify ≤ 1, ranked by document frequency.
    'sotr' (transposition = plain-Levenshtein 2) and 'quxx' (nothing
    within distance 1) must yield no suggestions."""
    from searchengine_spark.operators.spell import spell_suggest

    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("term"),
    )
    dict_df = toks.groupBy("term").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    return spell_suggest(dict_df, _SPELL_QUERIES, max_suggestions=3).orderBy(
        "query", "rank"
    )


_SPELL_VALUES = ", ".join(f"('{q}')" for q in _SPELL_QUERIES)

SQL_SPELL_SUGGEST = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
  FROM documents
),
dict AS (
  SELECT term, CAST(count(*) AS BIGINT) AS n_docs FROM toks GROUP BY 1
),
dkeys AS (
  SELECT DISTINCT suggestion, key FROM (
    SELECT term AS suggestion,
           unnest(list_prepend(term, list_transform(
             range(1, length(term) + 1),
             i -> substr(term, 1, i - 1) || substr(term, i + 1, length(term))
           ))) AS key
    FROM dict)
),
qs AS (SELECT * FROM (VALUES {_SPELL_VALUES}) AS q(query)),
qkeys AS (
  SELECT DISTINCT query, key FROM (
    SELECT query,
           unnest(list_prepend(query, list_transform(
             range(1, length(query) + 1),
             i -> substr(query, 1, i - 1) || substr(query, i + 1, length(query))
           ))) AS key
    FROM qs)
),
cand AS (
  SELECT DISTINCT query, suggestion FROM qkeys JOIN dkeys USING (key)
),
ver AS (
  SELECT query, suggestion,
         CAST(levenshtein(query, suggestion) AS INT) AS distance
  FROM cand WHERE levenshtein(query, suggestion) <= 1
),
ranked AS (
  SELECT v.query, v.suggestion, v.distance, d.n_docs,
         CAST(row_number() OVER (
           PARTITION BY v.query ORDER BY d.n_docs DESC, v.suggestion
         ) AS INT) AS rank
  FROM ver v JOIN dict d ON v.suggestion = d.term
)
SELECT query, suggestion, distance, n_docs, rank FROM ranked
WHERE rank <= 3 ORDER BY query, rank
"""

QUERIES["spell_suggest"] = q_spell_suggest
ORACLE_SQL["spell_suggest"] = SQL_SPELL_SUGGEST


# ---------------------------------------------------------------------------
# PMI collocations (phrase mining over the bigram stream)
# ---------------------------------------------------------------------------


def q_collocations(spark, sf_dir):
    """Top-20 collocations by PMI with min_count=5 over documents —
    the vocabulary-construction signal for merged tokens; exact
    integer micro-nat contract (operators/lm.pmi_collocations)."""
    from searchengine_spark.operators.lm import pmi_collocations

    return pmi_collocations(
        spread_scan(_docs(spark, sf_dir)), min_count=5, k=20
    ).orderBy("rank")


SQL_COLLOCATIONS = """
WITH lm_d AS (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
  FROM documents
),
lm_bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws)),
                               i -> {'a': ws[i], 'b': ws[i + 1]})) AS p
  FROM lm_d WHERE len(ws) >= 2
),
lm_bge AS (SELECT doc_id, p.a AS a, p.b AS b FROM lm_bg),
pair AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab
         FROM lm_bge GROUP BY a, b),
lft AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_left FROM pair GROUP BY a),
rgt AS (SELECT b, CAST(sum(c_ab) AS BIGINT) AS c_right FROM pair GROUP BY b),
tot AS (SELECT CAST(sum(c_ab) AS BIGINT) AS t_bigrams FROM pair),
scored AS (
  SELECT pair.a, pair.b, pair.c_ab,
         CAST(floor(1000000.0 * ln(
           (CAST(c_ab AS DOUBLE) * t_bigrams)
           / (CAST(c_left AS DOUBLE) * c_right)
         )) AS BIGINT) AS pmi_e6
  FROM pair JOIN lft USING (a) JOIN rgt USING (b) CROSS JOIN tot
  WHERE c_ab >= 5
),
ranked AS (
  SELECT *, CAST(row_number() OVER (ORDER BY pmi_e6 DESC, a, b) AS INT)
         AS rank
  FROM scored
)
SELECT a, b, c_ab, pmi_e6, rank FROM ranked WHERE rank <= 20 ORDER BY rank
"""

QUERIES["collocations"] = q_collocations
ORACLE_SQL["collocations"] = SQL_COLLOCATIONS


# ---------------------------------------------------------------------------
# more-like-this (tf-idf cosine related docs)
# ---------------------------------------------------------------------------


def q_more_like_this(spark, sf_dir):
    """Related docs for doc 0 by tf-idf cosine: the query doc's weight
    vector broadcasts into a sparse dot product against the postings
    (never a doc×doc self-join); dots and norms are exact BIGINT sums
    of milli-point products, cosine is one rounded division."""
    from searchengine_spark.operators.retrieval import more_like_this

    return more_like_this(_docs(spark, sf_dir), 0, k=10).orderBy("rank")


SQL_MORE_LIKE_THIS = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY 1, 2
),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
w AS (
  SELECT doc_id, term,
         CAST(floor(1000.0 * (CAST(tf AS DOUBLE)
              * ln(CAST(n_docs AS DOUBLE) / df))) AS BIGINT) AS w_e3
  FROM tf JOIN dft USING (term) CROSS JOIN n
),
qv AS (SELECT term, w_e3 AS qw_e3 FROM w WHERE doc_id = 0),
norms AS (
  SELECT doc_id, CAST(sum(w_e3 * w_e3) AS BIGINT) AS norm2
  FROM w GROUP BY 1
),
qnorm AS (SELECT norm2 AS qnorm2 FROM norms WHERE doc_id = 0),
dots AS (
  SELECT w.doc_id, CAST(sum(w.w_e3 * qv.qw_e3) AS BIGINT) AS dot
  FROM w JOIN qv USING (term) WHERE w.doc_id <> 0 GROUP BY 1
),
scored AS (
  SELECT d.doc_id,
         round(CAST(dot AS DOUBLE)
               / (sqrt(CAST(qnorm2 AS DOUBLE))
                  * sqrt(CAST(norm2 AS DOUBLE))), 6) AS cosine
  FROM dots d JOIN norms USING (doc_id) CROSS JOIN qnorm
  WHERE norm2 > 0 AND qnorm2 > 0
),
ranked AS (
  SELECT *, CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS INT)
         AS rank
  FROM scored
)
SELECT doc_id, cosine, rank FROM ranked WHERE rank <= 10 ORDER BY rank
"""

QUERIES["more_like_this"] = q_more_like_this
ORACLE_SQL["more_like_this"] = SQL_MORE_LIKE_THIS


# ---------------------------------------------------------------------------
# TextRank keywords (weighted PageRank over word co-occurrence)
# ---------------------------------------------------------------------------


def q_textrank_keywords(spark, sf_dir):
    """Corpus keywords à la TextRank: 3 fixed weighted-PageRank sweeps
    over the adjacent-word co-occurrence graph (undirected, weight =
    corpus bigram count, self-loops dropped); top-20 by rank."""
    from searchengine_spark.operators.pagerank import textrank_keywords

    return textrank_keywords(spread_scan(_docs(spark, sf_dir)), k=20, iters=3).orderBy(
        "pos"
    )


def _wpr_iter_sql(prev: str, out: str) -> str:
    return f""",
  {out}_c AS (
    SELECT e.dst AS node, SUM(r.rank * e.weight / e.wdeg) AS s
    FROM wedges e JOIN {prev} r ON e.src = r.node GROUP BY e.dst
  ),
  {out} AS (
    SELECT n.node, 0.15 + 0.85 * COALESCE(c.s, 0.0) AS rank
    FROM wnodes n LEFT JOIN {out}_c c ON n.node = c.node
  )"""


SQL_TEXTRANK_KEYWORDS = (
    """
WITH lm_d AS (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
  FROM documents
),
lm_bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws)),
                               i -> {'a': ws[i], 'b': ws[i + 1]})) AS p
  FROM lm_d WHERE len(ws) >= 2
),
lm_bge AS (SELECT doc_id, p.a AS a, p.b AS b FROM lm_bg),
wpair AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS w
  FROM lm_bge WHERE a <> b GROUP BY 1, 2
),
wedges0 AS (
  SELECT a AS src, b AS dst, w FROM wpair
  UNION ALL
  SELECT b AS src, a AS dst, w FROM wpair
),
wedges_g AS (
  SELECT src, dst, CAST(sum(w) AS BIGINT) AS weight
  FROM wedges0 GROUP BY 1, 2
),
wdeg AS (SELECT src, CAST(sum(weight) AS BIGINT) AS wdeg
         FROM wedges_g GROUP BY 1),
wedges AS (
  SELECT g.src, g.dst, g.weight, d.wdeg FROM wedges_g g JOIN wdeg d USING (src)
),
wnodes AS (
  SELECT src AS node FROM wedges_g UNION SELECT dst AS node FROM wedges_g
),
r0 AS (SELECT node, 1.0 AS rank FROM wnodes)"""
    + _wpr_iter_sql("r0", "r1")
    + _wpr_iter_sql("r1", "r2")
    + _wpr_iter_sql("r2", "r3")
    + """,
ranked AS (SELECT node AS term, round(rank, 6) AS rank FROM r3),
topk AS (
  SELECT *, CAST(row_number() OVER (ORDER BY rank DESC, term) AS INT) AS pos
  FROM ranked
)
SELECT term, rank, pos FROM topk WHERE pos <= 20 ORDER BY pos
"""
)

QUERIES["textrank_keywords"] = q_textrank_keywords
ORACLE_SQL["textrank_keywords"] = SQL_TEXTRANK_KEYWORDS


# ---------------------------------------------------------------------------
# crawl-trap detection (URL-template amplification per host)
# ---------------------------------------------------------------------------

def q_trap_hosts(spark, sf_dir):
    """Crawl-trap detector over the candidate frontier: collapse digit
    runs in each canonical path to a template and measure per-host
    distinct-URL / distinct-template amplification (IRLbot-style trap
    signal; the hot host's single /y/N template lights up). Exact
    integer micro-units; one partial-agg groupBy(host) — no window."""
    return FR.trap_host_stats(_candidates_df(spark, sf_dir)).orderBy("host")


SQL_TRAP_HOSTS = f"""
WITH {CAND_CTES},
  tpl AS (
    SELECT host, url_md5,
           regexp_replace(_path, '[0-9]+', 'N', 'g') AS t
    FROM cand
  ),
  hstats AS (
    SELECT host,
           CAST(count(DISTINCT url_md5) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT t) AS BIGINT) AS n_templates
    FROM tpl GROUP BY host
  )
SELECT host, n_urls, n_templates,
       CAST((n_urls * 1000000) // n_templates AS BIGINT) AS amp_e6,
       CAST(n_urls >= {FR.TRAP_MIN_URLS}
            AND (n_urls * 1000000) // n_templates >= {FR.TRAP_AMP_E6}
            AS INT) AS is_trap
FROM hstats ORDER BY host
"""

QUERIES["trap_hosts"] = q_trap_hosts
ORACLE_SQL["trap_hosts"] = SQL_TRAP_HOSTS


# ---------------------------------------------------------------------------
# host-level PageRank (graph projection onto the hosts dimension)
# ---------------------------------------------------------------------------

def q_host_pagerank(spark, sf_dir):
    """Site-authority rank: project the page graph onto hosts
    (operators/pagerank.project_graph — intra-host edges collapse to
    self-loops and drop, out-degree recounted) and run the reference
    PageRank update for 3 sweeps over the 3-4 orders smaller host
    graph.

    Plan note: the doc->host mapping derives from the URL-parse UDF,
    and the iterative plan would re-evaluate it per consumer (~16
    Arrow evals before this was fixed). A `.cache()` is banned in
    one-shot catalog queries (it would stay pinned across the driver's
    80+-query run, CLAUDE.md rule), so the mapping is materialized
    ONCE to a tmp parquet and read back — exactly what production does
    with a stored docs column; every consumer (both projection joins,
    the node set, each rank sweep) now scans 8 KB of parquet instead
    of re-running the parse."""
    cand_src = (
        _candidates_df(spark, sf_dir)
        .select(F.col("doc_id").alias("node"), F.col("host").alias("part"))
        .distinct()
    )
    mdir = _scratch_dir("se_hostpr_") + "/mapping"
    cand_src.write.parquet(mdir)
    cand = spark.read.parquet(mdir)
    edges = _synth_edges(spark, sf_dir)
    hedges = PR.project_graph(edges, cand)
    nodes = cand.select(F.col("part").alias("node")).distinct()
    return PR.pagerank(hedges, nodes, n_iter=3).orderBy("node")


SQL_HOST_PAGERANK = (
    f"""
WITH {CAND_CTES},
  mapping AS (SELECT DISTINCT doc_id, host FROM cand),
  nn AS (SELECT count(*) AS n FROM documents),
  raw_edges AS (
    SELECT doc_id AS src, (doc_id*7+1) % (SELECT n FROM nn) AS dst FROM documents
    UNION ALL
    SELECT doc_id, (doc_id*13+2) % (SELECT n FROM nn) FROM documents
  ),
  de AS (SELECT DISTINCT src, dst FROM raw_edges WHERE src <> dst),
  proj AS (
    SELECT DISTINCT ms.host AS src, md.host AS dst
    FROM de JOIN mapping ms ON de.src = ms.doc_id
            JOIN mapping md ON de.dst = md.doc_id
    WHERE ms.host <> md.host
  ),
  deg AS (SELECT src, CAST(count(*) AS BIGINT) AS out_degree
          FROM proj GROUP BY src),
  edges AS (SELECT p.src, p.dst, d.out_degree FROM proj p JOIN deg d USING (src)),
  nodes AS (SELECT DISTINCT host AS node FROM mapping),
  r0 AS (SELECT node, 1.0 AS rank FROM nodes)"""
    + _pr_iter_sql("r0", "r1")
    + _pr_iter_sql("r1", "r2")
    + _pr_iter_sql("r2", "r3")
    + """
SELECT node, round(least(rank, 100.0), 6) AS rank FROM r3 ORDER BY node
"""
)

QUERIES["host_pagerank"] = q_host_pagerank
ORACLE_SQL["host_pagerank"] = SQL_HOST_PAGERANK


# ---------------------------------------------------------------------------
# adaptive recrawl scheduling (freshness backoff)
# ---------------------------------------------------------------------------

from searchengine_spark.operators import recrawl as RC


def q_recrawl_schedule(spark, sf_dir):
    """Freshness scheduler: exponential-backoff revisit intervals from
    a change-observation log (operators/recrawl.py closed form — one
    partial-agg groupBy, no recurrence). The log is the deterministic
    synthetic change stream both engines regenerate from url_md5."""
    urls = _candidates_df(spark, sf_dir).select("url_md5").distinct()
    return RC.recrawl_schedule(RC.synthetic_changes(urls)).orderBy("url_md5")


SQL_RECRAWL_SCHEDULE = (
    f"""
WITH {CAND_CTES},
  uurls AS (SELECT DISTINCT url_md5 FROM cand),"""
    + RC.synthetic_changes_sql("uurls")
    + ","
    + RC.recrawl_schedule_sql()
    + """
SELECT url_md5, n_changes, last_change, revisit_interval, next_fetch_round
FROM sched ORDER BY url_md5
"""
)

QUERIES["recrawl_schedule"] = q_recrawl_schedule
ORACLE_SQL["recrawl_schedule"] = SQL_RECRAWL_SCHEDULE


# ---------------------------------------------------------------------------
# ANF / HyperBall neighborhood function (per-node r-hop reach)
# ---------------------------------------------------------------------------

_ANF_RADIUS = 4
_ANF_K = 8


def q_graph_reach(spark, sf_dir):
    """Per-node 4-hop neighborhood-size estimate via mergeable KMV
    sketches (operators/pagerank.neighborhood_function) — exact below
    k=8, KMV-estimated above (k kept small so the synthetic graph's
    reach-15 neighborhoods exercise the estimator path); the oracle
    regenerates the identical bottom-k from the exact reachable
    sets."""
    edges = _synth_edges(spark, sf_dir)
    nodes = _docs(spark, sf_dir).select(F.col("doc_id").alias("node"))
    return PR.neighborhood_function(
        edges, nodes, radius=_ANF_RADIUS, k=_ANF_K
    ).orderBy("node")


def _anf_step_sql(prev: str, out: str) -> str:
    return f""",
  {out} AS (
    SELECT DISTINCT node, rn FROM (
      SELECT node, rn FROM {prev}
      UNION ALL
      SELECT e.src AS node, p.rn FROM edges0 e JOIN {prev} p ON p.node = e.dst
    )
  )"""


SQL_GRAPH_REACH = (
    "WITH "
    + _EDGE_CTES
    + ", nb0 AS (SELECT node, node AS rn FROM nodes)"
    + "".join(
        _anf_step_sql(f"nb{r}", f"nb{r + 1}") for r in range(_ANF_RADIUS)
    )
    + f""",
  rh AS (
    SELECT DISTINCT node, {hash60_sql("CAST(rn AS VARCHAR)")} AS h
    FROM nb{_ANF_RADIUS}
  ),
  rk AS (
    SELECT node, h, row_number() OVER (PARTITION BY node ORDER BY h) AS i
    FROM rh
  ),
  ragg AS (
    SELECT node,
           CAST(count(*) AS BIGINT) AS n_k,
           CAST(max(CASE WHEN i = {_ANF_K} THEN h END) AS BIGINT) AS kth
    FROM rk WHERE i <= {_ANF_K} GROUP BY node
  )
SELECT node,
       CASE WHEN n_k < {_ANF_K} THEN n_k
            ELSE CAST(floor({_ANF_K - 1} * 1152921504606846976.0 / kth) AS BIGINT)
       END AS reach_est,
       CASE WHEN n_k < {_ANF_K} THEN NULL ELSE kth END AS kth_min
FROM ragg ORDER BY node
"""
)

QUERIES["graph_reach"] = q_graph_reach
ORACLE_SQL["graph_reach"] = SQL_GRAPH_REACH


# ---------------------------------------------------------------------------
# per-site boilerplate detection (template/footer stripping)
# ---------------------------------------------------------------------------

_BP_FOOTER_TAIL = " all rights reserved contact terms privacy"


def q_boilerplate(spark, sf_dir):
    """Per-site boilerplate measurement (curation.boilerplate_stats):
    token windows recurring in >=30% (and >=3) of one source's docs are
    template text; output per-doc boiler coverage in exact micro-units.
    The corpus is word soup, so the query injects the classic per-site
    footer into 90% of each source's docs (deterministic doc_id % 10
    augmentation, twinned in SQL) — the operator must find exactly it."""
    docs = spread_scan(_docs(spark, sf_dir)).select("doc_id", "source", "text")
    aug = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 != 0,
            F.concat(
                F.col("text"),
                F.lit(" copyright "),
                F.col("source"),
                F.lit(_BP_FOOTER_TAIL),
            ),
        ).otherwise(F.col("text")),
    )
    return CU.boilerplate_stats(aug).orderBy("doc_id")


SQL_BOILERPLATE = (
    f"""
WITH bp_aug AS (
    SELECT doc_id, source,
           CASE WHEN doc_id % 10 <> 0
                THEN text || ' copyright ' || source || '{_BP_FOOTER_TAIL}'
                ELSE text END AS text
    FROM documents
  ),"""
    + CU.boilerplate_stats_sql(docs_cte="bp_aug")
    + """
SELECT doc_id, n_tokens, n_boiler_tokens, boiler_e6
FROM bpstats ORDER BY doc_id
"""
)

QUERIES["boilerplate"] = q_boilerplate
ORACLE_SQL["boilerplate"] = SQL_BOILERPLATE


# ---------------------------------------------------------------------------
# proximity (NEAR) search via banded range join
# ---------------------------------------------------------------------------

PROX_TERMS = ("table", "join")
PROX_SLOP = 3


def q_search_proximity(spark, sf_dir):
    """NEAR operator: docs where the two terms co-occur within
    PROX_SLOP token positions, with pair count and closest distance.
    The pair join is operators/temporal.band_range_join — width-slop
    banding turns the |posA-posB|<=slop inequality into an exact
    (doc, band) equi-join, so a hot doc never pays a per-doc
    cartesian."""
    from searchengine_spark.operators.temporal import band_range_join

    toks = (
        _docs(spark, sf_dir)
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("p0", "word"))
        .select("doc_id", (F.col("p0") + 1).cast("long").alias("pos"), "word")
    )
    ta = toks.where(F.col("word") == PROX_TERMS[0]).select(
        "doc_id", F.col("pos").alias("pos_a")
    )
    tb = toks.where(F.col("word") == PROX_TERMS[1]).select(
        "doc_id", F.col("pos").alias("pos_b")
    )
    pairs = band_range_join(ta, tb, ["doc_id"], "pos_a", "pos_b", PROX_SLOP)
    return (
        pairs.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.min(F.abs(F.col("pos_a") - F.col("pos_b")))
            .cast("long")
            .alias("min_dist"),
        )
        .orderBy("doc_id")
    )


SQL_SEARCH_PROXIMITY = f"""
WITH tk AS (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS word,
           unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
    FROM documents
  ),
  ta AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos_a FROM tk
         WHERE word = '{PROX_TERMS[0]}'),
  tb AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos_b FROM tk
         WHERE word = '{PROX_TERMS[1]}'),
  pr AS (
    SELECT a.doc_id, pos_a, pos_b
    FROM ta a JOIN tb b ON a.doc_id = b.doc_id
    WHERE abs(pos_a - pos_b) <= {PROX_SLOP}
  )
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(min(abs(pos_a - pos_b)) AS BIGINT) AS min_dist
FROM pr GROUP BY doc_id ORDER BY doc_id
"""

QUERIES["search_proximity"] = q_search_proximity
ORACLE_SQL["search_proximity"] = SQL_SEARCH_PROXIMITY


def q_anchor_terms(spark, sf_dir):
    """Anchor-context term index: the text run preceding each inbound
    link credited to the link *target* (operators/anchors.py — in-row
    link/context pairing over the spans column, then one hash agg on
    (target_md5, term)). Targets are keyed like every page key in the
    engine: url_md5(canonicalize(raw)), so raw www./slash variants of
    one page fold into one anchor bucket. The oracle recomputes the
    whole derivation (chunk grammar -> link formula -> raw-url grammar
    -> canonicalize -> getMD5) from the corpus formulas, so drift in
    span generation, URL canonicalization or target keying hash-fails
    here."""
    from searchengine_spark.corpus import interleaved_docs_df
    from searchengine_spark.operators import anchors as ANC

    docs = interleaved_docs_df(spark, sf_dir)
    return ANC.anchor_terms(docs).orderBy("target_md5", "term")


# corpus.gen_spans_py chunk grammar: words[0:3] are the title; body
# chunks of 5 start at word 3, so chunk c exists iff 3+5c < len(ws)
# i.e. c < (len(ws)+1)//5; chunks with c % 3 == 1 emit a link to
# hash60(doc_id:c, 'span-link') % n_docs immediately after their text
# span — that text chunk IS the link's anchor context. The chain ends
# in `akeyed(src_doc, target_md5, term)`.
_ANCHOR_CTES = f"""nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
  atoks AS (
    SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  ),
  achunks AS (
    SELECT doc_id, ws, unnest(range(0, (len(ws) + 1) // 5)) AS c
    FROM atoks WHERE len(ws) > 3
  ),
  alinkctx AS (
    SELECT doc_id AS src_doc,
           {hash60_sql("CAST(doc_id AS VARCHAR) || ':' || CAST(c AS VARCHAR)", "span-link")}
             % (SELECT n FROM nn) AS target_id,
           list_slice(ws, 4 + 5 * c, least(8 + 5 * c, len(ws))) AS ctx
    FROM achunks WHERE c % 3 = 1
  ),
  araws AS (
    SELECT src_doc, {raw_url_sql("target_id")} AS raw, ctx FROM alinkctx
  ),
  acanon AS (
    SELECT src_doc, {canonicalize_sql("raw")} AS cu, ctx FROM araws
  ),
  akeyed AS (
    SELECT src_doc, {url_md5_sql("cu")} AS target_md5, unnest(ctx) AS term
    FROM acanon WHERE cu IS NOT NULL
  )"""

SQL_ANCHOR_TERMS = f"""
WITH {_ANCHOR_CTES}
SELECT target_md5, term,
       CAST(count(*) AS BIGINT) AS anchor_count,
       CAST(count(DISTINCT src_doc) AS BIGINT) AS n_source_docs
FROM akeyed WHERE target_md5 IS NOT NULL AND term <> ''
GROUP BY target_md5, term
ORDER BY target_md5, term
"""

QUERIES["anchor_terms"] = q_anchor_terms
ORACLE_SQL["anchor_terms"] = SQL_ANCHOR_TERMS


_ANCHOR_QUERY_TERMS = _BM25_TERMS  # same query as bm25_topk, comparable
_ANCHOR_TOPK = 15


def q_search_anchor_boosted(spark, sf_dir):
    """BM25F-style two-field retrieval: body BM25 + inbound anchor
    field at W_ANCHOR_E2=1.5x, fused full-outer so pages whose body
    lacks the terms but whose anchors carry them still surface
    (operators/retrieval.anchor_boosted_topk). Doc keys are the
    engine's page key (url_md5 of the canonical raw url), so aliased
    variants of one page share anchor credit. Exact integers end to
    end; same term set as bm25_topk so the two rankings are directly
    comparable."""
    from searchengine_spark.corpus import interleaved_docs_df, raw_url_expr as _rue
    from searchengine_spark.operators import anchors as ANC
    from searchengine_spark.operators import retrieval as RET
    from searchengine_spark.functions.urls import canonicalize_udf, url_md5_expr

    docs = _docs(spark, sf_dir)
    anchor_idx = ANC.anchor_terms(interleaved_docs_df(spark, sf_dir))
    # canonicalize via the Arrow kernel, not canonicalize_expr: fused
    # into this query's scoring stage the native chain blew janino's
    # 64 KB method cap and dropped the whole stage to interpreted
    # execution (the CLAUDE.md codegen trap; kernel ≡ expr is pinned
    # by the three-form sync tests)
    doc_keys = docs.select(
        "doc_id", canonicalize_udf(_rue("doc_id")).alias("cu")
    ).where(F.col("cu").isNotNull()).select(
        "doc_id", url_md5_expr("cu").alias("doc_key")
    )
    return RET.anchor_boosted_topk(
        docs, anchor_idx, doc_keys, _ANCHOR_QUERY_TERMS, k=_ANCHOR_TOPK
    ).orderBy("rank")


_ANCHOR_IN_LIST = ", ".join(f"'{t}'" for t in _ANCHOR_QUERY_TERMS)

SQL_SEARCH_ANCHOR_BOOSTED = f"""
WITH {_bm25_ctes(_ANCHOR_QUERY_TERMS)},
{_ANCHOR_CTES},
anidx AS (
  SELECT target_md5, term, CAST(count(*) AS BIGINT) AS tf
  FROM akeyed WHERE target_md5 IS NOT NULL AND term <> ''
  GROUP BY target_md5, term
),
anstats AS (
  SELECT CAST(count(DISTINCT target_md5) AS BIGINT) AS n_tgts FROM anidx
),
anm AS (SELECT * FROM anidx WHERE term IN ({_ANCHOR_IN_LIST})),
andf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM anm GROUP BY 1),
ansc AS (
  SELECT target_md5,
         CAST(floor(1000000.0 * (
           ln(1.0 + (n_tgts - df + 0.5) / (df + 0.5))
           * ((CAST(tf AS DOUBLE) * 2.2) / (tf + 1.2))
         )) AS BIGINT) AS score_e6
  FROM anm JOIN andf USING (term), anstats
),
anagg AS (
  SELECT target_md5, CAST(sum(score_e6) AS BIGINT) AS anchor_e6
  FROM ansc GROUP BY 1
),
draw AS (SELECT doc_id, {raw_url_sql("doc_id")} AS raw FROM documents),
dcanon AS (SELECT doc_id, {canonicalize_sql("raw")} AS cu FROM draw),
dkey AS (
  SELECT doc_id, {url_md5_sql("cu")} AS doc_key FROM dcanon
  WHERE cu IS NOT NULL
),
adoc AS (
  SELECT doc_id, anchor_e6 FROM dkey JOIN anagg ON doc_key = target_md5
),
fusedx AS (
  SELECT COALESCE(b.doc_id, a.doc_id) AS doc_id,
         CAST(COALESCE(b.bm25_e6, 0) AS BIGINT) AS body_e6,
         CAST(COALESCE(a.anchor_e6, 0) AS BIGINT) AS anchor_e6
  FROM bm b FULL OUTER JOIN adoc a ON b.doc_id = a.doc_id
),
combx AS (
  SELECT doc_id, body_e6, anchor_e6,
         CAST(body_e6 + (150 * anchor_e6) // 100 AS BIGINT) AS comb_e6
  FROM fusedx
),
rankedx AS (
  SELECT *, CAST(row_number() OVER (ORDER BY comb_e6 DESC, doc_id) AS INT)
         AS rank
  FROM combx
)
SELECT doc_id, body_e6, anchor_e6, comb_e6, rank FROM rankedx
WHERE rank <= {_ANCHOR_TOPK} ORDER BY rank
"""

QUERIES["search_anchor_boosted"] = q_search_anchor_boosted
ORACLE_SQL["search_anchor_boosted"] = SQL_SEARCH_ANCHOR_BOOSTED


# ---------------------------------------------------------------------------
# oracle hardening: force DuckDB CTE materialization
# ---------------------------------------------------------------------------

import re as _re

_CTE_OPEN = _re.compile(r"(\bWITH\s+|,\s*)(\w+) AS \(")


def _materialize_ctes(sql: str) -> str:
    """Rewrite every `name AS (` CTE opener to `AS MATERIALIZED (`.

    DuckDB inlines single-reference CTEs, so a chained derivation
    (grammar -> canonicalize -> host -> registered domain -> shard)
    multiplies into one enormous expression tree: executing it was
    measured to allocate ~65k memory mappings for a 262-row result,
    exhausting the PROCESS's vm.max_map_count budget — after which
    every DuckDB allocation in the same process fails with a tiny
    'Out of Memory' (the round-1 driver-gate failure mode: one frontier
    oracle poisoned the process for all later queries). Materializing
    pins each stage to a small temp table (893 mappings, 0.1 s for the
    same query) — the exact analogue of the engine's Arrow-boundary
    staging on the Spark side. Applied uniformly: at oracle scales a
    materialized stage is never slower than an exploded inline tree.

    The rewrite is anchored to the WITH-clause region: substitution
    stops at the first top-level SELECT (paren depth 0), so a
    `WINDOW a AS (...), b AS (...)` clause in the final query — whose
    second entry also matches `, name AS (` — can never be mangled
    into invalid `AS MATERIALIZED` SQL. Single-quoted string literals
    are skipped while scanning ('' is the SQL escape), so a literal
    containing an unbalanced paren or the word SELECT cannot
    desynchronize the depth tracking or the cut point — AND while
    substituting, so a literal inside a CTE body containing text like
    "', x AS ('" is never rewritten (corrupting the literal).

    ORACLE-AUTHORING RULES (both enforced by tests/test_oracle_rules.py):
    1. Every CTE must open as `name AS (` so this rewrite catches it.
    2. Every integer-operand aggregate in a FINAL projection must be
       wrapped `CAST(... AS BIGINT)` — DuckDB types sum(BIGINT) as
       HUGEINT and emits Arrow decimal128(38,0), which hash-mismatches
       Spark's int64 even when values are identical (the entire round-3
       red surface). This includes window SUMs (`SUM(x) OVER ...`) and
       any outer projection of such a column.
    """
    depth = 0
    cut = len(sql)
    i = 0
    in_string = False
    lit_spans: list[tuple[int, int]] = []  # [start, end) of each literal
    lit_start = -1
    while i < len(sql):
        ch = sql[i]
        if in_string:
            if ch == "'":
                if i + 1 < len(sql) and sql[i + 1] == "'":
                    i += 1  # escaped '' stays inside the literal
                else:
                    in_string = False
                    lit_spans.append((lit_start, i + 1))
        elif ch == "'":
            in_string = True
            lit_start = i
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and sql[i : i + 6].upper() == "SELECT":
            cut = i
            break
        i += 1
    if in_string:  # unterminated literal (malformed SQL): leave it alone
        lit_spans.append((lit_start, len(sql)))

    def _in_literal(pos: int) -> bool:
        return any(s <= pos < e for s, e in lit_spans)

    # the substitution skips matches that START inside a string literal
    # (same scanner as the cut-point pass): a quoted literal containing
    # text like ", x AS (" must never be rewritten into AS MATERIALIZED
    head = _CTE_OPEN.sub(
        lambda m: (
            m.group(0)
            if _in_literal(m.start(2))
            else f"{m.group(1)}{m.group(2)} AS MATERIALIZED ("
        ),
        sql[:cut],
    )
    return head + sql[cut:]


ORACLE_SQL = {name: _materialize_ctes(sql) for name, sql in ORACLE_SQL.items()}
