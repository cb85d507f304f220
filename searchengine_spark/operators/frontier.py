"""Frontier operators: candidate ingestion + deterministic round scheduling.

Re-expresses the reference's frontier semantics as DataFrame algebra:

* candidate ingestion  ≙ pushPending (SearchEngine.h:800-836):
  canonicalize -> filter -> shard -> per-host cap -> dedup(anti-join seen)
* round scheduling     ≙ crawlingThread's bulk pull + min-wait pick
  (SearchEngine.h:482-512, SearchEngine.cpp:672-770), de-randomized:
  the reference pulls random buckets (KKHash.hpp:200-209) and picks the
  smallest politeness wait (SearchEngine.cpp:731-765); our ordering
  contract is (discovered_round, url_md5) — deterministic, so the crawl
  log is reproducible and testable against the oracle simulator
  (SURVEY.md §4-X11).

Scale notes (100 TB / 10^10-URL frontier):
* every window here partitions by `host` or `shard` — never a global
  sort; the per-shard quota bounds a round's output independently of
  frontier size;
* the hosts dimension is orders of magnitude smaller than the frontier
  and is broadcast into the eligibility join;
* hot hosts are tamed twice: the salted shard key spreads *different*
  hosts across shards evenly, and the per-host rank=1 rule caps any
  single host at 1 URL/round regardless of its frontier share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from searchengine_spark.config import CrawlConfig

FRONTIER_COLS = ["url", "url_md5", "host", "shard", "discovered_round"]


def normalize_candidates(
    raw: DataFrame,
    cfg: CrawlConfig,
    url_col: str = "raw_url",
    robots_filter: bool = True,
) -> DataFrame:
    """raw URLs -> canonical candidates.

    Two stages, split at the Arrow boundary:
    1. vectorized pandas UDF (make_parse_candidates_udf): canonicalize
       (P1) -> host (P2) -> registered domain -> path -> filter (P4) —
       pure pandas str ops, no per-row Python, no Python hashing;
    2. native JVM exprs over the UDF's output columns: md5 key (P3,
       F.md5), salted shard (P5, hash60 over rd), robots gate
       (north_rule addition, hash60 over host). The UDF boundary keeps
       this codegen tree tiny (no inlined canonicalize/domain chains).
    Batch-dedup / seen-dedup / host caps are separate operators so each
    stage is independently testable.

    `robots_filter=False` skips the SYNTHETIC robots gate: the HTTP
    fetch adapter learns a host's real robots.txt only at first
    contact, so its crawl plan filters candidates against the hosts
    table's cached robots_state instead (plans/crawl.py,
    robots_candidate_filter).
    """
    from searchengine_spark.corpus import robots_state_expr
    from searchengine_spark.functions.hashes import hash60
    from searchengine_spark.functions.urls import (
        make_parse_candidates_udf,
        url_md5_expr,
    )

    parse = make_parse_candidates_udf()
    keep = [c for c in raw.columns if c != url_col]
    parsed = (
        raw.withColumn("_p", parse(F.col(url_col)))
        .where(F.col("_p.admit"))
        .select(
            *keep,
            F.col("_p.url").alias("url"),
            F.col("_p.host").alias("host"),
            F.col("_p.rd").alias("_rd"),
            F.col("_p.path").alias("_path"),
        )
    )
    out = parsed.withColumn("url_md5", url_md5_expr(F.col("url"))).withColumn(
        "shard",
        F.pmod(
            hash60(F.col("_rd"), cfg.shard_salt or None), F.lit(cfg.n_shards)
        ).cast("int"),
    )
    if robots_filter:
        robots = robots_state_expr(F.col("host"))
        out = out.withColumn("_robots", robots).where(
            F.col("url_md5").isNotNull()
            & (F.col("_robots") != "deny")
            & ~(
                F.col("_robots").startswith("disallow:")
                & F.col("_path").startswith(F.substring(F.col("_robots"), 10, 2048))
            )
        )
    else:
        out = out.where(F.col("url_md5").isNotNull())
    return out.select(*keep, "url", "url_md5", "host", "shard")


def dedup_batch(candidates: DataFrame) -> DataFrame:
    """Within-batch dedup by url_md5, keeping the lexicographically
    smallest canonical form (deterministic representative).

    Shape: groupBy + min(struct(url, ...)) instead of a row_number
    window — the aggregate combines map-side (partial agg before the
    shuffle), while a window would sort-shuffle every duplicate row.
    Result is identical: struct min orders by url first.
    """
    others = [c for c in candidates.columns if c != "url_md5"]
    ordered = ["url"] + [c for c in others if c != "url"]
    return (
        candidates.groupBy("url_md5")
        .agg(F.min(F.struct(*ordered)).alias("_m"))
        .select("url_md5", *[F.col(f"_m.{c}").alias(c) for c in ordered])
        .select(*candidates.columns)
    )


def dedup_seen(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """J1 — the hot anti-join: candidates ⟕̸ seen on url_md5
    (SearchEngine.h:814-818). AQE turns this into a broadcast or
    shuffled hash anti-join by size; bloom prefilter (operators.seen)
    cuts the shuffled side at scale."""
    return candidates.join(seen.select("url_md5"), "url_md5", "left_anti")


# below this batch size even a 100%-hot host sorts comfortably in one
# task, and the two-phase plan's extra stages (count agg + quota join +
# two-branch union) are pure fixed cost — ~2 s/round of AQE stage waves
# measured at bench scale. Callers that know the batch size pass it and
# small batches take the direct window; the result set is identical.
ADMISSION_SINGLE_TASK_MAX = 2_000_000


def admit_host_caps(
    candidates: DataFrame,
    remaining: DataFrame,
    default_rem: int,
    order_cols: tuple = ("url_md5", "url"),
    n_salts: int = 32,
    n_candidates: int | None = None,
) -> DataFrame:
    """Per-host cap admission, skew-safe (A1, SearchEngine.h:746-756).

    Semantics: admit the first `rem` candidates of each host ranked by
    `order_cols` — identical to the obvious
    `row_number() over (partition by host order by ...) <= rem`, which
    is exactly what the DuckDB oracle twin does. But that single window
    puts ALL of a hot host's candidates into one task's sort: at 10^10
    candidates with a 30%-hot host, one straggler task per round.

    Two-phase plan instead — no task ever sorts more than
    max(batch/(hosts*salts), n_salts*rem) rows:

    1. per-host counts (map-side-combinable hash agg — partial agg
       collapses the hot host before the shuffle);
    2. hosts with count <= rem admit every row with NO window at all
       (the overwhelmingly common case);
    3. only over-quota hosts rank, in two bounded stages: a salted
       window (host, salt) keeps each salt-shard's top-rem — any row in
       the global top-rem has < rem rows ahead of it globally, hence
       < rem ahead in its own salt group, so it always survives — then
       the final per-host window ranks at most n_salts*rem survivors.

    `remaining` is (host, _rem); hosts absent from it default to
    `default_rem`. Result set is row-identical to the single-window
    form (pinned by tests/test_skew.py).

    `n_candidates` (when the caller already knows the batch size, e.g.
    from a cached count) picks the plan adaptively: at or below
    ADMISSION_SINGLE_TASK_MAX the direct single-window form runs — the
    skew machinery is pure fixed cost when every host fits one task.

    Broadcast policy for `remaining` is the same as schedule_round's
    hosts dim: no forced hint — AQE auto-broadcasts the projection of
    the parquet-backed hosts table while it measures small, and falls
    back to a host-keyed shuffle at open-web host counts (~10^8 rows,
    where a forced broadcast would serially collect GBs on the
    driver). Candidates shuffle by host for the admission windows
    regardless, so the shuffled-join fallback adds no extra exchange.
    """
    order = [F.col(c) for c in order_cols]
    if n_candidates is not None and n_candidates <= ADMISSION_SINGLE_TASK_MAX:
        w = W.partitionBy("host").orderBy(*order)
        return (
            candidates.join(remaining, "host", "left")
            .withColumn("_rem", F.coalesce(F.col("_rem"), F.lit(default_rem)))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= F.col("_rem"))
            .drop("_rn", "_rem")
        )
    cnt = candidates.groupBy("host").agg(F.count("*").alias("_cnt"))
    tagged = (
        candidates.join(remaining, "host", "left")
        .withColumn("_rem", F.coalesce(F.col("_rem"), F.lit(default_rem)))
        .join(cnt, "host", "left")
    )
    under = tagged.where(F.col("_cnt") <= F.col("_rem"))
    w1 = W.partitionBy("host", "_salt").orderBy(*order)
    w2 = W.partitionBy("host").orderBy(*order)
    survivors = (
        tagged.where(F.col("_cnt") > F.col("_rem"))
        .withColumn(
            "_salt", F.pmod(F.crc32(F.col("url_md5")), F.lit(n_salts))
        )
        .withColumn("_rn1", F.row_number().over(w1))
        .where(F.col("_rn1") <= F.col("_rem"))
        .drop("_salt", "_rn1")
        .withColumn("_rn", F.row_number().over(w2))
        .where(F.col("_rn") <= F.col("_rem"))
        .drop("_rn")
    )
    return under.unionByName(survivors).drop("_rem", "_cnt")


def priority_depth_expr(url) -> "F.Column":
    """Shallow-first frontier priority: path depth of the canonical
    URL ('host/a/b' -> 2, a bare host -> 0) — the classic breadth
    heuristic (shallow pages are hubs; crawl them first). Lower =
    sooner. Engine-portable: `len(string_split(url,'/'))-1` in DuckDB,
    `url.count('/')` in python."""
    c = F.col(url) if isinstance(url, str) else url
    return (F.size(F.split(c, "/")) - 1).cast("int")


def schedule_round(
    frontier: DataFrame,
    hosts: DataFrame,
    round_no: int,
    cfg: CrawlConfig,
    cache_handles: list | None = None,
    small_hosts: bool = False,
    priority=None,
) -> DataFrame:
    """One scheduling round: politeness-eligible -> 1 URL/host ->
    per-shard quota -> deterministic seq_in_round.

    Ordering contract (replaces the reference's randomness): pick by
    (discovered_round, url_md5) at both the host and shard level.

    `priority` (optional Column over the frontier's columns, lower =
    sooner) turns the FIFO frontier into the north-star PRIORITY
    queue: it prepends the pick order at every level — per-host pick,
    per-shard quota, global seq — while keeping every scale property
    (the pick stays a min-struct map-side-combinable aggregate, never
    a global sort; seq bucketing still keys on url_md5, the last
    order column). None (default) is the reference-parity FIFO the
    byte-equality suite pins.
    """
    # broadcast policy is size-based, decided by the CALLER (who knows
    # the shape): `small_hosts=True` hints broadcast for a DERIVED
    # hosts dim whose static stats Spark can't see (a bare shuffle
    # would cost an extra AQE wave). Default: no hint — AQE
    # auto-broadcasts a small parquet-backed dim, while a huge one
    # (bench stress shapes use 1 host per 2 URLs) gets a parallel
    # shuffle join; a forced broadcast there made the driver serially
    # collect+build millions of rows per round, a serial term that
    # capped N->4N scaling efficiency. At production scale both state
    # tables live bucketed by host (co-located join, no exchange).
    out_cols = list(frontier.columns)
    order_cols = ["discovered_round", "url_md5"]
    if priority is not None:
        frontier = frontier.withColumn("_prio", priority)
        order_cols = ["_prio", *order_cols]
    h = hosts.select("host", "next_allowed_round")
    if small_hosts:
        h = F.broadcast(h)
    eligible = frontier.join(h, "host", "left").where(
        F.coalesce(F.col("next_allowed_round"), F.lit(0)) <= F.lit(round_no)
    )

    # per-host pick = min(struct([priority,] discovered_round, ...)):
    # map-side-combinable aggregate, not a sort window — at 10^10 rows
    # the frontier never gets globally sorted, only reduced per host
    pick_cols = [*order_cols, "url", "shard"]
    picked = (
        eligible.groupBy("host")
        .agg(F.min(F.struct(*pick_cols)).alias("_m"))
        .select("host", *[F.col(f"_m.{c}").alias(c) for c in pick_cols])
    )

    # per-shard quota: rank over <= n_hosts rows (already reduced)
    w_shard = W.partitionBy("shard").orderBy(*order_cols)
    scheduled = (
        picked.withColumn("_srn", F.row_number().over(w_shard))
        .where(F.col("_srn") <= cfg.per_shard_quota)
        .drop("_srn")
        .select(*frontier.columns)
    )

    return (
        with_global_seq(
            scheduled,
            order_cols,
            "seq_in_round",
            cache_handles,
            bound=cfg.n_shards * cfg.per_shard_quota,
            bucket=F.conv(F.substring("url_md5", 1, 2), 16, 10).cast("int"),
        )
        .withColumn("round", F.lit(round_no))
        .select(*out_cols, "seq_in_round", "round")
    )


SEQ_LOCAL_SORT_MAX = 65536  # rows a single task can sort without spilling


def with_global_seq(
    df: DataFrame,
    order_cols: list[str],
    out: str,
    cache_handles: list | None = None,
    bound: int | None = None,
    bucket=None,
) -> DataFrame:
    """Deterministic global 1-based rank by order_cols WITHOUT a
    single-partition sort. The rank values are a pure function of the
    data — independent of parallelism — so the oracle simulator
    reproduces them exactly. Two shapes:

    * `bound` (a STATIC row-count bound on df, e.g. the scheduler's
      shards x quota) at or under SEQ_LOCAL_SORT_MAX: a one-task sort
      window — one pass, zero extra jobs. The forbidden shape
      (Window.orderBy without partitionBy over unbounded rows) is
      exactly what `bound` rules out.
    * otherwise a STATIC range partition: `bucket` must be a monotone
      function of the LAST order column (e.g. the first two hex chars
      of url_md5 — uniform by construction, so no skew), making every
      (leading cols..., bucket) group a contiguous slice of the global
      order. Rank locally per group, then offset each group by the
      cumulative counts of the groups before it (a driver-side collect
      of one count per group, broadcast-joined back). Unlike
      repartitionByRange this needs NO sampling pass (which would
      re-evaluate the whole upstream plan) and NO load-bearing cache —
      the partitioning is computed, not sampled. The input is cached —
      a pure PERFORMANCE cache (the counts pass, the final pass and
      downstream consumers would otherwise each re-evaluate the whole
      scheduling subtree), not a correctness dependency as the sampled
      form's was. Pass `cache_handles` in loops and unpersist after
      consuming the result.
    """
    if bound is not None and bound <= SEQ_LOCAL_SORT_MAX:
        w_one = W.partitionBy(F.lit(0)).orderBy(*order_cols)
        return df.withColumn(out, F.row_number().over(w_one).cast("int"))
    if bucket is None:
        raise ValueError("unbounded global seq requires a static bucket expr")
    df = df.cache()
    if cache_handles is not None:
        cache_handles.append(df)
    lead = list(order_cols[:-1])
    b = df.withColumn("_gb", bucket)
    counts = b.groupBy(*lead, "_gb").agg(F.count("*").alias("_n")).collect()
    if not counts:
        return df.withColumn(out, F.lit(None).cast("int"))
    keyed = sorted(
        (tuple(r[c] for c in lead) + (r["_gb"],), r["_n"]) for r in counts
    )
    off_rows, acc = [], 0
    for key, n in keyed:
        off_rows.append((*key, acc))
        acc += n
    from pyspark.sql.types import LongType, StructField, StructType

    b_schema = {f.name: f for f in b.schema.fields}
    off_schema = StructType(
        [b_schema[c] for c in (*lead, "_gb")] + [StructField("_off", LongType())]
    )
    offs = df.sparkSession.createDataFrame(off_rows, off_schema)
    w_local = W.partitionBy(*lead, "_gb").orderBy(*order_cols)
    return (
        b.join(F.broadcast(offs), [*lead, "_gb"], "left")
        .withColumn("_lrn", F.row_number().over(w_local))
        .withColumn(out, (F.col("_off") + F.col("_lrn")).cast("int"))
        .drop("_gb", "_off", "_lrn")
    )


def with_storage_bucket(df: DataFrame, n_buckets: int = 16) -> DataFrame:
    """Key-uniform storage bucket — the hot-host skew breaker (X3).

    The scheduling shard is host-affine on purpose (politeness and
    per-host caps want a host's URLs reducible together), so one hot
    host owning 30% of the frontier would own 30% of a shard-partitioned
    table. Storage partitions instead bucket on the *url key* (md5 —
    uniform by construction): a hot host spreads evenly over all
    buckets, and the host-affine operators stay skew-immune anyway
    because they are groupBy partial aggregations (map-side combine
    emits one row per host per task), not sort windows.
    """
    from searchengine_spark.functions.hashes import hash60

    return df.withColumn(
        "storage_bucket", F.pmod(hash60(F.col("url_md5"), "sb"), F.lit(n_buckets)).cast("int")
    )


def top_hosts(frontier_or_docs: DataFrame, k: int = 100) -> DataFrame:
    """A2/D5 — top-hosts leaderboard (SearchEngine.h:763-778,683-688)."""
    return (
        frontier_or_docs.groupBy("host")
        .agg(F.count("*").alias("n_urls"))
        .orderBy(F.desc("n_urls"), "host")
        .limit(k)
    )


# ---------------------------------------------------------------------------
# crawl-trap detection (URL-template explosion)
# ---------------------------------------------------------------------------

TRAP_MIN_URLS = 20  # ignore hosts below this frontier share
TRAP_AMP_E6 = 20_000_000  # >= 20 distinct URLs per path template


def url_path_expr() -> F.Column:
    """Path component of a canonical URL (needs `url` + `host` cols).

    Canonical form: https URLs keep the scheme, http URLs start at the
    host (functions/urls.canonicalize) — same CASE the oracle CTEs use.
    """
    return F.expr(
        "CASE WHEN url LIKE 'https://%' THEN substring(url, 9 + length(host)) "
        "ELSE substring(url, 1 + length(host)) END"
    )


def trap_host_stats(
    candidates: DataFrame,
    min_urls: int = TRAP_MIN_URLS,
    amp_e6: int = TRAP_AMP_E6,
) -> DataFrame:
    """Crawl-trap detector: per-host URL-template amplification.

    The reference protects itself from hostile/degenerate hosts only
    with static budgets (per-host pending cap, SearchEngine.h:800-836;
    bad-host retry counter :526). A production frontier at 10^10 URLs
    also needs a *data-driven* trap signal: calendar scripts, session
    ids and faceted search generate unbounded distinct URLs from a tiny
    set of path shapes. Classic heuristic (IRLbot, Lee et al. 2009):
    collapse digit runs in the path to a template and compare distinct
    URLs vs distinct templates per host.

    amplification_e6 = distinct_urls * 1e6 div distinct_templates —
    exact integer micro-units (BIGINT both engines; CLAUDE.md float
    rule). `is_trap` flags hosts with >= min_urls distinct URLs whose
    amplification clears `amp_e6`.

    Scale shape: one hash-partitioned groupBy(host) with two partial
    count-distincts — no window, no sort; skew-safe because the
    per-host row is produced by map-side partial aggregation. Feeds the
    admission stage: a scheduler can join `is_trap` hosts back as a
    deny-list (same broadcast shape as the robots gate).
    """
    tpl = F.regexp_replace(url_path_expr(), "[0-9]+", "N")
    stats = (
        candidates.select("host", "url_md5", tpl.alias("_tpl"))
        .groupBy("host")
        .agg(
            F.countDistinct("url_md5").cast("long").alias("n_urls"),
            F.countDistinct("_tpl").cast("long").alias("n_templates"),
        )
        .withColumn(
            "amp_e6", F.expr("(n_urls * 1000000L) div n_templates").cast("long")
        )
    )
    return stats.withColumn(
        "is_trap",
        (
            (F.col("n_urls") >= F.lit(min_urls))
            & (F.col("amp_e6") >= F.lit(amp_e6))
        ).cast("int"),
    )
