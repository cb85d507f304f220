"""The crawl driver: a deterministic round loop over snapshot state.

One round ≙ one job DAG (SURVEY.md §3.1's Spark re-expression of
runCrawling, SearchEngine.cpp:842-907):

    frontier ⋈ hosts (politeness/bad-host gate)
      -> per-host pick -> per-shard quota            (schedule)
      -> synthetic fetch (pandas UDF; prod: async HTTP adapter)
      -> spans append to docs
      -> link spans -> explode -> canonicalize/filter/robots (ingest)
      -> host-cap admission -> batch dedup -> seen anti-join (J1)
      -> commit frontier / hosts / seen / docs / metrics snapshots

Every source of nondeterminism in the reference (random bulk pull
S9, min-wait scheduling O4, 10% bad-host retry X11, thread jitter) is
replaced by the ordering contract (discovered_round, url_md5) and
hash-derived deterministic rules, so an identical seed list +
politeness budget reproduces an identical fetch log and seen set —
verified against oracle/simulator.py.

State snapshots commit through TableStore (Iceberg semantics; parquet
snapshot dirs locally), so `resume=True` continues from the last
committed round with identical downstream results.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from searchengine_spark.config import CrawlConfig
from searchengine_spark.corpus import (
    FETCH_FAIL_MOD,
    fetch_spans_expr,
    robots_state_expr,
)
from searchengine_spark.functions.hashes import hash60
from searchengine_spark.functions.spans import SPANS_TYPE
from searchengine_spark.operators.frontier import (
    admit_host_caps,
    dedup_batch,
    dedup_seen,
    normalize_candidates,
    priority_depth_expr,
    schedule_round,
)
from searchengine_spark.operators.seen import (
    build_filter_blocks,
    dedup_seen_with_filter,
    filter_table_name,
    merge_filter_blocks,
)
from searchengine_spark.sources.statestore import TableStore

MAXHOSTTRY = 10  # SearchEngine.h:18
# fold docs/metrics fast-append chains after this many data dirs: keeps
# reads to a bounded multi-dir scan while amortizing the one rewrite
# over COMPACT_CHAIN rounds (Iceberg: rewrite_data_files cadence)
COMPACT_CHAIN = 16

METRICS_SCHEMA = (
    "round int, shard int, scheduled long, candidates long, "
    "admitted long, new_urls long, wall_sec double"
)


def _pseudo_ip_expr(host):
    """S7 DNS-cache parity: deterministic pseudo-IPv4 per host (the
    reference caches gethostbyname results in m_okHosts,
    SearchEngine.cpp:577-601; the sandbox has no resolver, so the
    'resolved' address is hash-derived — the prod fetch adapter fills
    this column from the real resolver instead)."""
    h = hash60(host, "dns")
    return F.concat_ws(
        ".",
        (F.pmod(h, 223) + 1).cast("string"),
        F.pmod(F.floor(h / 256), 256).cast("string"),
        F.pmod(F.floor(h / 65536), 256).cast("string"),
        (F.pmod(F.floor(h / 16777216), 254) + 1).cast("string"),
    )


def content_type_allowed(ct) -> F.Column:
    """P8 — the fetch content-type gate (httpDownload.h:12-14,48-63):
    a page is kept only when its Content-Type starts 'text/html' or
    'html' (case-insensitive); anything else is dropped pre-storage."""
    low = F.lower(ct)
    return low.startswith("text/html") | low.startswith("html")


def _synth_content_type_expr(url) -> F.Column:
    """The synthetic adapter serves HTML only (the corpus has no binary
    bodies); the production HTTP adapter fills this column from the
    response header and the same gate drops non-HTML fetches."""
    return F.lit("text/html")


def _fetch_fails_expr(host, round_no: int):
    return (
        F.pmod(hash60(F.concat(host, F.lit(f"|{round_no}")), "fail"), F.lit(FETCH_FAIL_MOD))
        == 0
    )


def url_path_expr(url) -> F.Column:
    """Native twin of the parse UDF's `path` output (functions/urls.py:
    _parse_candidate_arrays): everything from the first '/' of the
    scheme-stripped canonical URL, '' when none."""
    hbody = F.regexp_replace(url, "^https?://", "")
    return F.regexp_replace(hbody, "^[^/]*", "")


def robots_rule_match_expr(path, rule) -> F.Column:
    """One robots rule against one path, per-token: plain rules are
    prefix matches; a rule carrying '*' or a trailing '$' matches as an
    RFC 9309 §2.2.3 wildcard ('*' spans any octets, trailing '$'
    anchors at path end). The regex is built in-plan: escape regex
    specials, '*' -> '.*', re-anchor an escaped trailing '\\$', prefix
    '^'. Twin: corpus.robots_rule_matches_py (pinned row-equal in
    tests/test_crawl.py)."""
    is_wild = rule.contains("*") | rule.endswith("$")
    esc = F.regexp_replace(rule, "([.^$+?()\\[\\]{}\\\\|])", "\\\\$1")
    starred = F.regexp_replace(esc, "\\*", ".*")
    re_anchored = F.regexp_replace(starred, "\\\\\\$$", "\\$")
    pattern = F.concat(F.lit("^"), re_anchored)
    return F.when(is_wild, F.regexp_like(path, pattern)).otherwise(
        path.startswith(rule)
    )


def robots_blocked_expr(path, robots_state) -> F.Column:
    """True when a cached robots_state blocks this path: 'deny' blocks
    everything; 'disallow:<p1>|<p2>|...' blocks a match on ANY rule
    (HTTP-learned states carry every `User-agent: *` Disallow rule;
    the synthetic grammar emits at most one, where this reduces to the
    single startswith the ingest gate applies — operators/frontier.py);
    'rules:<±p1>|<±p2>|...' (HTTP-learned bodies with Allow AND
    Disallow rules) gates longest-match-wins with Allow winning
    equal-length ties (RFC 9309 §2.2.2) — blocked iff some rule
    matches and no longest match is an Allow. Rules carrying '*' or a
    trailing '$' match as RFC 9309 wildcards (§2.2.3); precedence
    still keys on the raw rule's octet length. NULL robots_state (host
    not yet contacted) blocks nothing. Pure-python twin:
    corpus.robots_rules_blocked_py (pinned row-equal in
    tests/test_crawl.py)."""
    matching = F.filter(
        F.split(F.substring(robots_state, 7, 8192), "\\|"),
        lambda t: robots_rule_match_expr(path, F.substring(t, 2, 8192)),
    )
    maxlen = F.array_max(F.transform(matching, lambda t: F.length(t)))
    rules_blocked = (F.size(matching) > 0) & ~F.exists(
        matching,
        lambda t: (F.length(t) == maxlen) & t.startswith("+"),
    )
    return F.coalesce(
        F.when(robots_state == "deny", F.lit(True))
        .when(
            robots_state.startswith("disallow:"),
            F.exists(
                F.split(F.substring(robots_state, 10, 8192), "\\|"),
                lambda p: robots_rule_match_expr(path, p),
            ),
        )
        .when(robots_state.startswith("rules:"), rules_blocked)
        .otherwise(F.lit(False)),
        F.lit(False),
    )


class SyntheticFetchAdapter:
    """The sandbox's fetch boundary: hash-derived spans as ONE native
    JVM projection (corpus.fetch_spans_expr, byte-equal to the
    simulator's fetch_spans_py), deterministic fetch failures, robots
    state and DNS both hash-derived — the exact semantics the oracle
    simulator reproduces (tests/test_crawl.py byte-equality).

    `ingest_robots=True`: robots gating happens at candidate ingestion
    via the synthetic robots_state_expr (a pure function of the host,
    so it needs no hosts-table lookup)."""

    ingest_robots = True
    tag = "synthetic"  # pinned into _crawl_config at seed time
    emits_raw_hrefs = False  # pushPending-format refs; never re-resolve

    def fetch(self, scheduled, round_no: int, cfg, cache_handles):
        """scheduled -> (docs_new, failed): docs_new carries the spans
        column; failed rows feed retry/backoff. A content-type-rejected
        fetch (impossible in the synthetic corpus, which serves HTML
        only) would count as fetched-not-indexed, same as the HTTP
        adapter's split."""
        failed_c = _fetch_fails_expr(F.col("host"), round_no)
        ok = (
            scheduled.where(~failed_c)
            .withColumn("content_type", _synth_content_type_expr(F.col("url")))
            .where(content_type_allowed(F.col("content_type")))
            .drop("content_type")
        )
        docs_new = ok.withColumn(
            "spans", fetch_spans_expr(F.col("url"), cfg.max_doc)
        ).select(
            "url_md5", "url", "host", "shard", "round", "seq_in_round", "spans"
        )
        return docs_new, scheduled.where(failed_c)

    def robots_state_expr(self):
        """Column-valued robots resolution (zero-cost inline expr), or
        None when the adapter must fetch (then resolve_hosts runs)."""
        return robots_state_expr

    def host_ip_expr(self):
        return _pseudo_ip_expr

    def resolve_hosts(self, new_hosts: DataFrame) -> DataFrame:
        """(host) -> (host, robots_state, ip, crawl_delay); unused when
        the expr forms above are available — provided for interface
        parity. The synthetic grammar has no Crawl-delay."""
        return new_hosts.select(
            "host",
            robots_state_expr(F.col("host")).alias("robots_state"),
            _pseudo_ip_expr(F.col("host")).alias("ip"),
            F.lit(0).alias("crawl_delay"),
        )


@dataclass
class RoundStats:
    round_no: int
    scheduled: int = 0
    fetched_ok: int = 0
    fetch_failed: int = 0
    candidates: int = 0
    admitted: int = 0
    new_urls: int = 0
    wall_sec: float = 0.0
    per_shard: list = field(default_factory=list)


class CrawlDriver:
    def __init__(
        self,
        spark: SparkSession,
        store_root: str,
        cfg: CrawlConfig | None = None,
        adapter=None,
        allow_adapter_switch: bool = False,
    ):
        """`adapter` plugs the network boundary (fetch + robots + DNS):
        default SyntheticFetchAdapter (hash-derived corpus, simulator-
        verified); sources.http_fetch.HttpFetchAdapter swaps in real
        HTTP for all three without touching run_round.

        The adapter's `tag` is pinned to the store at seed time;
        resuming with a different adapter raises (two adapters = two
        corpora — mixing them in one docs table is almost always a
        mistake). `allow_adapter_switch=True` overrides explicitly
        (run_crawl.py --force-adapter)."""
        self.spark = spark
        self.cfg = cfg or CrawlConfig()
        self.store = TableStore(spark, store_root)
        self.adapter = adapter if adapter is not None else SyntheticFetchAdapter()
        self.allow_adapter_switch = allow_adapter_switch

    # -- bootstrap -------------------------------------------------------------

    def seed(self, seed_urls: list[str]) -> None:
        """Ingest the seed list (S1, loadURLList SearchEngine.cpp:773-824)."""
        cfg, ad = self.cfg, self.adapter
        raw = self.spark.createDataFrame([(u,) for u in seed_urls], "raw_url string")
        cand = normalize_candidates(raw, cfg, robots_filter=ad.ingest_robots)
        cand = dedup_batch(cand)  # seeds: dedup only among themselves
        frontier = cand.select(
            "url", "url_md5", "host", "shard", F.lit(0).alias("discovered_round")
        )
        # host bookkeeping starts at the *attempted* candidate count, like
        # the reference's m_hostsCount increment inside filterURL
        hosts_base = (
            normalize_candidates(raw, cfg, robots_filter=ad.ingest_robots)
            .groupBy("host")
            .agg(F.count("*").alias("url_count"))
            .select(
                "host",
                F.lit(0).alias("next_allowed_round"),
                F.lit(0).alias("fail_count"),
                F.lit(0).alias("fetch_count"),
                "url_count",
            )
        )
        # robots cache (north_rule): fetched-once-per-host state. The
        # synthetic adapter derives it as an inline expr; the HTTP
        # adapter fetches /robots.txt + resolves DNS per new host
        rs_expr = ad.robots_state_expr()
        if rs_expr is not None:
            hosts = hosts_base.select(
                "*",
                rs_expr(F.col("host")).alias("robots_state"),
                ad.host_ip_expr()(F.col("host")).alias("ip"),
                F.lit(0).alias("robots_checked_round"),
                F.lit(0).alias("crawl_delay"),
            )
        else:
            hosts = hosts_base.join(
                ad.resolve_hosts(hosts_base.select("host")), "host", "left"
            ).select(
                *hosts_base.columns,
                F.coalesce(F.col("robots_state"), F.lit("allow")).alias(
                    "robots_state"
                ),
                F.coalesce(F.col("ip"), F.lit("0.0.0.0")).alias("ip"),
                F.lit(0).alias("robots_checked_round"),
                F.coalesce(F.col("crawl_delay"), F.lit(0)).alias(
                    "crawl_delay"
                ),
            )
        seen0 = frontier.select("url_md5", "shard")
        meta = {"round": -1}
        versions = {
            "frontier": self.store.commit("frontier", frontier, meta=meta),
            "hosts": self.store.commit("hosts", hosts, meta=meta),
            "seen": self.store.commit("seen", seen0, meta=meta),
            "docs": self.store.commit(
                "docs",
                self.spark.createDataFrame(
                    [],
                    T.StructType(
                        [
                            T.StructField("url_md5", T.StringType()),
                            T.StructField("url", T.StringType()),
                            T.StructField("host", T.StringType()),
                            T.StructField("shard", T.IntegerType()),
                            T.StructField("round", T.IntegerType()),
                            T.StructField("seq_in_round", T.IntegerType()),
                            T.StructField("spans", SPANS_TYPE),
                        ]
                    ),
                ),
                meta=meta,
            ),
            "metrics": self.store.commit(
                "metrics",
                self.spark.createDataFrame([], METRICS_SCHEMA),
                meta=meta,
            ),
        }
        if cfg.use_bloom:
            # a FRESH filter built from the seed seen set: re-seeding an
            # already-used store must not leave a stale bitmap that would
            # mark new seen keys 'definitely new' (exactness violation)
            ftab = filter_table_name(cfg)
            versions[ftab] = self.store.commit(
                ftab, build_filter_blocks(seen0, cfg), meta=meta
            )
        # pin the config to the store: shard/bloom geometry is baked into
        # the persisted state, so a resume must run the SAME config.
        # The adapter tag rides along: a store seeded synthetically must
        # not silently resume over real HTTP (or vice versa) — that
        # would mix two corpora in one docs table (check_config refuses)
        from dataclasses import asdict

        cfg_rec = asdict(cfg)
        cfg_rec["adapter"] = getattr(ad, "tag", "custom")
        self.store.write_config(cfg_rec)
        # manifest LAST: the cross-table commit point — old bloom/metrics
        # snapshots from a previous life of this store become unreachable
        self.store.commit_manifest(-1, versions)

    @property
    def last_round(self) -> int:
        m = self.store.read_manifest()
        return m["round"] if m else -1

    def _pinned_versions(self) -> dict[str, int]:
        m = self.store.read_manifest()
        if m is None:
            raise FileNotFoundError(
                "store has no committed round manifest — seed() it first"
            )
        return m["versions"]

    # -- sitemap discovery -------------------------------------------------------

    def ingest_sitemaps(self, changed_since: str | None = None) -> dict:
        """Sitemap discovery pass (sitemaps.org protocol via the
        robots.txt `Sitemap:` directive, RFC 9309 §2.3): for every
        known host, fetch its DECLARED sitemaps through the adapter's
        transport, parse page <loc> URLs, and admit them into the
        frontier as candidates for the next round — through the same
        normalize -> cached-robots gate -> host-cap admission -> batch
        dedup -> seen anti-join path a fetch round's outlinks take.
        This reaches pages link-following cannot (unlinked content);
        the reference has no sitemap support (discovery is purely
        pushPending over hrefs, SearchEngine.cpp:43-100) — a
        production-crawler extension, like the robots TTL.

        Runs BETWEEN rounds as its own manifest commit (same
        cross-table atomicity as a round; the round number does not
        advance). Requires an adapter with a sitemap surface (HTTP);
        raises ValueError for adapters without one. Returns counters.

        `changed_since` (YYYY-MM-DD) turns the pass lastmod-aware
        (sitemaps.org `<lastmod>`): ALREADY-SEEN page locs whose
        lastmod is strictly newer than the date are REQUEUED — appended
        to the frontier with discovered_round = next round, seen set
        untouched, exactly the `requeue` actuator's semantics — and
        index-level children whose lastmod is on or before the date
        are not even fetched (the fetch saver on large stable sites).
        Locs without a lastmod are never requeued (no evidence of
        change); brand-new locs admit identically in both modes.
        """
        cfg, ad = self.cfg, self.adapter
        ent = None
        if changed_since is None:
            udf_factory = getattr(ad, "sitemap_urls_udf", None)
        else:
            udf_factory = getattr(ad, "sitemap_entries_udf", None)
        if udf_factory is None:
            raise ValueError(
                f"the '{getattr(ad, 'tag', 'custom')}' fetch adapter has no "
                "sitemap surface "
                f"({'sitemap_entries_udf' if changed_since else 'sitemap_urls_udf'})"
                " — sitemap ingestion needs an HTTP-style adapter"
            )
        pinned = self._pinned_versions()
        frontier = self.store.read("frontier", pinned["frontier"]).drop(
            "storage_bucket"
        )
        hosts = self.store.read("hosts", pinned["hosts"])
        if "crawl_delay" not in hosts.columns:
            hosts = hosts.withColumn("crawl_delay", F.lit(0))
        seen = self.store.read("seen", pinned["seen"])
        next_round = self.last_round + 1

        if changed_since is None:
            locs = (
                hosts.select("host", udf_factory()(F.col("host")).alias("_sm"))
                .select(F.explode("_sm").alias("raw_url"))
                .cache()
            )
        else:
            ent = (
                hosts.select(
                    "host",
                    udf_factory(changed_since)(F.col("host")).alias("_sm"),
                )
                .select(F.explode("_sm").alias("_e"))
                .select(
                    F.col("_e.loc").alias("raw_url"),
                    F.col("_e.lastmod").alias("lastmod"),
                )
                .cache()
            )
            locs = ent.select("raw_url")
        cand = normalize_candidates(locs, cfg, robots_filter=ad.ingest_robots)
        if not ad.ingest_robots:
            cand = (
                cand.join(hosts.select("host", "robots_state"), "host", "left")
                .where(
                    ~robots_blocked_expr(
                        url_path_expr(F.col("url")), F.col("robots_state")
                    )
                )
                .drop("robots_state")
            )
        cand = cand.cache()
        remaining = hosts.select(
            "host",
            (F.lit(cfg.max_urls_per_host) - F.col("url_count")).alias("_rem"),
        )
        n_cand = cand.count()
        # no forced broadcast: remaining spans the FULL hosts table
        # (admit_host_caps docstring — AQE broadcasts while small,
        # shuffles at open-web host counts)
        admitted = admit_host_caps(
            cand,
            remaining,
            cfg.max_urls_per_host,
            n_candidates=n_cand,
        )
        new_rows = dedup_seen(dedup_batch(admitted), seen).select(
            "url", "url_md5", "host", "shard",
            F.lit(next_round).alias("discovered_round"),
        ).cache()

        # lastmod requeue: seen locs with evidence of change re-enter
        # the frontier (requeue-actuator semantics: seen untouched,
        # already-pending keys skipped; disjoint from new_rows, which
        # passed the seen anti-join)
        requeue_rows = None
        n_requeued = 0
        if changed_since is not None:
            fresh = ent.where(
                F.col("lastmod") > F.lit(changed_since)
            ).select("raw_url")
            rcand = normalize_candidates(
                fresh, cfg, robots_filter=ad.ingest_robots
            )
            if not ad.ingest_robots:
                rcand = (
                    rcand.join(
                        hosts.select("host", "robots_state"), "host", "left"
                    )
                    .where(
                        ~robots_blocked_expr(
                            url_path_expr(F.col("url")), F.col("robots_state")
                        )
                    )
                    .drop("robots_state")
                )
            requeue_rows = (
                dedup_batch(rcand)
                .join(seen.select("url_md5"), "url_md5", "left_semi")
                .join(frontier.select("url_md5"), "url_md5", "left_anti")
                .select(
                    "url",
                    "url_md5",
                    "host",
                    "shard",
                    F.lit(next_round).cast("int").alias("discovered_round"),
                )
                .cache()
            )
            n_requeued = requeue_rows.count()

        # state merges: frontier/seen grow; url_count counts ATTEMPTED
        # candidates per host (the reference's pre-dedup m_hostsCount
        # quirk, same as a round's hosts merge)
        frontier2 = frontier.unionByName(new_rows)
        if requeue_rows is not None:
            frontier2 = frontier2.unionByName(requeue_rows)
        seen2 = seen.unionByName(new_rows.select("url_md5", "shard"))
        cand_counts = cand.groupBy("host").agg(F.count("*").alias("_n"))
        hosts2 = hosts.join(cand_counts, "host", "left").select(
            *[c for c in hosts.columns if c != "url_count"],
            (F.col("url_count") + F.coalesce(F.col("_n"), F.lit(0))).alias(
                "url_count"
            ),
        ).select(*hosts.columns)

        from searchengine_spark.operators.frontier import with_storage_bucket

        meta = {"round": self.last_round, "sitemap_ingest": True}
        versions = dict(pinned)
        versions["frontier"] = self.store.commit(
            "frontier",
            with_storage_bucket(frontier2),
            partition_by=["storage_bucket"],
            meta=meta,
        )
        versions["hosts"] = self.store.commit("hosts", hosts2, meta=meta)
        versions["seen"] = self.store.commit("seen", seen2, meta=meta)
        # seen grew this transaction: any filter version NOT refreshed
        # right here would lag the pinned seen set, so drop them all
        # and re-commit only the active structure (stale-filter rule,
        # same as the run_round commit site)
        for t in ("bloom", "cuckoo"):
            versions.pop(t, None)
        if cfg.use_bloom:
            ftab = filter_table_name(cfg)
            if ftab in pinned:
                blocks = self.store.read(ftab, pinned[ftab])
            else:
                blocks = build_filter_blocks(seen, cfg)
            delta = build_filter_blocks(new_rows.select("url_md5", "shard"), cfg)
            versions[ftab] = self.store.commit(
                ftab, merge_filter_blocks(blocks, delta, cfg), meta=meta
            )
        out = {
            "hosts_probed": hosts.count(),
            "sitemap_urls": locs.count(),
            "candidates": n_cand,
            "new_urls": new_rows.count(),
        }
        if changed_since is not None:
            out["requeued"] = n_requeued
        self.store.commit_manifest(self.last_round, versions)
        (ent if ent is not None else locs).unpersist()
        cand.unpersist()
        new_rows.unpersist()
        if requeue_rows is not None:
            requeue_rows.unpersist()
        return out

    def evict_seen(self, urls: list[str]) -> dict:
        """Maintenance transaction — the adaptive-recrawl ACTUATOR:
        remove URLs from the exact seen set so the next page that
        links them re-admits them into the frontier for a re-fetch
        (operators/recrawl decides WHICH URLs are due; this makes the
        decision actionable). Byte-equal twin: oracle/simulator.evict.

        Scope rules (tests pin engine ≡ simulator across an eviction):
        * keys still PENDING in the frontier are skipped — evicting
          one would let it be admitted a second time while queued and
          double-fetch;
        * only keys actually in seen count (unknown URLs are no-ops) —
          this also keeps the cuckoo delete inside its inserted-keys-
          only contract;
        * under the cuckoo filter the keys are deleted from the filter
          blocks in the SAME transaction (the deletable arm's purpose);
          under bloom the filter version is dropped so the next round
          rebuilds from the shrunken seen set (bitmaps cannot delete);
        * hosts are untouched (url_count counts admission ATTEMPTS,
          the reference filterURL semantics) and docs history is
          untouched: a re-fetch appends a new docs row (append-only
          store, the revisit keeps its own round/seq lineage).
        """
        cfg, ad = self.cfg, self.adapter
        pinned = self._pinned_versions()
        seen = self.store.read("seen", pinned["seen"])
        frontier = self.store.read("frontier", pinned["frontier"])
        raw = self.spark.createDataFrame([(u,) for u in urls], "raw_url string")
        keys = (
            normalize_candidates(raw, cfg, robots_filter=ad.ingest_robots)
            .select("url_md5", "shard")
            .distinct()
        )
        effective = (
            keys.join(seen.select("url_md5"), "url_md5", "left_semi")
            .join(frontier.select("url_md5"), "url_md5", "left_anti")
            .cache()
        )
        n_evicted = effective.count()
        seen2 = seen.join(effective.select("url_md5"), "url_md5", "left_anti")
        meta = {"round": self.last_round, "evict": True}
        versions = dict(pinned)
        versions["seen"] = self.store.commit("seen", seen2, meta=meta)
        # same stale-filter rule as every other seen-mutating commit:
        # carry no filter version the transaction did not refresh
        for t in ("bloom", "cuckoo"):
            versions.pop(t, None)
        if cfg.use_bloom and cfg.seen_filter == "cuckoo" and "cuckoo" in pinned:
            from searchengine_spark.operators.cuckoo import (
                delete_from_cuckoo_blocks,
            )

            blocks = self.store.read("cuckoo", pinned["cuckoo"])
            versions["cuckoo"] = self.store.commit(
                "cuckoo",
                delete_from_cuckoo_blocks(blocks, effective, cfg),
                meta=meta,
            )
        self.store.commit_manifest(self.last_round, versions)
        effective.unpersist()
        return {"requested": len(urls), "evicted": n_evicted}

    def requeue(self, urls: list[str]) -> dict:
        """Guaranteed re-fetch — the direct-appension complement of
        evict_seen (which only re-enables ORGANIC re-admission): append
        already-seen URLs straight back into the frontier with
        discovered_round = last_round + 1, so they compete like freshly
        discovered URLs in the next round's (discovered_round, url_md5)
        pick order. Byte-equal twin: oracle/simulator.requeue.

        The seen set is untouched — the key stays deduped against
        organic re-discovery, so a requeued URL is fetched exactly once
        more. Unseen URLs are skipped (they belong to normal seeded/
        linked admission, which enforces host caps); already-pending
        keys are skipped (no duplicate frontier rows). Politeness,
        per-shard quotas and the pick order gate the actual fetch round
        exactly as for any other frontier row."""
        cfg, ad = self.cfg, self.adapter
        from searchengine_spark.operators.frontier import with_storage_bucket

        pinned = self._pinned_versions()
        seen = self.store.read("seen", pinned["seen"])
        frontier = self.store.read("frontier", pinned["frontier"]).drop(
            "storage_bucket"
        )
        raw = self.spark.createDataFrame([(u,) for u in urls], "raw_url string")
        cand = dedup_batch(
            normalize_candidates(raw, cfg, robots_filter=ad.ingest_robots)
        )
        eligible = (
            cand.join(seen.select("url_md5"), "url_md5", "left_semi")
            .join(frontier.select("url_md5"), "url_md5", "left_anti")
            .select(
                "url",
                "url_md5",
                "host",
                "shard",
                F.lit(self.last_round + 1).cast("int").alias("discovered_round"),
            )
            .cache()
        )
        n_requeued = eligible.count()
        meta = {"round": self.last_round, "requeue": True}
        versions = dict(pinned)
        versions["frontier"] = self.store.commit(
            "frontier",
            with_storage_bucket(frontier.unionByName(eligible)),
            partition_by=["storage_bucket"],
            meta=meta,
        )
        # seen did not change, so the pinned filter stays valid and
        # rides forward untouched
        self.store.commit_manifest(self.last_round, versions)
        eligible.unpersist()
        return {"requested": len(urls), "requeued": n_requeued}

    def recrawl_due(
        self, target_round: int | None = None, max_interval: int = 16
    ) -> dict:
        """The composed freshness loop: DECIDER + ACTUATOR in one
        maintenance transaction. The change-observation log is derived
        from the store's own fetch history (docs rows are per-fetch
        appends; observation fingerprint = md5 of the spans JSON, so a
        re-fetch that returned different content counts as a change),
        the Cho & Garcia-Molina backoff closed form from
        operators/recrawl.py runs per key — first sighting counts as a
        change, the revisit interval doubles per unchanged
        RE-observation, capped at `max_interval` — and every key whose
        next fetch is due by `target_round` (default: the next round)
        is REQUEUED with `requeue`'s exact semantics: seen untouched,
        already-pending keys skipped. Byte-equal twin:
        oracle/simulator.recrawl_due (tests/test_cuckoo.py).

        Unlike the catalog form (which observes every round), the
        store's log is sparse — a key is only observed when fetched —
        so the backoff counts OBSERVATIONS, not elapsed rounds: the
        honest reading of the policy when you control the sampling.
        Scale shape: one key-partitioned window over the docs history
        (ordered by (round, seq_in_round), unique per key) + one
        groupBy(url_md5) + the frontier anti-join — no driver-side
        history walk."""
        from pyspark.sql import Window

        from searchengine_spark.operators.frontier import with_storage_bucket

        target = self.last_round + 1 if target_round is None else target_round
        pinned = self._pinned_versions()
        docs = self.store.read("docs", pinned["docs"])
        frontier = self.store.read("frontier", pinned["frontier"]).drop(
            "storage_bucket"
        )
        seen = self.store.read("seen", pinned["seen"])
        w = Window.partitionBy("url_md5").orderBy("round", "seq_in_round")
        fp = F.md5(F.to_json(F.col("spans")))
        o = (
            docs.select(
                "url_md5", "url", "host", "shard", "round", fp.alias("_fp"),
                "seq_in_round",
            )
            .withColumn("_idx", F.row_number().over(w))
            .withColumn(
                "_chg",
                F.when(
                    F.lag("_fp").over(w).isNull()
                    | (F.col("_fp") != F.lag("_fp").over(w)),
                    F.lit(1),
                ).otherwise(F.lit(0)),
            )
        )
        agg = o.groupBy("url_md5").agg(
            F.max("_idx").alias("_n_obs"),
            F.max(F.col("_idx") * F.col("_chg")).alias("_last_chg"),
            F.max("round").alias("_last_round"),
            F.max("url").alias("url"),
            F.max("host").alias("host"),
            F.max("shard").alias("shard"),
        )
        interval = F.least(
            F.expr(
                "cast(shiftleft(1, cast(_n_obs - _last_chg as int)) as bigint)"
            ),
            F.lit(max_interval).cast("long"),
        )
        due = agg.where((F.col("_last_round") + interval) <= F.lit(target))
        eligible = (
            due.join(seen.select("url_md5"), "url_md5", "left_semi")
            .join(frontier.select("url_md5"), "url_md5", "left_anti")
            .select(
                "url",
                "url_md5",
                "host",
                "shard",
                F.lit(target).cast("int").alias("discovered_round"),
            )
            .cache()
        )
        n_due = due.count()
        n_requeued = eligible.count()
        meta = {"round": self.last_round, "recrawl_due": True}
        versions = dict(pinned)
        versions["frontier"] = self.store.commit(
            "frontier",
            with_storage_bucket(frontier.unionByName(eligible)),
            partition_by=["storage_bucket"],
            meta=meta,
        )
        self.store.commit_manifest(self.last_round, versions)
        eligible.unpersist()
        return {
            "due": n_due,
            "requeued": n_requeued,
            "target_round": target,
        }

    # -- one round ---------------------------------------------------------------

    def run_round(self, round_no: int) -> RoundStats:
        cfg, spark, ad = self.cfg, self.spark, self.adapter
        stats = RoundStats(round_no)
        t0 = time.time()

        # every read pins to the last manifest: a crashed previous attempt
        # may have advanced individual table pointers, but those orphan
        # snapshots are unreachable through the manifest — re-running this
        # round sees exactly the state the last COMPLETE round committed
        pinned = self._pinned_versions()
        frontier = self.store.read("frontier", pinned["frontier"]).drop(
            "storage_bucket"
        )
        hosts = self.store.read("hosts", pinned["hosts"])
        if "robots_checked_round" not in hosts.columns:
            # store persisted by pre-robots-TTL code: backfill the
            # column as checked-at-round-0, exactly what a fresh seed
            # writes — the next hosts commit persists the new schema
            hosts = hosts.withColumn("robots_checked_round", F.lit(0))
        if "crawl_delay" not in hosts.columns:
            # pre-Crawl-delay store: no per-host override (the global
            # cfg.politeness_rounds still applies); same migration
            # pattern as robots_checked_round above
            hosts = hosts.withColumn("crawl_delay", F.lit(0))
        seen = self.store.read("seen", pinned["seen"])

        # bad-host gate (X11 de-randomized): fail_count >= MAXHOSTTRY hosts
        # are only eligible when round % 10 == hash(host)%10; expressed as
        # an effective politeness clock of +inf so unknown hosts (no row)
        # stay eligible-by-default
        retry_ok = F.pmod(hash60(F.col("host"), "retry"), F.lit(10)) == (round_no % 10)
        gated_hosts = hosts.select(
            "host",
            F.when(
                ((F.col("fail_count") >= MAXHOSTTRY) & ~retry_ok)
                # robots cache: deny-all hosts never schedule (ingestion
                # already filters them; this keeps the scheduler correct
                # even if robots_state changed after URLs were admitted)
                | (F.col("robots_state") == "deny"),
                F.lit(2**31 - 1),
            )
            .otherwise(F.col("next_allowed_round"))
            .alias("next_allowed_round"),
        )

        seq_caches: list = []
        scheduled = schedule_round(
            frontier,
            gated_hosts,
            round_no,
            cfg,
            cache_handles=seq_caches,
            priority=(
                priority_depth_expr(F.col("url"))
                if cfg.priority == "depth"
                else None
            ),
        ).cache()
        seq_caches.append(scheduled)

        # late robots enforcement (HTTP-style adapters, which learn a
        # host's robots only at first contact): a scheduled URL whose
        # host's CACHED robots_state now blocks its path is dropped
        # here — removed from the frontier (sched_all anti-join below)
        # without a fetch, a failure mark, or a politeness charge
        sched_all = scheduled
        if not ad.ingest_robots:
            blocked = robots_blocked_expr(
                url_path_expr(F.col("url")), F.col("robots_state")
            )
            scheduled = (
                scheduled.join(hosts.select("host", "robots_state"), "host", "left")
                .where(~blocked)
                .drop("robots_state")
                .cache()
            )
            seq_caches.append(scheduled)

        # the fetch boundary (S5/S6): synthetic JVM projection by
        # default, real HTTP via HttpFetchAdapter — same (docs, failed)
        # contract either way (failed = transport/non-2xx only)
        docs_new, failed = ad.fetch(scheduled, round_no, cfg, seq_caches)
        docs_new = docs_new.cache()

        # link extraction: native array ops over the spans column (T5).
        # HTTP-fetched spans carry RAW hrefs, so they resolve against
        # the page URL first (getURLs does this before pushPending,
        # SearchEngine.cpp:43-100; unresolvable forms drop); synthetic
        # spans are already pushPending-format and skip resolution
        link_refs = F.transform(
            F.filter("spans", lambda s: s["kind"] == F.lit("link")),
            lambda s: s["media_ref"],
        )
        if getattr(ad, "emits_raw_hrefs", False):
            from searchengine_spark.functions.spans import resolve_href_expr

            link_refs = F.filter(
                F.transform(
                    link_refs, lambda h: resolve_href_expr(F.col("url"), h)
                ),
                lambda u: u.isNotNull(),
            )
        outlinks = docs_new.select(F.explode(link_refs).alias("raw_url"))

        cand = normalize_candidates(outlinks, cfg, robots_filter=ad.ingest_robots)
        if not ad.ingest_robots:
            # robots gate against the hosts table's CACHED state: known
            # deny/disallow hosts filter here; first-contact hosts pass
            # (their robots resolves in this round's hosts merge, and
            # the late schedule-time gate catches their blocked URLs)
            cand = (
                cand.join(hosts.select("host", "robots_state"), "host", "left")
                .where(
                    ~robots_blocked_expr(
                        url_path_expr(F.col("url")), F.col("robots_state")
                    )
                )
                .drop("robots_state")
            )
        cand = cand.cache()

        # host-cap admission over ALL filtered candidates (reference quirk:
        # m_hostsCount counts attempts pre-dedup, SearchEngine.h:746-756)
        remaining = hosts.select(
            "host", (F.lit(cfg.max_urls_per_host) - F.col("url_count")).alias("_rem")
        )
        # skew-safe admission, adaptively planned: the count materializes
        # the round's cand cache (needed by every later action anyway)
        # and picks the direct window for small batches or the two-phase
        # bounded-window plan above ADMISSION_SINGLE_TASK_MAX — identical
        # admitted set either way (frontier.admit_host_caps)
        n_cand = cand.count()
        # no forced broadcast: remaining spans the FULL hosts table
        # (admit_host_caps docstring — AQE broadcasts while small,
        # shuffles at open-web host counts)
        admitted = admit_host_caps(
            cand,
            remaining,
            cfg.max_urls_per_host,
            n_candidates=n_cand,
        )
        deduped = dedup_batch(admitted)
        if cfg.use_bloom:
            # incremental blocks: read last round's, never rescan seen
            # (a filter switch finds no pinned table for the new
            # structure and rebuilds once from the pinned seen set)
            ftab = filter_table_name(cfg)
            if ftab in pinned:
                blocks = self.store.read(ftab, pinned[ftab])
            else:
                blocks = build_filter_blocks(seen, cfg)
            new_rows = dedup_seen_with_filter(spark, deduped, seen, blocks, cfg)
        else:
            new_rows = dedup_seen(deduped, seen)
        new_rows = new_rows.select(
            "url", "url_md5", "host", "shard",
            F.lit(round_no + 1).alias("discovered_round"),
        ).cache()

        # per-URL failure flag, adapter-agnostic: failed ⊆ scheduled, so
        # a left join on the cached scheduled reproduces the old inline
        # failure expression exactly (and works for real HTTP failures)
        sched_flag = scheduled.join(
            failed.select("url_md5", F.lit(1).alias("_failed")), "url_md5", "left"
        )

        # candidates (post-filter/robots) vs admitted (post host-cap):
        # cand is cached, so both per-shard aggs are cheap map-side combines
        adm_shard = (
            cand.groupBy("shard")
            .agg(F.count("*").alias("candidates"))
            .join(
                admitted.groupBy("shard").agg(F.count("*").alias("admitted")),
                "shard",
                "left",
            )
            .withColumn("admitted", F.coalesce(F.col("admitted"), F.lit(0)))
        )

        # ---- state merges ----
        retry_rows = failed.select(
            "url", "url_md5", "host", "shard",
            F.lit(round_no + 1).alias("discovered_round"),
        )
        # anti-join on sched_all, not scheduled: a robots-dropped slot
        # leaves the frontier permanently (neither fetched nor retried)
        frontier2 = (
            frontier.join(sched_all.select("url_md5"), "url_md5", "left_anti")
            .unionByName(retry_rows)
            .unionByName(new_rows)
        )

        # hosts merge: politeness clocks, fail counters, url counters
        fetched_hosts = sched_flag.groupBy("host").agg(
            F.max(F.coalesce(F.col("_failed"), F.lit(0))).alias("_failed")
        )
        cand_counts = cand.groupBy("host").agg(F.count("*").alias("_new_urls"))
        hosts2_base = (
            hosts.join(fetched_hosts, "host", "full_outer")
            .join(cand_counts, "host", "full_outer")
            .select(
                "host",
                F.when(
                    F.col("_failed").isNotNull(),
                    # per-host Crawl-delay override: the politeness
                    # clock advances by the LARGER of the global window
                    # and the host's robots-declared delay (rounds)
                    F.lit(round_no)
                    + F.greatest(
                        F.lit(cfg.politeness_rounds),
                        F.coalesce(F.col("crawl_delay"), F.lit(0)),
                    ),
                )
                .otherwise(F.coalesce(F.col("next_allowed_round"), F.lit(0)))
                .alias("next_allowed_round"),
                (
                    F.coalesce(F.col("fail_count"), F.lit(0))
                    + F.coalesce(F.col("_failed"), F.lit(0))
                ).alias("fail_count"),
                (
                    F.coalesce(F.col("fetch_count"), F.lit(0))
                    + F.when(F.col("_failed") == 0, 1).otherwise(0)
                ).alias("fetch_count"),
                (
                    F.coalesce(F.col("url_count"), F.lit(0))
                    + F.coalesce(F.col("_new_urls"), F.lit(0))
                ).alias("url_count"),
                "robots_state",
                "ip",
                "robots_checked_round",
                "crawl_delay",
            )
        )
        # first-contact resolution for hosts new this round: inline
        # expr (synthetic — zero extra work) or a real robots.txt fetch
        # + DNS through the adapter (HTTP)
        rs_expr = ad.robots_state_expr()
        if rs_expr is not None:
            hosts2 = hosts2_base.select(
                "host", "next_allowed_round", "fail_count", "fetch_count",
                "url_count",
                F.coalesce(
                    F.col("robots_state"), rs_expr(F.col("host"))
                ).alias("robots_state"),
                F.coalesce(F.col("ip"), ad.host_ip_expr()(F.col("host"))).alias("ip"),
                F.coalesce(F.col("robots_checked_round"), F.lit(round_no))
                .alias("robots_checked_round"),
                F.coalesce(F.col("crawl_delay"), F.lit(0)).alias(
                    "crawl_delay"
                ),
            )
        else:
            hosts2_base = hosts2_base.cache()
            seq_caches.append(hosts2_base)
            # stale = never resolved (first contact) OR, under a robots
            # TTL (cfg.robots_ttl_rounds > 0), resolved too long ago —
            # production crawlers re-fetch robots.txt periodically
            # rather than trusting the first response forever
            stale = F.col("robots_state").isNull()
            if cfg.robots_ttl_rounds > 0:
                stale = stale | (
                    F.lit(round_no)
                    - F.coalesce(F.col("robots_checked_round"), F.lit(round_no))
                    >= F.lit(cfg.robots_ttl_rounds)
                )
            resolved = ad.resolve_hosts(
                hosts2_base.where(stale).select("host")
            ).select(
                "host",
                F.col("robots_state").alias("_rs"),
                F.col("ip").alias("_ip"),
                F.col("crawl_delay").alias("_cd"),
            )
            # a freshly resolved state WINS over the cached one (TTL
            # refresh); hosts outside the stale set keep their cache
            hosts2 = hosts2_base.join(resolved, "host", "left").select(
                "host", "next_allowed_round", "fail_count", "fetch_count",
                "url_count",
                F.coalesce(F.col("_rs"), F.col("robots_state"), F.lit("allow"))
                .alias("robots_state"),
                F.coalesce(F.col("_ip"), F.col("ip"), F.lit("0.0.0.0")).alias("ip"),
                F.when(F.col("_rs").isNotNull(), F.lit(round_no))
                .otherwise(
                    F.coalesce(F.col("robots_checked_round"), F.lit(round_no))
                )
                .alias("robots_checked_round"),
                F.when(F.col("_rs").isNotNull(), F.coalesce(F.col("_cd"), F.lit(0)))
                .otherwise(F.coalesce(F.col("crawl_delay"), F.lit(0)))
                .alias("crawl_delay"),
            )

        if cfg.use_bloom:
            delta = build_filter_blocks(new_rows.select("url_md5", "shard"), cfg)
            blocks2 = merge_filter_blocks(blocks, delta, cfg)

        # ONE action for every round counter (scheduled + failures fold
        # into the same per-shard digest — the old separate summary agg
        # was one more job on the round's serial path). Runs as a
        # THUNK so the commit pool below overlaps it with the
        # docs/hosts commits (its inputs except new_rows are cached
        # and warm by this point; it is the action that materializes
        # the new_rows cache for the frontier/seen commits after it).
        def _digest() -> None:
            stats.per_shard = [
                {
                    "shard": r["shard"],
                    "scheduled": r["scheduled"],
                    "fetch_failed": r["fetch_failed"],
                    "candidates": r["candidates"],
                    "admitted": r["admitted"],
                    "new_urls": r["new_urls"],
                }
                for r in sched_flag.groupBy("shard")
                .agg(
                    F.count("*").alias("scheduled"),
                    F.sum(F.coalesce(F.col("_failed"), F.lit(0))).alias("fetch_failed"),
                )
                .join(adm_shard, "shard", "full_outer")
                .join(
                    new_rows.groupBy("shard").agg(F.count("*").alias("new_urls")),
                    "shard",
                    "full_outer",
                )
                .fillna(0)
                .collect()
            ]
            # totals from the per-shard rows — one action for all counters
            stats.scheduled = sum(s["scheduled"] for s in stats.per_shard)
            stats.fetch_failed = int(sum(s["fetch_failed"] for s in stats.per_shard))
            stats.fetched_ok = stats.scheduled - stats.fetch_failed
            stats.new_urls = sum(s["new_urls"] for s in stats.per_shard)
            stats.candidates = sum(s["candidates"] for s in stats.per_shard)
            stats.admitted = sum(s["admitted"] for s in stats.per_shard)

        # ---- commit snapshots; the manifest written LAST is the round's
        # commit point (cross-table atomicity — see TableStore docstring).
        # Appends pin their base to the manifest versions so a crashed
        # attempt's orphan snapshots can never duplicate rows on re-run.
        # frontier partitions on the key-uniform storage bucket, NOT the
        # host-affine shard — a hot host spreads over all buckets (X3)
        from searchengine_spark.operators.frontier import with_storage_bucket

        meta = {"round": round_no}
        versions = dict(pinned)

        # r6: the four state commits are independent write jobs over
        # already-cached round frames — run them on a driver thread
        # pool so each job's straggler tail overlaps the next job's
        # ramp-up (guide §2.6). Compaction stays INSIDE each table's
        # task (the manifest then pins the compacted version, so the
        # next round chains from length 1; a crash mid-compaction
        # leaves an unreferenced orphan — the round still commits on
        # the chain).
        from concurrent.futures import ThreadPoolExecutor

        def _commit_docs() -> int:
            v = self.store.commit(
                "docs", docs_new, mode="append", meta=meta,
                base_version=pinned["docs"],
            )
            if self.store.chain_length("docs", v) >= COMPACT_CHAIN:
                v = self.store.compact("docs", v)
            return v

        def _commit_frontier() -> int:
            return self.store.commit(
                "frontier",
                with_storage_bucket(frontier2),
                partition_by=["storage_bucket"],
                meta=meta,
            )

        def _commit_hosts() -> int:
            return self.store.commit("hosts", hosts2, meta=meta)

        def _commit_seen() -> int:
            # seen is append-only within a round (seen2 = seen ∪ new):
            # fast-append the DELTA instead of rewriting the whole set —
            # at a 10^10-URL seen set the old overwrite was an
            # O(total)-bytes write per round for an O(new-URLs) change.
            # Reads union the chain (same rows); eviction actuators
            # still commit overwrite snapshots and the chain continues
            # from there.
            v = self.store.commit(
                "seen",
                new_rows.select("url_md5", "shard"),
                mode="append",
                meta=meta,
                base_version=pinned["seen"],
            )
            if self.store.chain_length("seen", v) >= COMPACT_CHAIN:
                v = self.store.compact("seen", v)
            return v

        # a round must NOT carry a filter version it did not refresh:
        # seen keeps growing, so a later resume under that structure
        # would trust a table that lags the pinned seen set and mark
        # already-seen URLs definitely-new (exact-dedup violation).
        # Dropping forces a rebuild from pinned seen — this covers both
        # the no-filter round AND a bloom<->cuckoo switch.
        for t in ("bloom", "cuckoo"):
            versions.pop(t, None)

        def _commit_bloom() -> int:
            return self.store.commit(filter_table_name(cfg), blocks2, meta=meta)

        def _commit_metrics() -> int:
            # wall_sec in the metrics ROW is `wall`, read on the calling
            # thread right after _digest() — the round's compute wall; the
            # commit tail it can no longer include is visible in the
            # caller's RoundStats.wall_sec. Nothing downstream consumes
            # the column (telemetry only).
            metrics_rows = [
                (
                    round_no,
                    int(s["shard"]) if s["shard"] is not None else -1,
                    int(s["scheduled"]),
                    int(s["candidates"]),
                    int(s["admitted"]),
                    int(s["new_urls"]),
                    float(wall),
                )
                for s in stats.per_shard
            ] or [(round_no, -1, 0, 0, 0, 0, float(wall))]
            metrics_df = spark.createDataFrame(metrics_rows, METRICS_SCHEMA)
            v = self.store.commit(
                "metrics",
                metrics_df,
                mode="append",
                meta=meta,
                base_version=pinned.get("metrics", 0),
            )
            if self.store.chain_length("metrics", v) >= COMPACT_CHAIN:
                v = self.store.compact("metrics", v)
            return v

        # phase A: docs/hosts commits + the stats digest (inputs all
        # cached; the digest also materializes new_rows). phase B:
        # frontier/seen commits, which consume the warm new_rows cache
        # — sequencing them after the digest avoids three concurrent
        # first evaluations of the ingest chain. The bloom-blocks and
        # metrics commits are independent of the other tables and join
        # phase B (r6 follow-up: they previously ran serially after the
        # pool, adding ~1 s of unoverlapped tail per round); the
        # manifest, written LAST on this thread, remains the round's
        # only commit point.
        with ThreadPoolExecutor(max_workers=4) as _pool:
            _fa = {
                "docs": _pool.submit(_commit_docs),
                "hosts": _pool.submit(_commit_hosts),
            }
            _digest()
            wall = time.time() - t0
            _fb = {
                "frontier": _pool.submit(_commit_frontier),
                "seen": _pool.submit(_commit_seen),
                "metrics": _pool.submit(_commit_metrics),
            }
            if cfg.use_bloom:
                _fb[filter_table_name(cfg)] = _pool.submit(_commit_bloom)
            for _t, _fut in {**_fa, **_fb}.items():
                versions[_t] = _fut.result()
        stats.wall_sec = time.time() - t0
        self.store.commit_manifest(round_no, versions)

        docs_new.unpersist()
        cand.unpersist()
        new_rows.unpersist()
        for h in seq_caches:  # scheduled rides in seq_caches now
            h.unpersist()
        return stats

    def check_config(self) -> None:
        """Refuse to run against a store seeded under a different
        config: seen.shard, bloom bitmaps and frontier shards are all
        keyed by it — a drifted resume would mis-route bloom probes and
        silently re-admit seen URLs (exact-dedup violation)."""
        from dataclasses import asdict

        stored = self.store.read_config()
        given = asdict(self.cfg)
        stored_adapter = None
        if stored is not None:
            stored = dict(stored)
            stored_adapter = stored.pop("adapter", None)
        if (
            stored_adapter is not None
            and stored_adapter != getattr(self.adapter, "tag", "custom")
            and not self.allow_adapter_switch
        ):
            raise ValueError(
                f"store {self.store.root} was crawled with the "
                f"'{stored_adapter}' fetch adapter but this resume uses "
                f"'{getattr(self.adapter, 'tag', 'custom')}' — that would "
                "mix two corpora in one docs table. Pass "
                "allow_adapter_switch=True (run_crawl.py --force-adapter) "
                "to override deliberately."
            )
        if stored is None and self.store.exists("seen"):
            # a seeded store with no pinned config predates config
            # pinning: its schemas/shard layout are unverifiable, and a
            # resume could fast-append drifted deltas — hard error
            # rather than a silent mixed-schema chain
            raise ValueError(
                f"store {self.store.root} has state but no _crawl_config "
                "(predates config pinning); re-seed it, or write the "
                "original config with TableStore.write_config before "
                "resuming"
            )
        if stored is not None:
            # use_bloom/seen_filter are exempt: the filter tables are
            # DERIVED data and a round drops any version it did not
            # refresh from the manifest, so toggling the structure
            # cannot desync state. priority is exempt for the same
            # shape of reason: it orders future picks only — no state
            # table is keyed by it — and exempting it keeps
            # pre-priority stores resumable (their pinned config lacks
            # the field)
            exempt = ("use_bloom", "priority", "seen_filter")
            stored = {k: v for k, v in stored.items() if k not in exempt}
            given = {k: v for k, v in given.items() if k not in exempt}
            # migration: a store pinned before a config field existed
            # was crawled under that field's DEFAULT semantics, so
            # compare against the default rather than refusing the
            # resume (the robots_checked_round backfill pattern). A
            # non-default value for the new field still errors — the
            # store really was not crawled under it.
            from searchengine_spark.config import CrawlConfig as _CC

            for k, v in asdict(_CC()).items():
                if k not in exempt:
                    stored.setdefault(k, v)
        if stored is not None and stored != given:
            diff = {
                k: (stored.get(k), v)
                for k, v in given.items()
                if stored.get(k) != v
            }
            raise ValueError(
                f"store {self.store.root} was seeded with a different "
                f"CrawlConfig (stored vs given: {diff}); resume with the "
                "stored config (run_crawl.py --resume reloads it)"
            )

    def run(self, n_rounds: int, resume: bool = False) -> list[RoundStats]:
        if resume:
            self.check_config()
        start = self.last_round + 1 if resume else 0
        return [self.run_round(r) for r in range(start, start + n_rounds)]

    # -- outputs -----------------------------------------------------------------

    def fetch_log(self) -> DataFrame:
        return (
            self.store.read("docs", self._pinned_versions()["docs"])
            .select("round", "seq_in_round", "url", "host")
            .orderBy("round", "seq_in_round")
        )

    def seen_set(self) -> DataFrame:
        return (
            self.store.read("seen", self._pinned_versions()["seen"])
            .select("url_md5")
            .distinct()
        )
