"""Crawl-ordering + URL-seen-set equality: the Spark engine's fetch log
and final seen set must equal the single-threaded oracle simulator
byte-for-byte under the same seed list + politeness budget
(north_rule; SURVEY.md §5.2)."""

import pytest

from searchengine_spark.config import CrawlConfig
from searchengine_spark.corpus import raw_url_py
from searchengine_spark.oracle import simulator as sim
from searchengine_spark.plans.crawl import CrawlDriver

CFG = CrawlConfig(
    n_shards=4,
    per_shard_quota=6,
    politeness_rounds=2,
    max_urls_per_host=5,  # small cap so admission logic is exercised
    max_doc=160,
    use_bloom=True,
)
SEEDS = [raw_url_py(i) for i in range(48)]
N_ROUNDS = 4


@pytest.fixture(scope="module")
def engine_state(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("crawlstore"))
    driver = CrawlDriver(spark, root, CFG)
    driver.seed(SEEDS)
    stats = driver.run(N_ROUNDS)
    return driver, stats


@pytest.fixture(scope="module")
def oracle_state():
    return sim.simulate(SEEDS, N_ROUNDS, CFG)


def test_fetch_log_equality(engine_state, oracle_state):
    driver, _ = engine_state
    got = [
        (r["round"], r["seq_in_round"], r["url"], r["host"])
        for r in driver.fetch_log().collect()
    ]
    assert got == oracle_state.fetch_log


def test_seen_set_equality(engine_state, oracle_state):
    driver, _ = engine_state
    got = {r["url_md5"] for r in driver.seen_set().collect()}
    assert got == oracle_state.seen


def test_round_stats_match(engine_state, oracle_state):
    _, stats = engine_state
    o = sim.SimState()
    sim.seed(o, SEEDS, CFG)
    for r, st in enumerate(stats):
        expect = sim.run_round(o, r, CFG)
        assert st.scheduled == expect["scheduled"], r
        assert st.fetched_ok == expect["fetched_ok"], r
        assert st.fetch_failed == expect["fetch_failed"], r
        assert st.candidates == expect["candidates"], r
        assert st.admitted == expect["admitted"], r
        assert st.new_urls == expect["new_urls"], r
        # the cap binds in this config: admitted must be a REAL count,
        # not an alias of candidates (round-2 verdict wrong-#5)
        assert st.admitted <= st.candidates, r


def test_politeness_gap(engine_state):
    """No host is fetched twice within politeness_rounds rounds."""
    driver, _ = engine_state
    fetches = {}
    for r in driver.fetch_log().collect():
        fetches.setdefault(r["host"], []).append(r["round"])
    for host, rounds in fetches.items():
        for a, b in zip(rounds, rounds[1:]):
            assert b - a >= CFG.politeness_rounds, (host, rounds)


def test_frontier_conservation(engine_state, oracle_state):
    """discovered = fetched + pending (seen = docs ∪ frontier keys)."""
    driver, _ = engine_state
    seen = {r["url_md5"] for r in driver.seen_set().collect()}
    docs = {r["url_md5"] for r in driver.store.read("docs").select("url_md5").collect()}
    pending = {
        r["url_md5"] for r in driver.store.read("frontier").select("url_md5").collect()
    }
    assert docs | pending == seen
    assert docs == {m for m, *_ in oracle_state.docs}


def test_resume_from_snapshot(spark, tmp_path_factory, oracle_state):
    """Kill after round k, resume, final state equals uninterrupted run."""
    root = str(tmp_path_factory.mktemp("resumestore"))
    d1 = CrawlDriver(spark, root, CFG)
    d1.seed(SEEDS)
    d1.run(2)
    # simulate process restart: brand-new driver over the same store
    d2 = CrawlDriver(spark, root, CFG)
    assert d2.last_round == 1
    d2.run(N_ROUNDS - 2, resume=True)
    got = [
        (r["round"], r["seq_in_round"], r["url"], r["host"])
        for r in d2.fetch_log().collect()
    ]
    assert got == oracle_state.fetch_log
    assert {r["url_md5"] for r in d2.seen_set().collect()} == oracle_state.seen


def test_docs_compaction_inside_round_transaction(spark, tmp_path_factory, monkeypatch, oracle_state):
    """With a tiny compaction threshold, the docs chain folds mid-run
    and the manifest pins the compacted version — the crawl stays
    byte-equal to the oracle and the chain length stays bounded."""
    import searchengine_spark.plans.crawl as C

    monkeypatch.setattr(C, "COMPACT_CHAIN", 2)
    root = str(tmp_path_factory.mktemp("compactstore"))
    d = CrawlDriver(spark, root, CFG)
    d.seed(SEEDS)
    d.run(N_ROUNDS)
    m = d.store.read_manifest()
    assert d.store.chain_length("docs", m["versions"]["docs"]) <= 2
    got = [
        (r["round"], r["seq_in_round"], r["url"], r["host"])
        for r in d.fetch_log().collect()
    ]
    assert got == oracle_state.fetch_log


def test_resume_rejects_config_drift(spark, tmp_path_factory):
    """Shard/bloom geometry is baked into the persisted state: resuming
    under a different config must fail loudly instead of silently
    re-admitting seen URLs (caught live in round-3 verification when a
    --resume fell back to CLI-default n_shards)."""
    import dataclasses

    root = str(tmp_path_factory.mktemp("driftstore"))
    d1 = CrawlDriver(spark, root, CFG)
    d1.seed(SEEDS)
    d1.run(1)
    drifted = dataclasses.replace(CFG, n_shards=CFG.n_shards * 2)
    with pytest.raises(ValueError, match="different"):
        CrawlDriver(spark, root, drifted).run(1, resume=True)
    # use_bloom is exempt (derived data) — toggling must NOT raise
    no_bloom = dataclasses.replace(CFG, use_bloom=False)
    CrawlDriver(spark, root, no_bloom).check_config()


def test_bloom_toggle_keeps_dedup_exact(spark, tmp_path_factory, oracle_state):
    """Rounds run with bloom off must not leave a stale bitmap version
    in the manifest: re-enabling bloom later has to rebuild from the
    pinned seen set, keeping the crawl byte-equal to the oracle
    (round-2 ADVICE finding)."""
    import dataclasses

    root = str(tmp_path_factory.mktemp("togglestore"))
    d1 = CrawlDriver(spark, root, CFG)
    d1.seed(SEEDS)
    d1.run(2)
    no_bloom = dataclasses.replace(CFG, use_bloom=False)
    CrawlDriver(spark, root, no_bloom).run(1, resume=True)
    assert "bloom" not in CrawlDriver(spark, root, CFG)._pinned_versions()
    d3 = CrawlDriver(spark, root, CFG)
    d3.run(N_ROUNDS - 3, resume=True)
    got = [
        (r["round"], r["seq_in_round"], r["url"], r["host"])
        for r in d3.fetch_log().collect()
    ]
    assert got == oracle_state.fetch_log
    assert {r["url_md5"] for r in d3.seen_set().collect()} == oracle_state.seen


def test_incremental_bloom_equals_full_rebuild(engine_state):
    """The OR-merged per-round bloom blocks must equal a from-scratch
    build over the final seen set (bloom stays a sound prefilter)."""
    from searchengine_spark.operators.seen import build_bloom_blocks

    driver, _ = engine_state
    got = {
        r["shard"]: bytes(r["bitmap"])
        for r in driver.store.read("bloom").collect()
    }
    want = {
        r["shard"]: bytes(r["bitmap"])
        for r in build_bloom_blocks(driver.store.read("seen"), CFG).collect()
    }
    assert got == want


def test_frontier_snapshot_one_file_per_bucket(engine_state):
    """A round's frontier commit clusters rows by storage bucket: the
    pinned snapshot holds at most one parquet file per bucket dir, not
    one per input split per bucket."""
    import glob
    import os

    driver, _ = engine_state
    version = driver.store.read_manifest()["versions"]["frontier"]
    snap = driver.store.snapshot_path("frontier", version)
    buckets = glob.glob(os.path.join(snap, "storage_bucket=*"))
    assert buckets
    for b in buckets:
        assert len(glob.glob(os.path.join(b, "*.parquet"))) <= 1, b


def test_content_type_gate(spark):
    """P8 (httpDownload.h:12-14,48-63): only text/html / html survive."""
    from pyspark.sql import functions as F

    from searchengine_spark.plans.crawl import content_type_allowed

    df = spark.createDataFrame(
        [("text/html; charset=utf-8",), ("HTML",), ("Text/Html",),
         ("application/pdf",), ("image/png",), ("text/plain",)],
        "ct string",
    )
    kept = [r["ct"] for r in df.where(content_type_allowed(F.col("ct"))).collect()]
    assert kept == ["text/html; charset=utf-8", "HTML", "Text/Html"]


def test_torn_round_commit_is_invisible(spark, tmp_path_factory, oracle_state):
    """Crash mid-commit: some tables' pointers advanced for round 2 but
    the round manifest was never written. Resume must re-run round 2
    against the manifest-pinned state — the orphan snapshots (including
    would-be-duplicate docs rows) are unreachable, and the final fetch
    log still equals the uninterrupted oracle byte-for-byte."""
    from pyspark.sql import functions as F

    root = str(tmp_path_factory.mktemp("tornstore"))
    d1 = CrawlDriver(spark, root, CFG)
    d1.seed(SEEDS)
    d1.run(2)
    store, pinned = d1.store, d1._pinned_versions()
    # simulate the torn round-2 attempt: docs appended (duplicate rows!)
    # and frontier advanced, process dies before commit_manifest
    orphan_docs = store.read("docs", pinned["docs"]).limit(3).withColumn(
        "round", F.lit(2)
    )
    store.commit("docs", orphan_docs, mode="append", meta={"round": 2})
    store.commit(
        "frontier",
        store.read("frontier", pinned["frontier"]).limit(1),
        meta={"round": 2},
    )
    # restart: the manifest still says round 1
    d2 = CrawlDriver(spark, root, CFG)
    assert d2.last_round == 1
    d2.run(N_ROUNDS - 2, resume=True)
    got = [
        (r["round"], r["seq_in_round"], r["url"], r["host"])
        for r in d2.fetch_log().collect()
    ]
    assert got == oracle_state.fetch_log
    assert {r["url_md5"] for r in d2.seen_set().collect()} == oracle_state.seen


def test_host_ip_resolved_once_and_reused(spark, tmp_path_factory):
    """S7 DNS-cache semantics (SearchEngine.cpp:577-601, KKSocket.hpp:
    126-134): a host's address is resolved on first contact, persisted
    on the hosts dim, and REUSED on every later round — never
    re-resolved. The sandbox resolver is the deterministic pseudo-IP
    expr; the production fetch adapter writes real answers through the
    same column and the same coalesce-keeps-existing merge."""
    import re

    from pyspark.sql import functions as F

    root = str(tmp_path_factory.mktemp("ipstore"))
    d = CrawlDriver(spark, root, CFG)
    d.seed(SEEDS)
    d.run(2)

    def hosts_ips(drv):
        tbl = drv.store.read("hosts", drv._pinned_versions()["hosts"])
        return {r["host"]: r["ip"] for r in tbl.select("host", "ip").collect()}

    ips_r2 = hosts_ips(d)
    assert ips_r2, "hosts table is empty"
    ipv4 = re.compile(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$")
    for host, ip in ips_r2.items():
        assert ip is not None and ipv4.match(ip), (host, ip)
        assert all(0 <= int(o) <= 255 for o in ip.split(".")), (host, ip)
    # reuse: two more rounds touch/extend the dim; every already-known
    # host keeps its byte-identical first-contact answer
    d.run(2, resume=True)
    ips_r4 = hosts_ips(d)
    assert set(ips_r2) <= set(ips_r4)
    for host, ip in ips_r2.items():
        assert ips_r4[host] == ip, host


def test_resume_requires_pinned_config(spark, tmp_path_factory):
    """A store with state but no _crawl_config (predates config
    pinning) must hard-error on resume instead of fast-appending
    deltas whose schema/shard layout can't be verified."""
    import os

    root = str(tmp_path_factory.mktemp("noconfstore"))
    d1 = CrawlDriver(spark, root, CFG)
    d1.seed(SEEDS)
    d1.run(1)
    os.remove(os.path.join(root, "_crawl_config"))
    d2 = CrawlDriver(spark, root, CFG)
    with pytest.raises(ValueError, match="no _crawl_config"):
        d2.run(1, resume=True)


def test_resume_refuses_adapter_switch(spark, tmp_path_factory):
    """The fetch adapter's tag is pinned to the store at seed time: a
    store crawled synthetically must refuse a resume over real HTTP
    (and vice versa) — two adapters mean two corpora, and silently
    mixing them in one docs table is almost always a mistake. An
    explicit allow_adapter_switch=True (run_crawl.py --force-adapter)
    overrides."""
    from searchengine_spark.plans.crawl import SyntheticFetchAdapter

    class _FakeHttpAdapter(SyntheticFetchAdapter):
        tag = "http"

    root = str(tmp_path_factory.mktemp("adapterstore"))
    d = CrawlDriver(spark, root, CFG)
    d.seed(SEEDS[:8])
    # same adapter: the resume config check passes
    CrawlDriver(spark, root, CFG).check_config()
    mixed = CrawlDriver(spark, root, CFG, adapter=_FakeHttpAdapter())
    with pytest.raises(ValueError, match="fetch adapter"):
        mixed.check_config()
    CrawlDriver(
        spark, root, CFG, adapter=_FakeHttpAdapter(), allow_adapter_switch=True
    ).check_config()


# one crawl round fires exactly 47 jobs today (counts actions, AQE
# shuffle-stage materializations, parquet commits and footer reads);
# the pin has a little headroom for benign AQE variation but fails on
# any new driver-side action sneaking onto the round path
ROUND_JOBS_MAX = 50


def test_round_job_count_bounded(spark, tmp_path_factory):
    """The per-round serial residual is driver-side job orchestration
    (BENCH/BASELINE.md's Amdahl note): the number of Spark jobs a round
    fires must stay FIXED — independent of data volume and round number
    — and small. Pins the count so an accidental extra action (a stray
    count()/collect() on the round path, the scale-killer class of
    regression) fails loudly instead of silently capping scaling
    efficiency."""
    root = str(tmp_path_factory.mktemp("jobstore"))
    d = CrawlDriver(spark, root, CFG)
    d.seed(SEEDS)
    sc = spark.sparkContext

    def jobs_for_round(r: int) -> int:
        group = f"round_jobs_{r}"
        sc.setJobGroup(group, "job-count pin")
        try:
            d.run_round(r)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    n0 = jobs_for_round(0)
    n1 = jobs_for_round(1)  # steady state: bloom read + append chains
    assert n0 <= ROUND_JOBS_MAX, f"round 0 fired {n0} jobs"
    assert n1 <= ROUND_JOBS_MAX, f"round 1 fired {n1} jobs"
    # volume-independence: the steady-state round must not fire more
    # jobs than the first (more data may not mean more driver actions)
    assert n1 <= n0 + 2, (n0, n1)


def test_resume_backfills_pre_ttl_hosts_schema(spark, tmp_path_factory):
    """A store persisted before the robots-TTL round lacks
    hosts.robots_checked_round; resuming it must backfill the column
    (checked-at-round-0, what a fresh seed writes) instead of failing
    on an unresolved column, and the next hosts commit persists the
    migrated schema."""
    root = str(tmp_path_factory.mktemp("oldhosts"))
    d = CrawlDriver(spark, root, CFG)
    d.seed(SEEDS[:8])
    # rewrite the hosts snapshot without the column, as round-4 code
    # left it, and repoint the manifest at the old-schema version
    m = d.store.read_manifest()
    old = d.store.read("hosts", m["versions"]["hosts"]).drop(
        "robots_checked_round"
    )
    versions = dict(m["versions"])
    versions["hosts"] = d.store.commit("hosts", old, meta={"round": -1})
    d.store.commit_manifest(m["round"], versions)

    d2 = CrawlDriver(spark, root, CFG)
    stats = d2.run(1, resume=True)
    assert stats[0].scheduled > 0
    migrated = d2.store.read("hosts", d2.store.read_manifest()["versions"]["hosts"])
    assert "robots_checked_round" in migrated.columns


def test_robots_blocked_expr_multi_prefix(spark):
    """The cached-state gate blocks a path matching ANY disallow
    prefix of an HTTP-learned multi-prefix state, and stays equal to
    the old single-startswith form on single-prefix (synthetic
    grammar) states."""
    import pyspark.sql.functions as F

    from searchengine_spark.plans.crawl import robots_blocked_expr

    rows = [
        ("/private/a", "disallow:/private|/tmp/", True),
        ("/tmp/x", "disallow:/private|/tmp/", True),
        ("/public", "disallow:/private|/tmp/", False),
        ("/x/1", "disallow:/x/", True),   # single prefix unchanged
        ("/y/1", "disallow:/x/", False),
        ("/anything", "deny", True),
        ("/anything", "allow", False),
        ("/anything", None, False),       # host not yet contacted
    ]
    df = spark.createDataFrame(
        [(p, s) for p, s, _ in rows], "path string, robots_state string"
    )
    got = [
        r["b"]
        for r in df.select(
            robots_blocked_expr(F.col("path"), F.col("robots_state")).alias("b")
        ).collect()
    ]
    assert got == [want for _, _, want in rows]


def test_robots_blocked_expr_rules_states(spark):
    """The 'rules:' branch of the cached-state gate (Allow + Disallow,
    longest-match-wins, Allow wins ties — RFC 9309 §2.2.2) is
    row-equal to the pure-python twin corpus.robots_rules_blocked_py
    over every state form, including the legacy ones."""
    import pyspark.sql.functions as F

    from searchengine_spark.corpus import robots_rules_blocked_py
    from searchengine_spark.plans.crawl import robots_blocked_expr

    states = [
        None, "allow", "deny",
        "disallow:/x/", "disallow:/private|/tmp/",
        "rules:-/|+/public/|+/pub",
        "rules:-/a|+/a",                 # equal-length tie -> allow
        "rules:-/x",                     # rules with no allow match
        "rules:+/only",                  # degenerate allow-only rules
    ]
    paths = ["/", "/public/x", "/pubz", "/private/a", "/tmp/q", "/a/x",
             "/x/1", "/y", "/only/z", ""]
    rows = [(p, s) for s in states for p in paths]
    df = spark.createDataFrame(rows, "path string, robots_state string")
    got = [
        r["b"]
        for r in df.select(
            robots_blocked_expr(F.col("path"), F.col("robots_state")).alias("b")
        ).collect()
    ]
    want = [robots_rules_blocked_py(s, p) for p, s in rows]
    assert got == want


def test_resume_backfills_pre_crawl_delay_hosts_schema(spark, tmp_path_factory):
    """A store persisted before Crawl-delay support lacks
    hosts.crawl_delay; resuming must backfill it as 0 (global
    politeness only — what a fresh seed writes) and the next hosts
    commit persists the migrated schema. Same migration pattern as
    robots_checked_round."""
    root = str(tmp_path_factory.mktemp("predelayhosts"))
    d = CrawlDriver(spark, root, CFG)
    d.seed(SEEDS[:8])
    m = d.store.read_manifest()
    old = d.store.read("hosts", m["versions"]["hosts"]).drop("crawl_delay")
    versions = dict(m["versions"])
    versions["hosts"] = d.store.commit("hosts", old, meta={"round": -1})
    d.store.commit_manifest(m["round"], versions)

    d2 = CrawlDriver(spark, root, CFG)
    stats = d2.run(1, resume=True)
    assert stats[0].scheduled > 0
    migrated = d2.store.read(
        "hosts", d2.store.read_manifest()["versions"]["hosts"]
    )
    assert "crawl_delay" in migrated.columns
    assert all(r["crawl_delay"] == 0 for r in migrated.collect())


def test_schedule_priority_depth_first(spark):
    """The priority frontier (north-star 'priority frontier queue'):
    a depth priority OVERRIDES discovery order at the per-host pick,
    the per-shard quota and the global seq, while priority=None stays
    byte-identical to the FIFO contract."""
    from pyspark.sql import functions as F

    from searchengine_spark.functions.hashes import hash60_py, md5_py
    from searchengine_spark.operators.frontier import (
        priority_depth_expr,
        schedule_round,
    )

    urls = [
        # host, url, discovered_round
        ("h1.com", "h1.com/a/b/c", 0),   # deep, discovered first
        ("h1.com", "h1.com/a", 1),       # shallow, discovered later
        ("h2.com", "h2.com/x/y", 0),
        ("h2.com", "h2.com/z", 0),
    ]
    rows = [
        (u, md5_py(u), h, int(hash60_py(u) % 4), r) for h, u, r in urls
    ]
    frontier = spark.createDataFrame(
        rows,
        "url string, url_md5 string, host string, shard int, "
        "discovered_round int",
    )
    hosts = spark.createDataFrame(
        [("h1.com", 0), ("h2.com", 0)], "host string, next_allowed_round int"
    )
    cfg = CrawlConfig(n_shards=4, per_shard_quota=8)

    fifo = schedule_round(frontier, hosts, 0, cfg).collect()
    assert {r["url"] for r in fifo} == {"h1.com/a/b/c", "h2.com/z"} or {
        r["url"] for r in fifo
    } == {"h1.com/a/b/c", "h2.com/x/y"}  # md5 tiebreak within round 0

    prio = schedule_round(
        frontier, hosts, 0, cfg, priority=priority_depth_expr(F.col("url"))
    ).collect()
    by_url = {r["url"]: r for r in prio}
    # h1: the shallow later-discovered URL wins under depth priority
    assert "h1.com/a" in by_url and "h1.com/a/b/c" not in by_url
    # h2: depth 1 beats depth 2
    assert "h2.com/z" in by_url and "h2.com/x/y" not in by_url
    # global seq orders by (priority, discovered_round, url_md5) and
    # the helper column does not leak into the output
    ordered = sorted(prio, key=lambda r: r["seq_in_round"])
    keys = [
        (r["url"].count("/"), r["discovered_round"], r["url_md5"])
        for r in ordered
    ]
    assert keys == sorted(keys)
    assert "_prio" not in prio[0].asDict()
    # schema identical to the fifo form
    assert [f for f in by_url[next(iter(by_url))].asDict()] == [
        f for f in fifo[0].asDict()
    ]


def test_crawl_depth_priority_end_to_end(spark, tmp_path_factory):
    """cfg.priority='depth' runs a full crawl (same admission, seen
    and politeness machinery) and stays resumable; the pick-order knob
    is config-exempt so a fifo-seeded store resumes under depth."""
    root = str(tmp_path_factory.mktemp("prio"))
    d = CrawlDriver(spark, root, CFG)
    d.seed(SEEDS[:16])
    d.run(1)
    d2 = CrawlDriver(
        spark, root, CrawlConfig(**{**CFG.__dict__, "priority": "depth"})
    )
    # politeness_rounds=2 blocks round-0 hosts through round 1; by
    # round 2 the depth-priority scheduler must be picking again
    stats = d2.run(2, resume=True)
    assert sum(s.scheduled for s in stats) > 0


def test_robots_blocked_expr_wildcard_rules(spark):
    """RFC 9309 §2.2.3 wildcards: '*' spans any octets, trailing '$'
    anchors at path end; plain-prefix behavior unchanged. Expr is
    row-equal to the pure twin over a wildcard-heavy cross product,
    in both the 'disallow:' and precedence-bearing 'rules:' forms."""
    import pyspark.sql.functions as F

    from searchengine_spark.corpus import robots_rules_blocked_py
    from searchengine_spark.plans.crawl import robots_blocked_expr

    states = [
        "disallow:/*.pdf$",
        "disallow:/*.php$|/admin",
        "disallow:/pub/*/draft",
        "rules:-/*.pdf$|+/pub/",
        "rules:-/|+/*.html$",
        "rules:-/cgi*|+/cgi-static",
        "disallow:/p?q=(x)",        # regex specials stay literal
        "disallow:/end$",
    ]
    paths = [
        "/a/b.pdf", "/a/b.pdfx", "/a.pdf.html", "/pub/doc.pdf",
        "/pub/a.txt", "/pub/x/draft", "/pub/x/drafty", "/x/y.php",
        "/index.html", "/cgi-bin/q", "/cgi-static/ok", "/p?q=(x)y",
        "/pXq=(x)", "/end", "/end/", "",
    ]
    rows = [(p, s) for s in states for p in paths]
    df = spark.createDataFrame(rows, "path string, robots_state string")
    got = [
        r["b"]
        for r in df.select(
            robots_blocked_expr(F.col("path"), F.col("robots_state")).alias("b")
        ).collect()
    ]
    want = [robots_rules_blocked_py(s, p) for p, s in rows]
    assert got == want
