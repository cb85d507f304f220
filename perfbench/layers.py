"""Traced-run instruments: spans around the program's public calls,
layer probes, and the per-layer metric table.

Every traced run, of either workload, prints the same per-layer set:
engine counters of its own ops, plus one probe suite (the crawl layers
of a traced round, search over that crawl's store, and one pass over
the probe leaves) so that every layer is measured in every traced run.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import time
from pathlib import Path

from perfbench.measure import engine_window, read_event_log, union_length, wrapped

PROBE_QUERIES = {
    "word": "page",
    "two_words": "page body",
    "phrase": '"body of"',
    "prefix": "bod*",
    "unknown": "zzqxv",
}
_EXCHANGE = re.compile(r"Exchange (hash|range|Single|RoundRobin)|BroadcastExchange")


def traced_targets(tracer):
    """Span wrappers around the public calls the workloads and probes
    make (restored when the block exits)."""
    from searchengine_spark.plans.crawl import CrawlDriver
    from searchengine_spark.plans.index_pipeline import SearchService
    from searchengine_spark.sources.statestore import TableStore

    return wrapped(tracer, [
        (CrawlDriver, "run_round", "plans.crawl.run_round"),
        (CrawlDriver, "seed", "plans.crawl.seed"),
        (TableStore, "commit", "statestore.commit"),
        (TableStore, "read", "statestore.read"),
        (TableStore, "compact", "statestore.compact"),
        (TableStore, "commit_manifest", "statestore.commit_manifest"),
        (SearchService, "refresh", "index_pipeline.refresh"),
        (SearchService, "refresh_incremental", "index_pipeline.refresh_incremental"),
        (SearchService, "search", "index.search"),
        (SearchService, "search_anchors", "anchors.search_anchors"),
    ])


def _dir_bytes(path: Path) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _timed(fn):
    """(result, wall s, (epoch start, epoch end)) of fn()."""
    e0, t0 = time.time(), time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0, (e0, time.time())


def layer_probes(spark, workload, seed: int, work: Path, tracer) -> dict:
    """Run the probe suite; returns walls, counts and event-log windows.

    The crawl layers are read from a traced round: crawl_wide's last
    timed replay, or, in the catalog workload, one round of a small
    probe crawl. The frontier and seen operators are then forced one
    at a time on that round's own inputs (pre-round state, the fetched
    pages' outlinks)."""
    from pyspark.sql import functions as F

    from perfbench.inputs import crawl_seed_urls
    from perfbench.workloads import PROBE_HOSTS, PROBE_LEAVES, Catalog, CrawlWide
    from searchengine_spark.operators.frontier import (
        admit_host_caps,
        dedup_batch,
        normalize_candidates,
        schedule_round,
    )
    from searchengine_spark.operators.pagerank import edges_from_docs, pagerank
    from searchengine_spark.operators.seen import (
        bloom_prefilter,
        build_filter_blocks,
        dedup_seen_with_filter,
        filter_table_name,
        merge_filter_blocks,
    )
    from searchengine_spark.plans.crawl import CrawlDriver
    from searchengine_spark.plans.index_pipeline import PAGERANK_ITERS, SearchService
    from searchengine_spark.sources.statestore import TableStore

    out: dict = {"windows": {}}
    root = work / "probe"
    shutil.rmtree(root, ignore_errors=True)
    if isinstance(workload, CrawlWide):
        cfg, d, last = workload.cfg, workload.last_driver, workload.last_sample
        pinned = TableStore(spark, str(workload.snapshot)).read_manifest()["versions"]
        store_dir = workload.store
        out["statestore.write_mb_per_round"] = (
            _dir_bytes(store_dir) - _dir_bytes(workload.snapshot)
        ) / 1e6
    else:
        cfg = CrawlWide(spark, seed, root, tracer).cfg
        store_dir = root / "crawl"
        d = CrawlDriver(spark, str(store_dir), cfg)
        d.seed(crawl_seed_urls(seed, n_hosts=PROBE_HOSTS))
        pinned = d.store.read_manifest()["versions"]
        before = _dir_bytes(store_dir)
        e0, t0 = time.time(), time.perf_counter()
        with tracer.span("probe.crawl_round") as sp:
            st = d.run_round(0)
        last = {"span": sp, "wall": time.perf_counter() - t0, "epoch": e0,
                "epoch_end": time.time(), "stats": st}
        out["statestore.write_mb_per_round"] = (_dir_bytes(store_dir) - before) / 1e6

    # -- plans.crawl / sources.statestore: spans inside the traced round
    rsp, st = last["span"], last["stats"]
    out["crawl.round_s"] = last["wall"]
    out["windows"]["round"] = (last["epoch"], last["epoch_end"])
    commits = tracer.named("statestore.commit", within=rsp)
    out["statestore.commits_per_round"] = len(commits)
    out["statestore.commit_busy_s"] = sum(s.end - s.start for s in commits)
    out["statestore.commit_union_s"] = union_length((s.start, s.end) for s in commits)
    out["statestore.commit_manifest_s"] = sum(
        s.end - s.start for s in tracer.named("statestore.commit_manifest", within=rsp)
    )
    out["statestore.read_s"] = sum(
        s.end - s.start for s in tracer.named("statestore.read", within=rsp)
    )
    out["crawl.round_self_s"] = tracer.self_time(tracer.named("plans.crawl.run_round", within=rsp)[0])
    out["frontier.admitted_per_candidate"] = st.admitted / max(st.candidates, 1)
    out["frontier.new_per_candidate"] = st.new_urls / max(st.candidates, 1)

    # -- operators.frontier / operators.seen, each forced alone
    links = F.transform(F.filter("spans", lambda s: s["kind"] == "link"), lambda s: s["media_ref"])
    raw = d.store.read("docs").select(F.explode(links).alias("raw_url")).cache()
    n_raw = raw.count()
    cand = normalize_candidates(raw, cfg).cache()
    n_cand, out["frontier.normalize_s"], _ = _timed(cand.count)
    out["frontier.normalize_urls_per_s"] = n_raw / out["frontier.normalize_s"]
    hosts0 = d.store.read("hosts", pinned["hosts"])
    remaining = hosts0.select(
        "host", (F.lit(cfg.max_urls_per_host) - F.col("url_count")).alias("_rem")
    )
    admitted = admit_host_caps(cand, remaining, cfg.max_urls_per_host, n_candidates=n_cand).cache()
    _, out["frontier.admit_host_caps_s"], _ = _timed(admitted.count)
    deduped = dedup_batch(admitted).cache()
    n_dd, out["frontier.dedup_batch_s"], _ = _timed(deduped.count)
    frontier0 = d.store.read("frontier", pinned["frontier"]).drop("storage_bucket")
    _, out["frontier.schedule_round_s"], _ = _timed(
        schedule_round(frontier0, hosts0.select("host", "next_allowed_round"), 0, cfg).count
    )
    seen0 = d.store.read("seen", pinned["seen"])
    ftab = filter_table_name(cfg)
    blocks0 = d.store.read(ftab, pinned[ftab])
    _, out["seen.dedup_seen_with_filter_s"], _ = _timed(
        dedup_seen_with_filter(spark, deduped, seen0, blocks0, cfg).count
    )
    false_pos = (
        bloom_prefilter(spark, deduped, blocks0, cfg)
        .where("maybe_seen")
        .join(seen0.select("url_md5"), "url_md5", "left_anti")
        .count()
    )
    out["seen.filter_fp_per_probe"] = false_pos / max(n_dd, 1)
    _, out["seen.build_filter_blocks_s"], _ = _timed(build_filter_blocks(seen0, cfg).count)
    delta = build_filter_blocks(deduped.select("url_md5", "shard"), cfg)
    _, out["seen.merge_filter_blocks_s"], _ = _timed(
        merge_filter_blocks(blocks0, delta, cfg).count
    )
    for df in (raw, cand, admitted, deduped):
        df.unpersist()

    # -- plans.index_pipeline / operators.index, anchors, pagerank over
    # the crawled store
    svc = SearchService(d.store, incremental=True)
    _, out["index_pipeline.refresh_incremental_s"], _ = _timed(svc.refresh_incremental)
    for kind, q in PROBE_QUERIES.items():
        _, out[f"index.query_s.{kind}"], out["windows"][f"query.{kind}"] = _timed(
            svc.search(q, 10).collect
        )
    _, out["anchors.search_anchors_s"], _ = _timed(
        svc.search_anchors(PROBE_QUERIES["word"], 10).collect
    )
    docs = d.store.read("docs")
    nodes = docs.select(F.col("url_md5").alias("node")).distinct()
    _, out["pagerank.probe_s"], _ = _timed(
        pagerank(edges_from_docs(docs), nodes, n_iter=PAGERANK_ITERS).count
    )
    _, out["index_pipeline.refresh_s"], _ = _timed(SearchService(d.store).refresh)

    # -- queries (+ dedup, sketches, lm, mirrors, similarity, spread_scan)
    leaves = workload if isinstance(workload, Catalog) else Catalog(spark, seed, root, tracer)
    if leaves is not workload:
        leaves.build()
    out["leaf_samples"] = [leaves.run_leaf(leaf) for leaf in PROBE_LEAVES]
    for sample in out["leaf_samples"]:
        plan = sample.pop("df")._jdf.queryExecution().executedPlan().toString()
        sample["exchanges"] = len(_EXCHANGE.findall(plan))
    return out


def per_layer(spec, workload, samples, values, layer, health, tracer, work: Path) -> dict:
    """Assemble every per-layer metric named in BENCHMARK.json."""
    from perfbench.workloads import CATALOG_LEAVES

    logs = [p for p in (work / "eventlog").iterdir() if p.is_file()]
    jobs, stages = read_event_log(str(logs[0]))
    m: dict[str, float] = {}

    # engine counters per op: a replayed round, or a catalog pass
    per = len(CATALOG_LEAVES) if workload.name == "catalog" else 1
    ops = [samples[i:i + per] for i in range(0, len(samples), per)]
    rows = []
    for op in ops:
        e = engine_window(jobs, stages, op[0]["epoch"], op[-1]["epoch_end"])
        e["driver_only_s"] = sum(s["wall"] for s in op) - e["stage_union_s"]
        rows.append(e)
    for key in ("jobs", "stages", "tasks", "stage_union_s", "driver_only_s",
                "executor_run_s", "executor_cpu_s", "gc_s",
                "shuffle_read_mb", "shuffle_write_mb"):
        m[f"engine.{key}_per_op"] = statistics.median(r[key] for r in rows)

    win = layer["windows"]
    rnd = engine_window(jobs, stages, *win["round"])
    m["crawl.round_jobs"] = rnd["jobs"]
    m["crawl.round_stages"] = rnd["stages"]
    m["crawl.round_tasks"] = rnd["tasks"]
    m["crawl.driver_only_s"] = layer["crawl.round_s"] - rnd["stage_union_s"]
    for kind in PROBE_QUERIES:
        m[f"index.query_jobs.{kind}"] = engine_window(jobs, stages, *win[f"query.{kind}"])["jobs"]
    for k, v in layer.items():
        if k not in ("windows", "leaf_samples"):
            m[k] = v
    for s in layer["leaf_samples"]:
        m[f"queries.{s['leaf']}_s"] = s["wall"]
        m[f"queries.{s['leaf']}_exchanges"] = s["exchanges"]
    for k, v in values.items():
        if k != "setup_s":
            m[f"traced.{k}"] = v
    for when, h in health.items():
        for k, v in h.items():
            m[f"host.{when}.{k}"] = v
    missing = [p["name"] for p in spec["per_layer"] if p["name"] not in m]
    if missing:
        raise KeyError(f"per-layer metrics not measured: {missing}")
    return m
