"""The benchmark's workloads, session settings and result format.

perfbench/README.md says why each workload exists and what each metric
measures; perfbench/run.py is the command-line entry.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import time
import traceback
from pathlib import Path
from statistics import median

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

SETUP_REPS = 2  # set-up runs per process; setup_s reports their median
DRIVER_HEAP = "3g"  # the 15 GB host is shared and has no swap
# timed: ROADMAP item 2's worst regression and a heavy-chain win of the
# same spread_scan reader
CATALOG_LEAVES = ("graph_reach", "dedup_simhash")
# the traced run's probe pass adds the frontier, LM, sketch, mirror and
# similarity layers
PROBE_LEAVES = CATALOG_LEAVES + (
    "frontier_dedup", "lm_perplexity", "heavy_hitters", "mirror_hosts", "more_like_this"
)
PROBE_HOSTS = 300  # seed hosts of the traced run's probe crawl


def cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def session_conf(work: Path, trace: bool) -> dict[str, str]:
    """Fixed session settings (README.md, "Session")."""
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # compiler threads never exit, so measure.tree_cpu_s can leave
        # their CPU out
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.executorEnv.PYTHONPATH": str(ROOT),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    return conf


def start_session(work: Path, trace: bool):
    for sub in ("spark-local", "tmp", "eventlog"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # Python workers and the JVM inherit these
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    from searchengine_spark.session import get_spark

    k = cores()
    return get_spark(
        "perfbench", master=f"local[{k}]", shuffle_partitions=k,
        extra_conf=session_conf(work, trace),
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# -- crawl_wide ----------------------------------------------------------------


class CrawlWide:
    name = "crawl_wide"
    # untimed warm-up passes (JIT, codegen, Python workers), then timed
    # passes even when --seconds runs out first: each workload's count
    # outlasts run_seconds, so every run times the same number of ops (a
    # traced run times one, for its overhead figures)
    warmup_passes = 1
    min_passes = 1

    def __init__(self, spark, seed: int, work: Path, tracer):
        from searchengine_spark.config import CrawlConfig

        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.cfg = CrawlConfig(n_shards=16, per_shard_quota=100_000, max_doc=1_000_000)
        self.snapshot = work / "crawl-snapshot"
        self.store = work / "crawl-store"

    def build(self) -> None:
        """One set-up run: seed list from the seed, seeded into a fresh store."""
        from perfbench.inputs import crawl_seed_urls
        from searchengine_spark.plans.crawl import CrawlDriver

        self.urls = crawl_seed_urls(self.seed)
        shutil.rmtree(self.snapshot, ignore_errors=True)
        CrawlDriver(self.spark, str(self.snapshot), self.cfg).seed(self.urls)

    def expect(self) -> None:
        from searchengine_spark.oracle import simulator as sim

        state = sim.SimState()
        sim.seed(state, self.urls, self.cfg)
        self.want_stats = sim.run_round(state, 0, self.cfg)
        self.want_log = state.fetch_log
        self.want_seen = state.seen

    def run_pass(self, check: bool = True) -> list[dict]:
        from perfbench.measure import tree_cpu_s
        from searchengine_spark.plans.crawl import CrawlDriver

        shutil.rmtree(self.store, ignore_errors=True)
        shutil.copytree(self.snapshot, self.store)
        driver = CrawlDriver(self.spark, str(self.store), self.cfg)
        sample = {"epoch": time.time(), "ok": False, "pages": 0}
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            with self.tracer.span("op.crawl_round") as sp:
                st = driver.run_round(0)
        except Exception:  # a failed op is counted, not fatal
            traceback.print_exc()
            st = None
        sample.update(wall=time.perf_counter() - t0, cpu=tree_cpu_s() - c0, epoch_end=time.time())
        if st is not None:
            sample.update(span=sp, stats=st, pages=st.fetched_ok)
            sample["ok"] = self.check(driver, st) if check and hasattr(self, "want_stats") else None
            self.last_driver, self.last_sample = driver, sample
        return [sample]

    def check(self, driver, st) -> bool:
        got = {k: getattr(st, k) for k in self.want_stats if k != "round"}
        want = {k: v for k, v in self.want_stats.items() if k != "round"}
        log = [
            (r["round"], r["seq_in_round"], r["url"], r["host"])
            for r in driver.fetch_log().collect()
        ]
        seen = {r["url_md5"] for r in driver.seen_set().collect()}
        return got == want and log == self.want_log and seen == self.want_seen

    @staticmethod
    def summarize(samples: list[dict]) -> dict[str, float]:
        wall = median([s["wall"] for s in samples])
        return {
            "op_s": wall,
            "work_per_s": median([s["pages"] for s in samples]) / wall,
            "cpu_s_per_op": median([s["cpu"] for s in samples]),
        }


# -- catalog -------------------------------------------------------------------


class Catalog:
    name = "catalog"
    warmup_passes = 1
    min_passes = 3

    def __init__(self, spark, seed: int, work: Path, tracer):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.data = work / "catalog-data"
        self.order = list(CATALOG_LEAVES)
        random.Random(f"catalog-order:{seed}").shuffle(self.order)

    def build(self) -> None:
        from perfbench.inputs import write_catalog

        shutil.rmtree(self.data, ignore_errors=True)
        write_catalog(self.seed, str(self.data))

    def expect(self) -> None:
        import duckdb

        from searchengine_spark.queries import ORACLE_SQL
        from tools.check_correctness import norm_rows

        self.want = {}
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory='{self.work / 'tmp'}'; SET threads={cores()};")
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.data}/documents.parquet')"
            )
            for leaf in CATALOG_LEAVES:
                res = con.execute(ORACLE_SQL[leaf])
                self.want[leaf] = norm_rows([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()

    def run_leaf(self, leaf: str, check: bool = True) -> dict:
        from perfbench.measure import tree_cpu_s
        from searchengine_spark.queries import QUERIES
        from tools.check_correctness import norm_rows

        sample = {"leaf": leaf, "epoch": time.time(), "ok": False}
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            with self.tracer.span(f"op.{leaf}"):
                df = QUERIES[leaf](self.spark, str(self.data))
                rows = df.collect()
        except Exception:  # a failed op is counted, not fatal
            traceback.print_exc()
            df = None
        sample.update(wall=time.perf_counter() - t0, cpu=tree_cpu_s() - c0, epoch_end=time.time())
        if df is not None:
            sample["df"] = df
            if check and leaf in getattr(self, "want", {}):
                sample["ok"] = norm_rows(df.columns, [tuple(r) for r in rows]) == self.want[leaf]
        return sample

    def run_pass(self, check: bool = True) -> list[dict]:
        return [self.run_leaf(leaf, check) for leaf in self.order]

    @staticmethod
    def summarize(samples: list[dict]) -> dict[str, float]:
        leaves = sorted({s["leaf"] for s in samples})
        wall = sum(median([s["wall"] for s in samples if s["leaf"] == l]) for l in leaves)
        return {
            "op_s": wall,
            "work_per_s": len(leaves) / wall,
            "cpu_s_per_op": sum(
                median([s["cpu"] for s in samples if s["leaf"] == l]) for l in leaves
            ),
        }


WORKLOADS = {w.name: w for w in (CrawlWide, Catalog)}


def op_values(samples: list[dict], key: str) -> dict[str, list[float]]:
    """Timed `key` values (wall, cpu) by op name (a catalog leaf, or the
    crawl round)."""
    out: dict[str, list[float]] = {}
    for s in samples:
        out.setdefault(s.get("leaf", "crawl_round"), []).append(s[key])
    return out


# -- result --------------------------------------------------------------------


def end_to_end(workload, setup_s: float, samples) -> dict[str, float]:
    """setup_s and the workload's op summary (wall, work rate, CPU)."""
    return {"setup_s": setup_s, **workload.summarize(samples)}


def result_line(spec: dict, values: dict[str, float], trace: bool, attempted: int, failed: int) -> str:
    """The final JSON line: every metric of the run's kind, by name, with unit."""
    kind = "per_layer" if trace else "end_to_end"
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[kind]}
    return json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    })


