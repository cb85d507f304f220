#!/usr/bin/env python3
"""The repository benchmark: replayed crawl rounds and a warm catalog pass.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 5 --trace 0

Workloads (closed loop, one client thread, one process, local[k] with
k = min(4, nproc)):

- crawl_wide: the seed list is built from --seed; set-up seeds a store
  with CrawlDriver.seed. Each op restores that snapshot (untimed copy)
  and runs CrawlDriver.run_round(0), so every sample is the same round.
- catalog: an sf0.1-sized documents table is built from --seed;
  each op runs one catalog leaf (queries.QUERIES) and collects it. A
  pass runs every leaf once, in a seed-permuted order.

Every op's output is checked outside the timed window: crawl rounds
against oracle/simulator.py, catalog leaves against their DuckDB twins.
The last stdout line is the JSON result; --trace 1 prints the
per-layer metrics instead (Spark event log, spans around public calls,
layer probes). perfbench/README.md documents every metric.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main(argv=None) -> int:
    from perfbench import workloads as W
    from perfbench.measure import RssSampler, Tracer, cpu_ticks, host_health

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / "searchengine_spark" / "__init__.py").is_file() or not spec_path.is_file():
        print(f"perfbench: no searchengine_spark package or BENCHMARK.json under {ROOT}",
              file=sys.stderr)
        return 2
    spec = json.loads(spec_path.read_text())
    trace = bool(args.trace)

    work = W.WORK / f"{args.workload}-{args.seed}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    health = {"start": host_health(W.cores())}
    ticks0 = cpu_ticks()
    tracer = Tracer(enabled=trace)
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = W.start_session(work, trace)
        try:
            session_s = time.perf_counter() - t0
            workload = W.WORKLOADS[args.workload](spark, args.seed, work, tracer)
            reps = []
            for _ in range(W.SETUP_REPS):
                t = time.perf_counter()
                workload.build()
                reps.append(time.perf_counter() - t)
            workload.expect()  # untimed: the oracle's answers for the checks
            t = time.perf_counter()
            for _ in range(workload.warmup_passes):
                workload.run_pass(check=False)  # checks stay out of setup_s
            setup_s = session_s + statistics.median(reps) + time.perf_counter() - t

            from perfbench.layers import layer_probes, traced_targets

            samples, passes = [], 0
            with traced_targets(tracer) if trace else contextlib.nullcontext():
                t_loop = time.perf_counter()
                min_passes = 1 if trace else workload.min_passes
                while passes < min_passes or time.perf_counter() - t_loop < args.seconds:
                    samples += workload.run_pass()
                    passes += 1
                values = W.end_to_end(workload, setup_s, samples)
                if trace:
                    layer = layer_probes(spark, workload, args.seed, work, tracer)
        finally:
            W.stop_session(spark)
    values["rss_peak_gb"] = rss.peak / 1e9
    failed = sum(1 for s in samples if not s["ok"])
    ticks1 = cpu_ticks()
    health["run"] = {"steal_share": (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)}
    health["end"] = host_health(W.cores())
    # wall-clock figures ride on this line, ungated (README.md, "Steadiness")
    print(json.dumps({"workload": args.workload, "seed": args.seed, "passes": passes,
                      "wall": {k: values[k] for k in ("op_s", "work_per_s", "rss_peak_gb")},
                      "session": W.session_conf(work, trace), "host_health": health,
                      "setup_reps_s": reps, "op_walls_s": W.op_values(samples, "wall"),
                      "op_cpu_s": W.op_values(samples, "cpu")}))
    if trace:
        from perfbench.layers import per_layer

        values = per_layer(spec, workload, samples, values, layer, health, tracer, work)
        tracer.dump(str(work / "spans.json"))
    for sub in ("crawl-store", "crawl-snapshot", "probe", "spark-local", "tmp", "catalog-data"):
        shutil.rmtree(work / sub, ignore_errors=True)
    print(W.result_line(spec, values, trace, len(samples), failed))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    from perfbench.measure import become_subreaper, reap_descendants

    become_subreaper()
    try:
        code = main()
    finally:
        # on every path out: no process this run started outlives it
        if killed := reap_descendants():
            print(f"perfbench: signalled leftover processes {killed}", file=sys.stderr)
    sys.exit(code)
