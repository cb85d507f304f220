"""Physical-plan audit over the whole query catalog.

Wall-clock benches on this sandbox are host-noise-dominated (see
BENCH/SUITE_NOTES.md), but the PLAN is noise-immune: what shuffles,
what broadcasts, where Python crosses the Arrow boundary, and whether
any row-at-a-time Python survives. This tool sweeps every catalog
query's initial physical plan and emits one JSON artifact
(PLANS_AUDIT.json) with per-query node counts:

- ``exchanges``        shuffle Exchange nodes (each is a cluster-wide
                       data movement at 100 TB — fewer is better)
- ``broadcasts``       BroadcastExchange nodes (small-side joins)
- ``smj`` / ``bhj``    sort-merge vs broadcast hash joins
- ``bnlj``             BroadcastNestedLoopJoin (intentional tiny-side
                       cross joins: query sets, centroid tables)
- ``cartesian``        CartesianProduct — must be ZERO everywhere
- ``codegen``          WholeStageCodegen spans (JVM-compiled pipelines)
- ``arrow_eval``       ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas
                       (the vectorized Python boundary)
- ``row_python``       BatchEvalPython — row-at-a-time Python UDF.
                       The north rule mandates "no per-row Python";
                       this must be ZERO for every query.

tests/test_plans.py::test_catalog_plan_audit_invariants runs the same
sweep as a pytest and pins the two hard invariants (no row-Python, no
CartesianProduct), so a regression fails CI, not just the artifact.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


PLAN_NODE_PATTERNS = {
    # "Exchange hashpartitioning(...)" / "Exchange rangepartitioning(...)"
    # / "Exchange RoundRobinPartitioning(...)" (a scan spread; AQE wraps
    # these but the initial plan prints them bare); exclude
    # BroadcastExchange which we count separately.
    "exchanges": re.compile(r"(?<!Broadcast)Exchange (hash|range|Single|RoundRobin)"),
    "broadcasts": re.compile(r"BroadcastExchange"),
    "smj": re.compile(r"SortMergeJoin"),
    "bhj": re.compile(r"BroadcastHashJoin"),
    "bnlj": re.compile(r"BroadcastNestedLoopJoin"),
    "cartesian": re.compile(r"CartesianProduct"),
    "codegen": re.compile(r"\*\(\d+\)"),
    "arrow_eval": re.compile(
        r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|MapInArrow"
    ),
    "row_python": re.compile(r"BatchEvalPython"),
}


def audit_plan(plan_str: str) -> dict[str, int]:
    counts = {k: len(p.findall(plan_str)) for k, p in PLAN_NODE_PATTERNS.items()}
    # codegen counts every "*(n)" operator annotation; report distinct
    # codegen stage ids instead (the number of fused JVM pipelines)
    ids = set(re.findall(r"\*\((\d+)\)", plan_str))
    counts["codegen"] = len(ids)
    return counts


def audit_catalog(spark, sf_dir: str, names=None) -> dict[str, dict[str, int]]:
    from searchengine_spark import queries as Q

    out = {}
    for name in sorted(names or Q.QUERIES):
        df = Q.QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        out[name] = audit_plan(plan)
    return out


def main(argv):
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.001"
    names = argv[2:] or None
    from searchengine_spark.session import get_spark

    spark = get_spark("plan_audit", master="local[4]", shuffle_partitions=8)
    audit = audit_catalog(spark, sf_dir, names)
    totals = {
        k: sum(a[k] for a in audit.values()) for k in PLAN_NODE_PATTERNS
    }
    artifact = {"sf_dir": sf_dir, "totals": totals, "queries": audit}
    with open("PLANS_AUDIT.json", "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    offenders = {
        n: a for n, a in audit.items() if a["row_python"] or a["cartesian"]
    }
    print(json.dumps({"totals": totals, "offenders": offenders}))
    return 1 if offenders else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
