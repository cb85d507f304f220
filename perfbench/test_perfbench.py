"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest

from perfbench.inputs import CATALOG_DOCS, catalog_tables, crawl_seed_urls, write_catalog
from perfbench.measure import Tracer, union_length
from perfbench.workloads import WORKLOADS, end_to_end, result_line

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def test_crawl_seed_list_is_deterministic_per_seed():
    a, b = crawl_seed_urls(7, n_hosts=50), crawl_seed_urls(7, n_hosts=50)
    assert a == b and len(a) == 50 * 8
    assert crawl_seed_urls(8, n_hosts=50) != a


def test_catalog_tables_are_deterministic_per_seed(tmp_path):
    a, b, c = catalog_tables(3), catalog_tables(3), catalog_tables(4)
    assert all(a[t].equals(b[t]) for t in a)
    assert a["documents"].num_rows == CATALOG_DOCS
    assert not a["documents"].equals(c["documents"])
    write_catalog(3, str(tmp_path / "x"))
    write_catalog(3, str(tmp_path / "y"))
    for t in a:
        name = f"{t}.parquet"
        assert (tmp_path / "x" / name).read_bytes() == (tmp_path / "y" / name).read_bytes()


def _samples(workload: str) -> list[dict]:
    if workload == "crawl_wide":
        return [{"wall": w, "cpu": 3 * w, "pages": 900} for w in (11.0, 12.0, 13.0)]
    return [
        {"leaf": leaf, "wall": w, "cpu": 2 * w}
        for w in (1.0, 1.5)
        for leaf in ("graph_reach", "lm_perplexity")
    ]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_every_end_to_end_metric_is_printed_with_its_unit(workload):
    values = end_to_end(WORKLOADS[workload], 30.0, _samples(workload))
    values["rss_peak_gb"] = 3.5
    out = json.loads(result_line(SPEC, values, False, 4, 0))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["metrics"] == {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in SPEC["end_to_end"]
    }
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_every_per_layer_metric_is_printed_with_its_unit():
    values = {m["name"]: 1.5 for m in SPEC["per_layer"]}
    out = json.loads(result_line(SPEC, values, True, 2, 1))
    assert out["correct"] is False
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["per_layer"]
    }


def test_spec_keeps_the_contract_limits():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in SPEC["workloads"]} == set(WORKLOADS)
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in SPEC[k]]
    assert len(names) == len(set(names)) and all(NAME.fullmatch(n) for n in names)
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert UNIT.fullmatch(m["unit"]) and m["better"] in ("lower", "higher")
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert all(len(w["why"]) <= 200 for w in SPEC["workloads"])


def test_spans_nest_and_self_time_is_wall_minus_children():
    tr = Tracer(enabled=True)
    with tr.span("op") as op:
        with tr.span("child") as child:
            with tr.span("grandchild"):
                time.sleep(0.01)
        # a program-side pool thread has no span of its own open
        with ThreadPoolExecutor(max_workers=2) as pool:
            for f in [pool.submit(_pool_span, tr) for _ in range(2)]:
                f.result()
        time.sleep(0.01)
    by_name = {s.name: s for s in tr.spans}
    assert by_name["child"].parent == op.sid
    assert by_name["grandchild"].parent == child.sid
    pooled = [s for s in tr.spans if s.name == "pooled"]
    assert len(pooled) == 2 and all(s.parent == op.sid for s in pooled)
    for s in tr.spans:
        assert s.start <= s.end
        assert tr.self_time(s) >= 0
    kids = tr.children(op.sid)
    covered = union_length((k.start, k.end) for k in kids)
    assert tr.self_time(op) == pytest.approx((op.end - op.start) - covered)
    assert tr.self_time(op) >= 0.01


def _pool_span(tr: Tracer) -> None:
    assert threading.current_thread() is not threading.main_thread()
    with tr.span("pooled"):
        time.sleep(0.005)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op") as sp:
        pass
    assert sp is None and tr.spans == []


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    assert union_length([]) == 0


_REAP = """
import json, os, subprocess
from perfbench.measure import _tree, become_subreaper, host_health, reap_descendants

become_subreaper()
host_health(2, seconds=0.01)
# both sleeps are orphaned when sh exits: one ends alone, one must be signalled
out = subprocess.run(["sh", "-c", "sleep 0.3 >/dev/null 2>&1 & sleep 60 >/dev/null 2>&1 & echo $!"],
                     capture_output=True, text=True, check=True).stdout
killed = reap_descendants(grace_s=1.0)
print(json.dumps({"long": int(out), "killed": killed,
                  "left": [p for p, _ in _tree(os.getpid()) if p != os.getpid()]}))
"""


def test_no_process_outlives_the_run():
    root = Path(__file__).resolve().parent.parent
    out = subprocess.run([sys.executable, "-c", _REAP], cwd=root, capture_output=True,
                         text=True, check=True, timeout=60).stdout
    got = json.loads(out.splitlines()[-1])
    assert got["killed"] == [got["long"]] and got["left"] == []
