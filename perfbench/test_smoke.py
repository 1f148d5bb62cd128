"""Smoke tests for the benchmark itself, at a tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs once untraced and once traced (about three minutes in
all on four cores).
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SEED = 11

#: per-layer metrics each workload must move (nonzero in its traced run)
EXERCISED = {
    "vendor_etl": ["sources.api_requests", "sources.api_faults", "sources.scan_tasks",
                   "vendor.enrich_exchanges", "sinks.files", "sinks.bytes"],
    "llm_curation": ["operators.dedup.lsh_candidates", "operators.components.cc_jobs",
                     "operators.kmeans.kmeans_fit_s", "queries.eager_jobs"],
    "lake_queries": ["tables.load_table_calls", "queries.jobs", "queries.exchanges"],
}


def run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_end_to_end_metric_printed_with_unit(workload):
    out = run(workload, 0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
        assert out["metrics"][m["name"]]["value"] > 0
    assert set(out["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_every_layer_and_nested_spans(workload):
    out = run(workload, 1)
    assert out["correct"], out
    assert set(out["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["per_layer"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    for name in EXERCISED[workload] + ["session.get_spark_s", "trace.spans"]:
        assert out["metrics"][name]["value"] > 0, name

    traces = os.path.join(ROOT, ".perfbench", "traces")
    for kind in ("session", "reference", "staged"):
        with open(os.path.join(traces, f"{workload}-s{SEED}-{kind}.jsonl")) as f:
            spans = {s["span_id"]: s for s in map(json.loads, f)}
        assert spans
        for s in spans.values():
            assert s["start"] <= s["end"]
            assert s["self_s"] <= s["end"] - s["start"] + 1e-9
            if s["parent"] is not None:
                p = spans[s["parent"]]
                assert p["start"] <= s["start"] and s["end"] <= p["end"], (p, s)


def test_generators_are_seeded(tmp_path):
    def files(seed, sub):
        d = tmp_path / sub
        gen.write_lake(str(d), seed, 0.001)
        gen.write_corpus(str(d), seed, n_docs=60, n_vecs=40, exact_share=0.1, near_share=0.1)
        return d

    a, b, c = files(1, "a"), files(1, "b"), files(2, "c")
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b)) == sorted(os.listdir(c))
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    # region and nation are fixed dimension tables; everything else varies
    assert set(names) - set(mismatch) == {"region.parquet", "nation.parquet"}

    u1, u2 = gen.VendorUniverse(1), gen.VendorUniverse(2)
    assert gen.VendorUniverse(1).expected_rows(0, 1) == u1.expected_rows(0, 1)
    assert u1.cities != u2.cities
    assert u1.n_vendors() == u2.n_vendors()
