"""End-to-end tests of the benchmark at tiny sizes (sf0.001-sized corpus,
~2k vectors): every workload runs, every check passes, and every metric
BENCHMARK.json names is printed with its unit.

Run: python3 -m pytest perfbench/tests -q   (about three minutes)
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

SHARED = {"setup_s": "s", "build_s": "s", "error_rate": "failed/attempted",
          "peak_rss_mb": "MB"}


def bench(tmp_path, workload: str, trace: int):
    """Run the benchmark through its command line, from a temporary
    directory so its work and output files land there."""
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    lines = out.stdout.strip().splitlines()
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(lines[-2]), json.loads(lines[-1])


def test_spec_matches_the_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"] for m in SPEC["per_layer"]} == set(run.per_layer_units())


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_tiny_workload_reports_every_metric(tmp_path, workload):
    detail, result = bench(tmp_path, workload, trace=0)
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    named = {k: v["unit"] for k, v in detail["named"].items()}
    assert named == {**workloads.WORKLOADS[workload].named, **SHARED}
    assert detail["named"]["error_rate"]["value"] == 0.0
    cond = detail["conditions"]
    for key in ("master", "nproc", "loadavg", "foreign_jvms", "pyspark",
                "numpy", "java", "seed", "git_head", "git_dirty"):
        assert key in cond


def test_tiny_traced_run_reports_per_layer_metrics_and_spans(tmp_path):
    _, result = bench(tmp_path, "sf01_retrieval", trace=1)
    assert result["correct"] is True
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["bm25.search_bm25_df.jobs"] >= 1
    assert m["bm25.search_bm25_df.wall_s"] >= m["bm25.search_bm25_df.driver_s"]
    assert m["hybrid.weighted_vector_search_df.py_worker_s"] > 0
    assert m["hnsw.hnsw_insert.jobs"] >= 1
    assert m["ivf.ivfpq_search_df.jobs"] == 0  # not called by this workload
    with open(tmp_path / run.result_path("sf01_retrieval", "tiny", 3, True)) as f:
        rec = json.load(f)
    spans = rec["spans"]
    assert spans and all(s["self_s"] <= s["end"] - s["start"] + 1e-9 for s in spans)
    assert any(s["name"] == "dedup.minhash_lsh_pairs" for s in spans)
