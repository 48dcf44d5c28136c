"""The benchmark's own tests: a tiny-size smoke run of each registered
workload, and seed determinism. Each run starts a JVM, so the module takes
a few minutes:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
E2E = {
    "crawl_fresh": ["setup_s", "crawl_docs_per_s", "round_s_p50", "error_rate", "peak_rss_mb"],
    "query_mix": ["setup_s", "query_mix_s", "query_s_p50", "error_rate", "peak_rss_mb"],
}
SUMMARY = {"setup_s": "s", "throughput_per_s": "1/s", "peak_rss_mb": "MB"}


def run_tiny(workload: str, seed: int, trace: int = 0) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "60", "--trace", str(trace), "--size", "tiny"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=300,
        cwd="/",  # the benchmark runs from any working directory
    )
    assert proc.returncode == 0, proc.stdout
    detail, summary = proc.stdout.strip().splitlines()[-2:]
    return json.loads(detail), json.loads(summary)


@pytest.fixture(scope="module")
def crawl_seed7():
    return run_tiny("crawl_fresh", 7)


@pytest.mark.parametrize("workload", sorted(E2E))
def test_tiny_smoke_prints_every_metric_and_passes_checks(workload, crawl_seed7):
    detail, summary = crawl_seed7 if workload == "crawl_fresh" else run_tiny(workload, 7)
    metrics = {m["name"]: m for m in detail["metrics"]}
    assert sorted(metrics) == sorted(E2E[workload])
    for m in metrics.values():
        assert m["unit"] and m["samples"] >= 1 and isinstance(m["value"], float)
    assert metrics["error_rate"]["value"] == 0.0
    assert summary["correct"] is True and summary["failed"] == 0 and summary["attempted"] >= 1
    assert {k: v["unit"] for k, v in summary["metrics"].items()} == SUMMARY
    assert all(v["value"] > 0 for v in summary["metrics"].values())
    if workload == "crawl_fresh":
        assert len(detail["info"]["rounds"]) == 2


def test_same_seed_same_digest_other_seed_other_inputs(crawl_seed7):
    again, _ = run_tiny("crawl_fresh", 7)
    other, _ = run_tiny("crawl_fresh", 8)
    assert again["info"]["digest"] == crawl_seed7[0]["info"]["digest"]
    assert other["info"]["digest"] != crawl_seed7[0]["info"]["digest"]


def test_query_tables_are_a_function_of_the_seed():
    sys.path.insert(0, ROOT)
    from perfbench import datagen

    with open(os.path.join(ROOT, "perfbench", "config.json")) as f:
        size = json.load(f)["workloads"]["query_mix"]["sizes"]["tiny"]
    base = os.path.join(ROOT, ".perfbench_run", "test-tables")

    def digest(seed, name):
        out = os.path.join(base, f"{seed}-{name}")
        datagen.write_query_tables(out, seed, size)
        hashes = {}
        for t in ("documents", "embeddings", "events"):
            with open(os.path.join(out, f"{t}.parquet"), "rb") as f:
                hashes[t] = hashlib.sha256(f.read()).hexdigest()
        return hashes

    try:
        a, b, c = digest(1, "a"), digest(1, "b"), digest(2, "c")
    finally:
        shutil.rmtree(base, ignore_errors=True)
    assert a == b
    assert all(a[t] != c[t] for t in a)
