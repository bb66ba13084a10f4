"""The benchmark's own tests: python3 -m pytest perfbench -q

The end-to-end ones start Spark at the tiny size (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import workloads as W  # noqa: E402
from perfbench.spans import self_time  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run_bench(*args: str, cwd: str = ROOT) -> tuple[subprocess.CompletedProcess, dict | None]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    return proc, (json.loads(lines[-1]) if lines else None)


def test_self_time_subtracts_covered_union():
    span = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 4.0},
            {"start": 9.0, "end": 12.0}]
    assert self_time(span, kids) == pytest.approx(10.0 - 3.0 - 1.0)


@pytest.mark.parametrize("workload", ["schedule", "crawl"])
def test_oracle_matches_reference_oracle(workload):
    """The pandas oracle reproduces tests/oracle_crawler.py on tiny inputs."""
    from spiderspark.hashing import xxhash64_int
    from spiderspark.pages import gen_pages_pdf, robots_pdf
    from perfbench.oracle import schedule_digest
    from tests.oracle_crawler import OracleConfig, OracleCrawler

    size = W.SIZES[workload]["tiny"]
    p = W.plan(workload, 11, size)
    want = W.expected(workload, 11, size)

    pages = gen_pages_pdf(p.page_ids, p.page_wrap)
    seeds = W.seed_rows(p.frontier_ids, p.frontier_priority)
    ref = OracleCrawler(
        list(zip(seeds["url"], seeds["priority"])),
        dict(zip(pages["url"], pages["html"])),
        dict(zip(robots_pdf()["host"], robots_pdf()["body"])),
        OracleConfig(default_budget=size.budget),
    )
    assert len(ref.frontier) == want["frontier_rows"]
    ref.seen |= {xxhash64_int(u) for u in W.seen_keys(p.seen_ids)["url_norm"]}
    ref.frontier = [it for it in ref.frontier if it.url_hash not in ref.seen]
    assert (len(ref.seen), len(ref.frontier)) == (
        want["seen_rows"], want["frontier_rows_unseen"])
    for r in want["rounds"]:
        sched = ref.run_round()
        fetched = sum(it.url_hash in ref.pages for it in sched)
        assert r["scheduled"] == len(sched)
        assert r["fetched"] == fetched
        hashes = pd.DataFrame({"url_hash": [it.url_hash for it in sched]})
        assert r["digest"] == schedule_digest(hashes)
    assert want["final"] == {"frontier_rows": len(ref.frontier), "seen_rows": len(ref.seen)}


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc, result = run_bench("--workload", "crawl", "--seed", "1", "--seconds", "1",
                             "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert result is None


def test_smoke_run_prints_every_end_to_end_metric():
    proc, result = run_bench("--workload", "crawl", "--seed", "3", "--seconds", "1",
                             "--trace", "0", "--size", "tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_with_tampered_digest_counts_a_failure(tmp_path):
    """A traced run emits every per-layer metric, and a wrong expected
    schedule digest fails that round's operation instead of skipping it."""
    exp = W.expected("schedule", 3, W.SIZES["schedule"]["tiny"])
    exp["rounds"][0]["digest"] ^= 1
    path = tmp_path / "expected.json"
    path.write_text(json.dumps({"schedule": {"tiny": {"3": exp}}}))
    proc, result = run_bench("--workload", "schedule", "--seed", "3", "--seconds", "1",
                             "--trace", "1", "--size", "tiny", "--expected", str(path))
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert result["correct"] is False and result["failed"] == 1
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["crawl.crawl_round.jobs"] > m["schedule.to_schedule.jobs"] > 0
    assert m["state.materialize_many.delta.jobs"] > 0
    assert 0 < m["crawl.crawl_round.self_s"] < m["crawl.crawl_round.s"]
    # the to_schedule span of the round nests under crawl.crawl_round
    assert "\n[perfbench]   schedule.to_schedule" in proc.stderr
