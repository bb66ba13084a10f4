#!/usr/bin/env python
"""Durable-mode disk soak (VERDICT r04 item 8, extended r06 to 10x state):
run N crawl rounds with durable_state=True and record per-round state rows
vs on-disk bytes of the state workdir. The invariant under test: disk grows
with STATE, never with ROUNDS (superseded segments are reclaimed each
round; peak == final), and the per-row disk envelope stays in the ~192 B
class as seen segments come to dominate.

Usage: python jobs/soak_durable.py [corpus_pages] [seeds] [rounds] [budget]
Prints one JSON line per round and a final summary line.
"""

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def main():
    corpus = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    n_seeds = int(sys.argv[2]) if len(sys.argv) > 2 else 5_000
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 12
    budget = float(sys.argv[4]) if len(sys.argv) > 4 else 50.0

    from spiderspark.crawl import (
        CrawlConfig, crawl_round, init_state, keyed_pages,
    )
    from spiderspark.pages import pages_df_dist, seeds_pdf
    from spiderspark.politeness import HostPolicy
    from spiderspark.schemas import SEEDS
    from spiderspark.session import get_spark

    spark = get_spark("soak-durable", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    corpus_dir = tempfile.mkdtemp(prefix="soak-pages-")
    pages_df_dist(spark, corpus).write.parquet(f"{corpus_dir}/pages")
    pages = spark.read.parquet(f"{corpus_dir}/pages")
    seeds = spark.createDataFrame(seeds_pdf(n_seeds, corpus), schema=SEEDS)
    workdir = tempfile.mkdtemp(prefix="soak-state-")
    config = CrawlConfig(
        policy=HostPolicy(default_budget=budget),
        durable_state=True,
        durable_dir=workdir,
    )
    pages_k = keyed_pages(pages, n_parts=config.state_buckets)
    state = init_state(spark, seeds, None, config)
    peak = 0
    rows_hist = []
    for r in range(1, rounds + 1):
        state, schedule, _log = crawl_round(spark, state, pages_k, config)
        n_sched = schedule.count()
        rows = state.seen.total_rows() + state.frontier.total_rows()
        disk = _dir_bytes(workdir)
        peak = max(peak, disk)
        rows_hist.append(rows)
        print(json.dumps({
            "round": r, "scheduled": n_sched, "state_rows": rows,
            "disk_mb": round(disk / 1e6, 2),
            "bytes_per_row": round(disk / max(rows, 1), 1),
        }), flush=True)
    final = _dir_bytes(workdir)
    print(json.dumps({
        "summary": True, "rounds": rounds, "corpus": corpus,
        "seeds": n_seeds, "budget": budget,
        "final_state_rows": rows_hist[-1],
        "final_disk_mb": round(final / 1e6, 2),
        "peak_disk_mb": round(peak / 1e6, 2),
        "peak_equals_final": peak == final,
        "bytes_per_row": round(final / max(rows_hist[-1], 1), 1),
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
