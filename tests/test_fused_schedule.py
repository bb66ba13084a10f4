"""One scheduling path: ``crawl.select_round`` → ``schedule.to_schedule``
must emit the plain per-host top-k over frontier ∖ seen, in the engine
total order, on BOTH seen tiers once ``crawl.mark_seen`` has deduped the
pre-seen keys — select_round itself reads no seen state, because the
frontier never holds a seen key.

Also pins the physical properties the layout exists for: the within-batch
dedup plans exchange-free on the (host_bucket, salt) layout, and so does
select_round's phase-1 window.

The global rank: exactly 1..N in ORDER_COLS order for empty, single-row,
fewer-rows-than-partitions and multi-thousand-row selections at local[2]
and local[8], stable under every consumer the engine applies; and
``to_schedule`` does all of its work inside the call, in a bounded number
of Spark jobs.
"""

import json
import os
import subprocess
import sys
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spiderspark.bench import frontier_urls_dist
from spiderspark.crawl import CrawlConfig, init_state, mark_seen, select_round
from spiderspark.frontier import seeds_to_frontier
from spiderspark.politeness import HostPolicy
from spiderspark.schedule import (
    ORDER_COLS,
    assign_salts_static,
    static_salt_table,
    to_schedule,
)
from spiderspark.schemas import FRONTIER


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_BUCKETS = 4


@pytest.fixture(scope="module")
def setup(spark):
    n = 30_000
    par = spark.sparkContext.defaultParallelism
    in_dir = tempfile.mkdtemp(prefix="fusedtest-")
    frontier_urls_dist(spark, n, par).write.parquet(f"{in_dir}/raw")
    seeds_to_frontier(
        spark, frontier_urls_dist(spark, n // 3, par), batch_id=0
    ).select("url_hash", "url_norm", "host").write.parquet(f"{in_dir}/seen")
    raw = spark.read.parquet(f"{in_dir}/raw")
    salts = static_salt_table(
        seeds_to_frontier(spark, raw, batch_id=0)
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("_n")),
        skew_threshold=2_000,  # small → the heavy hosts really get salted
    ).localCheckpoint(eager=True)
    return {
        "raw": raw,
        "seen_keys": spark.read.parquet(f"{in_dir}/seen"),
        "salts": salts,
        "policy": HostPolicy(default_budget=40.0),
    }


# ---------------------------------------------------------------------------
# the engine's round on both tiers vs a plain per-host top-k reference
# ---------------------------------------------------------------------------

BUDGET = 40


def _reference(frontier: pd.DataFrame, seen: set) -> list:
    """Per-host top-BUDGET over frontier ∖ seen, then the global order."""
    unseen = frontier[~frontier["url_hash"].isin(seen)]
    ordered = unseen.sort_values(list(ORDER_COLS), kind="mergesort")
    top = ordered.groupby("host", sort=False).head(BUDGET)
    return top.sort_values(list(ORDER_COLS), kind="mergesort")["url_hash"].tolist()


@pytest.fixture(scope="module")
def engine(spark, setup):
    seen_keys = setup["seen_keys"]

    def config(tier):
        return CrawlConfig(
            policy=HostPolicy(default_budget=float(BUDGET)),
            state_buckets=N_BUCKETS,
            bloom_capacity_per_bucket=8192,
            skew_threshold=2_000,  # small → the heavy hosts really get salted
            seen_tier=tier,
        )

    def schedule(state, cfg):
        sched = to_schedule(select_round(spark, state, cfg), batch_id=1)
        return [r["url_hash"] for r in sched.orderBy("rank").collect()]

    states = {t: init_state(spark, setup["raw"], None, config(t))
              for t in ("exact", "sketch")}
    frontier = states["exact"].frontier.df(spark, FRONTIER).toPandas()
    seen = {r["url_hash"] for r in seen_keys.collect()}
    return {
        "config": config,
        "schedule": schedule,
        "states": states,
        "seen_keys": seen_keys,
        "seen": seen,
        "frontier": frontier,
        "reference": _reference(frontier, seen),
        "reference_nothing_seen": _reference(frontier, set()),
    }


@pytest.mark.parametrize("tier", ["exact", "sketch"])
def test_select_round_matches_reference(spark, engine, tier):
    cfg = engine["config"](tier)
    state = mark_seen(spark, engine["states"][tier], engine["seen_keys"], cfg)
    if tier == "sketch":
        assert len(state.sketch.paths) == 1  # mark_seen wrote a delta
    else:
        assert state.sketch is None
    # the seen dedup did real work: the pre-seen urls sat in the frontier
    assert len(engine["seen"] & set(engine["frontier"]["url_hash"])) > 1000
    got = engine["schedule"](state, cfg)
    want = engine["reference"]
    assert len(got) == len(want) > 0
    assert got == want


def test_select_round_sketch_tier_with_empty_sketch(spark, engine):
    """A fresh sketch-tier state has a sketch with no delta yet and nothing
    seen: select_round schedules the plain per-host top-k."""
    state = engine["states"]["sketch"]
    assert state.sketch is not None and len(state.sketch.paths) == 0
    assert state.seen.total_rows() == 0
    got = engine["schedule"](state, engine["config"]("sketch"))
    assert got == engine["reference_nothing_seen"]
    assert got != engine["reference"]  # the pre-seen urls are back in


def test_select_round_window_plan_exchange_free(spark, engine):
    """select_round's physical contract: from the stored layout through the
    phase-1 window the plan has ZERO hash exchanges (the window partition
    keys contain the layout's hash keys) — the one exchange is the final
    per-host window's, over the kept set — and phase 1 runs as the
    bounded-sort WindowGroupLimit operator (the k_cap literal conjunct)."""
    import re

    cfg = engine["config"]("exact")
    selected = select_round(spark, engine["states"]["exact"], cfg)
    plan = selected._jdf.queryExecution().executedPlan().toString()
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(exchanges) == 1, plan
    assert re.search(r"hashpartitioning\(host#\d+, ", exchanges[0]), plan
    assert "WindowGroupLimit" in plan, plan
    assert selected.count() > 0


def test_fused_dedup_plans_exchange_free(spark, setup):
    """On the (host_bucket, salt) layout the within-batch dedup groupBy must
    not insert an exchange (superset grouping keys)."""
    from spiderspark.frontier import dedup_within_batch

    keyed = (
        assign_salts_static(
            seeds_to_frontier(spark, setup["raw"], batch_id=0), setup["salts"]
        )
        .repartition(N_BUCKETS, "host_bucket", "salt")
    )
    deduped = dedup_within_batch(keyed, extra_keys=("host_bucket", "salt"))
    plan = deduped._jdf.queryExecution().executedPlan().toString()
    # exactly the one repartition exchange; none added by the groupBy
    assert plan.count("Exchange hashpartitioning") == 1, plan


# ---------------------------------------------------------------------------
# the global rank: edge cases at two parallelisms, consumers, job budget
# ---------------------------------------------------------------------------

RANK_SCRIPT = r"""
import json, os, sys
sys.path.insert(0, %(root)r)
os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from spiderspark.session import get_spark
from spiderspark.schedule import ORDER_COLS, to_schedule

cores = %(cores)d
spark = get_spark("rank-edges", cores=cores, shuffle_partitions=cores)


def selection(n, seed):
    # few distinct (priority, depth, discovered_batch) values, so most
    # order ties are broken by url_hash alone
    rng = np.random.default_rng(seed)
    hashes = (rng.choice(1 << 24, n, replace=False) - (1 << 23)) * 549_755_813_889
    return pd.DataFrame({
        "url": [f"http://h{h %% 7}.test/p{i}" for i, h in enumerate(hashes)],
        "url_norm": [f"h{h %% 7}.test/p{i}" for i, h in enumerate(hashes)],
        "url_hash": hashes.astype("int64"),
        "host": [f"h{h %% 7}.test" for h in hashes],
        "priority": rng.integers(0, 3, n).astype("float64"),
        "depth": rng.integers(0, 2, n).astype("int32"),
        "discovered_batch": rng.integers(0, 2, n).astype("int64"),
        "attempt": np.zeros(n, "int32"),
    })


SCHEMA = ("url string, url_norm string, url_hash long, host string, "
          "priority double, depth int, discovered_batch long, attempt int")
out = {}
for n in (0, 1, 5, 5000):
    pdf = selection(n, n)
    want = pdf.sort_values(list(ORDER_COLS), kind="mergesort")
    want_pairs = list(zip(want["url_hash"].tolist(), range(1, n + 1)))
    sched = to_schedule(spark.createDataFrame(pdf, SCHEMA), batch_id=3)

    def pairs(df):
        return sorted((r["url_hash"], r["rank"]) for r in df.collect())

    first = sched.select("url_hash", "rank").orderBy("rank").collect()
    assert [(r["url_hash"], r["rank"]) for r in first] == want_pairs, n
    assert pairs(sched) == sorted(want_pairs), n  # a second action
    odd = sched.filter(F.col("rank") %% 2 == 1)
    assert pairs(odd) == sorted(p for p in want_pairs if p[1] %% 2 == 1), n
    legs = sched.withColumn("leg", F.lit("a")).unionByName(
        sched.filter(F.col("priority") < 2).withColumn("leg", F.lit("b"))
    )
    got_b = sorted((r["url_hash"], r["rank"]) for r in legs.collect() if r["leg"] == "b")
    low = set(want.loc[want["priority"] < 2, "url_hash"])
    assert got_b == sorted(p for p in want_pairs if p[0] in low), n
    assert pairs(sched.repartition(cores, "url_hash")) == sorted(want_pairs), n
    by_host = {
        r["host"]: (r["lo"], r["hi"], r["n"])
        for r in sched.groupBy("host").agg(
            F.min("rank").alias("lo"), F.max("rank").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        ).collect()
    }
    ranked = want.assign(rank=range(1, n + 1))
    ref = {
        h: (int(g["rank"].min()), int(g["rank"].max()), len(g))
        for h, g in ranked.groupby("host")
    }
    assert by_host == ref, n
    assert {r["batch_id"] for r in sched.select("batch_id").collect()} <= {3}
    out[n] = len(first)
print("RESULT:" + json.dumps(out))
spark.stop()
"""


@pytest.mark.parametrize("cores", [2, 8])
def test_rank_edge_cases_at_parallelism(cores):
    """Ranks are exactly 1..N in ORDER_COLS order (vs a pandas sort) for 0,
    1, 5 (fewer than the range partitions at local[8]) and 5000 rows, and
    stay the same after a second action, a filter, a unionByName, a
    repartition on url_hash and a groupBy on host."""
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable, SPIDERSPARK_DRIVER_MEM="1g")
    env.pop("SPIDERSPARK_MASTER", None)
    out = subprocess.run(
        [sys.executable, "-c", RANK_SCRIPT % {"root": ROOT, "cores": cores}],
        capture_output=True, text=True, timeout=600, env=env, cwd=ROOT,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = [l for l in out.stdout.splitlines() if l.startswith("RESULT:")][-1]
    assert json.loads(line[len("RESULT:"):]) == {"0": 0, "1": 1, "5": 5, "5000": 5000}


def test_to_schedule_does_its_work_inside_the_call(spark, engine):
    """``to_schedule`` pays for the whole ranking before it returns: it
    starts at most 5 Spark jobs (upstream selection included), and the
    frame it returns is a narrow projection of its checkpoint — no
    exchange, window, aggregate or join left for a consumer to run."""
    sc = spark.sparkContext
    cfg = engine["config"]("exact")
    selected = select_round(spark, engine["states"]["exact"], cfg)
    group = "to-schedule-job-budget"
    sc.setJobGroup(group, "to_schedule job budget")
    try:
        sched = to_schedule(selected, batch_id=1)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 0 < len(jobs) <= 5, sorted(jobs)
    plan = sched._jdf.queryExecution().executedPlan().toString()
    for op in ("Exchange", "Window", "Aggregate", "Join"):
        assert op not in plan, plan
    assert "ExistingRDD" in plan, plan
    assert sched.count() == len(engine["reference_nothing_seen"])


def test_to_schedule_restores_aqe(spark, engine):
    """The pin runs with AQE off; the session's setting comes back after
    the call, also when the pinned query fails."""
    key = "spark.sql.adaptive.enabled"
    assert spark.conf.get(key) == "true"
    cfg = engine["config"]("exact")
    selected = select_round(spark, engine["states"]["exact"], cfg)
    to_schedule(selected, batch_id=1)
    assert spark.conf.get(key) == "true"
    broken = selected.withColumn(
        "priority",
        F.when(F.col("priority") >= 0, F.raise_error(F.lit("boom")))
        .otherwise(F.col("priority"))
        .cast("double"),
    )
    with pytest.raises(Exception, match="boom"):
        to_schedule(broken, batch_id=1)
    assert spark.conf.get(key) == "true"
