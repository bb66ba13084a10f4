"""One scheduling path: ``crawl.select_round`` → ``schedule.to_schedule``
must emit the plain per-host top-k over frontier ∖ seen, in the engine
total order, on BOTH seen tiers once ``crawl.mark_seen`` has deduped the
pre-seen keys — select_round itself reads no seen state, because the
frontier never holds a seen key.

Also pins the physical properties the layout exists for: the within-batch
dedup plans exchange-free on the (host_bucket, salt) layout, and so does
select_round's phase-1 window.
"""

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
