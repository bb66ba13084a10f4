"""One scheduling path per seen tier: ``crawl.select_round`` →
``schedule.to_schedule`` must emit the plain per-host top-k over
frontier ∖ seen, in the engine total order, on BOTH tiers — the mirror
tier's co-partitioned anti-join, and the sketch tier's fused membership +
guarded-prefix pre-selection (frontier.membership_prefix_topk), including a
sketch tier whose sketch is still empty. The guarded prefix is an exact
superset of the per-host top-budget for any salt assignment, and the final
window re-ranks it identically.

Also pins the physical properties the tiers exist for: the within-batch
dedup plans exchange-free on the (host_bucket, salt) layout, the mirror
selection plans exchange-free, and the pandas pass sees only the thin
numeric projection.
"""

import dataclasses
import os
import tempfile

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from spiderspark.bench import frontier_urls_dist
from spiderspark.crawl import (
    FRONTIER_KEY,
    CrawlConfig,
    init_state,
    select_round,
)
from spiderspark.frontier import (
    SketchRef,
    host_bucket_col,
    membership_prefix_topk,
    seeds_to_frontier,
    write_sketch_delta,
)
from spiderspark.politeness import HostPolicy
from spiderspark.schedule import (
    ORDER_COLS,
    assign_salts_static,
    static_salt_table,
    to_schedule,
)
from spiderspark.schemas import FRONTIER
from spiderspark.state import SegmentedTable


N_BUCKETS = 4


@pytest.fixture(scope="module")
def setup(spark):
    n = 30_000
    par = spark.sparkContext.defaultParallelism
    in_dir = tempfile.mkdtemp(prefix="fusedtest-")
    frontier_urls_dist(spark, n, par).write.parquet(f"{in_dir}/raw")
    seeds_to_frontier(
        spark, frontier_urls_dist(spark, n // 3, par), batch_id=0
    ).select("url_hash", "url_norm", "host").withColumn(
        "first_batch", F.lit(0).cast("long")
    ).write.parquet(f"{in_dir}/seen")
    raw = spark.read.parquet(f"{in_dir}/raw")
    seen_full = spark.read.parquet(f"{in_dir}/seen")
    seen_table = SegmentedTable.from_df(
        seen_full.select("url_hash", "first_batch"), n_parts=N_BUCKETS
    )
    salts = static_salt_table(
        seeds_to_frontier(spark, raw, batch_id=0)
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("_n")),
        skew_threshold=2_000,  # small → the heavy hosts really get salted
    ).localCheckpoint(eager=True)
    policy = HostPolicy(default_budget=40.0)

    seen_hb = assign_salts_static(
        seen_full.withColumn("host_bucket", host_bucket_col(F.col("host"))), salts
    ).repartition(N_BUCKETS, "host_bucket", "salt")
    sk_fused = write_sketch_delta(
        seen_hb,
        f"{in_dir}/sk_f",
        SketchRef.create(N_BUCKETS, 8192, 0.01, routing=("host_bucket", "salt")),
        assume_keyed_layout=True,
    )
    from spiderspark.state import materialize_keyed

    seen_sched = materialize_keyed(
        seen_hb.select("host_bucket", "salt", "url_hash"),
        n_parts=N_BUCKETS, key=("host_bucket", "salt"),
        sort=("host_bucket", "salt", "url_hash"),
    )
    return {
        "raw": raw,
        "seen_full": seen_full,
        "seen_table": seen_table,
        "seen_sched": seen_sched,
        "salts": salts,
        "policy": policy,
        "sk_fused": sk_fused,
    }


# ---------------------------------------------------------------------------
# the engine's round on both tiers vs a plain per-host top-k reference
# ---------------------------------------------------------------------------

BUDGET = 40


def _seed_unpruned(spark, state, keys, config):
    """Put ``keys`` (url_hash, url_norm, host) into the seen state the way
    ``__spark_entry__.schedule_round_df`` does: WITHOUT pruning the frontier
    (crawl.mark_seen would), so the tier's seen filter does real work."""
    n = config.state_buckets
    seen = SegmentedTable.from_df(
        keys.select("url_hash", F.lit(0).cast("long").alias("first_batch")),
        n_parts=n,
    )
    routed = assign_salts_static(
        keys.withColumn("host_bucket", host_bucket_col(F.col("host"))),
        state.salts,
    )
    if config.seen_tier == "mirror":
        return dataclasses.replace(
            state, seen=seen,
            seen_sched=SegmentedTable.from_df(
                routed.select("host_bucket", "salt", "url_hash"),
                n_parts=n, key=FRONTIER_KEY,
            ),
        )
    sketch = write_sketch_delta(
        routed.repartition(n, *state.sketch.routing),
        os.path.join(state.workdir, "sketch_delta_preseen"),
        state.sketch,
        assume_keyed_layout=True,
    )
    return dataclasses.replace(state, seen=seen, sketch=sketch)


def _reference(frontier: pd.DataFrame, seen: set) -> list:
    """Per-host top-BUDGET over frontier ∖ seen, then the global order."""
    unseen = frontier[~frontier["url_hash"].isin(seen)]
    ordered = unseen.sort_values(list(ORDER_COLS), kind="mergesort")
    top = ordered.groupby("host", sort=False).head(BUDGET)
    return top.sort_values(list(ORDER_COLS), kind="mergesort")["url_hash"].tolist()


@pytest.fixture(scope="module")
def engine(spark, setup):
    seen_keys = setup["seen_full"].select("url_hash", "url_norm", "host")

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
              for t in ("mirror", "sketch")}
    frontier = states["mirror"].frontier.df(spark, FRONTIER).toPandas()
    seen = {r["url_hash"] for r in seen_keys.collect()}
    return {
        "config": config,
        "schedule": schedule,
        "states": states,
        "seen_keys": seen_keys,
        "frontier": frontier,
        "reference": _reference(frontier, seen),
        "reference_nothing_seen": _reference(frontier, set()),
    }


@pytest.mark.parametrize("tier", ["mirror", "sketch"])
def test_select_round_matches_reference(spark, engine, tier):
    cfg = engine["config"](tier)
    state = _seed_unpruned(spark, engine["states"][tier], engine["seen_keys"], cfg)
    if tier == "sketch":
        assert state.seen_sched is None and len(state.sketch.paths) == 1
    else:
        assert state.sketch is None and state.seen_sched is not None
    got = engine["schedule"](state, cfg)
    want = engine["reference"]
    # the seen filter did real work: the pre-seen urls sit in the frontier
    seen = {r["url_hash"] for r in engine["seen_keys"].collect()}
    assert len(seen & set(engine["frontier"]["url_hash"])) > 1000
    assert len(got) == len(want) > 0
    assert got == want


def test_select_round_sketch_tier_with_empty_sketch(spark, engine):
    """A fresh sketch-tier state has a sketch with no delta yet: the fused
    pass reads it as "definitely unseen" for every row — exact, since
    nothing is seen — and schedules the plain per-host top-k."""
    state = engine["states"]["sketch"]
    assert state.sketch is not None and len(state.sketch.paths) == 0
    assert state.seen.total_rows() == 0
    got = engine["schedule"](state, engine["config"]("sketch"))
    assert got == engine["reference_nothing_seen"]
    assert got != engine["reference"]  # the pre-seen urls are back in


def test_mirror_selection_plan_exchange_free(spark, setup):
    """The mirror tier's physical contract: from the stored layout through
    the phase-1 window, the plan must contain ZERO hash exchanges (the
    anti-join is layout-co-partitioned; the window partition keys contain
    the layout's hash keys) and the bounded-sort WindowGroupLimit operator
    (the k_cap literal conjunct)."""
    from pyspark.sql import Window

    from spiderspark.frontier import dedup_within_batch
    from spiderspark.politeness import join_host_state, robots_gate
    from spiderspark.schedule import order_cols
    from spiderspark.schemas import HOST_STATE
    from spiderspark.state import materialize_keyed

    keyed = materialize_keyed(
        dedup_within_batch(
            assign_salts_static(
                seeds_to_frontier(spark, setup["raw"], batch_id=0), setup["salts"]
            )
        ),
        n_parts=N_BUCKETS,
        key=("host_bucket", "salt"),
        sort=("host_bucket", "salt", "url_hash"),
    )
    gated = robots_gate(
        join_host_state(keyed, spark.createDataFrame([], HOST_STATE), setup["policy"])
    ).filter(F.col("host_budget") > 0)
    unseen = gated.join(
        setup["seen_sched"], ["host_bucket", "salt", "url_hash"], "left_anti"
    )
    w1 = Window.partitionBy("host_bucket", "salt", "host").orderBy(*order_cols())
    kept = (
        unseen.withColumn("_r1", F.row_number().over(w1))
        .filter((F.col("_r1") <= F.lit(40)) & (F.col("_r1") <= F.col("host_budget")))
        .drop("_r1")
    )
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "WindowGroupLimit" in plan, plan
    assert kept.count() > 0


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


def test_membership_prefix_topk_superset_and_no_false_negatives(spark, setup):
    """Every truly-unseen row within its host's budget must survive the
    fused pre-selection (kept ∖ seen ⊇ true top-budget per host)."""
    from spiderspark.frontier import anti_join_seen, dedup_within_batch
    from spiderspark.politeness import join_host_state
    from spiderspark.schemas import HOST_STATE
    from pyspark.sql import Window

    keyed = dedup_within_batch(
        assign_salts_static(
            seeds_to_frontier(spark, setup["raw"], batch_id=0), setup["salts"]
        ).repartition(N_BUCKETS, "host_bucket", "salt"),
        extra_keys=("host_bucket", "salt"),
    ).localCheckpoint(eager=True)
    budgeted = join_host_state(
        keyed, spark.createDataFrame([], HOST_STATE), setup["policy"]
    ).filter(F.col("host_budget") > 0)
    kept = membership_prefix_topk(budgeted, setup["sk_fused"])

    # ground truth: exact top-budget per host over the exactly-deduped set
    seen_df = setup["seen_table"].segments[0]
    w = Window.partitionBy("host").orderBy(
        "priority", "depth", "discovered_batch", "url_hash"
    )
    truth = (
        anti_join_seen(budgeted, seen_df)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("host_budget"))
        .select("url_hash")
    )
    missing = truth.join(kept.select("url_hash"), "url_hash", "left_anti").count()
    assert missing == 0
    # and the pre-selection actually cuts (sanity that it's not a no-op)
    assert kept.count() < keyed.count()


def test_membership_prefix_topk_layout_join_matches_broadcast(spark, setup):
    """join_strategy='layout' (the 10^10 configuration: no driver-sized
    kept-key object) must select the exact same rows as the broadcast
    strategy, and its join must move ZERO bytes of the big side: the only
    hash exchange in the whole plan is the O(kept) key repartition."""
    from spiderspark.frontier import dedup_within_batch
    from spiderspark.politeness import join_host_state
    from spiderspark.schemas import HOST_STATE

    from spiderspark.state import materialize_keyed

    # the real stored-segment layout: (host_bucket, salt) partitioning,
    # sorted on (host_bucket, salt, url_hash) — what _keyed_mat produces
    keyed = materialize_keyed(
        dedup_within_batch(
            assign_salts_static(
                seeds_to_frontier(spark, setup["raw"], batch_id=0), setup["salts"]
            )
        ),
        n_parts=N_BUCKETS,
        key=("host_bucket", "salt"),
        sort=("host_bucket", "salt", "url_hash"),
    )
    budgeted = join_host_state(
        keyed, spark.createDataFrame([], HOST_STATE), setup["policy"]
    ).filter(F.col("host_budget") > 0)

    bcast = membership_prefix_topk(
        budgeted, setup["sk_fused"], join_back=keyed, join_strategy="broadcast"
    )
    layout = membership_prefix_topk(
        budgeted, setup["sk_fused"], join_back=keyed, join_strategy="layout"
    )
    a = {(r["url_hash"], r["_maybe"]) for r in bcast.select("url_hash", "_maybe").collect()}
    b = {(r["url_hash"], r["_maybe"]) for r in layout.select("url_hash", "_maybe").collect()}
    assert a == b and len(a) > 0

    plan = layout._jdf.queryExecution().executedPlan().toString()
    # one exchange total: the kept-key repartition. The big side's scan is
    # layout-satisfied (hash exprs ⊆ join keys, subset co-partitioning via
    # requireAllClusterKeysForCoPartition=false) → no exchange, no broadcast
    # of the kept keys anywhere — nothing driver-sized at any frontier size.
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BroadcastExchange HashedRelationBroadcastMode(List(input[2, bigint" not in plan
    # and the stored side's sort is elided too (segment sorted on the keys)
    big_half = plan.split("SortMergeJoin")[1].split("+- Sort")[0]
    assert "Scan ExistingRDD" in big_half, plan


# ---------------------------------------------------------------------------
# property pin of the pure selection kernel (no Spark)
# ---------------------------------------------------------------------------

@st.composite
def _kernel_inputs(draw):
    n = draw(st.integers(min_value=0, max_value=60))
    ints = lambda lo, hi: st.lists(  # noqa: E731
        st.integers(min_value=lo, max_value=hi), min_size=n, max_size=n
    )
    hkey = np.array(draw(ints(0, 3)), dtype=np.int64)
    prio = np.array(draw(ints(0, 3)), dtype=np.float64)
    depth = np.array(draw(ints(0, 2)), dtype=np.int64)
    batch = np.array(draw(ints(0, 2)), dtype=np.int64)
    keys = np.array(draw(st.permutations(range(n))) if n else [], dtype=np.int64)
    maybe = np.array(draw(ints(0, 1)), dtype=bool)
    # budget is a per-HOST quantity in the engine (politeness join) — model
    # that: one k per host, broadcast to rows
    k_by_host = {h: draw(st.integers(min_value=0, max_value=5)) for h in range(4)}
    k = np.array([k_by_host[int(h)] for h in hkey], dtype=np.int64)
    return hkey, prio, depth, batch, keys, maybe, k


# derandomize: shipped-green must be reproducible green (same policy as the
# canon parity pins — VERDICT r05 item 3)
@settings(max_examples=300, deadline=None, derandomize=True)
@given(_kernel_inputs(), st.randoms(use_true_random=False))
def test_guarded_prefix_keep_is_exact_superset(inputs, rng):
    """For ANY truth assignment consistent with the sketch semantics
    (maybe=False ⇒ definitely unseen; maybe=True ⇒ seen or unseen), the
    true per-host top-k over unseen rows must be contained in the kept
    set — the exactness argument of membership_prefix_topk, pinned on
    randomized inputs against a brute-force reference."""
    from spiderspark.frontier import guarded_prefix_keep

    hkey, prio, depth, batch, keys, maybe, k = inputs
    keep = guarded_prefix_keep(hkey, prio, depth, batch, keys, maybe, k)

    # brute-force reference of the keep rule itself
    n = len(keys)
    ref = np.zeros(n, dtype=bool)
    for h in set(hkey.tolist()):
        rows = sorted(
            np.flatnonzero(hkey == h),
            key=lambda i: (prio[i], depth[i], batch[i], keys[i]),
        )
        d = 0
        for i in rows:
            if maybe[i]:
                if d < k[i]:
                    ref[i] = True
            else:
                d += 1
                if d <= k[i]:
                    ref[i] = True
    assert np.array_equal(keep, ref)

    # superset property under a random truth assignment
    seen = np.array([bool(m) and rng.random() < 0.5 for m in maybe])
    for h in set(hkey.tolist()):
        unseen = [i for i in np.flatnonzero(hkey == h) if not seen[i]]
        unseen.sort(key=lambda i: (prio[i], depth[i], batch[i], keys[i]))
        top = unseen[: k[unseen[0]]] if unseen else []
        for i in top:
            assert keep[i], (
                f"true top-budget row {i} of host {h} was cut by the prefix rule"
            )
