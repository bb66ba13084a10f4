"""The exact tier keeps only the url_hash seen table; the sketch tier also
keeps a distributed sketch. Every state-changing call keeps the frontier
and the seen set disjoint (frontier ∩ seen = ∅ on url_hash) — the invariant
that lets ``select_round`` read no seen state: ``mark_seen`` prunes, and the
round's delta probe drops seen keys, including keys that became seen in the
same round (on the sketch tier those are not in the sketch yet).

Walks one small crawl per tier through init_state → mark_seen → store-backed
crawl_round ×2 → forget_urls + re-injection → crawl_round → resume, checking
the invariant and the tier's representations after every step."""

import dataclasses
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from spiderspark import crawl
from spiderspark.canon import extract_outlinks_series
from spiderspark.crawl import (
    FRONTIER_KEY,
    CrawlConfig,
    _frontier_cols,
    crawl_round,
    forget_urls,
    init_state,
    keyed_pages,
    mark_seen,
    resume,
)
from spiderspark.frontier import (
    _PARTIAL_SCHEMA,
    _partials_fn,
    dedup_within_batch,
    host_bucket_col,
    seeds_to_frontier,
    sketch_flag_maybe_seen,
    with_canonical,
)
from spiderspark.pages import gen_pages_pdf, robots_pdf, seeds_pdf, url_for_ids
from spiderspark.politeness import HostPolicy
from spiderspark.schedule import assign_salts_static
from spiderspark.schemas import FRONTIER, PAGES, ROBOTS_TXT, SEEDS, SEEN
from spiderspark.snapshots import ParquetManifestStore
from spiderspark.state import _aqe_disabled, materialize_keyed

N = 4
CORPUS = 200


def _config(tier):
    return CrawlConfig(
        policy=HostPolicy(default_budget=4.0), state_buckets=N, seen_tier=tier,
        # the sketch tier's TTL expiry needs a deletable filter
        sketch_kind="cuckoo" if tier == "sketch" else "bloom",
    )


def _overlap(spark, state) -> int:
    frontier = state.frontier.df(spark, FRONTIER).select("url_hash")
    seen = state.seen.df(spark, SEEN).select("url_hash")
    return frontier.join(seen, "url_hash").count()


def _check(spark, state, tier, step):
    assert _overlap(spark, state) == 0, f"frontier ∩ seen ≠ ∅ after {step}"
    assert (state.sketch is None) == (tier == "exact"), step


# what a store-backed round commits on the exact tier: the url_hash seen
# table is the only seen representation
EXACT_TABLES = {"frontier", "seen", "host_state", "schedule", "fetch_log", "salt_table"}


def _manifest_tables(store) -> set:
    return set(store.manifest(store.head())["tables"])


@pytest.mark.parametrize("tier", ["exact", "sketch"])
def test_frontier_and_seen_stay_disjoint(spark, tier):
    config = _config(tier)
    pages = spark.createDataFrame(gen_pages_pdf(np.arange(CORPUS), CORPUS), schema=PAGES)
    seeds = spark.createDataFrame(seeds_pdf(16, CORPUS), schema=SEEDS)
    robots = spark.createDataFrame(robots_pdf(), schema=ROBOTS_TXT)
    pk = keyed_pages(pages, n_parts=N)
    store = ParquetManifestStore(tempfile.mkdtemp(prefix="seentiers-"))

    state = init_state(spark, seeds, robots, config)
    _check(spark, state, tier, "init_state")

    # pre-seed urls that are in the frontier (ids 0, 10, ... include seeds)
    urls = spark.createDataFrame(
        [(u,) for u in url_for_ids(np.arange(0, CORPUS, 10))], ["url"]
    )
    keys = with_canonical(urls).select("url_hash", "url_norm", "host")
    before = state.frontier.total_rows()
    state = mark_seen(spark, state, keys, config)
    assert state.frontier.total_rows() < before  # the prune did real work
    _check(spark, state, tier, "mark_seen")

    schedules = []
    for r in (1, 2):
        state, sched, _ = crawl_round(spark, state, pk, config, store=store)
        schedules.append(sched)
        _check(spark, state, tier, f"crawl_round {r}")
        tables = _manifest_tables(store)
        if tier == "exact":
            assert tables == EXACT_TABLES
        else:
            assert tables == EXACT_TABLES | {"seen_sketch"}
            assert len(state.sketch.paths) > 0

    # TTL expiry of two round-1 urls, then re-injection as fresh frontier rows
    expired = schedules[0].orderBy("rank").limit(2)
    exp_hashes = {r["url_hash"] for r in expired.collect()}
    state = forget_urls(
        spark, state, expired.select("url_hash", "url_norm", "host"), config
    )
    rows = assign_salts_static(
        seeds_to_frontier(
            spark, expired.select("url", F.lit(-1.0).alias("priority")),
            batch_id=state.batch_id,
        ),
        state.salts,
    )
    seg = materialize_keyed(
        dedup_within_batch(_frontier_cols(rows).repartition(N, "url_hash")),
        N, key=FRONTIER_KEY, sort=state.frontier.sort_cols,
    )
    state = dataclasses.replace(state, frontier=state.frontier.append(seg))
    _check(spark, state, tier, "forget_urls + re-injection")

    state, sched3, _ = crawl_round(spark, state, pk, config, store=store)
    assert exp_hashes <= {r["url_hash"] for r in sched3.collect()}
    _check(spark, state, tier, "crawl_round 3")

    resumed = resume(spark, store, config)
    _check(spark, resumed, tier, "resume")
    assert resumed.frontier.total_rows() == state.frontier.total_rows()
    assert resumed.seen.total_rows() == state.seen.total_rows()

    if tier == "exact":
        # an exact-tier snapshot has no sketch to read: the sketch tier refuses
        with pytest.raises(ValueError, match="seen_sketch"):
            resume(spark, store, _config("sketch"))
    else:
        # the exact table is complete: a sketch-tier snapshot resumes exact
        as_exact = resume(spark, store, _config("exact"))
        _check(spark, as_exact, "exact", "resume under the exact tier")
        assert as_exact.frontier.total_rows() == state.frontier.total_rows()
        assert as_exact.seen.total_rows() == state.seen.total_rows()


def test_sketch_tier_same_round_links_stay_out(spark):
    """Pages fetched in one round that link to each other: the linked urls
    became seen THIS round, so the round's sketch delta — written
    concurrently with the frontier delta — cannot hold them yet; the delta
    probe must still drop them (it also anti-probes the round's newly-seen
    segment)."""
    config = _config("sketch")
    pages_pdf = gen_pages_pdf(np.arange(CORPUS), CORPUS)
    pages = spark.createDataFrame(pages_pdf, schema=PAGES)
    # page 0 links to pages 1 and 5: all three are fetched in round 1
    seeds = spark.createDataFrame(
        [(u, 0.0) for u in url_for_ids(np.array([0, 1, 5]))], schema=SEEDS
    )
    state = init_state(spark, seeds, None, config)
    state, _, log = crawl_round(spark, state, keyed_pages(pages, n_parts=N), config)

    fetched = {r["url_hash"] for r in log.filter("status = 'fetched'").collect()}
    urls = with_canonical(spark.createDataFrame(pages_pdf[["url", "html"]]))
    fetched_pages = urls.filter(F.col("url_hash").isin(list(fetched))).toPandas()
    links = extract_outlinks_series(
        fetched_pages["html"].map(bytes), fetched_pages["url"]
    ).explode().dropna()
    linked = {
        r["url_hash"]
        for r in with_canonical(
            spark.createDataFrame([(u,) for u in links], ["url"])
        ).select("url_hash").collect()
    }
    same_round = linked & fetched
    assert len(same_round) > 0, "the fixture must link pages of one round"
    frontier = {
        r["url_hash"]
        for r in state.frontier.df(spark, FRONTIER).select("url_hash").collect()
    }
    assert not (same_round & frontier)
    _check(spark, state, "sketch", "crawl_round 1")


def test_seen_tier_is_validated():
    with pytest.raises(ValueError, match="seen_tier"):
        CrawlConfig(seen_tier="mirror")


def _plan_nodes(node, ancestors=()):
    """(node, its ancestors from the root down) for every physical-plan node."""
    yield node, ancestors
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i), ancestors + (node,))


def _is_hash_exchange(node) -> bool:
    return node.simpleString(100).startswith("Exchange hashpartitioning(")


def test_sketch_probes_run_in_the_url_hash_layout(spark, monkeypatch):
    """Both sketch-tier seen checks — mark_seen's new-key filter and the
    round's delta probe — flag their url_hash-layout rows where they are:
    the sketch bucket is the url_hash partition id, so no exchange routes
    the rows to (host_bucket, salt), and exactly one hash exchange (back to
    the url_hash layout, which Spark drops after MapInPandas) sits between
    the membership pass and the anti-joins."""
    config = _config("sketch")
    pages = spark.createDataFrame(gen_pages_pdf(np.arange(CORPUS), CORPUS), schema=PAGES)
    seeds = spark.createDataFrame(seeds_pdf(16, CORPUS), schema=SEEDS)
    probes = []
    drop_seen = crawl._drop_seen

    def recording(rows, seen, sketch, fresh=None):
        out = drop_seen(rows, seen, sketch, fresh)
        probes.append(("crawl_round" if fresh is not None else "mark_seen", out))
        return out

    monkeypatch.setattr(crawl, "_drop_seen", recording)
    state = init_state(spark, seeds, None, config)
    for ids in (np.arange(0, CORPUS, 10), np.arange(5, CORPUS, 10)):
        urls = spark.createDataFrame([(u,) for u in url_for_ids(ids)], ["url"])
        keys = with_canonical(urls).select("url_hash", "url_norm", "host")
        state = mark_seen(spark, state, keys, config)  # the first seen nothing
    crawl_round(spark, state, keyed_pages(pages, n_parts=N), config)

    assert [name for name, _ in probes] == ["mark_seen", "crawl_round"]
    for name, df in probes:
        with _aqe_disabled(spark):
            plan = df._jdf.queryExecution().executedPlan()
        nodes = list(_plan_nodes(plan))
        routed = [
            s for s in (n.simpleString(100) for n, _ in nodes)
            if s.startswith("Exchange hashpartitioning(host_bucket")
        ]
        assert not routed, (name, routed)
        maps = [anc for n, anc in nodes if n.nodeName() == "MapInPandas"]
        assert len(maps) == 1, name
        assert sum(_is_hash_exchange(a) for a in maps[0]) == 1, (name, plan.toString())


def _ordering(schedule) -> list:
    return [(r["rank"], r["url_hash"]) for r in schedule.orderBy("rank").collect()]


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_resume_rebuilds_a_host_salt_routed_sketch(spark, kind):
    """A sketch-tier snapshot written before url_hash routing holds filters
    bucketed by pmod(hash(host_bucket, salt), n) and says so in its
    ``routing`` column. Resume rebuilds the sketch from the snapshot's exact
    seen table: every seen key flags maybe-seen, and the next round's
    schedule equals the uninterrupted run's."""
    config = dataclasses.replace(_config("sketch"), sketch_kind=kind)
    pages = spark.createDataFrame(gen_pages_pdf(np.arange(CORPUS), CORPUS), schema=PAGES)
    seeds = spark.createDataFrame(seeds_pdf(16, CORPUS), schema=SEEDS)
    robots = spark.createDataFrame(robots_pdf(), schema=ROBOTS_TXT)
    pk = keyed_pages(pages, n_parts=N)

    state = init_state(spark, seeds, robots, config)
    state, s1, log1 = crawl_round(spark, state, pk, config)
    seen_keys = state.seen.df(spark, SEEN).select("url_hash")
    n_seen = seen_keys.count()
    assert n_seen > 0

    # the old sketch: the round's seen keys (all scheduled in round 1)
    # bucketed by their (host_bucket, salt), built by the same partials
    ref = state.sketch
    old_rows = (
        assign_salts_static(
            s1.join(seen_keys, "url_hash").select(
                "url_hash", "url_norm", "host",
                host_bucket_col(F.col("host")).alias("host_bucket"),
            ),
            state.salts,
        )
        .withColumn("_bucket", F.pmod(F.hash("host_bucket", "salt"), F.lit(N)).cast("int"))
        .repartition(N, "_bucket")
        .mapInPandas(
            _partials_fn(ref.n_bits, ref.n_hashes, N, kind), schema=_PARTIAL_SCHEMA
        )
        .withColumn("routing", F.lit("host_bucket,salt"))
    )
    store = ParquetManifestStore(tempfile.mkdtemp(prefix="oldsketch-"))
    tables = {
        "frontier": state.frontier.df(spark, FRONTIER),
        "seen": state.seen.df(spark, SEEN),
        "host_state": state.host_state,
        "schedule": s1,
        "fetch_log": log1,
        "salt_table": state.salts,
        "seen_sketch": old_rows,
    }
    head = store.commit(
        tables, state.batch_id, None, partition_by={"seen_sketch": ["bucket"]}
    )
    # the fixture must matter: read as url_hash-bucketed, the old rows
    # miss seen keys
    stored = dataclasses.replace(
        ref, paths=(store.table_path(head, "seen_sketch"),)
    )
    assert not all(
        r["_maybe"] for r in sketch_flag_maybe_seen(seen_keys, stored).collect()
    )

    resumed = resume(spark, store, config)
    assert resumed.sketch.kind == kind
    flags = sketch_flag_maybe_seen(seen_keys, resumed.sketch).collect()
    assert len(flags) == n_seen and all(r["_maybe"] for r in flags)

    _, golden, _ = crawl_round(spark, state, pk, config)
    _, after, _ = crawl_round(spark, resumed, pk, config)
    assert _ordering(after) == _ordering(golden)
