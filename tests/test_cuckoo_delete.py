"""Cuckoo-tier deletion, end to end: the capability that justifies cuckoo
over bloom (re-crawl-after-TTL). A URL that was crawled and entered the seen
state — exact table AND distributed sketch — is expired (deleted from both,
re-injected into the frontier) and must be scheduled again by the very same
crawl loop that previously suppressed it."""

import dataclasses
import os
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from spiderspark.crawl import (
    FRONTIER_KEY,
    CrawlConfig,
    CrawlState,  # noqa: F401
    crawl_round,
    init_state,
    keyed_pages,
)
from spiderspark.frontier import (
    SketchRef,
    seeds_to_frontier,
    sketch_delete,
    sketch_flag_maybe_seen,
    write_sketch_delta,
)
from spiderspark.pages import gen_pages_pdf, seeds_pdf
from spiderspark.politeness import HostPolicy
from spiderspark.schedule import assign_salts_static
from spiderspark.schemas import PAGES, SEEDS, SEEN
from spiderspark.state import SegmentedTable, materialize_keyed


N = 4  # state buckets


def _hashes(df) -> set:
    return {r["url_hash"] for r in df.select("url_hash").collect()}


def test_cuckoo_delete_then_recrawl(spark):
    config = CrawlConfig(
        policy=HostPolicy(default_budget=4.0), state_buckets=N,
        sketch_kind="cuckoo", seen_tier="sketch",  # the tier under test
    )
    pages = spark.createDataFrame(gen_pages_pdf(np.arange(200), 200), schema=PAGES)
    seeds = spark.createDataFrame(seeds_pdf(12, 200), schema=SEEDS)
    pk = keyed_pages(pages, n_parts=N)

    state = init_state(spark, seeds, None, config)
    state, s1, log1 = crawl_round(spark, state, pk, config)
    # pick a FETCHED round-1 url (done ⇒ in the seen set and in the sketch)
    fetched = {r["url_hash"] for r in log1.filter("status = 'fetched'").collect()}
    target = s1.filter(F.col("url_hash").isin(list(fetched))).orderBy("rank").first()
    assert target is not None
    assert len(state.sketch.paths) > 0  # the sketch is probed from round 2 on

    # the key frame for the target: the sketch buckets by url_hash alone
    key_df = spark.createDataFrame([(target["url_hash"],)], "url_hash long")

    # suppressed while seen: round 2 must not re-schedule it, and the
    # sketch must flag it maybe-seen
    state2, s2, _ = crawl_round(spark, state, pk, config)
    assert target["url_hash"] not in _hashes(s2)
    flagged = sketch_flag_maybe_seen(key_df, state2.sketch).first()
    assert flagged["_maybe"] is True

    # TTL expiry: delete from the sketch (distributed cuckoo delete), drop
    # from the exact seen table, re-inject the url as a frontier row
    out = os.path.join(state2.workdir, "sketch_after_ttl")
    sketch3 = sketch_delete(spark, state2.sketch, key_df, out)
    gone = sketch_flag_maybe_seen(key_df, sketch3).first()
    assert gone["_maybe"] is False  # the bits are actually gone

    seen3 = SegmentedTable.from_df(
        state2.seen.df(spark, SEEN).filter(
            F.col("url_hash") != target["url_hash"]
        ),
        n_parts=N,
    )
    reinjected = materialize_keyed(
        assign_salts_static(
            seeds_to_frontier(
                spark,
                spark.createDataFrame(
                    [(target["url"], float(target["priority"]))], SEEDS
                ),
                batch_id=state2.batch_id,
            ),
            state2.salts,
        ),
        n_parts=N,
        key=FRONTIER_KEY,
        sort=state2.frontier.sort_cols,
    )
    state3 = dataclasses.replace(
        state2,
        frontier=state2.frontier.append(reinjected),
        seen=seen3,
        sketch=sketch3,
    )

    # the SAME loop now re-schedules it
    state4, s3, log3 = crawl_round(spark, state3, pk, config)
    assert target["url_hash"] in _hashes(s3)
    # and it re-enters the seen set after the re-fetch
    assert target["url_hash"] in _hashes(state4.seen.df(spark, SEEN))

    # other seen urls were untouched by the targeted delete: none of the
    # remaining round-1 fetched urls were re-scheduled
    others = fetched - {target["url_hash"]}
    assert not (others & _hashes(s3))


def test_forget_urls_exact_tier_end_to_end(spark):
    """TTL expiry under the DEFAULT config: the exact tier keeps the url_hash
    seen table and no sketch. forget_urls must expire the url from it, so
    that after re-injection the same loop re-schedules the url and its
    re-fetch re-enters the seen set."""
    from spiderspark.crawl import forget_urls

    config = CrawlConfig(policy=HostPolicy(default_budget=4.0), state_buckets=N)
    assert config.seen_tier == "exact"
    pages = spark.createDataFrame(gen_pages_pdf(np.arange(200), 200), schema=PAGES)
    seeds = spark.createDataFrame(seeds_pdf(12, 200), schema=SEEDS)
    pk = keyed_pages(pages, n_parts=N)

    state = init_state(spark, seeds, None, config)
    state, s1, log1 = crawl_round(spark, state, pk, config)
    fetched = {r["url_hash"] for r in log1.filter("status = 'fetched'").collect()}
    target = s1.filter(F.col("url_hash").isin(list(fetched))).orderBy("rank").first()
    assert target is not None
    assert state.sketch is None  # the exact table is the only seen representation

    state2, s2, _ = crawl_round(spark, state, pk, config)
    assert target["url_hash"] not in _hashes(s2)  # suppressed while seen

    key_df = spark.createDataFrame(
        [(target["url_hash"], target["url_norm"], target["host"])],
        "url_hash long, url_norm string, host string",
    )
    state3 = forget_urls(spark, state2, key_df, config)
    assert target["url_hash"] not in _hashes(state3.seen.df(spark, SEEN))

    reinjected = materialize_keyed(
        assign_salts_static(
            seeds_to_frontier(
                spark,
                spark.createDataFrame(
                    [(target["url"], float(target["priority"]))], SEEDS
                ),
                batch_id=state3.batch_id,
            ),
            state3.salts,
        ),
        n_parts=N,
        key=FRONTIER_KEY,
        sort=state3.frontier.sort_cols,
    )
    state3 = dataclasses.replace(
        state3, frontier=state3.frontier.append(reinjected)
    )

    state4, s3, _ = crawl_round(spark, state3, pk, config)
    assert target["url_hash"] in _hashes(s3)  # re-scheduled
    assert target["url_hash"] in _hashes(state4.seen.df(spark, SEEN))
    # the targeted expiry touched nothing else
    others = fetched - {target["url_hash"]}
    assert not (others & _hashes(s3))


def test_forget_urls_refuses_bloom_state(spark):
    """A sketch-tier state carrying a bloom sketch cannot soundly forget
    (bits cannot be unset) — the coherent-expiry API must refuse, not
    silently leave a stale sketch that suppresses or ghost-flags urls."""
    from spiderspark.crawl import forget_urls

    config = CrawlConfig(
        policy=HostPolicy(default_budget=4.0), state_buckets=N,
        seen_tier="sketch",
    )
    pages = spark.createDataFrame(gen_pages_pdf(np.arange(100), 100), schema=PAGES)
    seeds = spark.createDataFrame(seeds_pdf(6, 100), schema=SEEDS)
    state = init_state(spark, seeds, None, config)
    state, s1, _ = crawl_round(spark, state, keyed_pages(pages, n_parts=N), config)
    key_df = spark.createDataFrame(
        [(0, "http://h.example/", "h.example")],
        "url_hash long, url_norm string, host string",
    )
    with pytest.raises(ValueError, match="bloom"):
        forget_urls(spark, state, key_df, config)


def test_sketch_delete_refuses_bloom(spark):
    ref = SketchRef.create(N, 1024, 0.01, kind="bloom")
    keys = spark.range(5).select(F.col("id").alias("url_hash"))
    d = tempfile.mkdtemp(prefix="bloomdel-")
    ref = write_sketch_delta(keys, os.path.join(d, "delta0"), ref)
    with pytest.raises(ValueError, match="cuckoo"):
        sketch_delete(spark, ref, keys, os.path.join(d, "after"))
