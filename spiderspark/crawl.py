"""The crawl loop: schedule → fetch → extract → discover → commit
(SURVEY.md §3.1) — the batch re-expression of the reference's
thread-pool-over-queues semantics.

One ``crawl_round`` is the unit of the throughput metric ("frontier URLs
scheduled+deduped/sec", BASELINE.json:2) and of the ordering invariant: the
returned schedule's (rank, url_hash) sequence must equal the pure-python
oracle's for the same seeds + politeness budget at any parallelism.

Scale shape (the repeat-round exchange budget — see docs/PLANS.md
"Scheduler layout"):

- The frontier is a SegmentedTable in the SCHEDULER layout: hash-partitioned
  by (host_bucket, salt) — salt from the per-crawl static table — at a
  fixed ``state_buckets``, sorted by (host_bucket, salt, url_hash). The
  seen set stays keyed by url_hash. Every per-round touch of the big state
  — schedule removal, delta resolve, seen anti-probes — plans as a
  co-partitioned SMJ or broadcast probe with ZERO exchange and ZERO sort on
  the stored side. Network per round is O(delta + schedule), not O(state).
- Scheduling never exchanges the candidates either and reads no seen
  state: the frontier and the seen set are disjoint after every state
  transition, so ``select_round`` is one path — gate each stored segment,
  phase-1 window top-k within (host_bucket, salt, host), final per-host
  top-k over the O(hosts × budget) kept set. Seen-ness is checked only
  where it can remove rows: the round's discovery/requeue delta probe and
  ``mark_seen``'s new-key filter.
- Two seen tiers (``CrawlConfig.seen_tier``): "exact" keeps only the
  url_hash seen table; "sketch" also keeps a distributed URL-seen sketch
  (frontier.SketchRef) that the two probes read first, so only its
  maybe-seen sliver reaches the exact anti-join. A key's bucket is
  pmod(hash(url_hash), state_buckets), the partition id of the url_hash
  layout both probes run in, so membership is a partition-local side-read
  of one bucket slice per task with no exchange, and buckets fill evenly
  under Zipf host skew; updates are bucket-partitioned delta directories
  written straight from url_hash-layout keys; compaction is a distributed
  groupBy(bucket) merge. Bloom (default) or cuckoo (deletion support)
  filters behind the same rows. Nothing sketch-shaped ever lives on the
  driver or in a broadcast.
- Iterative-loop hygiene: each round's state is re-materialized through
  ``materialize_keyed`` (plans stay shallow; the checkpoint write is
  partition-local — no network) or, with ``durable_state=True``, through
  bucketed parquet tables that keep the same layout contract while
  surviving executor loss; transient persists are dropped at round end.
"""

from __future__ import annotations

import os
import tempfile
from dataclasses import dataclass, field, replace
from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T

from .canon import extract_outlinks_series, extract_text_series
from .frontier import (
    SKETCH_ROUTING,
    SketchRef,
    compact_sketch,
    dedup_within_batch,
    host_bucket_col,
    seeds_to_frontier,
    sketch_flag_maybe_seen,
    sketch_df,
    with_canonical,
    write_sketch_delta,
)
from .politeness import (
    HostPolicy,
    init_host_state,
    insertion_gate,
    join_host_state,
    robots_gate,
    update_host_state,
)
from .schedule import (
    assign_salts_static,
    order_cols,
    per_host_topk_final,
    static_salt_table,
    to_schedule,
)
from .schemas import FRONTIER, HOST_STATE, SEEN
from .snapshots import SnapshotStore
from .state import (
    SegmentedTable,
    materialize_keyed,
    materialize_many,
    resolve_frontier_delta,
)

# the frontier's physical partitioning: both columns are pure functions of
# the canonical url, so (FRONTIER_KEY..., url_hash) is a consistent compound
# identity and every per-round window/join over the stored layout plans
# exchange-free (see docs/PLANS.md "Scheduler layout")
FRONTIER_KEY = ("host_bucket", "salt")
SEEN_TIERS = ("exact", "sketch")


@dataclass(frozen=True)
class CrawlConfig:
    policy: HostPolicy = field(default_factory=HostPolicy)
    # state_buckets is BOTH the state-partition count and the sketch bucket
    # count: bucket = pmod(hash(url_hash), state_buckets) equals the stored
    # partition id, so membership tasks read exactly one sketch slice.
    # Sandbox default sized for local[32]; cluster: O(total cores), fixed
    # for the lifetime of a crawl.
    state_buckets: int = 32
    bloom_capacity_per_bucket: int = 1 << 16
    bloom_fpp: float = 0.01
    skew_threshold: int = 50_000
    # which seen representations the state keeps; both tiers schedule
    # identically (select_round reads neither — the frontier never holds a
    # seen key) and differ only in how the round's delta probe and
    # mark_seen's new-key filter find seen keys:
    # - "exact" (default): anti-probes of the url_hash seen table, the only
    #   seen representation on this tier.
    # - "sketch": a bloom/cuckoo sketch answers first; rows it calls
    #   definitely unseen skip the exact table, only the maybe-seen sliver
    #   is anti-probed. Reads ~1.2 bits per seen key instead of 8 key bytes
    #   per probe — the tier for seen sets that dwarf per-round reads.
    seen_tier: str = "exact"
    # sketch-tier filter family: "bloom" (default) or "cuckoo" (adds
    # deletion for re-crawl-after-TTL deployments; see sketch.CuckooFilter)
    sketch_kind: str = "bloom"
    max_depth: int = 64
    # reference parity: failed lookups are re-queued (SURVEY.md §0.3.5);
    # a URL is retried until it has been scheduled max_attempts times, then
    # enters the seen set as exhausted
    max_attempts: int = 2
    # LSM knobs: segments/delta-dirs allowed before the amortized compaction
    max_segments: int = 4
    # durable_state=True routes every state-segment materialization through
    # bucketed parquet tables (state.materialize_keyed_durable) instead of
    # localCheckpoint executor blocks: the layout contract survives the disk
    # roundtrip AND any executor loss — the cluster fault-tolerance mode.
    # In-sandbox the in-memory fast path stays the default (no disk write
    # per round). See docs/PLANS.md "State layout".
    durable_state: bool = False
    # Where durable segments/sketch deltas live. On a cluster this MUST be
    # shared storage (HDFS/S3/NFS) — the default driver-local tempdir is
    # only durable on a single-node sandbox.
    durable_dir: str | None = None

    def __post_init__(self):
        if self.seen_tier not in SEEN_TIERS:
            raise ValueError(
                f"seen_tier must be one of {SEEN_TIERS}, got {self.seen_tier!r}"
            )


@dataclass
class CrawlState:
    frontier: SegmentedTable
    seen: SegmentedTable
    host_state: DataFrame
    # the distributed URL-seen sketch: set on the sketch tier, None on the
    # exact tier
    sketch: SketchRef | None
    batch_id: int
    workdir: str
    k_cap: int
    # per-crawl STATIC (host, n_salts) table: salt must be a stable function
    # of the url for the crawl's lifetime so (host_bucket, salt) can be the
    # frontier's physical partitioning. The schedule is invariant to the
    # salting scheme, so a stale size estimate costs balance, never
    # correctness.
    salts: DataFrame | None = None
    snapshot_id: int | None = None


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return extract_text_series(html)


@F.pandas_udf(T.ArrayType(T.StringType()))
def outlinks_udf(html: pd.Series, base: pd.Series) -> pd.Series:
    return extract_outlinks_series(html, base)


def _materialize(df: DataFrame) -> DataFrame:
    """Plain eager materialization for tables with no layout contract
    (fetched pages, host state, salt table)."""
    return df.localCheckpoint(eager=True)


def _keyed_mat(config: CrawlConfig, workdir: str):
    """The state-segment materializer for this crawl: in-memory layout pin
    (default fast path) or durable bucketed tables (fault-tolerant mode)."""
    if not config.durable_state:
        def mat(df, n_parts=None, key="url_hash", repartition=True, sort=None):
            return materialize_keyed(df, n_parts, key, repartition, sort)
        return mat
    from .state import materialize_keyed_durable

    base = os.path.join(workdir, "segments")

    def mat(df, n_parts=None, key="url_hash", repartition=True, sort=None):
        return materialize_keyed_durable(
            df, n_parts or config.state_buckets, key, repartition, sort, base
        )

    return mat


def _frontier_cols(df: DataFrame) -> DataFrame:
    return df.select(*[f.name for f in FRONTIER.fields])


def init_state(
    spark: SparkSession,
    seeds: DataFrame,
    robots: DataFrame | None,
    config: CrawlConfig,
) -> CrawlState:
    n = config.state_buckets
    host_state = (
        _materialize(init_host_state(robots, config.policy))
        if robots is not None
        else spark.createDataFrame([], HOST_STATE)
    )
    # robots-disallowed URLs are dropped at INSERTION time — they can never
    # be scheduled (robots is static per crawl), so keeping them would grow
    # frontier state unboundedly with re-gated dead rows. Pinned: the salt
    # table and the segment below both read these rows, and canonicalizing
    # the input twice cost more than the pin (100k URLs on 4 cores: ~0.9 s)
    rows = _materialize(
        insertion_gate(seeds_to_frontier(spark, seeds, batch_id=0), host_state)
    )
    # static salt table from the seed host distribution (any size estimate
    # is schedule-invariant; late-heavy hosts cost balance only)
    salts = _materialize(
        static_salt_table(
            rows.groupBy("host").agg(F.count(F.lit(1)).alias("_n")),
            config.skew_threshold,
        )
    )
    rows = assign_salts_static(rows, salts)
    if config.durable_dir:
        workdir = config.durable_dir
        os.makedirs(workdir, exist_ok=True)
    else:
        workdir = tempfile.mkdtemp(prefix="spiderspark-state-")
    frontier0 = SegmentedTable.empty(n, key=FRONTIER_KEY)
    # ONE exchange: route into the stored layout first, then dedup there —
    # (host_bucket, salt) are functions of the url like url_hash, so the
    # grouping plans exchange-free on the layout and the pin stays local
    seg0 = _keyed_mat(config, workdir)(
        dedup_within_batch(
            _frontier_cols(rows).repartition(n, *FRONTIER_KEY),
            extra_keys=FRONTIER_KEY,
        ),
        n_parts=n,
        key=FRONTIER_KEY,
        repartition=False,
        sort=frontier0.sort_cols,
    )
    frontier = frontier0.append(seg0)
    sketch = (
        SketchRef.create(
            n, config.bloom_capacity_per_bucket, config.bloom_fpp,
            kind=config.sketch_kind,
        )
        if config.seen_tier == "sketch"
        else None
    )
    return CrawlState(
        frontier=frontier,
        seen=SegmentedTable.empty(n),
        host_state=host_state,
        sketch=sketch,
        batch_id=0,
        workdir=workdir,
        k_cap=_k_cap(config.policy, host_state if robots is not None else None),
        salts=salts,
    )


def _k_cap(policy: HostPolicy, host_state: DataFrame | None) -> int:
    """The largest per-host budget of the crawl: the policy default, raised
    by the largest robots capacity. Without host state (no robots) every
    host gets the default, so no job runs."""
    if host_state is None:
        return int(policy.default_budget)
    m = host_state.agg(F.max("capacity")).head()[0]
    return int(max(policy.default_budget, m or 0))


def keyed_pages(pages: DataFrame, n_parts: int | None = None) -> DataFrame:
    """Pages table keyed by url_hash of the canonical url — computed once,
    outside the loop, and stored in the keyed layout so the per-round fetch
    join never exchanges the corpus (only the small schedule side moves).
    Column pruning matters here: ``html`` is the fat column; downstream
    joins select it explicitly only at fetch time.

    At 100 TB this materialization is the Iceberg pages table bucketed by
    url_hash — same layout contract, durable storage."""
    # jvm_fast=False: the JVM-gate split plans two scans of the source, and
    # this source carries the fat html column — one Arrow pass beats a
    # double parquet read here
    keyed = with_canonical(pages, jvm_fast=False).select(
        "url_hash", "url_norm", "html"
    )
    if n_parts is None:
        return keyed
    return materialize_keyed(keyed, n_parts)


def select_round(
    spark: SparkSession, state: CrawlState, config: CrawlConfig
) -> DataFrame:
    """Steps 1-4 of a crawl round: politeness + per-host budget selection
    over the current frontier — the scheduling core, factored out so the
    driver contract (``__spark_entry__.schedule_round_df``) value-checks the
    EXACT code path ``crawl_round`` runs.

    One path, no seen input: the frontier never holds a seen key (every
    transition that adds seen keys prunes or probes the frontier side), so
    a seen filter here could remove nothing. Each stored segment is gated in
    place (politeness budget + robots, broadcast joins — layout preserved),
    then phase-1 ranks within (host_bucket, salt, host), layout-satisfied
    (no exchange) with the k_cap literal keeping the WindowGroupLimit
    bounded sort; only the O(hosts × budget) phase-1 winners reach the
    final per-host window."""
    if not state.frontier.segments:
        return spark.createDataFrame([], FRONTIER).withColumn(
            "host_budget", F.lit(0).cast("long")
        )
    w1 = Window.partitionBy("host_bucket", "salt", "host").orderBy(*order_cols())
    kept = reduce(DataFrame.unionByName, [
        robots_gate(join_host_state(seg, state.host_state, config.policy))
        .filter(F.col("host_budget") > 0)
        .withColumn("_r1", F.row_number().over(w1))
        .filter(
            (F.col("_r1") <= F.lit(int(state.k_cap)))
            & (F.col("_r1") <= F.col("host_budget"))
        )
        .drop("_r1")
        for seg in state.frontier.segments
    ])
    return per_host_topk_final(kept, "host_budget", k_cap=state.k_cap)


def _drop_seen(
    rows: DataFrame,
    seen: SegmentedTable,
    sketch: SketchRef | None,
    fresh: DataFrame | None = None,
) -> DataFrame:
    """``rows`` minus every url_hash in ``seen`` — the engine's only seen
    check. ``rows`` is in the url_hash layout at ``seen.n_parts``, and so
    is the output.

    Exact tier (``sketch`` None): the co-partitioned anti-probe of every
    seen segment.

    Sketch tier: each task flags its own rows against its bucket slice (the
    sketch bucket is the url_hash partition id), then one exchange restores
    the url_hash layout, which Spark drops after ``mapInPandas``. A row the
    sketch calls definitely unseen can only be removed by ``fresh`` — keys
    in ``seen`` the sketch does not hold yet (this round's newly-seen
    segment, whose sketch delta is written concurrently); a maybe-seen row
    is checked against all of ``seen``. The maybe condition rides the
    anti-joins instead of splitting the rows, so membership runs once."""
    if sketch is None:
        return seen.anti_probe(rows)
    n = seen.n_parts
    flagged = sketch_flag_maybe_seen(rows, sketch).repartition(n, "url_hash")
    for seg in seen.segments:
        keys = seg.select("url_hash")
        flagged = flagged.join(
            keys,
            (flagged["url_hash"] == keys["url_hash"]) & flagged["_maybe"],
            "left_anti",
        )
    if fresh is not None:
        flagged = flagged.join(fresh.select("url_hash"), "url_hash", "left_anti")
    return flagged.drop("_maybe")


def crawl_round(
    spark: SparkSession,
    state: CrawlState,
    pages: DataFrame,
    config: CrawlConfig,
    store: SnapshotStore | None = None,
) -> tuple[CrawlState, DataFrame, DataFrame]:
    """Run one round; returns (state', schedule, fetch_log)."""
    batch_id = state.batch_id + 1
    n = config.state_buckets

    # 1-4. politeness + per-host budget selection (see select_round)
    selected = select_round(spark, state, config)

    # 5. deterministic total order → the round's schedule (the invariant unit)
    schedule = to_schedule(selected, batch_id)

    # 6. "fetch" (sandbox: join pages on url_hash; cluster: swap a fetching
    #    mapInPandas here) + pinned text extraction + lineage/metrics.
    #    pages is stored keyed → only the small schedule side exchanges.
    #    r08 (guide §2.3 shuffle fewer bytes / §5; VERDICT r07 item 5): the
    #    fat ``html`` column is DROPPED before the checkpoint — text AND
    #    outlinks are derived in the same projection (one ArrowEvalPython
    #    node: html crosses the Python boundary once and feeds both
    #    kernels), plus the two scalar facts downstream steps need
    #    (``bytes``, ``is_fetched``). The round's biggest intermediate then
    #    stores text+outlinks instead of raw html, and every downstream
    #    rescan (fetch_log, discovery, requeue, newly-seen) reads the
    #    narrow derivative columns, not the page bytes.
    fetched = _materialize(
        schedule.repartition(n, "url_hash")
        .join(pages.select("url_hash", "html"), "url_hash", "left")
        .withColumn("text", extract_text_udf("html"))
        .withColumn("outlinks", outlinks_udf("html", "url"))
        .withColumn(
            "bytes", F.coalesce(F.length("html"), F.lit(0)).cast("long")
        )
        .withColumn("is_fetched", F.col("html").isNotNull())
        .drop("html")
    )
    # fetch_log stays LAZY: it is a pure narrow projection of the checkpoint
    # just pinned above (spark_partition_id is stable over checkpointed
    # blocks, every other column deterministic), so each consumer — the
    # snapshot commit, the metrics sink, a caller's digest — pays one cheap
    # partition-local rescan instead of the round paying an extra eager job.
    fetch_log = fetched.select(
        F.lit(batch_id).cast("long").alias("batch_id"),
        F.spark_partition_id().alias("partition_id"),
        "url_hash",
        "host",
        F.when(~F.col("is_fetched"), F.lit("missing"))
        .otherwise(F.lit("fetched"))
        .alias("status"),
        "bytes",
        F.xxhash64("text").alias("text_hash"),
    )

    # 7. discovery: outlinks of fetched pages → frontier rows at depth+1
    #    (already extracted pre-checkpoint; this is a pure explode)
    discovered = (
        fetched.filter(F.col("is_fetched") & (F.col("depth") < config.max_depth))
        .select(
            F.explode("outlinks").alias("url"),
            F.col("priority").alias("parent_priority"),
            F.col("depth").alias("parent_depth"),
        )
    )
    # jvm_fast=False: discovered is explode(outlinks_udf(html)) — the split's
    # two source scans would run the HTML outlink-extraction UDF twice
    new_frontier_rows = (
        with_canonical(discovered, jvm_fast=False)
        .withColumn("priority", F.col("parent_priority"))
        .withColumn("depth", (F.col("parent_depth") + 1).cast("int"))
        .withColumn("salt", F.lit(0).cast("int"))
        .withColumn("discovered_batch", F.lit(batch_id).cast("long"))
        .withColumn("attempt", F.lit(0).cast("int"))
    )

    # 8. state update with retry semantics (reference re-queues failures):
    #    done = fetched OR attempts exhausted → seen; failed-with-budget-left
    #    → requeued at attempt+1. Semantics are EXACTLY
    #      seen'     = seen ∪ done
    #      frontier' = dedup(frontier ∖ scheduled ∪ discovered ∪ requeued)
    #                  ∖ seen'
    #    decomposed so the big tables move zero bytes: the schedule removal
    #    is an anti-probe of each stored segment (co-partitioned, schedule
    #    side tiny); discovered∪requeued become a deduped, seen-filtered,
    #    robots-gated delta (only the delta exchanges); the min-struct
    #    resolve against the segments is a set of co-partitioned left joins.
    done_cond = F.col("is_fetched") | (
        F.col("attempt") + 1 >= F.lit(config.max_attempts)
    )
    mat = _keyed_mat(config, state.workdir)
    # 10. politeness accounting reads only the pinned schedule; the
    #     newly-seen segment reads only the pinned fetch. Two independent
    #     small jobs — overlapped, because run serially each costs a fixed
    #     driver round-trip that never scales with cores (the measured
    #     non-scaling term of the strong pair; see state.materialize_many).
    sched_counts = schedule.groupBy("host").agg(F.count(F.lit(1)).alias("scheduled"))
    newly_seen_seg, host_state = materialize_many([
        lambda: mat(
            fetched.filter(done_cond).select(
                "url_hash", F.lit(batch_id).cast("long").alias("first_batch")
            ),
            n_parts=n,
        ),
        lambda: _materialize(
            update_host_state(state.host_state, sched_counts, config.policy)
        ),
    ])
    seen = state.seen.append(newly_seen_seg).maybe_compact(
        config.max_segments,
        materializer=lambda df: mat(df, n_parts=n),
    )

    requeued = fetched.filter(~done_cond).select(
        "url",
        "url_norm",
        "url_hash",
        "host",
        host_bucket_col(F.col("host")).alias("host_bucket"),
        "priority",
        "depth",
        F.lit(batch_id).cast("long").alias("discovered_batch"),
        (F.col("attempt") + 1).cast("int").alias("attempt"),
    )
    # delta rows get their STABLE salt (function of url_norm + the static
    # table — a requeued url lands back in exactly its old (hb, salt) slot)
    delta = assign_salts_static(
        new_frontier_rows.select(
            *[c for c in FRONTIER.fieldNames() if c != "salt"]
        ).unionByName(requeued),
        state.salts,
    )
    # delta is O(discovered + requeued): it pays two small exchanges — the
    # url_hash layout for the within-batch dedup + seen anti-probe, then the
    # frontier (hb, salt) layout for the resolve. The big tables never move.
    delta = dedup_within_batch(
        _frontier_cols(delta).repartition(n, "url_hash")
    )
    delta_plan = insertion_gate(delta, state.host_state)  # never insert dead rows

    # 9. sketch' input (sketch tier only): this round's newly-seen keys,
    #    written straight from newly_seen_seg — already pinned in the
    #    url_hash layout, where each partition IS one sketch bucket. The
    #    sketch delta write is independent of the frontier delta, so it runs
    #    CONCURRENTLY with the round's dominant job below; that job's probe
    #    therefore cannot read it, and anti-probes newly_seen_seg instead.
    sketch = state.sketch
    thunks = [
        lambda: mat(
            _drop_seen(
                _frontier_cols(delta_plan), seen, sketch, fresh=newly_seen_seg
            ),
            n_parts=n,
            key=FRONTIER_KEY,
            sort=state.frontier.sort_cols,
        )
    ]
    # skip the write when nothing became seen this round (drained frontier /
    # all fetches failed with attempts left): an empty write would leave a
    # files-less directory and add a useless path to every future membership
    # side-read. newly_seen_seg is checkpointed, so the emptiness probe is a
    # cheap partition-local scan.
    if sketch is not None and not newly_seen_seg.isEmpty():
        sketch_path = os.path.join(state.workdir, f"sketch_delta_{batch_id:06d}")
        thunks.append(
            lambda: write_sketch_delta(
                newly_seen_seg, sketch_path, sketch, assume_keyed_layout=True
            )
        )
    results = materialize_many(thunks)
    delta = results[0]
    if len(results) > 1:
        sketch = results[1]
        if len(sketch.paths) > config.max_segments:
            old_paths = sketch.paths
            sketch = compact_sketch(
                spark, sketch, os.path.join(state.workdir, f"sketch_base_{batch_id:06d}")
            )
            import shutil

            for p in old_paths:  # reclaim workdir deltas; never touch the
                if p.startswith(state.workdir):  # store (resume points there)
                    shutil.rmtree(p, ignore_errors=True)

    # schedule removal: anti-probe each stored segment with the scheduled
    # keys brought into the frontier layout — co-partitioned, zero exchange
    # and zero sort on the stored side (segments are sorted on join_cols)
    sched_keys = (
        assign_salts_static(
            schedule.select(
                "url_hash", "url_norm", "host",
                host_bucket_col(F.col("host")).alias("host_bucket"),
            ),
            state.salts,
        )
        .select(*state.frontier.join_cols)
        .repartition(n, *state.frontier.keys)
    )
    remaining = SegmentedTable(
        tuple(
            seg.join(sched_keys, state.frontier.join_cols, "left_anti")
            for seg in state.frontier.segments
        ),
        n_parts=n,
        key=state.frontier.key,
    )
    updated_plans, winners = resolve_frontier_delta(remaining, delta)
    f_sort = state.frontier.sort_cols
    # the rewritten segments and the winners segment are disjoint-keyed and
    # independent — pin them concurrently (each is a small partition-local
    # job; serialized, this loop was another flat ~4 s/loop of the pair)
    segments = materialize_many(
        [
            (lambda p=p: mat(p, n_parts=n, key=FRONTIER_KEY, repartition=False, sort=f_sort))
            for p in updated_plans
        ]
        + [lambda: mat(winners, n_parts=n, key=FRONTIER_KEY, repartition=False, sort=f_sort)]
    )
    frontier = SegmentedTable(
        tuple(segments), n_parts=n, key=state.frontier.key
    ).maybe_compact(
        config.max_segments,
        materializer=lambda df: mat(df, n_parts=n, key=FRONTIER_KEY, sort=f_sort),
    )

    new_state = CrawlState(
        frontier=frontier,
        seen=seen,
        host_state=host_state,
        sketch=sketch,
        batch_id=batch_id,
        workdir=state.workdir,
        k_cap=state.k_cap,
        salts=state.salts,
    )

    if config.durable_state:
        # every new segment is eagerly written above, so the old round's
        # bucketed tables (rewritten frontier segments; compacted-away seen
        # segments) are reclaimable now — catalog entries AND files
        from .state import drop_durable_segments

        drop_durable_segments(spark, state.frontier.segments, frontier.segments)
        drop_durable_segments(spark, state.seen.segments, seen.segments)

    if store is not None:
        new_state = commit_state(spark, new_state, schedule, fetch_log, store)
    return new_state, schedule, fetch_log


def mark_seen(
    spark: SparkSession,
    state: CrawlState,
    keys_df: DataFrame,
    config: CrawlConfig,
) -> CrawlState:
    """Pre-seed the URL-seen set, coherent across every representation the
    state carries — the additive dual of :func:`forget_urls`. Use cases:
    continuing someone else's crawl, or seeding straight from a
    Common-Crawl CDX index (``spiderspark.warc.warc_index`` emits exactly
    the required key shape): ``mark_seen(spark, state,
    index.select("url_hash", "url_norm", "host"), config)``.

    ``keys_df``: url_hash, url_norm, host. Semantics are EXACTLY the
    crawl_round newly-seen path: already-seen keys are dropped (segments
    stay disjoint) — through the same seen check as the round's delta probe,
    so the sketch tier asks its sketch first — the remainder is appended to
    the exact table (and, on the sketch tier, written as a sketch delta;
    bloom AND cuckoo insertion is additive), and matching frontier rows are
    PRUNED through the same co-partitioned anti-joins as schedule removal,
    so the frontier never holds a seen key and select_round needs no seen
    filter.

    Cost/scale: O(keys) exchange to route the batch; stored segments are
    probed/rewritten with zero exchange and zero sort on their side."""
    mat = _keyed_mat(config, state.workdir)
    n = state.seen.n_parts
    batch_id = state.batch_id

    # salted before the seen check: the frontier prune joins on
    # (host_bucket, salt)
    salted = assign_salts_static(
        keys_df.select("url_hash", "url_norm", "host")
        .dropDuplicates(["url_hash"])
        .withColumn("host_bucket", host_bucket_col(F.col("host"))),
        state.salts,
    )
    keyed = materialize_keyed(salted, n_parts=n, key=state.seen.key)
    # genuinely-new keys only, pinned in the url_hash layout; with nothing
    # seen yet, every key is new
    new_keys = (
        mat(_drop_seen(keyed, state.seen, state.sketch), n_parts=n, repartition=False)
        if state.seen.segments
        else keyed
    )
    if new_keys.isEmpty():
        return state

    seen = state.seen.append(
        mat(
            new_keys.select(
                "url_hash", F.lit(batch_id).cast("long").alias("first_batch")
            ),
            n_parts=n,
            repartition=False,
            sort=state.seen.sort_cols,
        )
    ).maybe_compact(
        config.max_segments, materializer=lambda df: mat(df, n_parts=n)
    )

    sketch = state.sketch
    if sketch is not None:
        import uuid

        # uuid suffix: repeated seed/forget cycles must never reuse a delta
        # path (write_sketch_delta overwrites)
        sketch_path = os.path.join(
            state.workdir, f"sketch_seed_{uuid.uuid4().hex[:8]}"
        )
        sketch = write_sketch_delta(
            new_keys, sketch_path, sketch, assume_keyed_layout=True
        )

    # prune now-unschedulable frontier rows (same co-partitioned anti-join
    # class as crawl_round's schedule removal)
    fr_keys = new_keys.select(*state.frontier.join_cols).repartition(
        n, *state.frontier.keys
    )
    f_sort = state.frontier.sort_cols
    segments = materialize_many(
        [
            (lambda p=p: mat(
                p.join(fr_keys, state.frontier.join_cols, "left_anti"),
                n_parts=n, key=FRONTIER_KEY, repartition=False, sort=f_sort,
            ))
            for p in state.frontier.segments
        ]
    )
    frontier = SegmentedTable(
        tuple(segments), n_parts=n, key=state.frontier.key
    )

    return replace(state, seen=seen, sketch=sketch, frontier=frontier)


def forget_urls(
    spark: SparkSession,
    state: CrawlState,
    keys_df: DataFrame,
    config: CrawlConfig,
) -> CrawlState:
    """TTL expiry, coherent across every seen representation the state
    carries: the exact url_hash table, plus the cuckoo sketch on the sketch
    tier. After this, re-injecting the urls into the frontier (caller's
    move — fresh priority/depth via ``seeds_to_frontier`` + ``frontier.append``,
    see tests/test_cuckoo_delete.py; mark_seen pruned them) makes the same
    crawl loop schedule them again. A url left in the sketch would still
    be found unseen (its maybe-seen flag is re-checked against the exact
    table), but as a false positive forever; hence one call for both.

    ``keys_df``: any frame with url_hash (a schedule row carries it). Only
    urls KNOWN to have entered the seen set may be passed
    (the cuckoo deletion precondition — sketch.CuckooFilter.delete). A
    bloom sketch cannot unset bits, so a sketch-tier state carrying one
    refuses loudly: TTL deployments on that tier configure
    ``CrawlConfig(sketch_kind="cuckoo")``.

    Cost/scale: O(keys) exchange to route the key batch; every stored
    segment is rewritten through a co-partitioned LEFT-ANTI join — zero
    exchange and zero sort on the stored side, the same class of pass as a
    compaction, amortized over the TTL batch."""
    import uuid

    from .frontier import sketch_delete

    if state.sketch is not None and state.sketch.kind != "cuckoo":
        raise ValueError(
            "forget_urls: the state carries a bloom sketch, which cannot "
            "unset bits — configure CrawlConfig(sketch_kind='cuckoo') for "
            "re-crawl-after-TTL deployments"
        )
    mat = _keyed_mat(config, state.workdir)
    n = state.seen.n_parts

    keys_hash = materialize_keyed(
        keys_df.select("url_hash").distinct(), n_parts=n, key=state.seen.key
    )
    seen = SegmentedTable(
        tuple(
            mat(
                seg.join(keys_hash, "url_hash", "left_anti"),
                n_parts=n, key=state.seen.key, repartition=False,
                sort=state.seen.sort_cols,
            )
            for seg in state.seen.segments
        ),
        n_parts=n, key=state.seen.key,
    )

    sketch = state.sketch
    if sketch is not None:
        out = os.path.join(state.workdir, f"sketch_ttl_{uuid.uuid4().hex[:8]}")
        sketch = sketch_delete(spark, sketch, keys_hash, out)

    return replace(state, seen=seen, sketch=sketch)


def commit_state(
    spark: SparkSession,
    state: CrawlState,
    schedule: DataFrame,
    fetch_log: DataFrame,
    store: SnapshotStore,
) -> CrawlState:
    """S5/S6: atomic snapshot of the full state + this round's outputs."""
    tables = {
        "frontier": state.frontier.df(spark, FRONTIER),
        "seen": state.seen.df(spark, SEEN),
        "host_state": state.host_state,
        "schedule": schedule,
        "fetch_log": fetch_log,
    }
    if state.salts is not None:
        tables["salt_table"] = state.salts
    partition_by = {}
    if state.sketch is not None:
        tables["seen_sketch"] = sketch_df(spark, state.sketch)
        partition_by["seen_sketch"] = ["bucket"]
    snapshot_id = store.commit(
        tables, state.batch_id, store.head(), partition_by=partition_by
    )
    return replace(state, snapshot_id=snapshot_id)


def resume(spark: SparkSession, store: SnapshotStore, config: CrawlConfig) -> CrawlState:
    """§3.3 exact resume: validate lineage, read the exact seen table and,
    on the sketch tier, point the sketch at its stored bucket-partitioned
    rows (NO rescan of seen, NO driver rebuild) — and continue at batch N+1.
    A sketch stored before url_hash routing (its rows say
    ``routing="host_bucket,salt"``) is rebuilt instead: one partition-local
    sketch write over the resumed seen segment, exact for bloom and cuckoo
    alike because the seen table is complete.

    Every snapshot carries the complete exact table, so a sketch-tier
    snapshot also resumes under ``seen_tier="exact"`` (its sketch is simply
    not read). The reverse is refused: an exact-tier snapshot has no
    sketch, and a sketch that misses seen keys would answer "definitely
    unseen" for them."""
    snapshot_id = store.head()
    assert snapshot_id is not None, "nothing to resume from"
    assert store.validate(snapshot_id, spark), "lineage validation failed"
    m = store.manifest(snapshot_id)
    n = config.state_buckets
    if config.seen_tier == "sketch" and "seen_sketch" not in m["tables"]:
        raise ValueError(
            f"snapshot {snapshot_id} has no 'seen_sketch' table, which "
            "seen_tier='sketch' reads; resume it with seen_tier='exact'"
        )
    sketch, old_routed = None, False
    if config.seen_tier == "sketch":
        path = store.table_path(snapshot_id, "seen_sketch")
        sk_df = spark.read.parquet(path)
        # pre-schema snapshots (before routing/kind rode the rows) fall back
        # to the only semantics they could have had — url_hash routing,
        # bloom filters — mirroring the manifest-schema fallback in
        # snapshots.py; selecting absent columns would fail the resume loudly
        # for data that is perfectly resumable
        have = set(sk_df.columns)
        sel = ["n_bits", "n_hashes", "n_buckets"] + [
            c for c in ("routing", "kind") if c in have
        ]
        first = sk_df.select(*sel).head(1)
        if first:
            stored_nb = int(first[0]["n_buckets"])
            # the bucket is pmod(hash(url_hash), n_buckets): resuming under a
            # different bucket count would read the WRONG bits — silent
            # false negatives. Fail loudly instead.
            assert stored_nb == n, (
                f"snapshot sketch has n_buckets={stored_nb} but "
                f"config.state_buckets={n}; resume with the original value"
            )
            kind = str(first[0]["kind"]) if "kind" in have else "bloom"
            old_routed = (
                "routing" in have and first[0]["routing"] != SKETCH_ROUTING
            )
            sketch = (
                SketchRef.create(
                    n, config.bloom_capacity_per_bucket, config.bloom_fpp,
                    kind=kind,
                )
                if old_routed
                else SketchRef(
                    (path,), stored_nb, int(first[0]["n_bits"]),
                    int(first[0]["n_hashes"]), kind,
                )
            )
        else:
            sketch = SketchRef.create(
                n, config.bloom_capacity_per_bucket, config.bloom_fpp,
                kind=config.sketch_kind,
            )
    # the four pins are independent: overlap their jobs
    host_state, salts, frontier, seen = materialize_many([
        lambda: _materialize(store.read(spark, snapshot_id, "host_state")),
        lambda: _materialize(
            store.read(spark, snapshot_id, "salt_table")
            if "salt_table" in m["tables"]
            else spark.createDataFrame([], "host string, n_salts int")
        ),
        lambda: SegmentedTable.from_df(
            store.read(spark, snapshot_id, "frontier"),
            n_parts=n,
            key=FRONTIER_KEY,
        ),
        lambda: SegmentedTable.from_df(
            store.read(spark, snapshot_id, "seen"), n_parts=n
        ),
    ])
    workdir = tempfile.mkdtemp(prefix="spiderspark-state-")
    if old_routed:
        # the seen segment is pinned in the url_hash layout: one bucket per
        # partition, so the rebuild moves no rows
        sketch = write_sketch_delta(
            seen.segments[0], os.path.join(workdir, "sketch_rebuild"), sketch,
            assume_keyed_layout=True,
        )
    return CrawlState(
        frontier=frontier,
        seen=seen,
        host_state=host_state,
        sketch=sketch,
        batch_id=int(m["batch_id"]),
        workdir=workdir,
        k_cap=_k_cap(config.policy, host_state),
        salts=salts,
        snapshot_id=snapshot_id,
    )


def crawl(
    spark: SparkSession,
    seeds: DataFrame,
    pages: DataFrame,
    robots: DataFrame | None = None,
    rounds: int = 3,
    config: CrawlConfig | None = None,
    store: SnapshotStore | None = None,
    state: CrawlState | None = None,
):
    """Convenience driver: run ``rounds`` rounds; returns (state, schedules,
    fetch_logs) with schedules as a list of per-round DataFrames."""
    config = config or CrawlConfig()
    # key + store the pages side ONCE in the keyed layout: the fetch join
    # probes it every round with zero exchange on the corpus side
    pages_k = keyed_pages(pages, n_parts=config.state_buckets)
    if state is None:
        state = init_state(spark, seeds, robots, config)
    schedules, logs = [], []
    for _ in range(rounds):
        state, schedule, fetch_log = crawl_round(spark, state, pages_k, config, store)
        schedules.append(schedule)
        logs.append(fetch_log)
    return state, schedules, logs
