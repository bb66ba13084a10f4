"""Keyed, segmented state tables — the layout that makes repeat crawl rounds
shuffle-free (SURVEY.md §3.1; BASELINE.json:6 "checkpointed frontier state
... with per-partition lineage").

The scale problem this module solves: the frontier and URL-seen tables are
the 10^10-row state of the crawl loop. A naive loop re-shuffles both every
round (groupBy-dedup exchange + join exchange) — at 100 TB that is terabytes
of network per round and it is the non-scaling term between N and 4N
executors. The fix is a layout contract:

- Every state table is hash-partitioned by ``url_hash`` into a FIXED number
  of partitions (``n_parts``, stable across rounds) and sorted by
  ``url_hash`` within partitions.
- ``materialize_keyed`` pins that layout through a ``localCheckpoint`` so
  Catalyst still *knows* it next round (LogicalRDD keeps outputPartitioning
  and outputOrdering). AQE is toggled off just for the checkpoint query:
  under AQE the checkpoint captures an AdaptiveSparkPlan whose partitioning
  is not yet final, and the layout knowledge is lost (verified empirically
  on this Spark build — see docs/PLANS.md "State layout").
- With two sides in that layout, sort-merge join / left-anti / groupBy on
  ``url_hash`` plan with ZERO exchanges and ZERO sorts: per-round state
  maintenance touches the big tables only through co-partitioned,
  partition-local operators; network traffic is O(delta), not O(state).

Mutations arrive as small per-round deltas. Rewriting the big table to merge
a delta would itself be a full shuffle, so tables are SEGMENTED (the LSM
idea re-expressed in DataFrames): a list of disjoint-keyed segments, each in
the layout above. Deltas become new small segments; probes chain across
segments (each probe co-partitioned, zero-exchange on the big side);
``compact`` folds the list back to one segment — the only full-state
exchange, amortized over ``max_segments`` rounds.
"""

from __future__ import annotations

import itertools
import os
import threading
import uuid
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession, functions as F

_DURABLE_SEQ = itertools.count()

# ---------------------------------------------------------------------------
# AQE toggle, refcounted. materialize_keyed must checkpoint with AQE off (see
# module docstring), but the conf is SESSION-global: with independent
# materializations overlapped across driver threads (materialize_many), a
# naive set/restore pair races — thread B's restore re-enables AQE mid-way
# through thread A's checkpoint and the captured plan loses its layout. The
# refcount keeps the conf off for the UNION of all concurrent windows: the
# first entrant records the previous value and flips it, the last one out
# restores it. Any unrelated query that happens to plan inside the window
# merely runs without adaptive re-plan — a performance nuance, never a
# correctness one. One session per process (session.get_spark), so a single
# process-wide refcount is the right scope.
_AQE_LOCK = threading.Lock()
_AQE_DEPTH = 0
_AQE_PREV = "true"


@contextmanager
def _aqe_disabled(spark: SparkSession):
    global _AQE_DEPTH, _AQE_PREV
    with _AQE_LOCK:
        if _AQE_DEPTH == 0:
            _AQE_PREV = spark.conf.get("spark.sql.adaptive.enabled", "true")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        _AQE_DEPTH += 1
    try:
        yield
    finally:
        with _AQE_LOCK:
            _AQE_DEPTH -= 1
            if _AQE_DEPTH == 0:
                spark.conf.set("spark.sql.adaptive.enabled", _AQE_PREV)


# One shared pool, created lazily and reused for the life of the process.
# Per-call pools would spawn fresh Python threads every round, and under
# py4j's pinned-thread mode each new Python thread materializes a paired JVM
# thread that outlives it — a long crawl soak would leak JVM threads. A
# fixed, reused pool bounds that at _MAT_WORKERS for the whole process.
_MAT_WORKERS = 8
_MAT_THREAD_PREFIX = "spiderspark-mat"
_MAT_POOL = None
_MAT_POOL_LOCK = threading.Lock()


def _mat_pool():
    global _MAT_POOL
    with _MAT_POOL_LOCK:
        if _MAT_POOL is None:
            from concurrent.futures import ThreadPoolExecutor

            _MAT_POOL = ThreadPoolExecutor(
                max_workers=_MAT_WORKERS, thread_name_prefix=_MAT_THREAD_PREFIX
            )
        return _MAT_POOL


def materialize_many(thunks):
    """Run independent eager materializations CONCURRENTLY; return their
    results in input order.

    Why this exists: the crawl round's wall time is not only its two big
    jobs — it carries a tail of small layout-pinning checkpoints (frontier
    segments, newly-seen segment, politeness state, sketch delta) that each cost
    a fixed driver/scheduler round-trip regardless of core count. Run
    serially they are the non-scaling term of the strong-scaling pair
    (measured: ~12 s of an ~40 s 3-round loop at 8 cores, nearly flat from
    2 cores). Spark schedules jobs submitted from different driver threads
    concurrently, so overlapping them hides the latency under whichever job
    in the group is real work — on BOTH arms of a scaling pair.

    Contract: thunks must be independent (no thunk reads another's result)
    and must not themselves call materialize_many — nested calls from a
    pool thread run inline (serially) to make pool starvation impossible.
    Determinism is unaffected: each materialization's CONTENT is a pure
    function of its own plan; only the wall-clock interleaving changes.
    The first exception (in input order) propagates after all thunks have
    settled, so no job is abandoned mid-flight. The caller's Spark job tags
    ride into each thunk, so jobs run on pool threads keep its phase
    labels."""
    thunks = list(thunks)
    if len(thunks) <= 1:
        return [t() for t in thunks]
    if threading.current_thread().name.startswith(_MAT_THREAD_PREFIX):
        return [t() for t in thunks]
    sc = SparkContext._active_spark_context
    tags = set(sc.getJobTags()) if sc is not None else set()
    if tags:
        thunks = [_with_job_tags(sc, tags, t) for t in thunks]
    futures = [_mat_pool().submit(t) for t in thunks]
    results, first_err = [], None
    for f in futures:
        try:
            results.append(f.result())
        except BaseException as e:  # noqa: BLE001 — re-raised below
            results.append(None)
            if first_err is None:
                first_err = e
    if first_err is not None:
        raise first_err
    return results


def _with_job_tags(sc, tags: set[str], thunk):
    """``thunk`` run with ``tags`` added to its thread's Spark job tags (tags
    are per thread); only the tags the thread lacked are removed after."""

    def run():
        fresh = tags - set(sc.getJobTags())
        for t in fresh:
            sc.addJobTag(t)
        try:
            return thunk()
        finally:
            for t in fresh:
                sc.removeJobTag(t)

    return run


def materialize_keyed(
    df: DataFrame,
    n_parts: int | None = None,
    key: str | tuple[str, ...] = "url_hash",
    repartition: bool = True,
    sort: tuple[str, ...] | None = None,
) -> DataFrame:
    """Eagerly materialize ``df`` in the keyed layout, keeping the layout
    visible to the planner.

    ``key`` may be a single column or a tuple (e.g. the scheduler layout
    ``("host_bucket", "salt")``). ``sort`` defaults to the key columns;
    pass a superset (e.g. key + ("url_hash",)) so later sort-merge joins on
    those columns skip their sorts too.

    ``repartition=False`` is for plans whose output is ALREADY in the layout
    (e.g. a co-partitioned SMJ or a broadcast-anti over a stored segment):
    the checkpoint then writes partition-local blocks with no exchange at
    all — the repeat-round fast path. A ``sort`` passed alongside is still
    honored with a partition-local sort (no exchange): plans that are
    already ordered (SMJ outputs) lose it again to Spark's
    RemoveRedundantSorts, so only genuinely-unsorted plans — e.g. the
    ingested seed segment, whose plan ends at an aggregate — pay it;
    silently dropping the sort there would make every later round's
    co-partitioned probe re-sort the stored segment instead.
    """
    spark = df.sparkSession
    keys = (key,) if isinstance(key, str) else tuple(key)
    if repartition:
        assert n_parts is not None
        df = df.repartition(n_parts, *keys).sortWithinPartitions(*(sort or keys))
    elif sort:
        df = df.sortWithinPartitions(*sort)
    with _aqe_disabled(spark):
        return df.localCheckpoint(eager=True)


def materialize_keyed_durable(
    df: DataFrame,
    n_parts: int,
    key: str | tuple[str, ...] = "url_hash",
    repartition: bool = True,
    sort: tuple[str, ...] | None = None,
    base_dir: str = "",
) -> DataFrame:
    """Fault-tolerant sibling of ``materialize_keyed``: the segment is
    written as a Spark BUCKETED parquet table instead of localCheckpoint
    executor blocks.

    Why: localCheckpoint blocks live on executors — one lost executor kills
    a long crawl mid-round. A bucketed table survives any executor loss AND
    keeps the layout contract through the disk roundtrip: the bucketed scan
    reports HashPartitioning(key, n) (Spark's bucket hash IS the
    repartition hash) and, with one file per bucket, the sortBy ordering —
    so co-partitioned probes stay exchange-free exactly like the in-memory
    layout. The pre-write repartition guarantees the one-file-per-bucket
    invariant; when the input plan is ALREADY in the layout
    (``repartition=False``) the write is partition-local, no exchange.

    The in-loop default stays ``materialize_keyed`` (no disk write on the
    fast path); ``CrawlConfig(durable_state=True)`` routes every state
    segment through this instead. Tables are registered under unique names
    in the session catalog with data under ``base_dir`` — dropped when the
    crawl workdir is reclaimed.
    """
    spark = df.sparkSession
    keys = (key,) if isinstance(key, str) else tuple(key)
    sort_cols = tuple(sort or keys)
    if repartition:
        df = df.repartition(n_parts, *keys)
    name = f"spiderspark_seg_{next(_DURABLE_SEQ)}_{uuid.uuid4().hex[:6]}"
    path = os.path.join(base_dir or "spark-warehouse", name)
    (
        df.write.format("parquet")
        .bucketBy(n_parts, *keys)
        .sortBy(*sort_cols)
        .option("path", path)
        .saveAsTable(name)
    )
    # register the catalog identity so superseded segments can be reclaimed
    # (DROP TABLE alone leaves external-table files behind)
    _DURABLE_TABLES[name] = path
    return spark.table(name)


# every durable segment table this process created: name -> data path. The
# reclaim pass only ever drops tables from this registry, so nothing else
# living under the workdir (sketch deltas, snapshot store) can be touched.
_DURABLE_TABLES: dict[str, str] = {}


def _referenced_durables(df: DataFrame) -> set[str]:
    """The durable segment tables ``df``'s plan reads — identity derived
    from the PLAN (``inputFiles`` + the analyzed plan's catalog
    identifiers), not from a Python attribute tagged onto the frame, so a
    segment that was re-wrapped, re-selected, or re-read from disk still
    protects its files. Bucketed segment tables store their files directly
    under ``<base>/<name>/``, so the parent directory's basename is the
    catalog name. The plan-string pass exists for EMPTY segments: a
    zero-row bucketed table has no part files (empty write tasks emit
    none), so ``inputFiles`` alone would miss it — leaving a superseded
    empty segment's catalog entry leaked forever, and worse, failing to
    protect a LIVE empty segment from a future drop. The uuid-suffixed
    table names cannot collide with other plan text."""
    names: set[str] = set()
    try:
        names |= {
            name
            for name in (
                os.path.basename(os.path.dirname(f)) for f in df.inputFiles()
            )
            if name in _DURABLE_TABLES
        }
    except Exception:  # e.g. a localCheckpoint-backed frame: no files
        pass
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return names
    names |= {name for name in _DURABLE_TABLES if name in plan}
    return names


def drop_durable_segments(spark: SparkSession, old, new) -> None:
    """Reclaim durable segment tables referenced by ``old`` but by no frame
    in ``new`` (catalog entry + data files). Long durable crawls rewrite
    every frontier segment each round; without this the workdir grows
    O(rounds × state) and the catalog leaks a table per segment per round.
    Non-durable segments (no registered files) are ignored, so the call is
    safe on any segment mix (e.g. after a resume that re-materialized
    in-memory)."""
    import shutil

    keep: set[str] = set()
    for s in new:
        keep |= _referenced_durables(s)
    drop: set[str] = set()
    for s in old:
        drop |= _referenced_durables(s)
    for name in drop - keep:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(_DURABLE_TABLES.pop(name), ignore_errors=True)


@dataclass(frozen=True)
class SegmentedTable:
    """An immutable list of key-disjoint DataFrame segments, all in the
    ``materialize_keyed`` layout with the same ``n_parts``.

    ``key`` is the PARTITIONING column(s); probes and resolves match rows
    on url_hash. For the url_hash layout they coincide; the scheduler
    layout partitions on (host_bucket, salt) — both pure functions of the
    url — and joins on (key..., url_hash), which Catalyst proves
    exchange-free against the stored layout."""

    segments: tuple[DataFrame, ...]
    n_parts: int
    key: str | tuple[str, ...] = "url_hash"

    @property
    def keys(self) -> tuple[str, ...]:
        return (self.key,) if isinstance(self.key, str) else tuple(self.key)

    @property
    def join_cols(self) -> list[str]:
        ks = list(self.keys)
        return ks if "url_hash" in ks else ks + ["url_hash"]

    @property
    def sort_cols(self) -> tuple[str, ...]:
        return tuple(self.join_cols)

    @classmethod
    def empty(
        cls, n_parts: int, key: str | tuple[str, ...] = "url_hash"
    ) -> "SegmentedTable":
        return cls(segments=(), n_parts=n_parts, key=key)

    @classmethod
    def from_df(
        cls, df: DataFrame, n_parts: int, key: str | tuple[str, ...] = "url_hash"
    ) -> "SegmentedTable":
        out = cls((), n_parts, key)
        seg = materialize_keyed(df, n_parts, key, sort=out.sort_cols)
        return cls((seg,), n_parts, key)

    def df(self, spark: SparkSession, schema) -> DataFrame:
        """The whole table as one DataFrame (commit/read paths; loses the
        layout — never feed this back into the loop's keyed operators)."""
        if not self.segments:
            return spark.createDataFrame([], schema)
        out = self.segments[0]
        for seg in self.segments[1:]:
            out = out.unionByName(seg)
        return out

    def total_rows(self) -> int:
        # one job for the whole list: union the (checkpointed) segments and
        # count once, instead of a driver round-trip per segment
        if not self.segments:
            return 0
        out = self.segments[0]
        for seg in self.segments[1:]:
            out = out.unionByName(seg)
        return out.count()

    def anti_probe(self, small: DataFrame) -> DataFrame:
        """``small`` minus rows whose identity appears in ANY segment.

        ``small`` must already be hash-partitioned by the key at ``n_parts``
        (left-anti preserves the left layout, so the chain stays
        co-partitioned; each big segment is probed with zero exchange and
        zero sort on its side)."""
        cols = self.join_cols
        for seg in self.segments:
            small = small.join(seg.select(*cols), cols, "left_anti")
        return small

    def append(self, seg: DataFrame) -> "SegmentedTable":
        """Add an already-materialized, key-disjoint segment."""
        return SegmentedTable(self.segments + (seg,), self.n_parts, self.key)

    def maybe_compact(
        self, max_segments: int, materializer=None
    ) -> "SegmentedTable":
        """Fold back to one segment when the list grows past
        ``max_segments`` — the amortized full-state exchange.
        ``materializer(df)`` overrides the layout materialization (durable
        mode routes it through ``materialize_keyed_durable``)."""
        if len(self.segments) <= max_segments:
            return self
        merged = self.segments[0]
        for seg in self.segments[1:]:
            merged = merged.unionByName(seg)
        if materializer is not None:
            seg = materializer(merged)
        else:
            seg = materialize_keyed(
                merged, self.n_parts, self.key, sort=self.sort_cols
            )
        return SegmentedTable((seg,), self.n_parts, self.key)


def ord_struct(prefix: str = "") -> F.Column:
    """The engine's within-batch dedup total order (mirrors
    tests/oracle_crawler.Item.dedup_key): min over
    (priority, depth, discovered_batch, url, attempt)."""
    cols = ("priority", "depth", "discovered_batch", "url", "attempt")
    return F.struct(*[F.col(prefix + c) for c in cols])


def resolve_frontier_delta(
    table: SegmentedTable, delta: DataFrame
) -> tuple[list[DataFrame], DataFrame]:
    """Min-struct resolve of a (deduped, keyed-layout) delta against all
    frontier segments — the distributed form of
    ``dedup_within_batch(frontier ∪ delta)`` given the invariant that the
    segments are already internally deduped and mutually key-disjoint.

    Returns ``(updated_segment_plans, delta_winners_plan)``; every returned
    plan PRESERVES the keyed layout (left joins keep the left side's
    partitioning; both join sides are co-partitioned, so the big segments
    are never exchanged). Ties keep the incumbent segment row (a strict
    tie is impossible for distinct rows: ``url`` + ``attempt`` total-order
    the struct).
    """
    cols = table.join_cols
    d_keys = delta.select(*cols, ord_struct().alias("_ord_d"))
    updated = []
    for seg in table.segments:
        updated.append(
            seg.withColumn("_ord", ord_struct())
            .join(d_keys, cols, "left")
            .filter(F.col("_ord_d").isNull() | (F.col("_ord") <= F.col("_ord_d")))
            .drop("_ord", "_ord_d")
        )
    winners = delta.withColumn("_ord_d", ord_struct())
    flags = []
    for i, seg in enumerate(table.segments):
        s = seg.select(*cols, ord_struct().alias(f"_ord_s{i}"))
        winners = winners.join(s, cols, "left")
        flags.append(
            F.col(f"_ord_s{i}").isNull() | (F.col("_ord_d") < F.col(f"_ord_s{i}"))
        )
    cond = F.lit(True)
    for f in flags:
        cond = cond & f
    winners = winners.filter(cond).drop(
        "_ord_d", *[f"_ord_s{i}" for i in range(len(table.segments))]
    )
    return updated, winners
