"""Scheduling: heavy-host salting, per-host top-k, deterministic total order
(SURVEY.md §2.4 A7, §2.5 W1, §2.6 O1).

The crawl-ordering invariant (BASELINE.json:14): the schedule's total order
is (priority asc, depth asc, discovered_batch asc, url_hash asc) — url_hash
as final tie-break makes the order reproducible at ANY parallelism, which is
the property the fixtures test at local[2] vs local[8].

Skew (BASELINE.json:6 "skew-split on heavy hosts"): a Zipf host distribution
makes Window.partitionBy(host) put ~30% of the frontier in ONE task. The
split is explicit and two-phase:

  phase 1: per stored (host_bucket, salt) partition, reduce each host to
           the candidates that can still make its budget — heavy hosts are
           split across n_salts partitions, so phase 2's input per heavy
           host is ≤ n_salts·k rows, not the raw millions — a
           layout-satisfied window in crawl.select_round.
  phase 2: rank within host on the reduced set (per_host_topk_final) —
           exact same top-k the unsalted plan would pick, skew-free.

Salt = pmod(xxhash64(url_norm), n_salts(host)) — deterministic, JVM-side,
from a per-crawl static table (static_salt_table); n_salts > 1 only for
hosts flagged heavy by an exact count (A7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

ORDER_COLS = ("priority", "depth", "discovered_batch", "url_hash")
SKEW_THRESHOLD = 50_000  # candidates per host before splitting
MAX_SALTS = 32


def order_cols(df_or_prefix: str = "") -> list:
    p = df_or_prefix
    return [F.col(p + c) for c in ORDER_COLS]


def static_salt_table(host_counts: DataFrame, skew_threshold: int = SKEW_THRESHOLD) -> DataFrame:
    """Per-CRAWL static salt-split table (host, n_salts) from host sizes
    (seed/frontier counts at init — any size estimate works).

    Static — rather than re-counted per round — so a URL's salt is STABLE
    for the crawl's lifetime and (host_bucket, salt) can be the frontier
    state's physical partitioning: per-round windows and delta resolves then
    plan exchange-free against the stored layout. The schedule itself is
    invariant to the salting scheme (phase 1 over-selects per salt; phase 2
    picks the same per-host top-k for ANY salt assignment), so a stale
    estimate costs only balance, never correctness. Hosts absent from the
    table default to 1 salt."""
    n_salts = F.least(
        F.ceil(F.col("_n") / F.lit(float(skew_threshold))), F.lit(MAX_SALTS)
    ).cast("int")
    return host_counts.select(
        "host", F.greatest(n_salts, F.lit(1)).alias("n_salts")
    )


def assign_salts_static(candidates: DataFrame, salts: DataFrame) -> DataFrame:
    """Deterministic salt from the static table: pmod(xxhash64(url_norm),
    n_salts(host)); unknown hosts → salt 0. Broadcast join — preserves the
    input's partitioning; no exchange."""
    return (
        candidates.join(F.broadcast(salts), "host", "left")
        .withColumn(
            "salt",
            F.pmod(
                F.xxhash64("url_norm"), F.coalesce(F.col("n_salts"), F.lit(1))
            ).cast("int"),
        )
        .drop("n_salts")
    )


def per_host_topk_final(
    candidates: DataFrame, k_col: str = "host_budget", k_cap: int | None = None
) -> DataFrame:
    """Phase 2: exact per-host top-k over an already-reduced candidate set
    (crawl.select_round's phase-1 winners).

    ``k_cap``: a LITERAL upper bound on any host's budget. Spark only
    inserts the ``WindowGroupLimit`` physical operator (partial per-group
    top-k BEFORE the window sort/shuffle) for rank-vs-literal predicates;
    keeping a literal conjunct alongside the per-host column bound turns the
    full group sort into a bounded one."""
    def bounded(rn_col):
        cond = rn_col <= F.col(k_col)
        if k_cap is not None:
            cond = (rn_col <= F.lit(int(k_cap))) & cond
        return cond

    w2 = Window.partitionBy("host").orderBy(*order_cols())
    return (
        candidates.withColumn("_r2", F.row_number().over(w2))
        .filter(bounded(F.col("_r2")))
        .drop("_r2")
    )


def global_rank(
    df: DataFrame,
    num_partitions: int | None = None,
    persist_registry: list | None = None,
) -> DataFrame:
    """O1: total order + a global ``rank`` column WITHOUT a single-partition
    window. Range-partition on the order key, rank within each partition,
    then add broadcast per-partition offsets — the scalable global-sort-rank
    pattern (two passes over an already-small schedule).

    The offsets are collected via a SEPARATE ACTION on purpose: it forces
    the persisted range-partitioned frame to materialize before anything
    reads ``spark_partition_id()``. A no-collect formulation (offsets via a
    window over the counts inside ONE query) measurably produced DUPLICATE
    ranks: with the cache still lazy, the two branches can observe
    different recomputations of the nondeterministic partition ids. Do not
    "optimize" the collect away without pinning the cache first."""
    sdf = (
        df.repartitionByRange(
            num_partitions or df.sparkSession.sparkContext.defaultParallelism,
            *order_cols(),
        )
        .withColumn("_pid", F.spark_partition_id())
        # persist: the offset pass and the rank pass must not re-execute the
        # whole upstream scheduling DAG (schedule is budget-bounded small)
        .persist()
    )
    if persist_registry is not None:
        persist_registry.append(sdf)

    w = Window.partitionBy("_pid").orderBy(*order_cols())
    ranked = sdf.withColumn("_local", F.row_number().over(w))

    counts = ranked.groupBy("_pid").agg(F.max("_local").alias("_n")).collect()
    offsets = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = acc
        acc += row["_n"]
    offset_df = df.sparkSession.createDataFrame(
        [(pid, off) for pid, off in offsets.items()] or [(0, 0)],
        "_pid int, _offset long",
    )
    return (
        ranked.join(F.broadcast(offset_df), "_pid", "left")
        .withColumn("rank", (F.col("_local") + F.coalesce("_offset", F.lit(0))).cast("long"))
        .drop("_pid", "_local", "_offset")
    )


def to_schedule(selected: DataFrame, batch_id: int, materialize=None) -> DataFrame:
    """Project the per-host-top-k output into the SCHEDULE shape with the
    global deterministic rank.

    ``materialize``: optional eager materializer (e.g. localCheckpoint);
    when given, (a) the thin selection is pinned BEFORE ranking — global
    rank's range partitioner samples its input in a separate pass, so an
    unpinned selection would execute the whole upstream scheduling DAG
    twice (sampling + main exchange); pinning turns the sampling pass into
    a cheap scan of the O(selected) checkpoint — and (b) the rank
    intermediate's persist is dropped as soon as the schedule is
    materialized, so cached blocks don't accumulate across crawl rounds."""
    registry: list = []
    thin = selected.select(
        "url", "url_norm", "url_hash", "host", "priority", "depth",
        "discovered_batch", "attempt",
    )
    if materialize is not None:
        thin = materialize(thin)
    ranked = global_rank(thin, persist_registry=registry)
    out = ranked.select(
        F.lit(batch_id).cast("long").alias("batch_id"),
        F.col("rank"),
        "url", "url_norm", "url_hash", "host",
        F.col("priority").cast("double"),
        F.col("depth").cast("int"),
        F.col("attempt").cast("int"),
    )
    if materialize is not None:
        out = materialize(out)
        for h in registry:
            h.unpersist()
    return out
