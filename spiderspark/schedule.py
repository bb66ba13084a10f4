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

Global rank (to_schedule, O1/O3): one range-partitioned sort of the
selection, pinned by an eager localCheckpoint. The pin fixes which
partition every row sits in and its position there, so the rank is a
narrow projection over the checkpoint: position + 1 + the row counts of the
lower partitions, summed on the driver from one count job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .state import _aqe_disabled

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


def to_schedule(selected: DataFrame, batch_id: int) -> DataFrame:
    """Project the per-host-top-k output into the SCHEDULE shape with the
    global deterministic ``rank`` (O1) — no single-partition window.

    One eager pin does the ordering work: the thin selection is
    range-partitioned on ORDER_COLS, sorted within partitions on the same
    columns and localCheckpointed, all with AQE off (an adaptive plan would
    split the range exchange and the counts into extra jobs). Partition ids
    and row order are stable over checkpointed blocks — the fact fetch_log
    already relies on — so the ranks come from that pin alone:

        rank = in-partition position + 1 + offset[partition id]

    where the in-partition position is ``monotonically_increasing_id() -
    (pid << 33)`` and the offsets, summed on the driver from the pin's
    per-partition row counts, are a literal array. The returned frame is a
    narrow projection over the checkpoint, so every consumer (a second
    action, filter, union, repartition, groupBy) reads the same ranks, and
    the whole cost is paid inside this call. Ranks over an UNPINNED range
    exchange would not be safe: two executions of a lazy plan may place
    rows in different partitions."""
    spark = selected.sparkSession
    thin = selected.select(
        "url", "url_norm", "url_hash", "host", "priority", "depth",
        "discovered_batch", "attempt",
    )
    with _aqe_disabled(spark):
        pinned = (
            thin.repartitionByRange(
                spark.sparkContext.defaultParallelism, *order_cols()
            )
            .sortWithinPartitions(*order_cols())
            .localCheckpoint(eager=True)
        )
        counts = dict(
            pinned.groupBy(F.spark_partition_id().alias("pid")).count().collect()
        )
    offsets, acc = [], 0
    for pid in range(max(counts, default=0) + 1):
        offsets.append(acc)
        acc += counts.get(pid, 0)
    pid = F.spark_partition_id()
    position = F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)
    offset = F.array(*[F.lit(o).cast("long") for o in offsets])[pid]
    return pinned.select(
        F.lit(batch_id).cast("long").alias("batch_id"),
        (position + 1 + offset).alias("rank"),
        "url", "url_norm", "url_hash", "host",
        F.col("priority").cast("double"),
        F.col("depth").cast("int"),
        F.col("attempt").cast("int"),
    )
