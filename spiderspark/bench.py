"""Bench harness (SURVEY.md §6, §7.1 M6).

Headline metric: frontier URLs scheduled+deduped per second — one full
scheduling round of the engine itself (``crawl.init_state``: canonicalize →
xxhash64 → within-batch dedup → heavy-host salting; ``crawl.mark_seen``:
the seen dedup of a pre-seen third, pruning it from the frontier;
``crawl.select_round`` → ``schedule.to_schedule``: politeness budget →
per-host top-k → deterministic global order) over a
synthetic frontier hash-expanded to ≥10^6 rows (TESTDATA is the shape
anchor; no external data).

The frontier generator injects pre-canonicalization noise (case variants,
default ports, dot segments) so the Arrow canonicalization path does real
work, and uses the Zipf host distribution so the skew-split path is
exercised.

Scaling evidence (BASELINE.json:2 "N → 4N executors ≥ 0.8"): no cluster in
this sandbox, so `--scaling` runs the SAME job in two fresh CPU-pinned
subprocesses at local[N] and local[4N] (`--lo/--hi`, default 8/32) and
reports rate ratios (driver-mandated proxy); `--weak` holds per-core volume
constant instead.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np
import pandas as pd


def frontier_urls_dist(spark, n: int, num_partitions: int):
    """Distributed deterministic raw-URL frontier with canonicalization noise."""
    from pyspark.sql import types as T

    from .pages import url_for_ids

    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("priority", T.DoubleType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            urls = url_for_ids(ids)
            # deterministic noise: exercise each canonicalization path
            m5 = ids % 5 == 0
            m7 = ids % 7 == 0
            m11 = ids % 11 == 0
            urls = urls.mask(m5, urls.str.replace("http://host", "HTTP://HOST", regex=False))
            urls = urls.mask(m7, urls.str.replace(".example/", ".example:80/", regex=False))
            urls = urls.mask(m11, urls.str.replace("/p/", "/a/../p/./", regex=False))
            yield pd.DataFrame(
                {"url": urls, "priority": (ids % 5).astype("float64")}
            )

    return spark.range(0, n, 1, num_partitions).mapInPandas(gen, schema=schema)


def run_headline(
    spark,
    n_frontier: int,
    warmup: bool = True,
    repeats: int = int(os.environ.get("SPIDERSPARK_BENCH_REPEATS", "10")),
    min_repeats: int = int(os.environ.get("SPIDERSPARK_BENCH_MIN_REPEATS", "5")),
) -> dict:
    """Timed headline rounds of the engine itself; returns the FASTEST
    repeat (+ all walls).

    One round is ``crawl.init_state`` over the raw frontier (canonicalize →
    hash → within-batch dedup → static salt table → scheduler-layout pin),
    then ``crawl.mark_seen`` of the pre-seen third (the seen dedup: new-key
    filter, exact-table append, frontier prune), then
    ``crawl.select_round`` → ``schedule.to_schedule`` (politeness budget →
    per-host top-k → deterministic global rank) — the calls a crawl makes,
    under the default ``CrawlConfig`` seen tier. All three are inside the
    clock: the metric is URLs scheduled AND deduped. The pre-seen keys are
    read from parquet written outside the clock.

    ``warmup`` first runs one identical small round so python workers
    (fork + numpy/pandas import, once per core) and JIT are paid before the
    clock — the metric is steady-state round throughput, which is what a
    multi-round crawl on a long-lived cluster sees.

    Repeat policy (round-2 lesson: a 3-sample record was taken while walls
    were STILL DESCENDING — JVM JIT + page cache warm over several full-size
    rounds, and co-tenant noise on this box swings single samples ±2-3×):
    run identical rounds until the best wall PLATEAUS — at least
    ``min_repeats`` samples, stop early only when the last two rounds
    brought no >3% improvement, cap at ``repeats``. The metric is min-of-N.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from .crawl import CrawlConfig, init_state, mark_seen, select_round
    from .frontier import seeds_to_frontier
    from .politeness import HostPolicy
    from .schedule import to_schedule

    parallelism = spark.sparkContext.defaultParallelism
    config = CrawlConfig(
        # realistic politeness: 1000 URLs/host/round — heavy hosts stay
        # skew-split; the metric counts the whole deduped frontier either way
        policy=HostPolicy(default_budget=1000.0),
        # state/sketch bucket count — FIXED across parallelism levels: the
        # layout is a property of the stored state, not the cluster
        state_buckets=32,
        skew_threshold=20_000,
    )

    def seen_keys(n, out_dir):
        seeds_to_frontier(
            spark, frontier_urls_dist(spark, n, parallelism), batch_id=0
        ).select("url_hash", "url_norm", "host").write.parquet(out_dir)
        return spark.read.parquet(out_dir)

    def prepare(n, in_dir):
        """Raw frontier + the pre-seen keys, written outside the clock."""
        frontier_urls_dist(spark, n, parallelism).write.parquet(f"{in_dir}/raw")
        raw = spark.read.parquet(f"{in_dir}/raw")
        return raw, seen_keys(n // 3, f"{in_dir}/seen")

    def one_round(raw, keys) -> dict:
        t0 = time.perf_counter()
        state = init_state(spark, raw, None, config)
        t1 = time.perf_counter()
        state = mark_seen(spark, state, keys, config)
        t2 = time.perf_counter()
        selected = select_round(spark, state, config)
        t3 = time.perf_counter()
        schedule = to_schedule(selected, batch_id=1)
        t4 = time.perf_counter()
        # outside the clock: the determinism digest of the pinned schedule
        row = schedule.agg(
            F.count(F.lit(1)).alias("n"),
            # xor of hash(rank:url_hash): order-insensitive, overflow-free,
            # and sensitive to any change in the rank→url assignment
            F.expr("bit_xor(xxhash64(concat(rank, ':', url_hash)))").alias("d"),
        ).collect()[0]
        shutil.rmtree(state.workdir, ignore_errors=True)
        return {
            "wall_s": round(t4 - t0, 3),
            "init_state_s": round(t1 - t0, 3),
            "mark_seen_s": round(t2 - t1, 3),
            "select_round_s": round(t3 - t2, 3),
            "to_schedule_s": round(t4 - t3, 3),
            "n_scheduled": row["n"],
            "schedule_digest": int(row["d"] or 0),
        }

    t_w0 = time.time()
    if warmup:
        small_dir = tempfile.mkdtemp(prefix="spiderbench-warm-")
        one_round(*prepare(max(20_000, n_frontier // 50), small_dir))
        shutil.rmtree(small_dir, ignore_errors=True)
    t_warm = time.time() - t_w0

    # input synthesis happens OUTSIDE the clock: a real round reads its
    # frontier and seen state from storage, so the timed pipeline starts at
    # a parquet scan (this also matches the snapshot-store design)
    in_dir = tempfile.mkdtemp(prefix="spiderbench-in-")
    raw, keys = prepare(n_frontier, in_dir)

    from .metrics import ShuffleWindow

    rounds = []
    for i in range(max(1, repeats)):
        w = ShuffleWindow(spark).start()
        rounds.append(one_round(raw, keys))
        shuf = w.stop()  # per-round shuffle bytes: the scaling-accounting
        if shuf:  # quantity (identical at every parallelism by layout)
            rounds[-1]["shuffle_write_mb"] = round(
                shuf["shuffle_write_bytes"] / 1e6, 2
            )
        if i + 1 >= max(1, min_repeats):
            walls = [r["wall_s"] for r in rounds]
            # plateau: neither of the last two rounds improved best by >3%
            # (needs ≥3 samples: min() over walls[:-2] is empty otherwise)
            if len(walls) >= 3 and min(walls[-2:]) > min(walls[:-2]) * 0.97:
                break
    best = min(rounds, key=lambda r: r["wall_s"])
    assert len({r["schedule_digest"] for r in rounds}) == 1, "nondeterministic schedule!"

    shutil.rmtree(in_dir, ignore_errors=True)
    return {
        "n_frontier": n_frontier,
        "seen_tier": config.seen_tier,
        **best,
        "all_walls_s": [r["wall_s"] for r in rounds],
        "rate_urls_per_sec": round(n_frontier / best["wall_s"], 1),
        "warmup_s": round(t_warm, 3),
        "parallelism": parallelism,
    }


HEADLINE_QUERIES = [
    "agg_per_host",
    "join_lineitem_orders",
    "window_rank_per_host",
    "dedup_exact",
    "minhash_lsh",
    "ann_bruteforce",
    "token_count",
]


def run_queries(
    spark,
    sf_dir: str,
    repeats: int = int(os.environ.get("SPIDERSPARK_BENCH_QUERY_REPEATS", "5")),
) -> dict[str, float]:
    """Per-query walls, min-of-N: the first execution of a query pays plan
    compilation + python-worker spin-up (5-10× the steady-state wall) and a
    single sample rides whatever the co-tenant is doing — the recorded
    number is the best of ``repeats`` identical runs, the steady-state cost
    a long-lived cluster session sees."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    out = {}
    for i, name in enumerate(HEADLINE_QUERIES, 1):
        walls = []
        for _ in range(max(1, repeats)):
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            walls.append(time.time() - t0)
        out[f"q{i}_{name}"] = round(min(walls), 3)
    return out


def run_crawl_bench(spark, corpus_size: int = 200_000, rounds: int = 3) -> dict:
    """End-to-end loop benchmark: full crawl rounds (schedule + fetch join +
    byte-identical extraction + outlink discovery + state update + politeness
    accounting) over a distributed synthetic corpus."""
    from pyspark.sql import functions as F

    from .crawl import CrawlConfig, crawl, crawl_round, init_state, keyed_pages
    from .metrics import ShuffleWindow
    from .pages import pages_df_dist, seeds_pdf
    from .politeness import HostPolicy
    from .schemas import SEEDS

    import shutil
    import tempfile

    # corpus synthesized OUTSIDE the clock and read from parquet — the
    # production shape (pages live in an Iceberg/parquet table)
    corpus_dir = tempfile.mkdtemp(prefix="spiderbench-pages-")
    pages_df_dist(spark, corpus_size).write.parquet(f"{corpus_dir}/pages")
    pages = spark.read.parquet(f"{corpus_dir}/pages")
    # seeds ∝ corpus (1%) so per-round work scales with input — required
    # for the weak-scaling pair (corpus ∝ cores ⇒ fetched ∝ cores)
    seeds = spark.createDataFrame(
        seeds_pdf(max(200, corpus_size // 100), corpus_size), schema=SEEDS
    )
    # SPIDERSPARK_BENCH_DURABLE=1: route state segments through bucketed
    # parquet tables (fault-tolerant mode) to measure its overhead ratio.
    # SPIDERSPARK_BENCH_BUDGET: per-host politeness budget — the default
    # 2000 keeps realistic crawl semantics (the Zipf head host saturates
    # its budget, capping per-round volume); scaling measurements that
    # need work ∝ corpus raise it so the frontier, not politeness, is
    # the binding constraint
    config = CrawlConfig(
        policy=HostPolicy(
            default_budget=float(
                os.environ.get("SPIDERSPARK_BENCH_BUDGET", "2000")
            )
        ),
        durable_state=bool(os.environ.get("SPIDERSPARK_BENCH_DURABLE")),
    )

    # warmup round on a small corpus (worker spin-up)
    crawl(spark, seeds.limit(50), pages.limit(5000), None, rounds=1, config=config)

    t0 = time.time()
    pages_k = keyed_pages(pages, n_parts=config.state_buckets)
    state = init_state(spark, seeds, None, config)
    scheduled = fetched = 0
    round_stats = []
    for _ in range(rounds):
        w = ShuffleWindow(spark).start()
        tr = time.time()
        state, schedule, log = crawl_round(spark, state, pages_k, config)
        # one partition-local agg over the pinned fetch checkpoint gives
        # both round counts (fetch_log is a narrow projection of schedule ∘
        # fetch, so count(log) == count(schedule)) — two count() jobs were
        # a measurable slice of the per-round serial term (docs/PLANS.md
        # "Full crawl-round serial term")
        n_sched, n_fetch = log.agg(
            F.count(F.lit(1)),
            F.count_if(F.col("status") == "fetched"),
        ).first()
        n_fetch = int(n_fetch or 0)
        stat = {
            "wall_s": round(time.time() - tr, 3),
            "scheduled": n_sched,
            "fetched": n_fetch,
        }
        # determinism digests OUTSIDE the clock (one agg each over already-
        # materialized results): the scaling harness asserts both are
        # parallelism-invariant — same schedule order AND byte-identical
        # extracted text at every cluster size
        stat["schedule_digest"] = int(
            schedule.agg(
                F.expr("bit_xor(xxhash64(concat(rank, ':', url_hash)))")
            ).first()[0]
            or 0
        )
        stat["text_digest"] = int(
            log.filter(F.col("status") == "fetched")
            .agg(F.expr("bit_xor(text_hash)"))
            .first()[0]
            or 0
        )
        shuf = w.stop()
        if shuf:
            # the scale story in one number: rounds ≥ 2 shuffle O(delta +
            # schedule), never O(frontier) — see docs/PLANS.md State layout
            stat["shuffle_write_mb"] = round(
                shuf["shuffle_write_bytes"] / 1e6, 2
            )
        scheduled += n_sched
        fetched += n_fetch
        round_stats.append(stat)
    wall = time.time() - t0
    shutil.rmtree(corpus_dir, ignore_errors=True)
    return {
        "corpus_size": corpus_size,
        "durable_state": config.durable_state,
        "rounds": rounds,
        "scheduled": scheduled,
        "fetched": fetched,
        "crawl_wall_s": round(wall, 3),
        "pages_fetched_per_sec": round(fetched / wall, 1),
        "urls_scheduled_per_sec": round(scheduled / wall, 1),
        "per_round": round_stats,
        "final_seen": state.seen.total_rows(),
        "final_frontier": state.frontier.total_rows(),
    }


def main(argv=None):
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--frontier", type=int, default=int(os.environ.get("SPIDERSPARK_BENCH_FRONTIER", "2000000")))
    ap.add_argument("--headline-only", action="store_true")
    ap.add_argument("--scaling", action="store_true", help="run local[lo] vs local[hi] subprocesses, write BENCH/scaling_last_run.md")
    ap.add_argument("--lo", type=int, default=8, help="with --scaling: N cores (criterion compares N vs 4N)")
    ap.add_argument("--hi", type=int, default=32, help="with --scaling: 4N cores")
    ap.add_argument("--weak", action="store_true", help="with --scaling: weak-scaling variant (input scales with cores; per-core volume constant — the per-executor-resources-constant cluster proxy)")
    ap.add_argument("--crawl", action="store_true", help="run the end-to-end crawl-loop benchmark instead")
    ap.add_argument("--crawl-corpus", type=int, default=200_000, help="corpus pages for --crawl")
    args = ap.parse_args(argv)

    if args.scaling:
        return run_scaling(args)

    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("SPIDERSPARK_DRIVER_MEM", "48g")  # local mode: the only heap
    from .session import get_spark

    # shuffle spill to tmpfs: a 1000-executor cluster has per-node NVMe that
    # scales with node count; a single sandbox disk does not — tmpfs restores
    # the storage-scales-with-compute property the efficiency proxy assumes
    # UI on: the shuffle-volume evidence reads the REST status API
    extra = {"spark.ui.enabled": "true"}
    if os.path.isdir("/dev/shm"):
        shuffle_dir = f"/dev/shm/spiderspark-shuffle-{os.getpid()}"
        os.makedirs(shuffle_dir, exist_ok=True)
        extra["spark.local.dir"] = shuffle_dir
    spark = get_spark(
        "spiderspark-bench", cores=args.cores,
        shuffle_partitions=args.cores * 2, extra=extra,
    )
    if args.crawl:
        res = run_crawl_bench(spark, corpus_size=args.crawl_corpus)
        print(json.dumps({
            "metric": "crawl_pages_fetched_per_sec",
            "value": res["pages_fetched_per_sec"],
            "unit": "pages/sec",
            "detail": res,
        }))
        spark.stop()
        return res
    head = run_headline(spark, args.frontier)
    queries = {} if args.headline_only else run_queries(spark, args.sf_dir)
    sf = args.sf_dir.rstrip("/").split("sf")[-1]
    result = {
        "metric": "frontier_urls_scheduled_deduped_per_sec",
        "value": head["rate_urls_per_sec"],
        "unit": "urls/sec",
        "headline_wall_sec": head["wall_s"],
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "detail": head,
    }
    print(json.dumps(result))
    spark.stop()
    return result


def _steal_ticks() -> int | None:
    """Aggregate CPU steal ticks from /proc/stat (virtualized guests: time
    the HOST ran someone else while our vCPUs were runnable). The sandbox
    shares its physical host with invisible co-tenants — guest load can be
    0.0 while 20%+ of cycles are stolen mid-run, so every benchmark arm
    records its steal delta to separate engine scaling from host theft."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8]) if len(parts) > 8 else None
    except (OSError, ValueError):  # pragma: no cover - non-Linux
        return None


def _subprocess_rate(
    cores: int, frontier: int, crawl: bool = False, corpus: int | None = None
) -> dict:
    """Fresh process at ``cores`` parallelism, CPU-PINNED to exactly that
    many physical CPUs (taskset). Without pinning, local[8] on a 32-CPU box
    borrows idle cores for its python UDF workers and the N-vs-4N comparison
    is meaningless; with pinning it behaves like a cluster 1/4 the size."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    cmd = [sys.executable,
           os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py"),
           "--cores", str(cores), "--frontier", str(frontier)]
    if crawl:
        cmd += ["--crawl"]
        if corpus is not None:
            cmd += ["--crawl-corpus", str(corpus)]
    else:
        cmd += ["--headline-only"]
    if os.path.exists("/usr/bin/taskset"):
        cmd = ["/usr/bin/taskset", "-c", f"0-{cores - 1}"] + cmd
    s0, t0 = _steal_ticks(), time.time()
    out = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=3600)
    s1, t1 = _steal_ticks(), time.time()
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    res = json.loads(line)
    if s0 is not None and s1 is not None:
        ncpu = os.cpu_count() or 32
        try:
            hz = os.sysconf("SC_CLK_TCK")  # /proc/stat tick rate (USER_HZ)
        except (ValueError, OSError):
            hz = 100
        # fraction of the BOX's cycles stolen by the host over this arm
        res["steal_frac"] = round((s1 - s0) / ((t1 - t0) * hz * ncpu), 4)
    return res


def run_scaling(args):
    """Interleaved A/B/A/B process runs (each itself min-of-repeats): the
    sandbox shares its 32 CPUs with other tenants and single runs swing ±2×,
    so each level's rate is the MIN wall across interleaved runs — transient
    contention hits both levels symmetrically."""
    n = args.frontier
    lo, hi = getattr(args, "lo", 8), getattr(args, "hi", 32)
    assert hi == 4 * lo, "the criterion compares N vs 4N cores"
    passes = int(os.environ.get("SPIDERSPARK_SCALING_PASSES", "2"))
    crawl = bool(getattr(args, "crawl", False))
    weak = bool(getattr(args, "weak", False))
    # weak scaling: input ∝ cores, so per-core data volume (and per-core
    # shuffle volume — the resource a real cluster scales with node count
    # but a single box cannot) is held constant; ideal = equal wall time
    n_lo = n * lo // hi if weak else n
    corpus = getattr(args, "crawl_corpus", None) if crawl else None
    corpus_lo = (corpus * lo // hi if weak else corpus) if crawl else None
    runs_lo, runs_hi = [], []
    for _ in range(passes):
        runs_lo.append(_subprocess_rate(lo, n_lo, crawl, corpus_lo))
        runs_hi.append(_subprocess_rate(hi, n, crawl, corpus))
    r_lo = max(runs_lo, key=lambda r: r["value"])
    r_hi = max(runs_hi, key=lambda r: r["value"])
    # rates normalize by input size, so the same formula covers both modes:
    # strong = same input; weak = equal per-core rate ⇒ 1.0
    eff = (r_hi["value"] / r_lo["value"]) / (hi / lo)
    if weak:
        invariant = None  # different inputs per level — digests incomparable
    elif crawl:
        # full-round determinism across parallelism: per-round scheduled
        # counts AND schedule digests AND extracted-text digests all equal
        invariant = (
            len({
                json.dumps([
                    [p["scheduled"], p.get("schedule_digest"),
                     p.get("text_digest")]
                    for p in r["detail"]["per_round"]
                ])
                for r in runs_lo + runs_hi
            }) == 1
        )
    else:
        digests = {r["detail"]["schedule_digest"] for r in runs_lo + runs_hi}
        invariant = len(digests) == 1
    result = {
        "metric": (
            f"weak_scaling_efficiency_{lo}_to_{hi}_cores"
            if weak
            else f"crawl_loop_scaling_efficiency_{lo}_to_{hi}_cores"
            if crawl
            else f"scaling_efficiency_{lo}_to_{hi}_cores"
        ),
        "value": round(eff, 3),
        "unit": "ratio",
        "cores_lo": lo,
        "cores_hi": hi,
        "rate_lo": r_lo["value"],
        "rate_hi": r_hi["value"],
        "all_rates_lo": [r["value"] for r in runs_lo],
        "all_rates_hi": [r["value"] for r in runs_hi],
        "steal_frac_lo": [r.get("steal_frac") for r in runs_lo],
        "steal_frac_hi": [r.get("steal_frac") for r in runs_hi],
        "n_frontier": n,
        "schedule_parallelism_invariant": invariant,
    }
    print(json.dumps(result))
    if not crawl and not weak:
        _write_baseline_md(result, r_lo, r_hi)
    elif crawl:
        _write_crawl_scaling_md(result, r_lo, r_hi, weak)
    return result


def _write_crawl_scaling_md(res, r_lo, r_hi, weak=False):
    """Machine log for the FULL-crawl-round scaling pair (fetch join + P6
    extraction + outlink discovery + state update — the heaviest Arrow
    stages, not just the headline's schedule+dedup)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    name = "crawl_weak_scaling_last_run.md" if weak else "crawl_scaling_last_run.md"
    path = os.path.join(root, "BENCH", name)
    os.makedirs(os.path.dirname(path), exist_ok=True)

    def row(cores, r):
        d = r["detail"]
        return (
            f"| {cores} | {r['value']:,} | {d['urls_scheduled_per_sec']:,} "
            f"| {d['crawl_wall_s']} | {d['fetched']:,} "
            f"| {r.get('steal_frac', '-')} |"
        )

    inv = res.get("schedule_parallelism_invariant")
    digests = [
        (p["scheduled"], p["schedule_digest"], p["text_digest"])
        for p in r_hi["detail"]["per_round"]
    ]
    inv_line = (
        "N/A — weak mode scales the corpus with cores, so digests are "
        "incomparable across levels (strong-pair run asserts them)"
        if inv is None
        else f"**{'HELD' if inv else 'VIOLATED'}** — per-round (scheduled "
        "count, schedule digest, extracted-text digest) identical at "
        f"every parallelism: {digests}"
    )
    corpora = (
        f"{r_lo['detail']['corpus_size']:,} (lo) / "
        f"{r_hi['detail']['corpus_size']:,} (hi) pages — corpus ∝ cores"
        if weak
        else f"{r_hi['detail']['corpus_size']:,} pages"
    )
    with open(path, "w") as f:
        f.write(f"""# BENCH — full crawl-round {"WEAK " if weak else ""}scaling (sandbox)

The end-to-end loop (schedule + fetch join + byte-identical text
extraction + outlink discovery + state update + politeness accounting)
over a synthetic parquet corpus of {corpora},
{r_hi['detail']['rounds']} rounds, at two CPU-pinned parallelism levels
in fresh JVMs (interleaved passes, best-of per level). Per-host
politeness budget: {os.environ.get('SPIDERSPARK_BENCH_BUDGET', '2000')}
(raise via SPIDERSPARK_BENCH_BUDGET so the frontier, not politeness,
binds — the DEFAULT budget caps round volume on Zipf-head hosts and the
pair degenerates to a fixed-cost measurement).

| cores | pages fetched/s | urls scheduled/s | wall s | fetched | steal frac |
| --- | --- | --- | --- | --- | --- |
{row(res['cores_lo'], r_lo)}
{row(res['cores_hi'], r_hi)}

**Scaling efficiency ({res['cores_lo']} → {res['cores_hi']} cores, 4×):
{res['value']}** (criterion ≥ 0.8). All-pass rates: lo
{res['all_rates_lo']}, hi {res['all_rates_hi']}; steal fractions lo
{res.get('steal_frac_lo')}, hi {res.get('steal_frac_hi')}.

Determinism invariant across BOTH levels and every pass: {inv_line}
""")


def _write_baseline_md(res, r_lo, r_hi):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # BASELINE.md is hand-curated; machine runs log here:
    path = os.path.join(root, "BENCH", "scaling_last_run.md")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(f"""# BENCH/BASELINE — measured results (sandbox)

Driver-mandated proxy for the N→4N-executor criterion (BASELINE.json:2):
the same scheduling+dedup job, same deterministic input
({res['n_frontier']:,} frontier URLs, Zipf hosts, canonicalization noise,
1/3 pre-seen), at two local parallelism levels in fresh JVMs.

| cores | frontier URLs/s | wall s | init_state s | mark_seen s | select_round s | to_schedule s |
| --- | --- | --- | --- | --- | --- | --- |
| {res['cores_lo']}  | {r_lo['value']:,} | {r_lo['headline_wall_sec']} | {r_lo['detail'].get('init_state_s', '-')} | {r_lo['detail'].get('mark_seen_s', '-')} | {r_lo['detail'].get('select_round_s', '-')} | {r_lo['detail'].get('to_schedule_s', '-')} |
| {res['cores_hi']} | {r_hi['value']:,} | {r_hi['headline_wall_sec']} | {r_hi['detail'].get('init_state_s', '-')} | {r_hi['detail'].get('mark_seen_s', '-')} | {r_hi['detail'].get('select_round_s', '-')} | {r_hi['detail'].get('to_schedule_s', '-')} |

**Scaling efficiency ({res['cores_lo']} → {res['cores_hi']} cores, 4×): {res['value']}** (criterion ≥ 0.8).
Host steal fraction during the arms (co-tenant theft, /proc/stat):
lo {res.get('steal_frac_lo')}, hi {res.get('steal_frac_hi')} — read the
ratio next to these; a stolen arm is the host's number, not the engine's.

Parallelism-invariance: the two runs produced **{"identical" if res.get('schedule_parallelism_invariant') else "DIFFERENT"}**
schedules (same (rank → url_hash) digest) — the crawl-ordering invariant
holds across cluster sizes.

## 10^10-scale argument (paper, backed by the curve above)

- Frontier partitioned by (host_bucket, salt); heavy hosts split explicitly
  (A7 top-k count → n_salts = ceil(count/threshold)) so no task exceeds the
  skew threshold regardless of the Zipf exponent. AQE skew-join splitting is
  enabled on top.
- URL-seen set at 10^10 keys / 1% fpp needs ≈ 9.6e10 bloom bits ≈ 12 GB —
  never materialized in one place: the sketch lives as bucket-partitioned
  parquet (bucket = pmod(hash(url_hash), n_buckets) == stored partition
  id); a membership task side-reads ONLY its bucket's slices (~12 MB per
  task at 1000 tasks); per-round deltas are per-partition partial filters
  written with no exchange; compaction is a distributed groupBy(bucket)
  bit-OR. No broadcast, nothing on the driver.
- Frontier/seen are stored hash-partitioned by url_hash (segmented, LSM-
  style): every per-round probe of the big state is a co-partitioned SMJ or
  broadcast join with zero exchange and zero sort on the stored side —
  repeat-round network is O(delta + schedule), not O(state); see the
  per-round shuffle_write_mb evidence in the crawl-loop bench.
- Seen-ness is checked only where it can remove rows — the round's
  discovery delta and mark_seen's new keys; on the sketch tier only the
  sketch's "maybe-seen" sliver of them reaches the exact anti-join. The
  frontier never holds a seen key, so scheduling reads no seen state.
- The full-candidate (host, salt) window exchange NO LONGER EXISTS: the
  frontier is stored in the scheduler layout (host_bucket, salt — salt from
  the per-crawl static table) and the phase-1 per-host window runs
  layout-satisfied; only the O(hosts × budget) kept set reaches the final
  window (docs/PLANS.md "Scheduler layout").
- All per-URL string work (RFC-3986 canonicalize, text extraction) is
  Arrow-vectorized pandas UDFs: one JVM↔Python crossing per batch per round.
""")
