#!/usr/bin/env python3
"""Benchmark driver: one workload, one seed, untraced or traced.

    python3 perfbench/run.py --workload schedule --seed 1 --seconds 25 --trace 0

Run from the repository root. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
Progress and the span tree go to stderr. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import dataclasses
import fcntl
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# built by the first run in a checkout, kept by later ones
CACHE = os.path.join(ROOT, ".perfbench_cache")
# class-data archive of the classes a pass loads: the JVM maps it instead
# of reading and verifying those classes from the jars at every start
ARCHIVE = os.path.join(CACHE, "spark-classes.jsa")
CORES = 4
DRIVER_MEMORY = "4g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("schedule", "crawl"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=25.0,
                    help="start another pass only while it fits in this many seconds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--expected", default=os.path.join(ROOT, "perfbench", "expected.json"),
                    help="recorded expected outputs; a seed absent from it is "
                         "computed by the oracle before Spark starts")
    ap.add_argument("--build-archive", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def bootstrap(work: str) -> None:
    """Make the checkout's engine importable, keep every file this run
    writes inside ``work``, and pin the session's environment."""
    if not os.path.isfile(os.path.join(ROOT, "spiderspark", "__init__.py")):
        sys.exit(f"perfbench: no spiderspark package under {ROOT}")
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for knob in ("SPIDERSPARK_MASTER", "SPIDERSPARK_EXTRA_CONF", "SPIDERSPARK_DRIVER_MEM"):
        os.environ.pop(knob, None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = tmp
    # class-data archives take no non-empty directory on the class path,
    # and the Spark conf directory is on it: point it at an empty one
    conf = os.path.join(CACHE, "conf")
    os.makedirs(conf, exist_ok=True)
    os.environ["SPARK_CONF_DIR"] = conf


def load_expected(path: str, workload: str, size: str, seed: int):
    try:
        with open(path) as f:
            return json.load(f)[workload][size].get(str(seed))
    except (OSError, KeyError):
        return None


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    bootstrap(work)
    try:
        if args.build_archive:
            return build_archive(work)
        ensure_archive()
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass  # another run still uses it


def run(args, work: str) -> int:
    from perfbench import workloads as W

    size = W.SIZES[args.workload][args.size]
    t = time.perf_counter()
    expect = load_expected(args.expected, args.workload, args.size, args.seed)
    if expect is None:
        expect = W.expected(args.workload, args.seed, size)
        log(f"expected outputs from the oracle in {time.perf_counter() - t:.1f}s")
    t = time.perf_counter()
    plan = W.plan(args.workload, args.seed, size)
    paths = W.write_inputs(plan, f"{work}/in", CORES)
    wplan = W.warm_plan(plan)
    warm = {
        "paths": W.write_inputs(wplan, f"{work}/warm", CORES, pages=False),
        "size": dataclasses.replace(size, frontier=len(wplan.frontier_ids),
                                    seen=len(wplan.seen_ids), rounds=0),
    }
    log(f"inputs in {time.perf_counter() - t:.1f}s")

    t = time.perf_counter()
    spark = start_spark(work, f"-XX:SharedArchiveFile={ARCHIVE}"
                        if os.path.isfile(ARCHIVE) else "")
    session_s = time.perf_counter() - t
    try:
        result = measure(args, work, spark, paths, warm, size, expect, session_s)
    finally:
        stop(spark)
    print(json.dumps(result))
    return 0


def start_spark(work: str, java_opts: str):
    from spiderspark.session import get_spark

    return get_spark(
        "perfbench", cores=CORES, shuffle_partitions=CORES,
        extra={
            "spark.driver.memory": DRIVER_MEMORY,
            # no hsperfdata file under the system /tmp; JVM warnings go to
            # stderr, so the last line of stdout stays the result
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                f"-Xlog:disable -Xlog:all=warning:stderr {java_opts}",
            "spark.local.dir": os.environ["TMPDIR"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the status store keeps every job and stage for the counters
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )


def ensure_archive() -> None:
    """Build the class-data archive once per checkout, in a process of its
    own, before the first run starts its clock. A failed build leaves a
    marker, and runs go on without an archive."""
    failed = ARCHIVE + ".failed"
    if os.path.exists(ARCHIVE) or os.path.exists(failed):
        return
    with open(os.path.join(CACHE, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # a concurrent first run waits
        if os.path.exists(ARCHIVE) or os.path.exists(failed):
            return
        t = time.perf_counter()
        try:
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", "crawl",
                 "--seed", "0", "--build-archive"],
                stdout=subprocess.DEVNULL, timeout=600,
            )
        except subprocess.TimeoutExpired:
            pass  # its JVM exits when the killed process's pipe closes
        if not os.path.isfile(ARCHIVE):
            open(failed, "w").close()
        log(f"class-data archive {'built' if os.path.isfile(ARCHIVE) else 'FAILED'} "
            f"in {time.perf_counter() - t:.1f}s")


def build_archive(work: str) -> int:
    """Run one tiny pass of each workload in a JVM that dumps the classes
    it loaded into the archive when it exits."""
    from perfbench import workloads as W
    from spiderspark.crawl import keyed_pages

    tmp = f"{ARCHIVE}.tmp{os.getpid()}"
    spark = start_spark(work, f"-XX:ArchiveClassesAtExit={tmp} "
                              f"-Xlog:cds=error:file={CACHE}/archive.log")
    try:
        for workload in ("schedule", "crawl"):
            size = W.SIZES[workload]["tiny"]
            paths = W.write_inputs(W.plan(workload, 0, size), f"{work}/{workload}", CORES)
            pages_k = keyed_pages(spark.read.parquet(paths["pages"]), n_parts=W.STATE_BUCKETS)
            p = W.Pass(spark, paths, pages_k, size, f"{work}/{workload}/store",
                       W.expected(workload, 0, size)).run()
            if not all(o["ok"] for o in p.ops):
                log(f"archive pass of {workload} FAILED: {p.ops}")
                return 1
    finally:
        stop(spark)
    os.replace(tmp, ARCHIVE)
    return 0


def stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def measure(args, work, spark, paths, warm, size, expect, session_s) -> dict:
    from perfbench import spans as S
    from perfbench import workloads as W
    from spiderspark.crawl import keyed_pages

    stores = (f"{work}/store{i}" for i in range(1 << 30))
    t = time.perf_counter()
    # keyed_pages is the crawl's own one-time set-up (as in crawl.crawl)
    pages_k = keyed_pages(spark.read.parquet(paths["pages"]), n_parts=W.STATE_BUCKETS)
    keyed_s = time.perf_counter() - t
    # warm-up: init_state and mark_seen on a sample of the inputs, so their
    # timed calls meet compiled code and generated classes that are already
    # hot. A round is not warmed up: a round on a sample costs as much as
    # the timed one, which the time a run may take does not allow.
    wp = W.Pass(spark, warm["paths"], None, warm["size"], next(stores), None).run()
    _release(spark)
    warmup_s = time.perf_counter() - t
    setup_s = session_s + warmup_s
    log(f"setup {setup_s:.1f}s: session {session_s:.1f}s, keyed pages {keyed_s:.1f}s, "
        "warm-up " + ", ".join(f"{o['op']} {o['wall']:.2f}s" for o in wp.ops if o["wall"]))
    for o in (o for o in wp.ops if not o["ok"]):
        log(f"warm-up FAILED {o}")

    tracer = S.Tracer(spark) if args.trace else None
    passes = []
    start = time.perf_counter()
    while True:
        p = W.Pass(spark, paths, pages_k, size, next(stores), expect, tracer)
        t = time.perf_counter()
        with tracer.patch() if tracer else nullcontext():
            p.run()
        passes.append(p)
        pass_s = time.perf_counter() - t
        log(f"pass {len(passes)} in {pass_s:.1f}s: " + ", ".join(
            f"{o['op']} {o['wall']:.2f}s" if o["wall"] is not None else o["op"]
            for o in p.ops))
        elapsed = time.perf_counter() - start
        if tracer or elapsed + elapsed / len(passes) > args.seconds:
            break
        _release(spark)

    for o in (o for p in passes for o in p.ops if not o["ok"]):
        log(f"FAILED {o}")
    if tracer:
        print_tree(tracer)
        metrics = layer_metrics(tracer, S.SparkCounters(spark), passes[0],
                                session_s, warmup_s, pass_s)
    else:
        metrics = e2e_metrics(passes, setup_s)
    failed = sum(not o["ok"] for p in passes for o in p.ops)
    return {
        "correct": failed == 0,
        "attempted": sum(len(p.ops) for p in passes),
        "failed": failed,
        "metrics": metrics,
    }


def _release(spark) -> None:
    """Let the JVM drop the previous pass's checkpoints before the next."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


def e2e_metrics(passes, setup_s: float) -> dict:
    def walls(op):
        return [o["wall"] for p in passes for o in p.ops
                if o["op"] == op and o["wall"] is not None]

    def rate(op, work):
        return median([work(p) / o["wall"] for p in passes for o in p.ops
                       if o["op"] == op and o["wall"]])

    sched = [r["frontier_rows"] / w for p in passes
             for r, w in zip(p.facts["rounds"], p.schedule_walls) if w]
    fetched = sum(r["fetched"] for p in passes for r in p.facts["rounds"])
    round_walls = walls("crawl_round")
    values = {
        "setup_s": (setup_s, "s"),
        "ingest_urls_per_s": (rate("init_state", lambda p: p.size.frontier), "urls/s"),
        "mark_seen_keys_per_s": (rate("mark_seen", lambda p: p.size.seen), "keys/s"),
        "schedule_urls_per_s": (median(sched), "urls/s"),
        "round_s": (median(round_walls), "s"),
        "pages_fetched_per_s": (
            fetched / sum(round_walls) if round_walls else 0.0, "pages/s"),
        "resume_s": (median(walls("resume")), "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


# -- per-layer metrics -----------------------------------------------------------

# span name → what each call reports (median over the calls of one pass)
SPANS = {
    "crawl.init_state": ("s", "jobs", "shuffle_mb"),
    "crawl.mark_seen": ("s", "jobs", "shuffle_mb"),
    "schedule.to_schedule": ("s", "jobs", "shuffle_mb"),
    "crawl.crawl_round": ("s", "jobs", "shuffle_mb", "self_s"),
    "state.materialize_many.accounting": ("s", "jobs"),
    "state.materialize_many.delta": ("s", "jobs"),
    "state.materialize_many.segments": ("s", "jobs"),
    "state.materialize_many.prune": ("s", "jobs"),
    "frontier.write_sketch_delta": ("s", "jobs"),
    "frontier.compact_sketch": ("s",),
    "snapshots.commit": ("s", "jobs"),
    "crawl.resume": ("s", "jobs"),
}
UNITS = {"s": "s", "self_s": "s", "jobs": "count", "shuffle_mb": "MB"}


def layer_metrics(tracer, counters, p, session_s, warmup_s, pass_s) -> dict:
    from perfbench.spans import self_time

    by_tag = counters.jobs_by_tag()
    out = {}
    for name, kinds in SPANS.items():
        per = {k: [] for k in kinds}
        for s in (s for s in tracer.spans if s["name"] == name):
            c = by_tag.get(tracer.tag(s["id"]), {"jobs": 0, "shuffle_bytes": 0})
            v = {
                "s": s["end"] - s["start"],
                "jobs": c["jobs"],
                "shuffle_mb": c["shuffle_bytes"] / 1e6,
                "self_s": self_time(s, [k for k in tracer.spans if k["parent"] == s["id"]]),
            }
            for k in kinds:
                per[k].append(v[k])
        for k in kinds:
            out[f"{name}.{k}"] = (median(per[k]), UNITS[k])

    f = p.facts
    rounds = f["rounds"]
    n = max(1, len(rounds))
    fetched = sum(r["fetched"] for r in rounds)
    scheduled = sum(r["scheduled"] for r in rounds)
    offered = sum(r["frontier_rows"] for r in rounds)
    out.update({
        "frontier.rows_in": (f["rows_in"], "count"),
        "frontier.rows_kept": (f.get("frontier_rows", 0), "count"),
        "seen.rows": (f.get("seen_rows", 0), "count"),
        "schedule.rows_out": (scheduled / n, "count"),
        "schedule.kept_ratio": (scheduled / offered if offered else 0.0, "ratio"),
        "crawl.fetched": (fetched / n, "count"),
        "crawl.missing": (sum(r["missing"] for r in rounds) / n, "count"),
        "crawl.fetch_hit_ratio": (fetched / scheduled if scheduled else 0.0, "ratio"),
        "frontier.segments": (f.get("frontier_segments", 0), "count"),
        "seen.segments": (f.get("seen_segments", 0), "count"),
        "snapshots.bytes_written": (f.get("store_bytes", 0) / n, "bytes"),
        "session.get_spark.s": (session_s, "s"),
        "session.warmup.s": (warmup_s, "s"),
        "spark.tasks_failed": (counters.failed_tasks(), "count"),
        "trace.overhead_s": (tracer.overhead_s, "s"),
        "trace.overhead_pct": (100.0 * tracer.overhead_s / pass_s, "%"),
    })
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def print_tree(tracer) -> None:
    kids: dict = {}
    for s in sorted(tracer.spans, key=lambda s: s["start"]):
        kids.setdefault(s["parent"], []).append(s)

    def walk(parent, depth):
        for s in kids.get(parent, []):
            log(f"{'  ' * depth}{s['name']} {s['end'] - s['start']:.3f}s "
                f"(span {s['id']}, thread {s['thread']})")
            walk(s["id"], depth + 1)

    walk(None, 0)


if __name__ == "__main__":
    sys.exit(main())
