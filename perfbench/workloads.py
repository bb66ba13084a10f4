"""The two workloads: their inputs, their expected outputs, and one timed
pass through the engine's public functions.

Both workloads make the same calls (init_state → mark_seen → crawl_round →
resume), so every end-to-end metric exists on both; their inputs stress
different layers:

- ``schedule``: 50k noisy raw URLs (Zipf hosts; case, port and dot-segment
  noise, as ``spiderspark.bench.frontier_urls_dist``), a third of them
  pre-seen, host budget 250. Per-row work on the stored frontier is largest:
  canonicalize, dedup, layout pin, seen anti-join, per-host top-k, global
  rank, and the round's rewrite of a 33k-row frontier.
- ``crawl``: ~1000 seeds sampled from a 50k-page corpus, 300 pre-seen keys,
  budget 2000. The frontier stays small, so the round's fetch, extraction,
  delta and commit jobs cost mostly their fixed per-job price.

Inputs are pure functions of (workload, seed, size), written to parquet
before Spark starts; ``expected`` rebuilds them for the oracle. Before any
call is timed, a warm-up calls init_state and mark_seen on a sample of them
(``warm_plan``).
"""

from __future__ import annotations

import os
import time
import traceback
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

import numpy as np
import pandas as pd

from spiderspark.pages import gen_pages_pdf, host_ids, robots_pdf, url_for_ids

# Outlink targets of the schedule workload's pages are id*7+1, id*13+5 and
# id*3+2 (gen_pages_pdf wraps them modulo this). A modulus this large never
# wraps, so every target lies outside the frontier's id range on every seed.
NO_WRAP = 1 << 40
# Seed s takes frontier ids from ID_BASE + (s % SEED_SPAN) * ID_STRIDE. Their
# decimal form never starts with "1", so host1's robots rule ("Disallow:
# /p/1") removes the same share (none) of every seed's frontier, and stays
# small enough for gen_pages_pdf's timestamps (id * 13 s after 2024).
ID_BASE = 200_000_000
ID_STRIDE = 100_000
SEED_SPAN = 2048


@dataclass(frozen=True)
class Size:
    frontier: int  # raw URLs given to init_state
    seen: int      # keys given to mark_seen
    pages: int     # corpus pages
    budget: float  # HostPolicy.default_budget
    rounds: int    # crawl_round calls before resume


SIZES = {
    "schedule": {
        "full": Size(frontier=50_000, seen=16_667, pages=10_000, budget=250, rounds=1),
        "tiny": Size(frontier=4_000, seen=1_333, pages=400, budget=25, rounds=1),
    },
    "crawl": {
        "full": Size(frontier=1_000, seen=300, pages=50_000, budget=2000, rounds=1),
        "tiny": Size(frontier=100, seen=30, pages=2_000, budget=2000, rounds=2),
    },
}

STATE_BUCKETS = 8
# the warm-up pass takes every WARM_STEP-th frontier URL and seen key
WARM_STEP = 20
# mark_seen is short and its walls spread more than the other calls'; a
# checked pass makes it this many times on the same ingested state (it
# returns a new state and leaves its input as it was)
MARK_SEEN_CALLS = 2


def noisy_urls(ids: np.ndarray) -> pd.Series:
    """Raw URLs with the canonicalization noise of
    ``spiderspark.bench.frontier_urls_dist``."""
    urls = url_for_ids(ids)
    urls = urls.mask(ids % 5 == 0, urls.str.replace("http://host", "HTTP://HOST", regex=False))
    urls = urls.mask(ids % 7 == 0, urls.str.replace(".example/", ".example:80/", regex=False))
    return urls.mask(ids % 11 == 0, urls.str.replace("/p/", "/a/../p/./", regex=False))


def seed_rows(ids: np.ndarray, priority: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame({"url": noisy_urls(ids), "priority": priority.astype("float64")})


def seen_keys(ids: np.ndarray) -> pd.DataFrame:
    """(url_norm, host) of the clean url of each id; url_hash is added by
    the caller (Spark's xxhash64 or the oracle's)."""
    return pd.DataFrame({
        "url_norm": url_for_ids(ids),
        "host": "host" + pd.Series(host_ids(ids)).astype(str) + ".example",
    })


@dataclass(frozen=True)
class Plan:
    """The ids behind one workload's inputs."""

    frontier_ids: np.ndarray
    frontier_priority: np.ndarray
    seen_ids: np.ndarray
    page_ids: np.ndarray
    page_wrap: int


def plan(workload: str, seed: int, size: Size) -> Plan:
    if workload == "schedule":
        # the seed shifts the frontier's id range; the first third is seen,
        # and the corpus holds pages of ids just past the seen third
        off = ID_BASE + (seed % SEED_SPAN) * ID_STRIDE
        ids = np.arange(off, off + size.frontier, dtype=np.int64)
        return Plan(
            ids, ids % 5, ids[: size.seen],
            np.arange(off + size.seen, off + size.seen + size.pages, dtype=np.int64),
            NO_WRAP,
        )
    if workload == "crawl":
        # the seed picks which corpus pages are seeds and which are seen
        rng = np.random.default_rng(seed)
        ids = np.sort(rng.choice(size.pages, size.frontier, replace=False)).astype(np.int64)
        seen = np.sort(rng.choice(size.pages, size.seen, replace=False)).astype(np.int64)
        return Plan(ids, (ids * 7) % 5, seen, np.arange(size.pages, dtype=np.int64), size.pages)
    raise ValueError(f"unknown workload {workload!r}")


def warm_plan(p: Plan) -> Plan:
    """The warm-up pass's inputs: every WARM_STEP-th frontier URL and seen
    key of ``p``."""
    return Plan(p.frontier_ids[::WARM_STEP], p.frontier_priority[::WARM_STEP],
                p.seen_ids[::WARM_STEP], p.page_ids, p.page_wrap)


# -- parquet inputs -------------------------------------------------------------

def write_inputs(p: Plan, out_dir: str, n_files: int, pages: bool = True) -> dict:
    """Write the inputs of ``p`` as parquet directories of ``n_files``
    files each (so a scan starts ``n_files`` tasks); return their paths."""
    tables = {
        "frontier": lambda: seed_rows(p.frontier_ids, p.frontier_priority),
        "seen": lambda: seen_keys(p.seen_ids),
        # UTC-adjusted micros: the parquet form of Spark's TimestampType
        "pages": lambda: gen_pages_pdf(p.page_ids, p.page_wrap).assign(
            warc_ts=lambda d: d["warc_ts"].dt.tz_localize("UTC")
        ),
    }
    if not pages:
        del tables["pages"]
    paths = {}
    for name, make in tables.items():
        pdf = make()
        paths[name] = os.path.join(out_dir, name)
        os.makedirs(paths[name])
        for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), n_files)):
            pdf.iloc[chunk].to_parquet(
                os.path.join(paths[name], f"part-{i:05d}.parquet"),
                index=False, coerce_timestamps="us",
            )
    return paths


# -- expected outputs (no Spark) ---------------------------------------------

def expected(workload: str, seed: int, size: Size) -> dict:
    """What one pass must produce, from the pandas oracle."""
    from perfbench.oracle import Oracle, hashes

    p = plan(workload, seed, size)
    o = Oracle(robots_pdf(), size.budget, gen_pages_pdf(p.page_ids, p.page_wrap))
    frontier_rows = o.init_state(seed_rows(p.frontier_ids, p.frontier_priority))
    seen_rows, frontier_rows_unseen = o.mark_seen(
        hashes(seen_keys(p.seen_ids)["url_norm"])
    )
    return {
        "frontier_rows": frontier_rows,
        "seen_rows": seen_rows,
        "frontier_rows_unseen": frontier_rows_unseen,
        "rounds": [o.crawl_round() for _ in range(size.rounds)],
        "final": {"frontier_rows": len(o.frontier), "seen_rows": len(o.seen)},
    }


# -- one pass through the engine ----------------------------------------------

def schedule_facts(schedule) -> dict:
    from pyspark.sql import functions as F

    row = schedule.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(F.concat(
            F.col("rank").cast("string"), F.lit(":"), F.col("url_hash").cast("string")
        ))), F.lit(0)).alias("d"),
    ).first()
    return {"scheduled": int(row["n"]), "digest": int(row["d"])}


def fetch_facts(fetch_log) -> dict:
    from pyspark.sql import functions as F

    hit = F.col("status") == "fetched"
    row = fetch_log.agg(
        F.sum(hit.cast("long")).alias("f"),
        F.sum((F.col("status") == "missing").cast("long")).alias("m"),
        F.coalesce(F.bit_xor(F.when(hit, F.xxhash64(F.concat(
            F.col("url_hash").cast("string"), F.lit(":"), F.col("text_hash").cast("string")
        )))), F.lit(0)).alias("t"),
    ).first()
    return {
        "fetched": int(row["f"] or 0),
        "missing": int(row["m"] or 0),
        "text_digest": int(row["t"]),
    }


@contextmanager
def timed_calls(module, name: str, walls: list):
    """Append the wall of every call of ``module.name`` to ``walls``."""
    fn = getattr(module, name)

    def timed(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            walls.append(time.perf_counter() - t0)

    setattr(module, name, timed)
    try:
        yield walls
    finally:
        setattr(module, name, fn)


class Pass:
    """One pass: init_state → mark_seen × MARK_SEEN_CALLS → crawl_round ×
    rounds → resume.

    Each call is one timed operation, checked against ``expect`` after its
    clock stops. A call that raises fails, and so does every later call of
    the pass, which can no longer run. A warm-up pass (``expect=None``)
    checks nothing, calls mark_seen once and stops before ``resume``; with
    ``size.rounds`` 0 it calls only init_state and mark_seen.
    ``to_schedule`` (which forces ``select_round``) is timed inside each
    round by a wrapper around the name ``crawl_round`` looks up."""

    def __init__(self, spark, paths: dict, pages_k, size: Size, store_dir: str,
                 expect: dict | None, tracer=None):
        self.spark, self.paths, self.pages_k = spark, paths, pages_k
        self.size, self.store_dir, self.expect = size, store_dir, expect
        self.tracer = tracer
        self.ops: list[dict] = []
        self.facts: dict = {"rows_in": size.frontier, "rounds": []}
        self.schedule_walls: list[float] = []

    def mark_seen_calls(self) -> int:
        return MARK_SEEN_CALLS if self.expect is not None else 1

    def n_ops(self) -> int:
        return 1 + self.mark_seen_calls() + self.size.rounds + (self.expect is not None)

    def _timed(self, op: str, fn):
        t0 = time.perf_counter()
        with self.tracer.span(f"crawl.{op}") if self.tracer else nullcontext():
            out = fn()
        self.ops.append({"op": op, "wall": time.perf_counter() - t0, "ok": True})
        return out

    def _check(self, what: str, got, want):
        if self.expect is not None and got != want:
            self.ops[-1]["ok"] = False
            self.ops[-1].setdefault("mismatch", []).append(
                {"what": what, "got": got, "want": want}
            )

    def run(self) -> "Pass":
        from spiderspark import crawl

        try:
            with timed_calls(crawl, "to_schedule", self.schedule_walls):
                self._run(crawl)
        except Exception:  # noqa: BLE001 — counted as failed operations
            traceback.print_exc()
        while len(self.ops) < self.n_ops():
            self.ops.append({"op": "not_run", "wall": None, "ok": False})
        return self

    def _run(self, c):
        from pyspark.sql import functions as F

        from spiderspark.politeness import HostPolicy
        from spiderspark.schemas import ROBOTS_TXT
        from spiderspark.snapshots import ParquetManifestStore

        spark, facts = self.spark, self.facts
        exp = self.expect or {}
        cfg = c.CrawlConfig(
            policy=HostPolicy(default_budget=self.size.budget),
            state_buckets=STATE_BUCKETS,
        )
        raw = spark.read.parquet(self.paths["frontier"])
        keys = spark.read.parquet(self.paths["seen"]).select(
            F.xxhash64("url_norm").alias("url_hash"), "url_norm", "host"
        )
        robots = spark.createDataFrame(robots_pdf(), schema=ROBOTS_TXT)

        state = self._timed("init_state", lambda: c.init_state(spark, raw, robots, cfg))
        facts["frontier_rows"] = state.frontier.total_rows()
        self._check("frontier_rows", facts["frontier_rows"], exp.get("frontier_rows"))

        ingested = state
        for _ in range(self.mark_seen_calls()):
            state = self._timed("mark_seen", lambda: c.mark_seen(spark, ingested, keys, cfg))
            facts["seen_rows"] = state.seen.total_rows()
            frontier_rows = state.frontier.total_rows()
            self._check("seen_rows", facts["seen_rows"], exp.get("seen_rows"))
            self._check("frontier_rows_unseen", frontier_rows, exp.get("frontier_rows_unseen"))
        ingested = None

        store = ParquetManifestStore(self.store_dir)
        for r in range(self.size.rounds):
            state, schedule, fetch_log = self._timed(
                "crawl_round",
                lambda: c.crawl_round(spark, state, self.pages_k, cfg, store),
            )
            got = {**schedule_facts(schedule), **fetch_facts(fetch_log),
                   "frontier_rows": frontier_rows}
            facts["rounds"].append(got)
            want = {} if self.expect is None else exp["rounds"][r]
            self._check(f"round {r + 1}", {k: got[k] for k in want}, want)
            self._check(f"round {r + 1}: scheduled = fetched + missing",
                        got["scheduled"], got["fetched"] + got["missing"])
            if r + 1 < self.size.rounds:
                frontier_rows = state.frontier.total_rows()
        facts["frontier_segments"] = len(state.frontier.segments)
        facts["seen_segments"] = len(state.seen.segments)
        batch_id = state.batch_id
        state = schedule = fetch_log = None  # the JVM may drop them before resume
        if self.expect is None:
            return

        resumed = self._timed("resume", lambda: c.resume(spark, store, cfg))
        got = {"frontier_rows": resumed.frontier.total_rows(),
               "seen_rows": resumed.seen.total_rows()}
        self._check("resumed state", got, exp["final"])
        self._check("resumed batch_id", resumed.batch_id, batch_id)
        facts["store_bytes"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(self.store_dir) for f in files
        )
