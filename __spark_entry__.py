"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship operation — one full frontier-scheduling
round of the spiderspark engine over seeds derived from the sf0.001
``documents`` table (canonicalize → hash → dedup → politeness budget →
skew-salted per-host top-k → deterministic global order).

``queries()`` / ``oracle_sql()`` expose the operator inventory of
SURVEY.md §2 (plus the training-data-pipeline operators: dedup families,
ANN, text analysis, multimodal plumbing); the driver cross-checks each
SQL-expressible one against DuckDB at sf=0.01.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# importing these modules populates the spiderspark.queries registry
import spiderspark.queries as _q  # noqa: E402
import spiderspark.textops  # noqa: F401,E402
import spiderspark.dedup  # noqa: F401,E402
import spiderspark.ann  # noqa: F401,E402
import spiderspark.multimodal  # noqa: F401,E402
import spiderspark.streaming  # noqa: F401,E402


def _documents_as_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seed list from the documents table: per doc, a MESSY
    pre-normalization URL variant (case/default-port/dot-segments/%7e — the
    RFC-3986 kernel does real work) PLUS the already-canonical form of the
    same URL (so within-batch dedup does real work: both collapse to one
    canonical row). Host = source (Zipf-ish).

    priority = doc_id (globally unique): the engine's total order
    (priority, depth, discovered_batch, url_hash) then never reaches its
    url_hash tie-break, which makes the schedule — selection, order, rank —
    exactly reproducible in ANSI SQL (DuckDB has no xxhash64; the hash
    VALUES themselves are pinned by tests/test_hashing.py instead)."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    # Two messy shapes by doc_id parity, both canonicalizing to the SAME
    # closed form /d/<id>/?x=~ (so the oracle below needs one CASE only on
    # the raw url column):
    #  - even: '%7e' + mid-path '/a/../' + trailing '/.' before '?' — pays
    #    the full kernel (pct escape forces it) and exerces every clause;
    #  - odd:  NO '%', case+default-port only, and a dot segment terminated
    #    by '?' ('/x/..?') — exactly the fast-tier shape whose guard the
    #    round-5 kernel got wrong (VERDICT r05 item 2). This row takes the
    #    tier-2/JVM-gate path, so any future guard regression fails the
    #    DRIVER's oracle hash check, not just the local pytest suite.
    parity = F.col("doc_id") % 2
    messy = docs.select(
        F.when(
            parity == 0,
            F.concat(
                F.lit("HTTP://"), F.upper("source"), F.lit(".Example:80/a/../d/"),
                F.col("doc_id"), F.lit("/.?x=%7e"),
            ),
        ).otherwise(
            F.concat(
                F.lit("HTTP://"), F.upper("source"), F.lit(".Example:80/d/"),
                F.col("doc_id"), F.lit("/x/..?x=~"),
            )
        ).alias("url"),
        F.col("doc_id").cast("double").alias("priority"),
    )
    # lower(source): the engine lowercases hosts during canonicalization, so
    # the "already-canonical" variant must too — keeps the oracle's closed
    # form (lower(source) || '.example') exact for ANY source casing
    clean = docs.select(
        F.concat(
            F.lit("http://"), F.lower("source"), F.lit(".example/d/"),
            F.col("doc_id"), F.lit("/?x=~"),
        ).alias("url"),
        F.col("doc_id").cast("double").alias("priority"),
    )
    return messy.unionByName(clean)


def _pre_seen_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 7th document's canonical URL — a deterministic pre-seen set, so
    the flagship's seen dedup (mark_seen's new-key filter and frontier
    prune) does real work and the oracle can restate the exclusion as
    ``doc_id % 7 <> 0``."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return docs.filter(F.col("doc_id") % 7 == 0).select(
        F.concat(
            F.lit("http://"), F.lower("source"), F.lit(".example/d/"),
            F.col("doc_id"), F.lit("/?x=~"),
        ).alias("url")
    )


def schedule_round_df(
    spark: SparkSession,
    sf_dir: str,
    budget: float = 8.0,
    tier: str = "exact",
    forget_mod: int | None = None,
) -> DataFrame:
    """One scheduling round of the real engine (crawl.select_round — the
    same code crawl_round runs) over testdata-derived seeds, after
    crawl.mark_seen has deduped them against a pre-seen set covering every
    7th document.

    ``tier`` is the ``CrawlConfig.seen_tier`` the state runs under:
    "exact" (the default: mark_seen's new-key filter anti-probes the
    url_hash seen table) or "sketch" (the Bloom sketch answers first and
    only keys it calls maybe-seen are checked against the exact table;
    mark_seen also writes the pre-seen keys as a sketch delta). Either way mark_seen prunes the
    pre-seen rows from the frontier, and select_round — one path, no seen
    input — schedules what is left; the two tiers emit the identical
    schedule.

    ``forget_mod`` (exact tier only): after seeding, TTL-expire every
    ``forget_mod``-th document's URL via crawl.forget_urls, then re-inject
    those documents' seed rows into the frontier (mark_seen pruned them) —
    the caller's move that makes expired urls schedulable again. The
    re-injection anti-probes the seen table, so a url the delete missed
    stays out of the schedule. With forget_mod=14 the effective exclusion
    set is closed-form (doc_id % 7 == 0 AND doc_id % 14 != 0), which is
    what makes the re-crawl-after-expiry path ORACLE-checkable."""
    import dataclasses

    from spiderspark.crawl import (
        FRONTIER_KEY,
        CrawlConfig,
        _frontier_cols,
        forget_urls,
        init_state,
        mark_seen,
        select_round,
    )
    from spiderspark.frontier import dedup_within_batch, seeds_to_frontier, with_canonical
    from spiderspark.politeness import HostPolicy
    from spiderspark.schedule import assign_salts_static, to_schedule
    from spiderspark.state import materialize_keyed

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # the layout joins' zero-exchange plans need subset-key co-partitioning
    # (session.py default; the DRIVER's session may lack it)
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    config = CrawlConfig(policy=HostPolicy(default_budget=budget), seen_tier=tier)
    seeds = _documents_as_seeds(spark, sf_dir)
    state = init_state(spark, seeds, None, config)
    pre_seen = with_canonical(_pre_seen_urls(spark, sf_dir))
    state = mark_seen(
        spark, state, pre_seen.select("url_hash", "url_norm", "host"), config
    )
    if forget_mod is not None:
        if tier != "exact":
            raise ValueError("forget_mod is an exact-tier exercise")
        expired = seeds.filter(F.col("priority") % forget_mod == 0)
        state = forget_urls(
            spark, state,
            with_canonical(expired).select("url_hash", "url_norm", "host"),
            config,
        )
        # the rows init_state built for these documents (both seed
        # variants, deduped, salted by the crawl's static table), minus
        # whatever the seen table still holds
        rows = assign_salts_static(seeds_to_frontier(spark, expired), state.salts)
        n = config.state_buckets
        seg = materialize_keyed(
            state.seen.anti_probe(
                dedup_within_batch(_frontier_cols(rows).repartition(n, "url_hash"))
            ),
            n, key=FRONTIER_KEY, sort=state.frontier.sort_cols,
        )
        state = dataclasses.replace(
            state, frontier=state.frontier.append(seg)
        )
    selected = select_round(spark, state, config)
    return to_schedule(selected, batch_id=1)


def crawl_schedule_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship, VALUE-CHECKED on BOTH seen tiers: the full engine path
    (canonicalize → hash → within-batch dedup → seen dedup → politeness
    budget → skew-salted per-host top-k → deterministic global rank) run
    with ``seen_tier="exact"`` and ``seen_tier="sketch"``, each tagged with
    its ``path``. The tiers differ only in how mark_seen finds seen keys
    (the sketch has no false negatives and its maybe sliver is exactly
    anti-joined), so ONE path-independent SQL oracle checks both:
    canonicalization closed form + seen exclusion (doc_id % 7) + per-host
    row_number ≤ budget + global row_number, cross-joined with the two path
    tags. url_hash is dropped from the projection (DuckDB lacks xxhash64;
    hash values are pinned by tests/test_hashing.py); the seeds' unique
    priorities make the schedule independent of the hash tie-break (see
    _documents_as_seeds).

    A THIRD leg ('exact_forget') value-checks TTL expiry end to end: same
    exact-tier state, then crawl.forget_urls expires every 14th document's
    URL and those documents' seed rows are re-injected past a seen
    anti-probe, so exactly the even multiples of 7 become schedulable
    again. Its oracle is the same closed form with exclusion
    doc_id % 7 = 0 AND doc_id % 14 <> 0 — if the delete missed any url,
    its row stays out (and the per-host budget ranks it would shift
    differ)."""
    out = None
    for tier in ("exact", "sketch"):
        leg = schedule_round_df(spark, sf_dir, tier=tier).drop("url_hash")
        leg = leg.withColumn("path", F.lit(tier))
        out = leg if out is None else out.unionByName(leg)
    forget = schedule_round_df(
        spark, sf_dir, tier="exact", forget_mod=14
    ).drop("url_hash")
    return out.unionByName(forget.withColumn("path", F.lit("exact_forget")))


_CRAWL_SCHEDULE_ORACLE = """
WITH seeds AS (
  SELECT CASE doc_id % 2
           WHEN 0 THEN 'HTTP://' || upper(source) || '.Example:80/a/../d/'
                         || doc_id || '/.?x=%7e'
           ELSE 'HTTP://' || upper(source) || '.Example:80/d/' || doc_id
                  || '/x/..?x=~'
         END AS url,
         'http://' || lower(source) || '.example/d/' || doc_id
           || '/?x=~' AS url_norm,
         lower(source) || '.example' AS host,
         CAST(doc_id AS DOUBLE) AS priority,
         doc_id
  FROM documents
  UNION ALL
  SELECT 'http://' || lower(source) || '.example/d/' || doc_id
           || '/?x=~' AS url,
         'http://' || lower(source) || '.example/d/' || doc_id
           || '/?x=~' AS url_norm,
         lower(source) || '.example' AS host,
         CAST(doc_id AS DOUBLE) AS priority,
         doc_id
  FROM documents
), dedup AS (
  -- within-batch dedup keeps the min-(priority, ..., url) row per canonical
  -- url; priorities tie between the two variants, so min(url) decides.
  -- doc_id is constant within a url_norm group, so the seen exclusions can
  -- be applied AFTER grouping (per leg below)
  SELECT min(url) AS url, url_norm, host, min(priority) AS priority,
         min(doc_id) AS doc_id
  FROM seeds GROUP BY url_norm, host
), topk_a AS (
  -- legs 1-2: doc_id % 7 = 0 docs are in the PRE-SEEN set (both variants
  -- collapse to the same canonical url, whose hash the seen table and
  -- sketch carry); politeness budget 8/host, no robots
  SELECT * FROM dedup WHERE doc_id % 7 <> 0
  QUALIFY row_number() OVER (PARTITION BY host ORDER BY priority) <= 8
), sched_a AS (
  SELECT CAST(1 AS BIGINT) AS batch_id,
         row_number() OVER (ORDER BY priority) AS rank,
         url, url_norm, host, priority,
         CAST(0 AS INTEGER) AS depth,
         CAST(0 AS INTEGER) AS attempt
  FROM topk_a
), topk_b AS (
  -- leg 3 (exact_forget): every 14th doc's URL was TTL-expired from the
  -- seen state and re-injected before selection, so only the ODD multiples
  -- of 7 remain excluded; the re-admitted docs shift per-host budget ranks
  SELECT * FROM dedup WHERE doc_id % 7 <> 0 OR doc_id % 14 = 0
  QUALIFY row_number() OVER (PARTITION BY host ORDER BY priority) <= 8
), sched_b AS (
  SELECT CAST(1 AS BIGINT) AS batch_id,
         row_number() OVER (ORDER BY priority) AS rank,
         url, url_norm, host, priority,
         CAST(0 AS INTEGER) AS depth,
         CAST(0 AS INTEGER) AS attempt
  FROM topk_b
)
-- the two seen tiers (exact — the production default — and sketch) must
-- emit the identical schedule; the engine runs each and tags its rows,
-- plus the TTL-expiry leg with its own closed-form exclusion
SELECT sched_a.*, tiers.path
FROM sched_a CROSS JOIN (
  SELECT 'exact' AS path UNION ALL SELECT 'sketch'
) tiers
UNION ALL
SELECT sched_b.*, 'exact_forget' AS path FROM sched_b
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return schedule_round_df(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ pipeline ops).

    Each callable takes (spark, sf_dir) and returns a DataFrame. Every
    computed column is aliased identically in the matching oracle SQL.
    """
    # EXACTLY 50 entries: the external driver records at most 50 queries
    # (CORRECTNESS r01 and r02 both truncated at 50, silently dropping the
    # tail), so the registry is sized to the cap — U1-U3 share the tagged
    # `set_ops` row, A5 rollup+cube share `grouping_sets`. The flagship
    # engine op goes FIRST so it can never fall off the end.
    out = {"crawl_schedule_round": crawl_schedule_round}
    out.update(_q.QUERIES)
    assert len(out) <= 50, f"driver records only 50 queries; got {len(out)}"
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per SQL-expressible query; approximate /
    sketch / engine-state ops are intentionally absent → the driver records
    the weaker rows-only check for them.
    """
    return {"crawl_schedule_round": _CRAWL_SCHEDULE_ORACLE, **_q.ORACLE}
