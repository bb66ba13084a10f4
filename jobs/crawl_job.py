#!/usr/bin/env python
"""spark-submit entry point for the crawl engine (BASELINE.json:14 "run via
spark-submit --py-files").

Local smoke (sandbox):
    ./jobs/package.sh
    /opt/spark/bin/spark-submit --master 'local[8]' \\
        --py-files dist/spiderspark.zip jobs/crawl_job.py \\
        --rounds 3 --corpus 1000 --store /tmp/crawlstore

Cluster (documented; the store is a ParquetManifestStore on a shared path):
    spark-submit --master yarn --deploy-mode cluster \\
        --py-files spiderspark.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        jobs/crawl_job.py --rounds N --seeds s3://…/seeds.txt \\
        --pages <pages parquet path> --store <store path>

Resumes automatically if the store already has a HEAD snapshot.
"""

import argparse
import json
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--corpus", type=int, default=1000, help="synthetic pages corpus size")
    ap.add_argument("--seeds", default=None, help="seed list file (one URL per line); default: synthetic")
    ap.add_argument("--pages", default=None, help="parquet path of a pages table; default: synthetic")
    ap.add_argument("--store", required=True, help="snapshot store root")
    ap.add_argument("--budget", type=float, default=10.0)
    args = ap.parse_args()

    # spark-submit provides the session; getOrCreate attaches to it
    from pyspark.sql import SparkSession, functions as F

    spark = SparkSession.builder.appName("spiderspark-crawl").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from spiderspark.crawl import CrawlConfig, crawl, crawl_round, keyed_pages, resume
    from spiderspark.pages import pages_df_dist, robots_pdf, seeds_pdf
    from spiderspark.politeness import HostPolicy
    from spiderspark.schemas import ROBOTS_TXT, SEEDS
    from spiderspark.snapshots import ParquetManifestStore

    config = CrawlConfig(policy=HostPolicy(default_budget=args.budget))
    store = ParquetManifestStore(args.store)

    if args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        pages = pages_df_dist(spark, args.corpus)

    if args.seeds:
        seeds = (
            spark.read.text(args.seeds)
            .select(F.col("value").alias("url"), F.lit(0.0).alias("priority"))
        )
    else:
        seeds = spark.createDataFrame(seeds_pdf(50, args.corpus), schema=SEEDS)

    robots = spark.createDataFrame(robots_pdf(), schema=ROBOTS_TXT)

    t0 = time.time()
    if store.head() is not None:
        state = resume(spark, store, config)
        pages_k = keyed_pages(pages, n_parts=config.state_buckets)
        scheduled = 0
        for _ in range(args.rounds):
            state, schedule, _ = crawl_round(spark, state, pages_k, config, store)
            scheduled += schedule.count()
    else:
        state, schedules, _ = crawl(
            spark, seeds, pages, robots,
            rounds=args.rounds, config=config, store=store,
        )
        scheduled = sum(s.count() for s in schedules)

    print(json.dumps({
        "rounds": args.rounds,
        "scheduled": scheduled,
        "seen": state.seen.total_rows(),
        "frontier": state.frontier.total_rows(),
        "snapshot": state.snapshot_id,
        "wall_s": round(time.time() - t0, 2),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
