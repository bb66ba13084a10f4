"""Fixed, declared StructTypes for every engine table (SURVEY.md §1.2-1.3).

Schemas are never inferred: inference is nondeterministic across samples and
the ordering/dedup invariants (BASELINE.json:14) require byte-stable schemas.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Input: Common-Crawl-style web pages (authoritative shape BASELINE.json:15).
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# Seed list → frontier rows (SURVEY.md §2.1 S3).
SEEDS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("priority", T.DoubleType(), True),
    ]
)

# The salted-partition priority frontier (BASELINE.json:6).
FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_norm", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("host_bucket", T.IntegerType(), False),
        T.StructField("salt", T.IntegerType(), False),
        T.StructField("priority", T.DoubleType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("discovered_batch", T.LongType(), False),
        T.StructField("attempt", T.IntegerType(), False),
    ]
)

# Exact tier of the URL-seen set.
SEEN = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("first_batch", T.LongType(), False),
    ]
)

# Approx tier: one row per bloom bucket (SURVEY.md §2.4 A4).
SEEN_SKETCH = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("bits", T.BinaryType(), False),
        T.StructField("n_bits", T.LongType(), False),
        T.StructField("n_hashes", T.IntegerType(), False),
        # the bucket modulus rides every row so resume can refuse a
        # mismatched config (bucket = pmod(hash(url_hash), n_buckets) must
        # match what was built — a wrong modulus would read the wrong bits:
        # silent false negatives). routing is "url_hash"; resume rebuilds a
        # sketch stored under the older "host_bucket,salt" routing.
        T.StructField("n_buckets", T.IntegerType(), False),
        T.StructField("routing", T.StringType(), False),
    ]
)

# Per-host politeness + robots state (SURVEY.md §1.2).
HOST_STATE = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("tokens", T.DoubleType(), False),
        T.StructField("capacity", T.DoubleType(), False),
        T.StructField("refill_rate", T.DoubleType(), False),
        T.StructField("crawl_delay", T.DoubleType(), False),
        T.StructField("robots_fetched", T.BooleanType(), False),
        T.StructField(
            "robots_rules",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("allow", T.BooleanType(), False),
                        T.StructField("prefix", T.StringType(), False),
                    ]
                )
            ),
            True,
        ),
    ]
)

# Per-fetch lineage + metrics rows (BASELINE.json:6,14).
FETCH_LOG = T.StructType(
    [
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("bytes", T.LongType(), True),
        T.StructField("text_hash", T.LongType(), True),
    ]
)

# The ordered output of one scheduling round (the unit of the crawl-ordering
# invariant and of the throughput metric, BASELINE.json:2,14).
SCHEDULE = T.StructType(
    [
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("rank", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("url_norm", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("priority", T.DoubleType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("attempt", T.IntegerType(), False),
    ]
)

ROBOTS_TXT = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("body", T.StringType(), True),
    ]
)
