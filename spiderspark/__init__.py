"""spiderspark — a PySpark-native URL-frontier + fetch-scheduling engine.

A from-scratch re-expression of the crawl semantics of ``lanrat/SpiderWho``
(reference tree was empty at survey time — see SURVEY.md §0.1; the
authoritative spec is BASELINE.json) on idiomatic Spark: DataFrame/SQL plans
optimized by Catalyst, vectorized Arrow/pandas UDFs for the pure kernels,
and an Iceberg-style snapshot layer for exact resume.

Module map (SURVEY.md §7.6):

- ``schemas``     fixed declared StructTypes for every engine table
- ``canon``       pure kernels: RFC-3986 canonicalize, HTML→text, robots
- ``hashing``     pure-python XXH64 (bit-identical to Spark's ``xxhash64``)
- ``sketch``      Bloom + cuckoo filters (numpy, vectorized)
- ``state``       keyed segmented state tables (shuffle-free repeat rounds)
- ``frontier``    canonicalize+hash+dedup DataFrame pipeline
- ``politeness``  per-host token buckets + robots gating
- ``schedule``    heavy-host salting, per-host top-k, deterministic ordering
- ``snapshots``   SnapshotStore: ParquetManifestStore (Iceberg-shaped manifests)
- ``crawl``       crawl_round / resume loops, lineage, metrics
- ``pages``       deterministic synthetic Common-Crawl-style pages generator
- ``textops``     language-ID, quality scoring, token counts, fingerprints
- ``dedup``       exact / MinHash-LSH / SimHash / n-gram Jaccard near-dup
- ``ann``         brute-force + LSH-bucketed cosine top-k similarity search
- ``multimodal``  binary image columns: header-only metadata walks +
                  vectorized payload features (no pixel/audio decoders)
"""

__version__ = "0.1.0"
