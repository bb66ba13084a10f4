"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard — each expressed Spark-first.

Scale notes:
- Exact dedup is a hash-groupBy (map-side combinable) on a normalized-text
  hash, never on the raw text bytes — the shuffle moves 8-byte keys.
- MinHash signatures are computed in ONE Arrow-vectorized pandas UDF
  (numpy matrix ops over shingle hashes); LSH banding turns near-dup search
  into an equi-join on (band, band_hash) — the only shuffle — instead of an
  O(n²) cross join. Candidate pairs then get exact Jaccard verification.
- SimHash is one 64-bit signature per doc; near-dups are hamming-close.
  Bucketing on 4 16-bit sub-keys guarantees recall of all pairs with
  hamming distance ≤ 3 (pigeonhole) with equi-join cost.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .queries import q, _t
from .session import fanout as _fanout

# -- shingling + minhash parameters (pinned) --------------------------------
N_HASHES = 64
SHINGLE_K = 3  # word 3-grams (short synthetic docs; production would use 5)
_MERSENNE = np.uint64((1 << 61) - 1)
_RNG = np.random.RandomState(42)
_A = _RNG.randint(1, (1 << 61) - 1, size=N_HASHES).astype(np.uint64) | np.uint64(1)
_B = _RNG.randint(0, (1 << 61) - 1, size=N_HASHES).astype(np.uint64)

# splitmix64 finalizer constants (public domain, Vigna) — gram-hash mixing
_MIX1 = np.uint64(0xFF51AFD7ED558CCD)
_MIX2 = np.uint64(0xC4CEB9FE1A85EC53)
_POLY = np.uint64(0x100000001B3)  # FNV prime reused as the k-gram combiner
_HASH_KEY = "spiderspark-0042"  # pins pandas' 16-byte siphash key explicitly


def _pin_once(df: DataFrame) -> DataFrame:
    """Materialize a shared intermediate EXACTLY ONCE (localCheckpoint,
    eager) — r08 replacement for the old never-unpersisted ``persist()``
    caches (guide §5; VERDICT r07 item 4), fixing two problems at once:

    1. *Recompute races*: the dedup self-joins give the signature/gram
       frame 2-4 independent consumers whose shuffle-map stages the
       scheduler runs CONCURRENTLY; with a lazy persist() every one of
       them can find the cache cold and re-run the full Arrow UDF pass
       (measured: q5 at sf1.0 paid the minhash pass up to 4× — 8.9 s vs
       2.7 s). The eager checkpoint runs the pass once, before any
       consumer plans.
    2. *Cache lifetime*: persist() blocks were pinned for the session
       (never unpersisted). Checkpoint blocks are released by the
       ContextCleaner as soon as the returned result frame is dropped —
       repeated dedup calls in a long-lived pipeline accumulate nothing
       (asserted in test_pipeline_ops::test_dedup_leaves_no_cache).

    Same O(docs) MEMORY_AND_DISK footprint while alive as the old cache.

    Not lineage-safe: localCheckpoint blocks live on the executors that
    computed them and are NOT recomputable, so losing an executor while
    the returned frame is alive fails every later action on it. For the
    same reason it is incompatible with dynamic allocation
    (``spark.dynamicAllocation.enabled``), which removes idle executors
    and their blocks with them. Eager: the pass runs when this is called,
    i.e. when the caller BUILDS its DataFrame, not at its first action."""
    return df.localCheckpoint(eager=True)


def _mix64(x: np.ndarray) -> np.ndarray:
    x = (x ^ (x >> np.uint64(30))) * _MIX1
    x = (x ^ (x >> np.uint64(27))) * _MIX2
    return x ^ (x >> np.uint64(31))


def _batch_token_hashes(texts: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Token hashes for a whole Arrow batch, C-vectorized: pandas'
    hash_array (siphash in C) over the flattened token array — the batch
    never drops to per-row Python for hashing. Returns (flat hashes,
    row offsets of length n_rows+1)."""
    import itertools

    token_lists = texts.fillna("").str.split()
    counts = token_lists.map(len).to_numpy(dtype=np.int64)
    offsets = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    total = int(offsets[-1])
    if total == 0:
        return np.empty(0, dtype=np.uint64), offsets
    flat = np.fromiter(
        itertools.chain.from_iterable(token_lists), dtype=object, count=total
    )
    h = pd.util.hash_array(flat, hash_key=_HASH_KEY, categorize=True)
    return h.astype(np.uint64), offsets


def _batch_gram_hashes(
    texts: pd.Series, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Word-k-gram hashes per row, vectorized over the batch: gram hash =
    mix(polynomial combine of k consecutive token hashes). Rows with
    1..k-1 tokens contribute their single all-tokens gram (mirrors the
    join-everything fallback); empty rows contribute none. Returns
    (flat gram hashes, row offsets)."""
    h, offsets = _batch_token_hashes(texts)
    n_rows = len(offsets) - 1
    counts = np.diff(offsets)
    total = h.size

    # polynomial combine h[i..i+k-1], computed with shifted adds
    acc = h.copy()
    for j in range(1, k):
        acc[: total - j] = acc[: total - j] * _POLY + h[j:]
    acc = _mix64(acc)

    # valid full-gram start positions: the k-gram must not cross a row end
    valid = np.zeros(total, dtype=bool)
    full = counts >= k
    if full.any():
        starts = offsets[:-1][full]
        n_grams = counts[full] - k + 1
        # mark [start, start + n_grams) per row via a difference array
        diff = np.zeros(total + 1, dtype=np.int64)
        np.add.at(diff, starts, 1)
        np.add.at(diff, starts + n_grams, -1)
        valid = np.cumsum(diff[:-1]) > 0

    out_counts = np.where(counts >= k, counts - k + 1, (counts > 0).astype(np.int64))
    out_offsets = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(out_counts, out=out_offsets[1:])
    grams = np.empty(int(out_offsets[-1]), dtype=np.uint64)

    grams[_positions_from(out_offsets, counts >= k)] = acc[valid]
    # short rows (0 < tokens < k): one gram = polynomial over ALL its tokens
    short = (counts > 0) & (counts < k)
    if short.any():
        with np.errstate(over="ignore"):  # uint64 wraparound is the intent
            for r in np.nonzero(short)[0]:  # rare path; tokens already hashed
                seg = h[offsets[r] : offsets[r + 1]]
                a = seg[:1].copy()
                for v in seg[1:]:
                    a = a * _POLY + v
                grams[out_offsets[r]] = _mix64(a)[0]
    return grams, out_offsets


def _positions_from(out_offsets: np.ndarray, row_mask: np.ndarray) -> np.ndarray:
    """Flat output indices covered by the masked rows (contiguous runs)."""
    starts = out_offsets[:-1][row_mask]
    lens = np.diff(out_offsets)[row_mask]
    if not len(starts):
        return np.empty(0, dtype=np.int64)
    # run-length expand [start, start+len) — vectorized
    total = int(lens.sum())
    idx = np.repeat(starts + lens, lens)
    off = np.arange(total) - np.repeat(np.cumsum(lens), lens)
    return idx + off


def _minhash_batch(texts: pd.Series) -> list:
    grams, offsets = _batch_gram_hashes(texts, SHINGLE_K)
    n_rows = len(offsets) - 1
    sigs = np.zeros((n_rows, N_HASHES), dtype=np.int64)
    nonempty = np.diff(offsets) > 0
    if grams.size:
        x = grams % _MERSENNE
        starts = offsets[:-1][nonempty]
        # chunk the 64 hash functions to bound the (chunk × grams) temp
        for c0 in range(0, N_HASHES, 8):
            a = _A[c0 : c0 + 8, None]
            b = _B[c0 : c0 + 8, None]
            vals = (a * x[None, :] + b) % _MERSENNE
            mins = np.minimum.reduceat(vals, starts, axis=1)
            sigs[nonempty, c0 : c0 + 8] = mins.T.astype(np.int64)
    return [row.tolist() for row in sigs]


@F.pandas_udf(T.ArrayType(T.LongType()))
def minhash_udf(text: pd.Series) -> pd.Series:
    return pd.Series(_minhash_batch(text))


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 16,
    jaccard_threshold: float = 0.7,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash banding + exact
    signature-Jaccard verification. Returns (id_a, id_b, sig_jaccard).

    Building the returned DataFrame runs the minhash signature pass (one
    eager, executor-local pin; see :func:`_pin_once`), so this call costs
    a Spark job before any action on its result."""
    rows_per_band = N_HASHES // n_bands
    # pin the signatures once: the banding self-join + the two signature
    # re-attach joins give this frame FOUR consumers — see _pin_once for
    # why an eager checkpoint (not a lazy persist) is required. ~520 B/doc,
    # so at 10^9 docs the pinned frame is ~0.5 TB across the cluster — the
    # same O(docs) the banding exchange already moves, spilled to disk.
    # _fanout first: the minhash pass is the query's dominant cost and a
    # narrow scan (one small parquet file ⇒ 1-2 tasks) would run it nearly
    # serially — measured 8.9 s → 2.7 s at sf1.0/32 cores (rows identical).
    sigs = _pin_once(
        _fanout(docs, id_col).select(
            F.col(id_col).alias("id"), minhash_udf(F.col(text_col)).alias("sig")
        )
    )

    # band key as ONE flat hash array + posexplode (pos IS the band id):
    # n_bands xxhash64 exprs instead of n_bands structs + a struct-array
    # build — measurably less codegen/eval weight on the banding stage.
    # r08 (guide §2.3 / §8): the band frame is THIN — (id, band, bh) only,
    # 24 B/row. The old frame dragged the 520 B `sig` array through BOTH
    # sides of the banding exchange (~8 KB/doc/side at 16 bands); now the
    # signatures are re-attached from the cache AFTER the candidate pairs
    # are deduped, so the heavy arrays move only O(pairs), not O(docs×bands).
    bands = sigs.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(F.slice("sig", b * rows_per_band + 1, rows_per_band))
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "bh"),
    )

    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_a = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    # exact signature Jaccard, JVM-side via zip_with
    sim = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(float(N_HASHES))
    return (
        cand.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn("sig_jaccard", F.round(sim, 4))
        .filter(F.col("sig_jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "sig_jaccard")
    )


# -- SimHash ----------------------------------------------------------------


def _simhash_batch(texts: pd.Series) -> np.ndarray:
    """Unigram SimHash for a whole batch, fully vectorized: bit matrix over
    all token hashes, per-row vote sums via add.reduceat, sign → packed
    64-bit signature. No per-row Python anywhere."""
    h, offsets = _batch_token_hashes(texts)
    n_rows = len(offsets) - 1
    out = np.zeros(n_rows, dtype=np.int64)
    counts = np.diff(offsets)
    nonempty = counts > 0
    if h.size:
        shifts = np.arange(64, dtype=np.uint64)[None, :]
        bits = ((h[:, None] >> shifts) & np.uint64(1)).astype(np.int32)
        starts = offsets[:-1][nonempty]
        ones = np.add.reduceat(bits, starts, axis=0)  # per-row set-bit counts
        votes = 2 * ones - counts[nonempty][:, None]  # ones - zeros
        packed = ((votes > 0).astype(np.uint64) << shifts).sum(
            axis=1, dtype=np.uint64
        )
        out[nonempty] = packed.view(np.int64)
    return out


@F.pandas_udf(T.LongType())
def simhash_udf(text: pd.Series) -> pd.Series:
    return pd.Series(_simhash_batch(text))


def simhash_near_dups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """Hamming-≤3 pairs: bucket on 4×16-bit slices (pigeonhole: any pair
    within distance 3 agrees on ≥1 slice) → equi-join per slice, then exact
    hamming check via bit_count(xor).

    Building the returned DataFrame runs the simhash signature pass (one
    eager, executor-local pin; see :func:`_pin_once`)."""
    # pin the 16 B/doc signatures once (the slice self-join's two sides are
    # concurrent consumers — see _pin_once); fan the narrow scan out first
    # so the simhash Arrow pass uses the whole cluster
    sh = _pin_once(
        _fanout(docs, id_col).select(
            F.col(id_col).alias("id"), simhash_udf(F.col(text_col)).alias("h")
        )
    )
    slices = sh.select(
        "id",
        "h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("slice"),
                        F.shiftright("h", i * 16).bitwiseAND(F.lit(0xFFFF)).alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("s"),
    ).select("id", "h", "s.slice", "s.key")
    a, b = slices.alias("a"), slices.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.slice") == F.col("b.slice"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


# -- n-gram Jaccard (exact, for verification-scale inputs) -------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 100,
) -> DataFrame:
    """Exact word-n-gram Jaccard via explode → shared-gram equi-join →
    |A∩B| / (|A|+|B|-|A∩B|). Distributed set-similarity join: the only
    shuffle is on the gram hash; no cross join.

    ``max_doc_freq``: grams appearing in more than this many documents are
    excluded from the CANDIDATE join (sizes stay exact) — without it one
    stop-gram ("in the and") degenerates the join to ~quadratic candidates
    at corpus scale. The DuckDB oracle mirrors the cutoff, so the result is
    still exactly checkable. Threshold is applied as the exact rational
    ``inter ≥ t·union`` (no float-rounding boundary flakiness).

    Building the returned DataFrame runs the gram explode (one eager,
    executor-local pin; see :func:`_pin_once`)."""
    toks = F.split(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " ")
    grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(
                F.transform(
                    F.filter(
                        F.transform(
                            toks,
                            lambda _, i: F.array_join(F.slice(toks, i + 1, n), " "),
                        ),
                        lambda g: F.size(F.split(g, " ")) >= n,
                    ),
                    lambda g: F.xxhash64(g),
                )
            )
        ).alias("gram"),
    )
    # four independent consumers (sizes, doc-freq cutoff, both join sides)
    # — pin once (see _pin_once: a lazy persist let all four race the cold
    # cache and re-run the gram explode)
    grams = _pin_once(grams)
    sizes = grams.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
    joinable = grams
    if max_doc_freq is not None:
        keep = (
            grams.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_doc_freq)
            .select("gram")
        )
        joinable = grams.join(keep, "gram")
    a, b = joinable.alias("a"), joinable.alias("b")
    inter = (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_grams").alias("nb"))
    union_size = F.col("na") + F.col("nb") - F.col("inter")
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("inter") >= F.lit(threshold) * union_size)
        .select(
            "id_a",
            "id_b",
            F.round(F.col("inter") / union_size, 4).alias("jaccard"),
        )
    )
    return out


# -- embedding-cosine near-dup (the 5th dedup family) ------------------------

_EMB_RNG_SEED = 7


def _unit_projections(dim: int, n: int) -> np.ndarray:
    rng = np.random.RandomState(_EMB_RNG_SEED)
    u = rng.standard_normal((n, dim))
    return u / np.linalg.norm(u, axis=1, keepdims=True)


def _lit_vec(v: np.ndarray):
    return F.array(*[F.lit(float(x)) for x in v])


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                       lambda acc, v: acc + v)


def embedding_near_dups(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    method: str = "grid",
    n_planes: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold — the
    embedding-tier dedup family. Returns (id_a, id_b, cos).

    method="grid" is EXACT with no all-pairs join: for unit vectors,
    cos ≥ t ⟺ ‖a−b‖ ≤ w = sqrt(2(1−t)), and any 1-Lipschitz projection
    moves less than the distance — so banding TWO fixed unit projections at
    width w and probing the 3×3 neighbor cells covers every qualifying pair
    (left side explodes to 9 cells, right stays in its own; the id order
    filter makes each pair match exactly once). Pruning power grows with
    the threshold (w shrinks ⇒ more cells); at near-dup thresholds (~0.95)
    the grid is fine, at low thresholds it degrades gracefully toward
    block-nested cost. Candidates get the exact JVM cosine filter.

    method="lsh" is the approximate scale path for huge corpora:
    ``n_tables`` independent signed-random-projection bucketings (cosine
    LSH), self-join per table on the bucket key, union, exact verify —
    recall < 1 is possible and pinned by the planted-pair test instead of
    an oracle.

    Building the returned DataFrame runs Spark work: a ``first()`` to read
    the dimension, then the banding (grid) or bucketing (lsh) pass behind
    one eager, executor-local pin (see :func:`_pin_once`).
    """
    first = vectors.select(vec_col).first()
    if first is None:  # empty input: no pairs (and no dim to band on)
        return vectors.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cos double"
        )
    dim = len(first[0])
    vecs = vectors.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).withColumn(
        # clamp like the ANN kernels: a zero vector would otherwise divide
        # the grid banding by zero and silently vanish from the result
        "_n", F.greatest(F.sqrt(_dot(F.col("_v"), F.col("_v"))), F.lit(1e-12))
    )

    if method == "grid":
        w = float(np.sqrt(max(2.0 * (1.0 - threshold), 1e-9)))
        u = _unit_projections(dim, 2)
        # pin once: probes and cells are concurrent consumers of this plan
        # (two evaluations of the projection dot products + the upstream
        # read without it — see _pin_once)
        banded = _pin_once(
            vecs.withColumn(
                "_b1", F.floor(_dot(F.col("_v"), _lit_vec(u[0])) / F.col("_n") / F.lit(w))
            ).withColumn(
                "_b2", F.floor(_dot(F.col("_v"), _lit_vec(u[1])) / F.col("_n") / F.lit(w))
            )
        )
        probes = banded.select(
            F.col("_id").alias("id_a"),
            F.col("_v").alias("_va"),
            F.col("_n").alias("_na"),
            "_b1", "_b2",
        ).withColumn(
            "_d",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
                        for di in (-1, 0, 1)
                        for dj in (-1, 0, 1)
                    ]
                )
            ),
        ).select(
            "id_a", "_va", "_na",
            (F.col("_b1") + F.col("_d.di")).alias("_c1"),
            (F.col("_b2") + F.col("_d.dj")).alias("_c2"),
        )
        cells = banded.select(
            F.col("_id").alias("id_b"),
            F.col("_v").alias("_vb"),
            F.col("_n").alias("_nb"),
            F.col("_b1").alias("_c1"),
            F.col("_b2").alias("_c2"),
        )
        cand = probes.join(cells, ["_c1", "_c2"]).filter(
            F.col("id_a") < F.col("id_b")
        )
    else:
        planes = np.random.RandomState(_EMB_RNG_SEED).standard_normal(
            (n_tables, dim, n_planes)
        )
        bc = vectors.sparkSession.sparkContext.broadcast(planes)

        @F.pandas_udf(T.ArrayType(T.IntegerType()))
        def buckets_udf(vec: pd.Series) -> pd.Series:
            p = bc.value
            m = np.array(vec.tolist(), dtype=np.float64)
            out = []
            keys = np.stack(
                [
                    ((m @ p[t]) > 0).dot(1 << np.arange(p[t].shape[1]))
                    for t in range(len(p))
                ],
                axis=1,
            ).astype(np.int32)
            return pd.Series([row.tolist() for row in keys])

        # pin BEFORE the explode so the self-join replays a cheap JVM
        # explode from the pinned blocks instead of the bucketing Arrow
        # pass per side (see _pin_once)
        keyed = _pin_once(vecs.withColumn("_bk", buckets_udf(F.col("_v"))))
        tabbed = keyed.select(
            "_id", "_v", "_n", F.posexplode("_bk").alias("_t", "_b")
        )
        a = tabbed.select(
            F.col("_id").alias("id_a"), F.col("_v").alias("_va"),
            F.col("_n").alias("_na"), "_t", "_b",
        )
        b = tabbed.select(
            F.col("_id").alias("id_b"), F.col("_v").alias("_vb"),
            F.col("_n").alias("_nb"), "_t", "_b",
        )
        cand = (
            a.join(b, ["_t", "_b"])
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )

    cos = _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return (
        cand.withColumn("_cos", cos)
        .filter(F.col("_cos") >= F.lit(float(threshold)))
        .select("id_a", "id_b", F.round("_cos", 4).alias("cos"))
    )


# ---------------------------------------------------------------------------
# driver-contract registrations
# ---------------------------------------------------------------------------


@q(
    "dedup_exact",
    "SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents "
    "GROUP BY trim(regexp_replace(text, '\\s+', ' ', 'g'))",
)
def dedup_exact(spark, sf_dir):
    """Exact dedup by normalized-content hash; keeps the smallest doc_id.
    Spark groups by the 8-byte xxhash64 (shuffle-light), DuckDB by the
    normalized text itself — same equivalence classes."""
    from .textops import with_fingerprint

    return (
        with_fingerprint(_t(spark, sf_dir, "documents"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


@q("minhash_lsh")  # rows-only: signature permutations are engine-private
def minhash_lsh(spark, sf_dir):
    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"), jaccard_threshold=0.5)


@q("simhash_pairs")  # rows-only
def simhash_pairs(spark, sf_dir):
    return simhash_near_dups(_t(spark, sf_dir, "documents"), max_hamming=3)


_NGRAM_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS t
  FROM documents
),
exploded AS (
  SELECT doc_id,
         unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                 for i in range(1, len(t) - 1)]) AS g
  FROM toks WHERE len(t) >= 3
),
grams AS (SELECT DISTINCT doc_id, g FROM exploded),
sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
keep  AS (SELECT g FROM grams GROUP BY g HAVING count(*) <= 100),
joinable AS (SELECT doc_id, g FROM grams JOIN keep USING (g)),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM joinable a JOIN joinable b USING (g)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE i >= 0.5 * (sa.n + sb.n - i)
"""


@q(
    "embedding_dedup",
    # the exact grid method is oracle-checkable: DuckDB recomputes every
    # qualifying pair by brute force. Threshold 0.4 because the synthetic
    # embeddings are random (max cosine ≈ 0.51 at sf0.01 — no planted
    # near-dups); real near-dup deployments run ~0.95 where the grid prunes
    # hard. Nearest pair to the boundary sits 1.3e-4 away, far beyond any
    # float32/float64 accumulation divergence between the engines.
    "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
    "round(list_cosine_similarity(a.embedding, b.embedding), 4) AS cos "
    "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
    "WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4",
)
def embedding_dedup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact grid-banded method, ★)."""
    return embedding_near_dups(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, method="grid"
    )


@q("ngram_jaccard", _NGRAM_ORACLE)
def ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard over the FULL documents table, DuckDB-checked:
    Spark groups by xxhash64(gram), the oracle by the gram string — same
    equivalence classes; both apply the identical doc-frequency cutoff and
    the exact rational threshold."""
    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)
