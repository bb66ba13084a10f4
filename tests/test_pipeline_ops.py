"""Training-data-pipeline operator tests: dedup families find planted
duplicates, ANN-LSH recalls brute-force neighbors, text analysis behaves,
multimodal plumbing handles valid/corrupt/null payloads."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spiderspark.ann import brute_force_topk, lsh_bucketed_topk
from spiderspark.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from spiderspark.multimodal import (
    decode_image_batch,
    encode_fake_image,
    image_meta_udf,
    mean_pixel_features,
    synthetic_media_df,
)
from spiderspark.textops import langid_udf, with_fingerprint, with_quality, with_token_count


BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "into the deep green forest to find some food for the long cold winter"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE.replace("winter", "summer")),  # near dup of 0
        (3, "completely different text about spark query engines and joins"),
        (4, "der hund und die katze sind im haus und der vogel ist frei"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_fingerprint(spark, docs):
    fp = with_fingerprint(docs).groupBy("fingerprint").count().collect()
    counts = sorted(r["count"] for r in fp)
    assert counts == [1, 1, 1, 1, 2]  # docs 0,1 collapse


def test_minhash_finds_near_dups(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    }
    assert (0, 1) in pairs  # exact dup always caught
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup caught
    assert all(3 not in p and 4 not in p for p in pairs)


def test_simhash_near_dups(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]) for r in simhash_near_dups(docs).collect()
    }
    assert (0, 1) in pairs
    assert all(3 not in p and 4 not in p for p in pairs)


def test_ngram_jaccard(spark, docs):
    rows = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert rows[(0, 1)] == 1.0
    assert 0.5 <= rows[(0, 2)] < 1.0


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(7)
    base = rng.standard_normal((40, 16)).astype(np.float64)
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ann_bruteforce_exact(spark, vectors):
    corpus = vectors.filter("vec_id >= 5")
    queries = vectors.filter("vec_id < 5")
    got = brute_force_topk(corpus, queries, k=3).toPandas()
    # exact numpy reference
    pdf = vectors.toPandas().sort_values("vec_id")
    m = np.array(pdf["embedding"].tolist())
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m[:5] @ m[5:].T
    for qi in range(5):
        order = np.argsort(-sims[qi], kind="stable")[:3] + 5
        mine = got[got.q_id == qi].sort_values("cos", ascending=False)["n_id"].tolist()
        assert mine == list(order), f"query {qi}"


def test_ann_bruteforce_blocked_matches_gemm(spark, vectors):
    """The driver-collect-free blocked tier (large-query-set path) must
    select the exact same neighbors as the GEMM broadcast tier."""
    from spiderspark.ann import brute_force_topk_blocked

    corpus = vectors.filter("vec_id >= 5")
    queries = vectors.filter("vec_id < 5")
    gemm = brute_force_topk(corpus, queries, k=3).toPandas()
    blocked = brute_force_topk_blocked(corpus, queries, k=3, n_blocks=4).toPandas()
    a = sorted(map(tuple, gemm[["q_id", "n_id", "cos"]].to_numpy().tolist()))
    b = sorted(map(tuple, blocked[["q_id", "n_id", "cos"]].to_numpy().tolist()))
    assert a == b
    # the routing guard: a query set past the collect limit takes the
    # blocked path without ever collecting it
    routed = brute_force_topk(
        corpus, queries, k=3, driver_collect_limit=2
    ).toPandas()
    c = sorted(map(tuple, routed[["q_id", "n_id", "cos"]].to_numpy().tolist()))
    assert c == a


def test_ann_lsh_recall_planted(spark):
    """LSH must recall planted near-duplicates (the actual near-dup use
    case): query i is corpus vector i plus small noise → true nearest
    neighbor is vector i; signed-random-projection buckets must find it."""
    rng = np.random.RandomState(11)
    base = rng.standard_normal((60, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    noisy = base[:10] + 0.05 * rng.standard_normal((10, 16))
    queries = spark.createDataFrame(
        [(100 + i, [float(x) for x in noisy[i]]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    approx = lsh_bucketed_topk(corpus, queries, k=1).toPandas()
    found = {int(r.q_id) - 100: int(r.n_id) for r in approx.itertuples()}
    hits = sum(1 for i in range(10) if found.get(i) == i)
    assert hits >= 8, f"planted-neighbor recall {hits}/10"


def test_ann_ivf_recall_planted(spark):
    """IVF with multi-probe must recall planted near-duplicates."""
    from spiderspark.ann import ivf_topk

    rng = np.random.RandomState(13)
    base = rng.standard_normal((120, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    noisy = base[:10] + 0.05 * rng.standard_normal((10, 16))
    queries = spark.createDataFrame(
        [(100 + i, [float(x) for x in noisy[i]]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    approx = ivf_topk(corpus, queries, k=1, n_centroids=8, n_probe=3).toPandas()
    found = {int(r.q_id) - 100: int(r.n_id) for r in approx.itertuples()}
    hits = sum(1 for i in range(10) if found.get(i) == i)
    assert hits >= 8, f"IVF planted-neighbor recall {hits}/10"


def test_token_count_and_quality(spark, docs):
    out = {r["doc_id"]: r for r in with_quality(with_token_count(docs)).collect()}
    assert out[0]["n_tokens"] == len(BASE.split())
    assert out[0]["alpha_ratio"] < 1.0
    assert out[5]["n_tokens"] == 1  # split('') -> ['']


def test_langid(spark, docs):
    zh = spark.createDataFrame([(9, "中文文本的一个例子，包含很多汉字")], "doc_id long, text string")
    rows = {r["doc_id"]: r["p"] for r in docs.unionByName(zh).select(
        "doc_id", langid_udf("text").alias("p")).collect()}
    assert rows[0] == "en"
    assert rows[4] == "de"
    assert rows[9] == "zh"
    assert rows[5] == "und"


def test_multimodal_meta_and_features(spark):
    media = synthetic_media_df(spark, 33)
    meta = {r["item_id"]: r for r in media.select(
        "item_id", image_meta_udf("img").alias("m")).select("item_id", "m.*").collect()}
    assert meta[0]["valid"] and meta[0]["width"] == 8
    assert not meta[6]["valid"]   # corrupted
    assert not meta[10]["valid"]  # null
    feats = {r["item_id"]: r["feat"] for r in mean_pixel_features(media).collect()}
    assert len(feats[0]) == 4 and feats[0][3] > 0
    assert feats[10] == [0.0, 0.0, 0.0, 0.0]


def test_unknown_decoder_tier_raises():
    # 'real' is the header-walk tier (tests/test_media_headers.py); only
    # an unknown tier name should raise
    with pytest.raises(NotImplementedError):
        decode_image_batch(pd.Series([b"x"]), decoder="nope")
    assert not decode_image_batch(pd.Series([b"x"]), decoder="real")["valid"][0]


def test_fake_image_roundtrip():
    blob = encode_fake_image(16, 9, 3)
    meta = decode_image_batch(pd.Series([blob]))
    assert meta.iloc[0].tolist() == [16, 9, 3, len(blob), True]


def test_embedding_near_dups_grid_exact(spark):
    """The grid method must find EXACTLY the brute-force cosine pairs."""
    import numpy as np

    from spiderspark.dedup import embedding_near_dups

    rng = np.random.RandomState(3)
    base = rng.standard_normal((120, 16))
    # plant 10 near-dup pairs: copy + small noise
    planted = base[:10] + rng.standard_normal((10, 16)) * 0.05
    m = np.vstack([base, planted])
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(m)],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups(df, threshold=0.9, method="grid").collect()
    }
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    cos = mn @ mn.T
    iu = np.triu_indices(len(m), 1)
    want = {
        (int(i), int(j))
        for i, j in zip(iu[0][cos[iu] >= 0.9], iu[1][cos[iu] >= 0.9])
    }
    assert got == want and len(want) >= 10


def test_embedding_near_dups_lsh_recall(spark):
    """The LSH scale tier must recover nearly all planted near-dups, and
    every reported pair must genuinely clear the threshold (exact verify)."""
    import numpy as np

    from spiderspark.dedup import embedding_near_dups

    rng = np.random.RandomState(4)
    base = rng.standard_normal((200, 16))
    planted = base[:40] + rng.standard_normal((40, 16)) * 0.03
    m = np.vstack([base, planted])
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(m)],
        "vec_id long, embedding array<double>",
    )
    rows = embedding_near_dups(
        df, threshold=0.95, method="lsh", n_planes=8, n_tables=6
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in rows}
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    cos = mn @ mn.T
    want = {(int(i), int(200 + i)) for i in range(40) if cos[i, 200 + i] >= 0.95}
    assert len(want) >= 30
    recall = len(got & want) / len(want)
    assert recall >= 0.9, f"recall {recall}"
    for r in rows:  # no false positives: exact verification is applied
        assert r["cos"] >= 0.95


def _persisted_rdds(spark) -> dict:
    """RDD id → JavaRDD for every RDD the SparkContext holds blocks for.
    localCheckpoint registers its RDD here too (it persists the blocks), so
    this sees what the SQL CacheManager does not."""
    return dict(spark.sparkContext._jsc.getPersistentRDDs())


def _assert_only_local_checkpoints(spark, before: dict) -> None:
    new = {i: r for i, r in _persisted_rdds(spark).items() if i not in before}
    assert new, "no RDD was pinned: the check would see nothing"
    cached = [i for i, r in new.items() if not r.rdd().isLocallyCheckpointed()]
    assert not cached, f"persist()ed RDDs {cached} outlive the calls"


def test_dedup_leaves_no_cache(spark, docs):
    """r08 cache scoping (VERDICT r07 item 4): the dedup families used to
    persist() signature/gram frames and never unpersist them — repeated
    calls in a long-lived session accumulated MEMORY_AND_DISK blocks
    forever. They now pin intermediates via eager localCheckpoint, whose
    blocks Spark's ContextCleaner frees once the result frame is garbage
    collected (not asserted: the JVM's GC timing is not deterministic).
    Asserted: the session CATALOG cache stays empty across calls, and every
    RDD the calls left holding blocks is a local checkpoint — so a stray
    persist() fails here. (The cache is cleared first: the suite shares one
    session and OTHER tests may leave their own persisted frames behind.)"""
    spark.catalog.clearCache()
    before = _persisted_rdds(spark)
    for _ in range(2):
        minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
        simhash_near_dups(docs).collect()
        ngram_jaccard_pairs(docs).collect()
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert jcm.isEmpty(), "dedup left persisted plans in the cache manager"
    _assert_only_local_checkpoints(spark, before)


def test_crawl_rounds_leave_no_cache(spark):
    """The crawl pins every intermediate it reuses (schedule, fetched pages,
    state segments) with localCheckpoint and persist()s nothing: after
    three rounds the CacheManager is empty and every RDD holding blocks is
    a local checkpoint."""
    from spiderspark.crawl import CrawlConfig, crawl
    from spiderspark.pages import gen_pages_pdf, robots_pdf, seeds_pdf
    from spiderspark.politeness import HostPolicy
    from spiderspark.schemas import ROBOTS_TXT, SEEDS

    spark.catalog.clearCache()
    pages = spark.createDataFrame(
        gen_pages_pdf(np.arange(200), 200),
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    seeds = spark.createDataFrame(seeds_pdf(15, 200), schema=SEEDS)
    robots = spark.createDataFrame(robots_pdf(), schema=ROBOTS_TXT)
    before = _persisted_rdds(spark)
    _, schedules, _ = crawl(
        spark, seeds, pages, robots, rounds=3,
        config=CrawlConfig(policy=HostPolicy(default_budget=2.0)),
    )
    assert len(schedules) == 3 and schedules[-1].count() > 0
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert jcm.isEmpty(), "the crawl left persisted plans in the cache manager"
    _assert_only_local_checkpoints(spark, before)


def test_token_count_matches_legacy_regex_forms(spark):
    """The r08 regex-free token/quality columns must equal the original
    split/regexp formulas on every edge shape (the DuckDB oracle text is
    unchanged, so equivalence IS the correctness contract): empties, nulls,
    runs of spaces, leading/trailing spaces, non-ASCII letters (outside
    [A-Za-z] for BOTH formulations), tabs/newlines (not split separators),
    and pure punctuation."""
    rows = [
        (0, ""),
        (1, None),
        (2, "   "),
        (3, "a  b   c"),
        (4, " leading and trailing "),
        (5, "héllo wörld ünïcode"),
        (6, "tab\tand\nnewline"),
        (7, "!!! ??? ..."),
        (8, "x" * 5000),
        (9, "a1b2 c3d4!e5"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    legacy = df.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        F.ceil(
            F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z0-9]", "")) / 4
        ).cast("long").alias("n_wordpieces"),
        F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z]", "")).alias("n_alpha"),
    )
    new = with_token_count(df)
    from spiderspark.textops import _ALPHA_CHARS

    new = new.select(
        "doc_id", "n_tokens", "n_wordpieces",
        (F.length("text") - F.length(F.translate(F.col("text"), _ALPHA_CHARS, "")))
        .alias("n_alpha"),
    )
    got = sorted(tuple(r) for r in new.collect())
    want = sorted(tuple(r) for r in legacy.collect())
    assert got == want
