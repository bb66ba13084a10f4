"""ParquetManifestStore semantics (SURVEY.md §7.4): atomic commit, HEAD
pointer, snapshot-id time travel, parent lineage, footer-based validation,
and a crash before the manifest link."""

import glob
import json
import os
import tempfile

import pytest

from spiderspark.snapshots import ParquetManifestStore


@pytest.fixture()
def store():
    return ParquetManifestStore(tempfile.mkdtemp(prefix="spidersnap-"))


def test_commit_head_read(spark, store):
    df1 = spark.range(10).withColumnRenamed("id", "x")
    s1 = store.commit({"t": df1}, batch_id=1, parent_id=None)
    assert store.head() == s1
    assert store.read(spark, s1, "t").count() == 10

    df2 = spark.range(25).withColumnRenamed("id", "x")
    s2 = store.commit({"t": df2}, batch_id=2, parent_id=s1)
    assert store.head() == s2
    # time travel: the old snapshot still reads the old data
    assert store.read(spark, s1, "t").count() == 10
    assert store.read(spark, s2, "t").count() == 25
    assert store.manifest(s2)["parent_id"] == s1


def test_manifest_lineage_and_validate(spark, store):
    df = spark.range(100).repartition(4).withColumnRenamed("id", "x")
    s = store.commit({"t": df}, batch_id=1, parent_id=None)
    m = store.manifest(s)
    lineage = m["lineage"]["t"]
    assert sum(p["rows"] for p in lineage) == 100
    assert m["tables"]["t"]["row_count"] == 100
    # one entry per written data file, each named relative to the table
    table = os.path.join(store.root, m["tables"]["t"]["path"])
    assert len(lineage) == 4
    for f in lineage:
        full = os.path.join(table, f["file"])
        assert f["file"].startswith("part-")
        assert f["bytes"] == os.path.getsize(full) > 0
    assert store.validate(s, spark)


def test_partitioned_table_lineage(spark, store):
    df = spark.range(30).selectExpr("id", "CAST(id % 3 AS INT) AS bucket")
    s = store.commit(
        {"t": df}, batch_id=1, parent_id=None, partition_by={"t": ["bucket"]}
    )
    lineage = store.manifest(s)["lineage"]["t"]
    assert {f["file"].split("/")[0] for f in lineage} == {
        "bucket=0", "bucket=1", "bucket=2"
    }
    assert sum(f["rows"] for f in lineage) == 30
    assert store.validate(s, spark)


def test_empty_table_commit_validates(spark, store):
    s = store.commit(
        {"t": spark.range(0).withColumnRenamed("id", "x")},
        batch_id=1, parent_id=None,
    )
    m = store.manifest(s)
    assert m["tables"]["t"]["row_count"] == 0
    assert all(f["rows"] == 0 for f in m["lineage"]["t"])
    assert store.validate(s, spark)
    assert store.read(spark, s, "t").count() == 0


def _committed(spark, store, n=40):
    df = spark.range(n).repartition(2).withColumnRenamed("id", "x")
    s = store.commit({"t": df}, batch_id=1, parent_id=None)
    path = os.path.join(store.root, store.manifest(s)["tables"]["t"]["path"])
    return s, sorted(glob.glob(os.path.join(path, "part-*")))


def _edit_manifest(store, s, edit):
    mpath = store._manifest_path(s)
    with open(mpath) as f:
        m = json.load(f)
    edit(m)
    with open(mpath, "w") as f:
        json.dump(m, f)


def test_validate_detects_corruption(spark, store):
    s, _ = _committed(spark, store)
    # corrupt the manifest's claimed row count
    _edit_manifest(store, s, lambda m: m["tables"]["t"].update(row_count=999))
    assert not store.validate(s, spark)


def test_validate_fails_on_deleted_data_file(spark, store):
    s, files = _committed(spark, store)
    os.unlink(files[0])
    assert not store.validate(s, spark)


def test_validate_fails_on_extra_data_file(spark, store):
    s, files = _committed(spark, store)
    extra = os.path.join(os.path.dirname(files[0]), "part-99999-extra.parquet")
    with open(files[0], "rb") as src, open(extra, "wb") as dst:
        dst.write(src.read())
    assert not store.validate(s, spark)


def test_validate_fails_on_truncated_data_file(spark, store):
    s, files = _committed(spark, store)
    size = os.path.getsize(files[0])
    with open(files[0], "r+b") as f:
        f.truncate(size // 2)
    assert not store.validate(s, spark)


def test_validate_ignores_non_data_files(spark, store):
    s, files = _committed(spark, store)
    d = os.path.dirname(files[0])
    for name in ("_SUCCESS", ".part-0.crc", "_committed_marker"):
        open(os.path.join(d, name), "a").close()
    assert store.validate(s, spark)


def test_validate_runs_no_spark_job(spark, store, spark_jobs):
    s, _ = _committed(spark, store)
    before = spark_jobs()
    assert store.validate(s, spark)
    assert spark_jobs().keys() == before.keys()


def test_validate_without_file_list_counts_rows(spark, store, spark_jobs):
    s, _ = _committed(spark, store)
    _edit_manifest(store, s, lambda m: m.pop("lineage"))
    before = spark_jobs()
    assert store.validate(s, spark)
    # the count path runs Spark jobs — which the probe above can see
    assert spark_jobs().keys() - before.keys()
    _edit_manifest(store, s, lambda m: m["tables"]["t"].update(row_count=41))
    assert not store.validate(s, spark)


def test_multi_table_commit(spark, store):
    s = store.commit(
        {"a": spark.range(3), "b": spark.range(7)}, batch_id=1, parent_id=None
    )
    assert store.read(spark, s, "a").count() == 3
    assert store.read(spark, s, "b").count() == 7


def test_commit_files_are_immutable(spark, store):
    df = spark.range(5)
    s1 = store.commit({"t": df}, batch_id=1, parent_id=None)
    path1 = store.manifest(s1)["tables"]["t"]["path"]
    s2 = store.commit({"t": spark.range(6)}, batch_id=2, parent_id=s1)
    path2 = store.manifest(s2)["tables"]["t"]["path"]
    assert path1 != path2  # append-only file sets, never overwritten
    assert os.path.exists(os.path.join(store.root, path1))


def test_crash_before_manifest_link_resumes_previous_snapshot(spark, monkeypatch):
    """A commit that dies after its table writes but before the manifest
    link leaves HEAD and the manifests untouched and removes the data it
    wrote; resume lands on the previous snapshot and the next round
    reproduces the uninterrupted run."""
    import numpy as np

    from spiderspark import snapshots
    from spiderspark.crawl import CrawlConfig, crawl, crawl_round, keyed_pages, resume
    from spiderspark.pages import gen_pages_pdf, robots_pdf, seeds_pdf
    from spiderspark.politeness import HostPolicy
    from spiderspark.schemas import ROBOTS_TXT, SEEDS

    pages = spark.createDataFrame(
        gen_pages_pdf(np.arange(300), 300),
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    seeds = spark.createDataFrame(seeds_pdf(20, 300), schema=SEEDS)
    robots = spark.createDataFrame(robots_pdf(), schema=ROBOTS_TXT)
    cfg = CrawlConfig(policy=HostPolicy(default_budget=4.0), state_buckets=4)

    def ordering(schedule):
        return [r["url_hash"] for r in schedule.orderBy("rank").collect()]

    _, golden, _ = crawl(spark, seeds, pages, robots, rounds=3, config=cfg)
    store = ParquetManifestStore(tempfile.mkdtemp(prefix="crashsnap-"))
    state, _, _ = crawl(spark, seeds, pages, robots, rounds=2, config=cfg, store=store)
    head = store.head()
    mdir = os.path.join(store.root, "manifests")
    manifests = sorted(os.listdir(mdir))

    def crash(src, dst):
        raise OSError("crash before the manifest link")

    pk = keyed_pages(pages, n_parts=cfg.state_buckets)
    monkeypatch.setattr(snapshots.os, "link", crash)
    with pytest.raises(OSError, match="crash before"):
        crawl_round(spark, state, pk, cfg, store)
    monkeypatch.undo()

    assert store.head() == head
    assert sorted(os.listdir(mdir)) == manifests
    # the failed commit removed its own data directories: every snap…
    # directory left is one a manifest lists
    listed = {
        meta["path"]
        for f in manifests
        for meta in store.manifest(int(f[:-5]))["tables"].values()
    }
    on_disk = {
        os.path.relpath(d, store.root)
        for d in glob.glob(os.path.join(store.root, "data", "*", "snap*"))
    }
    assert on_disk == listed
    st = resume(spark, store, cfg)
    assert st.snapshot_id == head
    assert st.batch_id == store.manifest(head)["batch_id"]
    _, s3, _ = crawl_round(spark, st, pk, cfg)
    assert ordering(s3) == ordering(golden[2])
