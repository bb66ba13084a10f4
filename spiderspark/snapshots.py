"""Snapshot store: Iceberg snapshot semantics for exact resume
(BASELINE.json:6; SURVEY.md §7.4).

No Iceberg runtime jar exists in this sandbox (verified — SURVEY.md §0.4),
so the engine targets a ``SnapshotStore`` interface implemented by
``ParquetManifestStore``: each commit writes immutable parquet file-sets,
then atomically links a JSON manifest into place; ``HEAD`` is an atomic
pointer file. This reproduces the Iceberg properties the engine relies on —
atomic snapshot commit, snapshot-id time travel, parent lineage — with plain
files, and the manifest lists each data file with its row count as an
Iceberg manifest entry does (data file + ``record_count``). Row counts come
from the parquet footers on the driver, so neither commit nor validate runs
a Spark job to count rows.

Manifest schema (one JSON per snapshot):
  {snapshot_id, parent_id, batch_id, committed_unix,
   tables: {name: {path, row_count, schema}},
   lineage: {name: [{file, rows, bytes}]}}
``lineage`` has one entry per data file, i.e. per writing task; ``file`` is
relative to the table's ``path`` (``bucket=N/part-…`` for partitioned
tables) and ``row_count`` is the sum of ``rows``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import time
import uuid
from abc import ABC, abstractmethod
from operator import itemgetter

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from .state import materialize_many


class SnapshotStore(ABC):
    @abstractmethod
    def commit(
        self,
        tables: dict[str, DataFrame],
        batch_id: int,
        parent_id: int | None,
        partition_by: dict[str, list[str]] | None = None,
    ) -> int: ...

    @abstractmethod
    def read(self, spark: SparkSession, snapshot_id: int, table: str) -> DataFrame: ...

    @abstractmethod
    def head(self) -> int | None: ...

    @abstractmethod
    def manifest(self, snapshot_id: int) -> dict: ...


class ParquetManifestStore(SnapshotStore):
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    def _manifest_path(self, snapshot_id: int) -> str:
        return os.path.join(self.root, "manifests", f"{snapshot_id:012d}.json")

    def _next_id(self) -> int:
        """Ids allocate from max(existing)+1, not parent+1: two commits that
        share a parent must NOT collide on the same id (the second would
        silently clobber the first's manifest and break time travel)."""
        mdir = os.path.join(self.root, "manifests")
        ids = [
            int(f[:-5])
            for f in os.listdir(mdir)
            if f.endswith(".json") and f[:-5].isdigit()
        ]
        return (max(ids) + 1) if ids else 1

    def commit(
        self,
        tables: dict[str, DataFrame],
        batch_id: int,
        parent_id: int | None,
        partition_by: dict[str, list[str]] | None = None,
    ) -> int:
        snapshot_id = max(self._next_id(), (parent_id or 0) + 1)
        partition_by = partition_by or {}
        rels = {
            name: f"data/{name}/snap{snapshot_id:012d}-{uuid.uuid4().hex[:8]}"
            for name in tables
        }

        def write(name: str, df: DataFrame) -> None:
            writer = df.write.mode("errorifexists")
            if name in partition_by:
                writer = writer.partitionBy(*partition_by[name])
            writer.parquet(os.path.join(self.root, rels[name]))

        mpath = self._manifest_path(snapshot_id)
        tmp = mpath + f".tmp-{uuid.uuid4().hex[:8]}"
        try:
            # the tables are independent: overlap their write jobs
            materialize_many(
                [functools.partial(write, name, df) for name, df in tables.items()]
            )
            entry: dict = {
                "snapshot_id": snapshot_id,
                "parent_id": parent_id,
                "batch_id": batch_id,
                "committed_unix": time.time(),
                "tables": {},
                "lineage": {},
            }
            for name, df in tables.items():
                # what was committed, read from the written files' footers
                # (BASELINE.json:14); an EMPTY table may have no data file
                files = _data_files(os.path.join(self.root, rels[name]))
                entry["tables"][name] = {
                    "path": rels[name],
                    "row_count": sum(f["rows"] for f in files),
                    # schema rides the manifest so time travel to an empty
                    # table (zero data files) stays readable without inference
                    "schema": df.schema.jsonValue(),
                }
                entry["lineage"][name] = files

            # atomic commit: write tmp manifest then hardlink into place —
            # the link fails (EEXIST) instead of clobbering if the id was raced
            with open(tmp, "w") as f:
                json.dump(entry, f)
            os.link(tmp, mpath)
        except BaseException:
            # no manifest names this commit's files, so nothing ever would
            # read or remove them; every other commit writes under its own
            # uuid suffix, so only this commit's directories go
            for rel in rels.values():
                shutil.rmtree(os.path.join(self.root, rel), ignore_errors=True)
            raise
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(tmp)
        head_tmp = os.path.join(self.root, f"HEAD.tmp-{uuid.uuid4().hex[:8]}")
        with open(head_tmp, "w") as f:
            f.write(str(snapshot_id))
        os.rename(head_tmp, os.path.join(self.root, "HEAD"))
        return snapshot_id

    def table_path(self, snapshot_id: int, table: str) -> str:
        """Filesystem path of a committed table — the seam that lets the
        distributed sketch side-read its bucket slices straight from the
        store after resume (no driver rebuild)."""
        m = self.manifest(snapshot_id)
        return os.path.join(self.root, m["tables"][table]["path"])

    def read(self, spark: SparkSession, snapshot_id: int, table: str) -> DataFrame:
        from pyspark.sql import types as T

        meta = self.manifest(snapshot_id)["tables"][table]
        reader = spark.read
        if "schema" in meta:  # pre-schema manifests fall back to inference
            reader = reader.schema(T.StructType.fromJson(meta["schema"]))
        return reader.parquet(self.table_path(snapshot_id, table))

    def head(self) -> int | None:
        p = os.path.join(self.root, "HEAD")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return int(f.read().strip())

    def manifest(self, snapshot_id: int) -> dict:
        with open(self._manifest_path(snapshot_id)) as f:
            return json.load(f)

    def validate(self, snapshot_id: int, spark: SparkSession) -> bool:
        """Resume precondition: every table's files are present and hold the
        rows the manifest says. With a file list (the lineage) the check is
        metadata only — the file set on disk must equal the list and every
        footer must read and match its rows and bytes, so a missing, extra
        or truncated file fails with no Spark job. A manifest without one
        falls back to a ``count()`` per table."""
        m = self.manifest(snapshot_id)
        for name, meta in m["tables"].items():
            files = m.get("lineage", {}).get(name)
            if files is None or any("file" not in f for f in files):
                n = self.read(spark, snapshot_id, name).count()
            else:
                path = os.path.join(self.root, meta["path"])
                if not os.path.isdir(path):
                    return False
                try:
                    on_disk = _data_files(path)
                except (OSError, pa.ArrowException):
                    return False  # a footer that does not read: truncated
                by_file = itemgetter("file")
                if sorted(on_disk, key=by_file) != sorted(files, key=by_file):
                    return False
                n = sum(f["rows"] for f in files)
            if n != meta["row_count"]:
                return False
        return True


def _data_files(table_path: str) -> list[dict]:
    """``{file, rows, bytes}`` for each data file under ``table_path``,
    ``file`` relative to it. Names starting with ``_`` or ``.`` are not data
    (``_SUCCESS``, ``.crc``); partition directories are walked. Rows come
    from the parquet footer, read on the driver."""
    out = []
    for d, dirs, names in os.walk(table_path):
        dirs[:] = sorted(x for x in dirs if not x.startswith(("_", ".")))
        for n in sorted(names):
            if n.startswith(("_", ".")):
                continue
            full = os.path.join(d, n)
            out.append({
                "file": os.path.relpath(full, table_path),
                "rows": pq.read_metadata(full).num_rows,
                "bytes": os.path.getsize(full),
            })
    return out
