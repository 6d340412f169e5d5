"""Snapshot catalog: Iceberg-shaped tables over parquet + JSON manifests.

In production this engine targets Iceberg (atomic snapshot commits,
MERGE, partition overwrite — SURVEY.md §1.1/S8).  The sandbox has no
Iceberg runtime jar, so this module provides the same *semantics* with
the same mechanism Iceberg uses: immutable data files + a versioned
manifest listing which files belong to each snapshot, committed by an
atomic rename.  That gives us real checkpoint/resume (read any
committed snapshot), atomic append/overwrite (readers never see a
partial commit), and time-travel for the resume test — the reference's
atomic partition swap (/root/reference/adscrawler/dbcon/atomic_swap.py:71-183)
and S3 prefix swap (version_details.py:232-280) collapse into this one
operator, exactly as Iceberg's commit does.

Layout:
    root/<table>/data/<uuid>/part-*.parquet       (immutable file sets)
    root/<table>/snap-<N>.json                    (file list + metadata)
    root/<table>/CURRENT                          (atomic pointer file)
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class SnapshotTable:
    def __init__(self, root: str, name: str):
        self.dir = os.path.join(root, name)
        self.name = name
        os.makedirs(self.dir, exist_ok=True)

    # ------------------------------------------------------------ state
    def _current_pointer(self) -> int | None:
        try:
            with open(os.path.join(self.dir, "CURRENT")) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def current_version(self) -> int | None:
        return self._current_pointer()

    def snapshot(self, version: int | None = None) -> dict | None:
        v = self._current_pointer() if version is None else version
        if v is None:
            return None
        with open(os.path.join(self.dir, f"snap-{v}.json")) as f:
            return json.load(f)

    def exists(self) -> bool:
        return self._current_pointer() is not None

    # ------------------------------------------------------------- read
    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame | None:
        snap = self.snapshot(version)
        if snap is None:
            return None
        if not snap["files"]:
            return None
        if len(snap["files"]) == 1:
            return spark.read.parquet(snap["files"][0])
        # one read per committed fileset, unioned — hive partition
        # discovery is per fileset root (mixing roots in one read
        # conflicts); this is the same per-manifest scan planning
        # Iceberg does.
        out = spark.read.parquet(snap["files"][0])
        for f in snap["files"][1:]:
            out = out.unionByName(spark.read.parquet(f))
        return out

    # ------------------------------------------------------------ write
    def _write_fileset(
        self, df: DataFrame, partition_by: list[str] | None = None
    ) -> list[str]:
        path = os.path.join(self.dir, "data", uuid.uuid4().hex)
        if not partition_by:
            df.write.mode("overwrite").parquet(path)
            return [path]
        # Iceberg-style partition spec as hive directories; readers
        # recover the partition columns via discovery on each
        # committed fileset root.  A zero-row input writes no data
        # files, so there is no schema to infer on read-back; and AQE
        # replaces the empty shuffle stage with an empty relation,
        # dropping any observation the caller hung below the exchange
        # (its get then fails).  A row count observed above the
        # exchange keeps that stage in the final plan and tells the
        # empty case apart, riding the write itself: no extra action.
        written = Observation()
        (
            df.repartition(*[F.col(c) for c in partition_by])
            .observe(written, F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .partitionBy(*partition_by)
            .parquet(path)
        )
        if written.get["n"] == 0:
            shutil.rmtree(path, ignore_errors=True)
            return []
        return [path]

    def _commit(self, files: list[str], meta: dict | None = None) -> int:
        prev = self._current_pointer()
        version = 0 if prev is None else prev + 1
        snap = {
            "version": version,
            "files": files,
            "committed_at": time.time(),
            "meta": meta or {},
        }
        snap_path = os.path.join(self.dir, f"snap-{version}.json")
        tmp = snap_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snap, f)
        os.replace(tmp, snap_path)
        cur_tmp = os.path.join(self.dir, "CURRENT.tmp")
        with open(cur_tmp, "w") as f:
            f.write(str(version))
        os.replace(cur_tmp, os.path.join(self.dir, "CURRENT"))  # atomic publish
        return version

    def append(
        self,
        df: DataFrame,
        meta: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> int:
        """Iceberg-style append: new files + prior snapshot's files.
        A partitioned append of zero rows commits the prior files
        unchanged (an empty fileset is never committed)."""
        new_files = self._write_fileset(df, partition_by)
        snap = self.snapshot()
        old_files = snap["files"] if snap else []
        return self._commit(old_files + new_files, meta)

    def overwrite(
        self,
        df: DataFrame,
        meta: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> int:
        """Atomic full replace (≙ Iceberg overwritePartitions / REPLACE)."""
        return self._commit(self._write_fileset(df, partition_by), meta)

    def compact(
        self,
        spark: SparkSession,
        meta: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> int | None:
        """Fold all committed filesets into one (the reference's
        incoming-compaction pass, process/app_details.py:85-140, and
        Iceberg's rewrite_data_files): bounds read planning to one
        fileset however many appends accumulated.  Atomic like every
        commit; no-op on empty tables."""
        df = self.read(spark)
        if df is None:
            return self._current_pointer()
        return self.overwrite(df, meta, partition_by)

    def truncate(self, meta: dict | None = None) -> int:
        """Commit an empty snapshot (read() then returns None)."""
        return self._commit([], meta)

    def rollback(self, version: int) -> None:
        """Point CURRENT back to an older snapshot (time-travel resume)."""
        if self.snapshot(version) is None:
            raise ValueError(f"{self.name}: no snapshot {version}")
        cur_tmp = os.path.join(self.dir, "CURRENT.tmp")
        with open(cur_tmp, "w") as f:
            f.write(str(version))
        os.replace(cur_tmp, os.path.join(self.dir, "CURRENT"))


class Catalog:
    """A directory of SnapshotTables + a tiny JSON key-value job-state
    store committed with the same atomic-rename discipline."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def table(self, name: str) -> SnapshotTable:
        return SnapshotTable(self.root, name)

    # job state (generation counter etc.) — one JSON doc, atomic replace
    def read_state(self) -> dict:
        try:
            with open(os.path.join(self.root, "STATE.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def write_state(self, state: dict) -> None:
        tmp = os.path.join(self.root, "STATE.json.tmp")
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, os.path.join(self.root, "STATE.json"))
