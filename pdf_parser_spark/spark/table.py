"""Snapshot-aware table layer: Iceberg when a catalog is configured,
parquet + JSON manifest emulation otherwise (SURVEY.md §7.5).

The north rule wants Iceberg semantics — atomic appends, snapshot
reads, resume from the last committed snapshot.  The sandbox has no
Iceberg runtime jar, so the same interface is implemented twice:

* ``IcebergTable`` — ``df.writeTo(name).append()`` / catalog reads;
  used when ``spark.sql.catalog.<cat>`` is configured (real cluster).
* ``SnapshotParquetTable`` — each commit writes parquet into its own
  ``snap-NNNN/`` directory, then atomically (write-temp + rename)
  records it in ``manifest.json`` with row counts and lineage stats.
  Readers take the manifest as truth, so a torn job that died before
  the manifest update is invisible to the next run — exactly
  Iceberg's snapshot-isolation contract, scaled down.

Both support the resume contract: ``committed_urls()`` returns the
urls present in committed snapshots only.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F


def _write_counted(df: DataFrame, snap_dir: str) -> int:
    """Write ``df`` as parquet into ``snap_dir`` and return its row
    count, observed on the write itself rather than by re-reading the
    snapshot.  The observation sits at the root of the written plan, so
    it reports 0 for an empty frame too."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).parquet(snap_dir)
    return obs.get["rows"]


class SnapshotParquetTable:
    """Parquet table with manifest-based snapshot isolation."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.manifest_path = os.path.join(path, "manifest.json")

    # -- manifest -----------------------------------------------------------

    def _read_manifest(self) -> dict:
        if not os.path.exists(self.manifest_path):
            return {"snapshots": []}
        with open(self.manifest_path) as f:
            return json.load(f)

    def _write_manifest(self, manifest: dict) -> None:
        os.makedirs(self.path, exist_ok=True)
        tmp = self.manifest_path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self.manifest_path)  # atomic on POSIX

    def snapshots(self) -> list[dict]:
        return self._read_manifest()["snapshots"]

    @staticmethod
    def _next_id(manifest: dict) -> int:
        """Monotone snapshot id — ids are never reused even after
        compaction drops records from the manifest (a reused id would
        collide with a still-on-disk snap dir)."""
        return manifest.get(
            "next_id",
            max((s["id"] for s in manifest["snapshots"]), default=-1) + 1,
        )

    # -- write --------------------------------------------------------------

    def append(self, df: DataFrame, lineage_rows: list[dict] | None = None) -> dict:
        """Write df as a new snapshot; commit = manifest update (last
        step, atomic).  Returns the snapshot record."""
        manifest = self._read_manifest()
        snap_id = self._next_id(manifest)
        snap_dir = os.path.join(self.path, f"snap-{snap_id:04d}")
        row_count = _write_counted(df, snap_dir)
        record = {
            "id": snap_id,
            "dir": f"snap-{snap_id:04d}",
            "committed_at": time.time(),
            "row_count": row_count,
            "lineage": lineage_rows or [],
        }
        manifest["snapshots"].append(record)
        manifest["next_id"] = snap_id + 1
        self._write_manifest(manifest)
        return record

    def compact(self, target_bytes: int = 128 << 20) -> dict | None:
        """Rewrite ALL committed snapshots as ONE size-targeted
        snapshot — the small-files maintenance a streaming ingest
        needs (each micro-batch commit is its own snapshot; thousands
        of tiny parquet files wreck scan planning at 100 TB).

        Snapshot isolation holds throughout: the compacted data is
        fully written to a NEW snap dir first, the manifest swap is
        the atomic commit, and concurrent readers that resolved the
        old manifest keep reading the old dirs (which stay on disk,
        uncommitted).  Lineage rows of the source snapshots are
        carried over, so per-partition ingest provenance survives
        compaction.  No-op (returns None) with <= 1 snapshot.
        """
        manifest = self._read_manifest()
        snaps = manifest["snapshots"]
        if len(snaps) <= 1:
            return None
        total = 0
        for s in snaps:
            d = os.path.join(self.path, s["dir"])
            total += sum(
                os.path.getsize(os.path.join(d, f))
                for f in os.listdir(d)
                if f.endswith(".parquet")
            )
        # bounded: a pathological target must not explode the task
        # count (compaction EXISTS to reduce file counts)
        n_files = min(max(1, -(-total // target_bytes)), 4096)
        snap_id = self._next_id(manifest)
        snap_dir = os.path.join(self.path, f"snap-{snap_id:04d}")
        row_count = _write_counted(self.read().repartition(n_files), snap_dir)
        record = {
            "id": snap_id,
            "dir": f"snap-{snap_id:04d}",
            "committed_at": time.time(),
            "row_count": row_count,
            "lineage": [r for s in snaps for r in s.get("lineage", [])],
            "compacted_from": [s["id"] for s in snaps],
        }
        manifest["snapshots"] = [record]
        manifest["next_id"] = snap_id + 1
        self._write_manifest(manifest)
        return record

    # -- read ---------------------------------------------------------------

    def read(self) -> DataFrame | None:
        """Union of committed snapshots ONLY (directories not in the
        manifest — torn writes — are ignored)."""
        snaps = self.snapshots()
        if not snaps:
            return None
        paths = [os.path.join(self.path, s["dir"]) for s in snaps]
        return self.spark.read.parquet(*paths)

    def committed_urls(self) -> DataFrame | None:
        df = self.read()
        return df.select("url").distinct() if df is not None else None


class IcebergTable:
    """Wrapper over a real Iceberg catalog table (cluster path).

    Requires spark configured with an Iceberg catalog, e.g.::

        --conf spark.sql.catalog.cc=org.apache.iceberg.spark.SparkCatalog
        --conf spark.sql.catalog.cc.type=hive

    The sandbox has no Iceberg runtime jar, so the catalog surface this
    class touches is exactly four statements — ``CREATE TABLE ... USING
    iceberg``, ``df.writeTo(name).append()``, ``read.table(name)``, and
    the ``<name>.snapshots`` metadata query — and the shared contract
    with SnapshotParquetTable (append returns a snapshot record with
    ``id``/``row_count``/``lineage``; lineage rows are durably recorded
    per snapshot; ``snapshots()``/``read()``/``committed_urls()``) is
    pinned by tests/test_table_resume.py running the SAME resume
    scenario through both backends (catalog calls emulated).
    """

    def __init__(self, spark: SparkSession, name: str):
        self.spark = spark
        self.name = name
        self.lineage_name = name + "_lineage"

    def ensure(self, schema_ddl: str, partition_by: str = "size_class") -> None:
        """Create the table if missing (idempotent — safe from every
        resumed run).  Partitioning by size_class keeps the heavy tail
        in its own files."""
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.name} ({schema_ddl}) "
            f"USING iceberg PARTITIONED BY ({partition_by})"
        )

    def _exists(self) -> bool:
        return self.spark.catalog.tableExists(self.name)

    def snapshots(self) -> list[dict]:
        """Snapshot records oldest-first; [] before the table exists
        (the shared resume contract: a fresh target reads as empty,
        it does not raise)."""
        if not self._exists():
            return []
        rows = self.spark.sql(
            "SELECT snapshot_id AS id, committed_at, summary "
            f"FROM {self.name}.snapshots ORDER BY committed_at"
        ).collect()
        return [r.asDict() for r in rows]

    def append(self, df: DataFrame, lineage_rows: list[dict] | None = None) -> dict:
        """Atomic Iceberg append; commit is the snapshot itself.
        Lineage rows land in ``<name>_lineage`` keyed by snapshot id so
        any snapshot's partition metrics survive with the data.

        The new snapshot is identified by diffing snapshot ids around
        the commit (writeTo().append() returns nothing) — under
        concurrent writers ``snapshots()[-1]`` could be someone else's
        commit.  The row count comes from the snapshot's own
        ``added-records`` summary, NOT ``df.count()``: a pre-commit
        count would execute the full upstream plan a second time.
        """
        before = {s["id"] for s in self.snapshots()}
        df.writeTo(self.name).append()
        snaps = self.snapshots()
        new = [s for s in snaps if s["id"] not in before]
        snap = new[-1] if new else (snaps[-1] if snaps else None)
        snap_id = snap["id"] if snap else None
        summary = (snap.get("summary") or {}) if snap else {}
        n = int(summary.get("added-records", -1))
        if lineage_rows:
            ldf = self.spark.createDataFrame(
                [
                    {"snapshot_id": snap_id, "lineage_json": json.dumps(r)}
                    for r in lineage_rows
                ]
            )
            if self.spark.catalog.tableExists(self.lineage_name):
                ldf.writeTo(self.lineage_name).append()
            else:
                ldf.writeTo(self.lineage_name).create()
        return {
            "id": snap_id,
            "row_count": n,
            "lineage": lineage_rows or [],
        }

    def compact(self, target_bytes: int = 128 << 20) -> dict | None:
        """Cluster path of the small-files maintenance: Iceberg's
        ``rewrite_data_files`` procedure (binpack strategy, target
        file size) — snapshot-isolated and lineage-preserving by
        Iceberg's own semantics, same contract as
        SnapshotParquetTable.compact."""
        catalog = self.name.split(".", 1)[0]
        stmt = (
            f"CALL {catalog}.system.rewrite_data_files("
            f"table => '{self.name}', strategy => 'binpack', "
            f"options => map('target-file-size-bytes', '{target_bytes}'))"
        )
        rows = self.spark.sql(stmt).collect()
        return rows[0].asDict() if rows else None

    def read(self) -> DataFrame | None:
        if not self.snapshots():
            return None
        return self.spark.read.table(self.name)

    def committed_urls(self) -> DataFrame | None:
        df = self.read()
        return df.select("url").distinct() if df is not None else None


def open_table(spark: SparkSession, target: str):
    """``iceberg:<catalog.table>`` → IcebergTable, else parquet path."""
    if target.startswith("iceberg:"):
        return IcebergTable(spark, target[len("iceberg:") :])
    return SnapshotParquetTable(spark, target)
