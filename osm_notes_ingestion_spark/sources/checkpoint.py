"""Snapshot checkpoints: resumable country assignment.

Reference analogs:
- `backup_note_locations` CSV checkpoint + restore join
  (bin/scripts/generateNoteLocationBackup.sh:66-69,
   sql/functionsProcess_32_loadsBackupNoteLocation.sql:18-26)
- integrity re-verification that invalidates wrong checkpoint rows
  (bin/lib/functionsProcess.sh:2544-2570)
- changed-boundary incremental re-assignment
  (bin/process/updateCountries.sh:246-304)

The engine persists assignment snapshots as parquet under a manifest
directory — an explicit, minimal emulation of Iceberg snapshot commits
(the iceberg-spark runtime jar isn't available offline; the API is
designed so an Iceberg `MERGE INTO`/snapshot backend drops in:
write_snapshot ≈ commit, latest_snapshot ≈ current snapshot id,
resume_assignments ≈ MERGE with anti-join).

Atomicity: data is written to a temp subdir, then the manifest line is
appended last — a reader never sees a half-written snapshot (rename-free,
works on object stores).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.spatial_join import assign_countries
from ..streaming.store import local_path


class SnapshotStore:
    def __init__(self, root: str):
        self.root = local_path(root, "SnapshotStore")
        os.makedirs(self.root, exist_ok=True)
        self.manifest = os.path.join(self.root, "manifest.jsonl")

    def write_snapshot(self, df: DataFrame, kind: str = "assignments") -> str:
        snap_id = f"{kind}-{uuid.uuid4().hex[:12]}"
        path = os.path.join(self.root, snap_id)
        df.write.mode("overwrite").parquet(path)
        rec = {
            "snapshot_id": snap_id,
            "kind": kind,
            "path": path,
            "committed_at": time.time(),
            # read back with this schema: inferring it from the footers
            # costs a Spark job per read
            "schema": df.schema.json(),
        }
        # heal a torn tail first: a previous writer that crashed mid-line
        # left an unterminated partial record (provably uncommitted — the
        # newline IS the commit). Truncate it back to the last complete
        # line; appending directly would merge this commit into the
        # wreckage and lose BOTH.
        if os.path.exists(self.manifest) and os.path.getsize(self.manifest) > 0:
            with open(self.manifest, "r+b") as f:
                f.seek(-1, os.SEEK_END)
                if f.read(1) != b"\n":
                    data = open(self.manifest, "rb").read()
                    keep = data.rfind(b"\n") + 1  # 0 when no newline at all
                    f.truncate(keep)
        with open(self.manifest, "a") as f:
            f.write(json.dumps(rec) + "\n")
        return snap_id

    def _records(self) -> list[dict]:
        """All committed manifest records.

        ONLY a torn FINAL line (crash mid-append — the commit never
        happened) is skipped; an undecodable line anywhere else is real
        corruption and must raise rather than silently rolling the table
        back to an older snapshot."""
        if not os.path.exists(self.manifest):
            return []
        with open(self.manifest) as f:
            lines = [ln for ln in f if ln.strip()]
        recs = []
        for i, line in enumerate(lines):
            try:
                recs.append(json.loads(line))
            except json.JSONDecodeError:
                if i == len(lines) - 1:
                    continue  # torn trailing append = no commit
                raise ValueError(
                    f"snapshot manifest corrupted at line {i + 1} (not the "
                    f"trailing line): {self.manifest}"
                )
        return recs

    def snapshots(self, kind: str = "assignments") -> list[dict]:
        return [r for r in self._records() if r["kind"] == kind]

    def latest(self, spark: SparkSession, kind: str = "assignments") -> DataFrame | None:
        snaps = self.snapshots(kind)
        if not snaps:
            return None
        return _read(spark, snaps[-1])

    def read_snapshot(self, spark: SparkSession, snapshot_id: str) -> DataFrame:
        """Time travel by snapshot id (≈ Iceberg `VERSION AS OF`).

        Ids are globally unique, so the manifest is scanned directly —
        re-deriving the kind from the id would break for hyphenated
        kinds (write_snapshot accepts arbitrary kind strings)."""
        for r in self._records():
            if r.get("snapshot_id") == snapshot_id:
                return _read(spark, r)
        raise KeyError(f"unknown snapshot {snapshot_id!r}")


def _read(spark: SparkSession, rec: dict) -> DataFrame:
    """A snapshot with the schema its record carries; a record written
    before schemas were recorded infers it from the parquet footers."""
    reader = spark.read
    if "schema" in rec:
        reader = reader.schema(T.StructType.fromJson(json.loads(rec["schema"])))
    return reader.parquet(rec["path"])


def resume_assignments(
    spark: SparkSession,
    extracted: DataFrame,
    index,
    store: SnapshotStore,
    verify_sample_mod: int | None = None,
) -> DataFrame:
    """Compute assignments, reusing the latest checkpoint.

    1. restore: rows whose id is in the checkpoint keep their country (J6);
    2. optional integrity re-verify: a deterministic sample
       (id % verify_sample_mod == 0) is recomputed and the checkpoint
       value is DISCARDED when it disagrees (functionsProcess.sh:2544-2570);
    3. anti-join: only unassigned rows run the spatial join;
    4. union → full assignment table (callers snapshot it again).
    """
    checkpoint = store.latest(spark)
    if checkpoint is None:
        return assign_countries(spark, extracted, index).select("id", "country_id")
    checkpoint = checkpoint.select("id", "country_id")

    if verify_sample_mod:
        sample_ids = checkpoint.where(F.col("id") % verify_sample_mod == 0)
        sample_src = extracted.join(sample_ids.select("id"), "id", "left_semi")
        recomputed = assign_countries(spark, sample_src, index).select(
            "id", F.col("country_id").alias("_rc")
        )
        bad = (
            sample_ids.join(recomputed, "id")
            .where(~F.col("country_id").eqNullSafe(F.col("_rc")))
            .select("id")
        )
        checkpoint = checkpoint.join(bad, "id", "left_anti")

    restored = extracted.join(checkpoint.select("id"), "id", "left_semi").join(checkpoint, "id")
    todo = extracted.join(checkpoint.select("id"), "id", "left_anti")
    computed = assign_countries(spark, todo, index).select("id", "country_id")
    return restored.select("id", "country_id").unionByName(computed)


def reassign_changed_polygons(
    spark: SparkSession,
    extracted: DataFrame,
    assignments: DataFrame,
    old_index,
    new_index,
    changed_country_ids: list[int],
) -> DataFrame:
    """J7: after a boundary refresh, re-join ONLY points whose cell
    intersects a changed polygon's cover (old or new cover — a point may
    have left the polygon too). Everything else keeps its assignment.
    """
    import numpy as np

    from ..functions.cells import cell_col

    changed = set(changed_country_ids)
    cells = set()
    for idx in (old_index, new_index):
        mask = np.isin(idx.country_ids, list(changed))
        cells.update(idx.cells[mask].tolist())
    cells_df = spark.createDataFrame([(c,) for c in sorted(cells)], "cell long")

    pts = extracted.withColumn(
        "cell", cell_col(F.col("lat"), F.col("lon"), new_index.level)
    )
    affected = pts.join(F.broadcast(cells_df), "cell", "left_semi")
    unaffected = assignments.join(affected.select("id"), "id", "left_anti")
    recomputed = assign_countries(spark, affected, new_index).select("id", "country_id")
    return unaffected.select("id", "country_id").unionByName(recomputed)
