"""Snapshot-committed table storage + per-stage checkpoint/lineage rows.

The north rule requires "pipeline state and per-partition lineage/metrics
live in checkpoint tables so any stage resumes idempotently from the last
committed snapshot". The production design is Iceberg (ACID snapshot
commits, MERGE INTO); this container has no Iceberg jars, so SnapshotTable
implements the same contract on plain parquet:

- every write goes to ``<root>/<table>/snapshot=<n>/`` via a temp dir +
  atomic rename; a ``_manifest.json`` records the committed snapshot id,
  row count and wall time (the analogue of Iceberg's metadata pointer);
- readers resolve the latest committed snapshot from the manifest —
  half-written snapshots are invisible (rename is the commit point);
- the checkpoints table accumulates one row per (stage, snapshot) with
  row counts and durations — resume = skip stages whose manifest already
  has a committed snapshot for the current run signature.

Swapping in Iceberg is a sink change only (``writeTo(...).append()``),
not a pipeline change.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from .session import rows_frame


@dataclass
class Snapshot:
    table: str
    snapshot_id: int
    n_rows: int
    wall_ms: int
    path: str
    signature: Optional[str] = None


class SnapshotTable:
    """Parquet-backed snapshot-committed table."""

    def __init__(self, root: str, name: str) -> None:
        self.dir = os.path.join(root, name)
        self.name = name
        os.makedirs(self.dir, exist_ok=True)

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.dir, "_manifest.json")

    def _read_manifest(self) -> dict:
        try:
            with open(self._manifest_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"snapshots": []}

    def latest(self, signature: Optional[str] = None) -> Optional[Snapshot]:
        snaps = self._read_manifest()["snapshots"]
        if signature is not None:
            snaps = [s for s in snaps if s.get("signature") == signature]
        if not snaps:
            return None
        s = max(snaps, key=lambda x: x["snapshot_id"])
        return Snapshot(self.name, s["snapshot_id"], s["n_rows"],
                        s["wall_ms"], s["path"], s.get("signature"))

    def commit(self, df: DataFrame, signature: Optional[str] = None,
               partition_by: Optional[list] = None) -> Snapshot:
        """Write df as the next snapshot; atomic via temp-dir + rename.

        ``partition_by``: hive-style partition columns (e.g. the triples
        graph table partitions by pred — the parquet analogue of a
        partitioned Iceberg table)."""
        t0 = time.time()
        man = self._read_manifest()
        next_id = 1 + max((s["snapshot_id"] for s in man["snapshots"]),
                          default=0)
        tmp = os.path.join(self.dir, f"_tmp-{uuid.uuid4().hex}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        final = os.path.join(self.dir, f"snapshot={next_id}")
        os.rename(tmp, final)  # commit point
        spark = df.sparkSession
        # Per-partition lineage (north_rule): one row-count per committed
        # file — the physical partition unit of the snapshot — recorded in
        # the manifest alongside the total (same single job computes both).
        from pyspark.sql import functions as F

        per_file = (
            spark.read.parquet(final)
            .groupBy(F.col("_metadata.file_name").alias("f"))
            .count()
            .collect()
        )
        files = {r["f"]: r["count"] for r in per_file}
        n_rows = sum(files.values())
        snap = {
            "snapshot_id": next_id,
            "n_rows": n_rows,
            "wall_ms": int((time.time() - t0) * 1000),
            "path": final,
            "signature": signature,
            "files": files,
        }
        man["snapshots"].append(snap)
        tmp_man = self._manifest_path + f".{uuid.uuid4().hex}"
        with open(tmp_man, "w") as f:
            json.dump(man, f, indent=1)
        os.rename(tmp_man, self._manifest_path)
        return Snapshot(self.name, next_id, n_rows, snap["wall_ms"], final,
                        signature)

    def merge(self, df: DataFrame, keys: list,
              signature: Optional[str] = None,
              partition_by: Optional[list] = None) -> Snapshot:
        """Keyed upsert — MERGE INTO semantics on snapshot storage: rows of
        ``df`` replace committed rows with the same key tuple; unmatched
        committed rows carry over unchanged. The parquet analogue of
        Iceberg's copy-on-write MERGE and the reference's keyed batch
        upsert (utils/utils_udf.py:52-122 INSERT ... ON CONFLICT DO UPDATE,
        driving featurizer.py:65-91 update()/upsert_keys).

        Plan shape: committed LEFT ANTI JOIN new-keys (a broadcast join
        when the incremental batch is small — the common case) UNION the
        new rows, committed as the next snapshot. Only the new rows are
        computed; the carried-over side is a parquet scan."""
        latest = self.latest()
        if latest is None:
            return self.commit(df, signature, partition_by)
        spark = df.sparkSession
        old = self.read(spark, latest.snapshot_id)
        carried = old.join(df.select(*keys).distinct(), keys, "left_anti")
        return self.commit(carried.unionByName(df), signature, partition_by)

    def read(self, spark: SparkSession,
             snapshot_id: Optional[int] = None) -> DataFrame:
        """Read a snapshot (latest by default) via its MANIFEST path — a
        rollback snapshot's data lives in the directory of the snapshot it
        restored, so the path cannot be reconstructed from the id."""
        if snapshot_id is None:
            latest = self.latest()
            if latest is None:
                raise FileNotFoundError(f"no committed snapshot in {self.dir}")
            snapshot_id = latest.snapshot_id
        snaps = self._read_manifest()["snapshots"]
        by_id = {s["snapshot_id"]: s for s in snaps}
        if snapshot_id in by_id:
            return spark.read.parquet(by_id[snapshot_id]["path"])
        if snaps:
            # the manifest is authoritative: an id it lacks is expired or
            # never existed — say so, instead of surfacing an opaque parquet
            # IO error from the deleted snapshot=<id> directory
            raise FileNotFoundError(
                f"snapshot {snapshot_id} not in {self.name} manifest "
                f"(have {sorted(by_id)}) — expired or unknown")
        # pre-manifest callers (or hand-built dirs): fall back to layout
        return spark.read.parquet(
            os.path.join(self.dir, f"snapshot={snapshot_id}"))

    def rollback(self, snapshot_id: int) -> Snapshot:
        """Iceberg-style rollback: make an EARLIER snapshot current again
        by committing a new manifest entry that points at its data
        directory (no data copied, no history destroyed — time travel to
        every prior snapshot still works, exactly Iceberg's
        rollback-to-snapshot semantics)."""
        man = self._read_manifest()
        by_id = {s["snapshot_id"]: s for s in man["snapshots"]}
        if snapshot_id not in by_id:
            raise ValueError(
                f"snapshot {snapshot_id} not in {self.name} manifest "
                f"(have {sorted(by_id)})")
        src = by_id[snapshot_id]
        next_id = 1 + max(by_id)
        snap = {**src, "snapshot_id": next_id,
                "rolled_back_from": snapshot_id, "wall_ms": 0}
        man["snapshots"].append(snap)
        tmp_man = self._manifest_path + f".{uuid.uuid4().hex}"
        with open(tmp_man, "w") as f:
            json.dump(man, f, indent=1)
        os.rename(tmp_man, self._manifest_path)
        return Snapshot(self.name, next_id, snap["n_rows"], 0,
                        snap["path"], snap.get("signature"))

    def expire_snapshots(self, keep_last: int = 1) -> list:
        """Iceberg's expire_snapshots: drop all but the newest
        ``keep_last`` snapshots — manifest entries removed first (the
        commit point), data directories deleted after, EXCEPT directories
        still referenced by a surviving entry (a rollback points an alive
        snapshot at an old directory). Returns the expired snapshot ids."""
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        man = self._read_manifest()
        snaps = sorted(man["snapshots"], key=lambda s: s["snapshot_id"])
        keep, drop = snaps[-keep_last:], snaps[:-keep_last]
        if not drop:
            return []
        man["snapshots"] = keep
        tmp_man = self._manifest_path + f".{uuid.uuid4().hex}"
        with open(tmp_man, "w") as f:
            json.dump(man, f, indent=1)
        os.rename(tmp_man, self._manifest_path)  # commit point
        alive_paths = {s["path"] for s in keep}
        for s in drop:
            if s["path"] not in alive_paths and os.path.isdir(s["path"]):
                shutil.rmtree(s["path"])
        return [s["snapshot_id"] for s in drop]


class CheckpointedPipeline:
    """Stage runner: compute-or-resume each stage from its snapshot table.

    ``signature`` identifies the logical run (input + config); re-running
    with the same signature skips committed stages (idempotent resume —
    the engine's replacement for the reference's clear=False incremental
    mode, featurizer.py:65-91, tests/e2e/test_incremental.py).
    """

    def __init__(self, spark: SparkSession, root: str, signature: str) -> None:
        self.spark = spark
        self.root = root
        self.signature = signature
        self.events: list = []

    def stage(self, name: str, build, partition_by: Optional[list] = None
              ) -> DataFrame:
        table = SnapshotTable(self.root, name)
        existing = table.latest(self.signature)
        if existing is not None:
            self.events.append(("resume", name, existing.snapshot_id,
                                existing.n_rows, 0))
            return table.read(self.spark, existing.snapshot_id)
        t0 = time.time()
        snap = table.commit(build(), self.signature, partition_by=partition_by)
        self.events.append(("compute", name, snap.snapshot_id, snap.n_rows,
                            int((time.time() - t0) * 1000)))
        return table.read(self.spark, snap.snapshot_id)

    def upsert_stage(self, name: str, build_new, keys: list,
                     partition_by: Optional[list] = None) -> DataFrame:
        """Incremental keyed update of a committed stage (the reference's
        clear=False update mode, featurizer.py:65-91): ``build_new`` yields
        ONLY the new/changed rows (e.g. the mentions of newly arrived
        documents); they merge into the committed snapshot by key. Returns
        the post-merge table."""
        table = SnapshotTable(self.root, name)
        t0 = time.time()
        snap = table.merge(build_new(), keys, self.signature,
                           partition_by=partition_by)
        self.events.append(("upsert", name, snap.snapshot_id, snap.n_rows,
                            int((time.time() - t0) * 1000)))
        return table.read(self.spark, snap.snapshot_id)

    def checkpoints(self) -> DataFrame:
        """The lineage/metrics table: (kind, stage, snapshot_id, n_rows,
        wall_ms) — persisted alongside the data tables."""
        df = rows_frame(
            self.spark, self.events,
            "kind string, stage string, snapshot_id long, n_rows long, "
            "wall_ms long",
        )
        SnapshotTable(self.root, "_checkpoints").commit(df, self.signature)
        return df
