"""Snapshot/manifest layer: Iceberg *semantics* with plain parquet.

No Iceberg runtime jar exists in this sandbox (SURVEY §7.0), so the
engine implements the part of Iceberg it actually needs — atomic,
immutable, lineage-carrying snapshots:

- each round writes immutable parquet data files under
  ``<root>/data/r{N}/<table>/``;
- a JSON manifest ``<root>/snapshots/snap_{N:06d}.json`` records
  ``snapshot_id, parent_id, round, tables{name→paths}, seen-manifest,
  lineage, metrics`` and is committed by atomic ``os.replace`` — a
  crash mid-round leaves the previous snapshot authoritative;
- resume = read the latest valid manifest (the atomic version of the
  reference's skip-if-output-file-exists resume, /root/reference/run/
  run.py:23);
- tables a round did not touch are *referenced*, not rewritten
  (copy-on-write, like Iceberg manifests reusing data files).

``catalog`` is a seam: swap in a real Iceberg catalog by implementing
the same four methods against ``spark.table``/``writeTo``.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Snapshot:
    snapshot_id: str
    parent_id: str | None
    round: int
    tables: dict[str, str] = field(default_factory=dict)  # name -> parquet path
    seen: dict | None = None
    metrics: dict = field(default_factory=dict)
    lineage: list[dict] = field(default_factory=list)  # per-partition rows
    # auxiliary state for optional engine modes (absent in old manifests):
    # stratified frontier keeps {"cold_paths": [...], "enqueued": manifest}
    aux: dict = field(default_factory=dict)

    def to_json(self) -> dict:
        return {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "round": self.round,
            "tables": self.tables,
            "seen": self.seen,
            "metrics": self.metrics,
            "lineage": self.lineage,
            "aux": self.aux,
        }

    @classmethod
    def from_json(cls, d: dict) -> "Snapshot":
        return cls(**d)


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        self.snap_dir = os.path.join(root, "snapshots")
        self.data_dir = os.path.join(root, "data")
        os.makedirs(self.snap_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # -- write path ---------------------------------------------------------
    def table_path(self, round_no: int, name: str) -> str:
        return os.path.join(self.data_dir, f"r{round_no:06d}", name)

    def write_table(
        self, df: DataFrame, round_no: int, name: str, partition_by: list[str] | None = None
    ) -> str:
        path = self.table_path(round_no, name)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        return path

    def commit(self, snap: Snapshot) -> str:
        """Atomic manifest commit: write-temp + rename. The manifest is
        the only mutation point; data files written before a failed
        commit are unreferenced garbage, never corruption."""
        final = os.path.join(self.snap_dir, f"snap_{snap.round:06d}.json")
        tmp = os.path.join(self.snap_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(snap.to_json(), f, indent=1)
        os.replace(tmp, final)
        return final

    # -- read path ------------------------------------------------------------
    def latest(self) -> Snapshot | None:
        snaps = sorted(
            n for n in os.listdir(self.snap_dir) if n.startswith("snap_") and n.endswith(".json")
        )
        if not snaps:
            return None
        with open(os.path.join(self.snap_dir, snaps[-1])) as f:
            return Snapshot.from_json(json.load(f))

    def load(self, round_no: int) -> Snapshot:
        with open(os.path.join(self.snap_dir, f"snap_{round_no:06d}.json")) as f:
            return Snapshot.from_json(json.load(f))

    def read_table(
        self, spark: SparkSession, snap: Snapshot, name: str, schema=None
    ) -> DataFrame | None:
        """``schema``: pass the known StructType to skip the driver-side
        parquet footer read Spark does for schema inference — the round
        loop reads 3-4 tables per round and the footer round-trips are
        pure fixed latency."""
        path = snap.tables.get(name)
        if not path:
            return None
        reader = spark.read.schema(schema) if schema is not None else spark.read
        return reader.parquet(path)

    def history(self) -> list[int]:
        return sorted(
            int(n[len("snap_") : -len(".json")])
            for n in os.listdir(self.snap_dir)
            if n.startswith("snap_") and n.endswith(".json")
        )
