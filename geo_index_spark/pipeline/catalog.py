"""Iceberg-compatible catalog shim over Parquet.

The north rule targets Iceberg tables; this sandbox has no Iceberg jars,
so `ParquetSnapshotCatalog` reproduces the subset of Iceberg semantics
the engine relies on — atomic snapshot commits, snapshot-id time travel,
and schema-on-read — with a directory layout intentionally shaped like
an Iceberg table:

    <root>/<table>/
        metadata/vN.json      (snapshot log: id, timestamp, manifest)
        data/snap=<id>/*.parquet

On a real cluster every call site swaps 1:1:
    catalog.write(df, "db.t")        -> df.writeTo("db.t").createOrReplace()
    catalog.read(spark, "db.t")      -> spark.table("db.t")
    catalog.read(..., snapshot_id=s) -> spark.read.option("snapshot-id", s).table(...)
A snapshot's ``rows`` is summed from its parquet footers on the driver
(:func:`parquet_rows`), with no Spark job; on Iceberg it is the snapshot
summary's ``total-records``.
No other module knows about the shim's layout — pipeline/checkpoint and
jobs go through this interface.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


def parquet_files(path: str | Path) -> list[Path]:
    """The visible ``*.parquet`` files directly under ``path``: the ones
    Spark's reader sees, which skips ``_*`` and ``.*`` names."""
    files = Path(path).glob("*.parquet")
    return sorted(f for f in files if not f.name.startswith(("_", ".")))


def parquet_rows(path: str | Path) -> int:
    """Rows committed under ``path``, summed from the parquet footers.
    Equals ``spark.read.parquet(path).count()``, which also reads only
    row-group metadata, without starting a Spark job."""
    return sum(pq.read_metadata(f).num_rows for f in parquet_files(path))


class ParquetSnapshotCatalog:
    def __init__(self, root: str):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def _meta_dir(self, table: str) -> Path:
        return self.root / table / "metadata"

    def _snapshots(self, table: str) -> list[dict]:
        d = self._meta_dir(table)
        if not d.exists():
            return []
        out = [json.loads(p.read_text()) for p in sorted(d.glob("v*.json"))]
        return sorted(out, key=lambda s: s["sequence"])

    def snapshots(self, table: str) -> list[dict]:
        """Snapshot log (id, sequence, committed_at, rows) — the
        Iceberg `table.snapshots()` analogue."""
        return self._snapshots(table)

    def current_snapshot_id(self, table: str) -> int | None:
        s = self._snapshots(table)
        return s[-1]["snapshot_id"] if s else None

    def write(self, df: DataFrame, table: str, mode: str = "overwrite") -> int:
        """Commit a new snapshot; returns its id. ``mode='append'``
        logically appends (the new snapshot's data = old union new)."""
        snaps = self._snapshots(table)
        seq = (snaps[-1]["sequence"] + 1) if snaps else 0
        snap_id = int(time.time() * 1000) * 10 + (seq % 10)
        data_dir = self.root / table / "data" / f"snap={snap_id}"
        if mode == "append" and snaps:
            prev = self.read(df.sparkSession, table)
            df = prev.unionByName(df)
        df.write.mode("overwrite").parquet(str(data_dir))
        rows = parquet_rows(data_dir)
        meta = {
            "snapshot_id": snap_id,
            "sequence": seq,
            "committed_at": time.time(),
            "rows": rows,
            "manifest": f"data/snap={snap_id}",
            "schema": df.schema.jsonValue(),
        }
        d = self._meta_dir(table)
        d.mkdir(parents=True, exist_ok=True)
        tmp = d / f".v{seq}.json.tmp"
        tmp.write_text(json.dumps(meta))
        tmp.rename(d / f"v{seq}.json")  # atomic commit point
        return snap_id

    def read(
        self, spark: SparkSession, table: str, snapshot_id: int | None = None
    ) -> DataFrame:
        snaps = self._snapshots(table)
        if not snaps:
            raise FileNotFoundError(f"no such table: {table}")
        if snapshot_id is None:
            snap = snaps[-1]
        else:
            matches = [s for s in snaps if s["snapshot_id"] == snapshot_id]
            if not matches:
                raise KeyError(f"unknown snapshot {snapshot_id} for {table}")
            snap = matches[0]
        return spark.read.parquet(str(self.root / table / snap["manifest"]))

    def rollback(self, table: str, snapshot_id: int) -> None:
        """Drop snapshots newer than ``snapshot_id`` (Iceberg
        rollback_to_snapshot)."""
        d = self._meta_dir(table)
        for s in self._snapshots(table):
            if s["sequence"] > 0 and s["snapshot_id"] != snapshot_id:
                if s["committed_at"] > [
                    x for x in self._snapshots(table) if x["snapshot_id"] == snapshot_id
                ][0]["committed_at"]:
                    (d / f"v{s['sequence']}.json").unlink()
