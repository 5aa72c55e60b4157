"""S2/S3/S5 — Iceberg-style snapshot tables over parquet (SURVEY.md §7.3).

No Iceberg runtime jars exist in this environment (and none can be
fetched), so this implements the same *semantics* with a JSON manifest
log: writers produce immutable data directories and then atomically
publish a manifest (os.rename is atomic within a filesystem); readers
list files from the newest manifest only, so half-written data is never
visible and a killed run resumes by re-reading the last committed
snapshot. Each manifest records parentage + row counts (lineage).

Cheapness invariants (they matter for scaling: table-metadata work must
stay O(files written), never O(table) and never a distributed job):
- ``append`` writes ONLY the new rows' files; the manifest carries the
  cumulative file list (parent files + new files) — no read-modify-write
  of previous data (Iceberg fast-append).
- row counts come from parquet footers read driver-side via pyarrow —
  no Spark count() job per commit.

Layout:
    <root>/<table>/data/snap-<n>-<token>/part-*.parquet
    <root>/<table>/_manifests/snapshot-<n>.json
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


def _footer_rows(path: str) -> int:
    return pq.ParquetFile(path).metadata.num_rows


class SnapshotTable:
    def __init__(self, root: str, name: str):
        self.dir = os.path.join(root, name)
        self.name = name
        self.manifest_dir = os.path.join(self.dir, "_manifests")

    # ------------------------------------------------------------ manifests

    def _manifest_ids(self) -> list[int]:
        if not os.path.isdir(self.manifest_dir):
            return []
        out = []
        for f in os.listdir(self.manifest_dir):
            if f.startswith("snapshot-") and f.endswith(".json"):
                out.append(int(f[len("snapshot-") : -len(".json")]))
        return sorted(out)

    def latest_manifest(self) -> dict | None:
        ids = self._manifest_ids()
        if not ids:
            return None
        path = os.path.join(self.manifest_dir, f"snapshot-{ids[-1]}.json")
        with open(path) as fh:
            return json.load(fh)

    def exists(self) -> bool:
        return self.latest_manifest() is not None

    def _next_snapshot(self) -> tuple[dict | None, int, str, str]:
        """(parent manifest, next snapshot id, token, fresh data dir).

        Ids advance only on publish, so an existing ``data/snap-<n>-*``
        for the next id ``n``, like any ``_manifests/.tmp-*.json``, can
        only be the leftover of a writer that died before publishing (one
        writer per table): remove them, so killed commits never leak data
        directories or temp manifests."""
        parent = self.latest_manifest()
        snap_id = (parent["snapshot_id"] + 1) if parent else 0
        data = os.path.join(self.dir, "data")
        if os.path.isdir(data):
            for d in os.listdir(data):
                if d.startswith(f"snap-{snap_id}-"):
                    shutil.rmtree(os.path.join(data, d))
        if os.path.isdir(self.manifest_dir):
            for f in os.listdir(self.manifest_dir):
                if f.startswith(".tmp-") and f.endswith(".json"):
                    os.remove(os.path.join(self.manifest_dir, f))
        token = uuid.uuid4().hex[:8]
        return parent, snap_id, token, os.path.join(data, f"snap-{snap_id}-{token}")

    def _publish(
        self,
        parent: dict | None,
        snap_id: int,
        token: str,
        new_files: list[tuple[str, int]],
        t0: float,
        operation: str,
        stage: str,
        schema_json: str | None = None,
        extra: dict | None = None,
    ) -> dict:
        """Atomically publish snapshot ``snap_id``: its files are
        ``new_files`` for a replace, the parent's plus ``new_files`` for
        an append."""
        file_rows = dict(parent["file_rows"]) if parent and operation == "append" else {}
        file_rows.update(new_files)
        manifest = {
            "table": self.name,
            "snapshot_id": snap_id,
            "parent_id": parent["snapshot_id"] if parent else None,
            "schema_json": schema_json,
            "files": sorted(file_rows),
            # per-file row counts from the parquet footers: free
            # file-level lineage, no Spark job (SURVEY.md §2.1 S6)
            "file_rows": file_rows,
            "n_rows": sum(file_rows.values()),
            "stage": stage,
            "operation": operation,
            "wall_ms": int((time.time() - t0) * 1000),
            "created_at_unix": int(time.time()),
            "extra": extra or {},
        }
        os.makedirs(self.manifest_dir, exist_ok=True)
        tmp = os.path.join(self.manifest_dir, f".tmp-{token}.json")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)
            fh.flush()
            os.fsync(fh.fileno())
        # atomic publish: rename within the same directory/filesystem
        os.rename(tmp, os.path.join(self.manifest_dir, f"snapshot-{snap_id}.json"))
        return manifest

    def _write_data(self, df: DataFrame, data_dir: str) -> list[tuple[str, int]]:
        """Write df's files under a fresh snapshot dir; return (relative
        path, row count from the parquet footer — no Spark job) per file."""
        df.write.mode("overwrite").parquet(data_dir)
        files = []
        for n in os.listdir(data_dir):
            if n.endswith(".parquet"):
                full = os.path.join(data_dir, n)
                files.append((os.path.relpath(full, self.dir), _footer_rows(full)))
        return files

    # ------------------------------------------------------------- write/read

    def commit(self, df: DataFrame, stage: str = "", extra: dict | None = None) -> dict:
        """Full-replace snapshot: write data files, atomically publish."""
        parent, snap_id, token, data_dir = self._next_snapshot()
        t0 = time.time()
        files = self._write_data(df, data_dir)
        # data schema pinned at commit time: readers skip parquet
        # footer-based schema inference entirely (~2s of driver-side
        # planning per first read of a 64-file table — the dominant
        # control-plane cost found in round 2).
        return self._publish(
            parent, snap_id, token, files, t0, "replace", stage,
            df.schema.json(), extra,
        )

    def append(self, df: DataFrame, stage: str = "") -> dict:
        """Fast-append snapshot: write ONLY the new rows' files; manifest
        = parent file list + new files. Previous data is never rewritten."""
        parent, snap_id, token, data_dir = self._next_snapshot()
        t0 = time.time()
        files = self._write_data(df, data_dir)
        return self._publish(
            parent, snap_id, token, files, t0, "append", stage, df.schema.json()
        )

    def commit_rows(self, rows: list[dict], schema: "pa.Schema", stage: str = "") -> dict:
        """Driver-side full-replace snapshot of a handful of rows
        (metrics/lineage): one pyarrow parquet write + manifest publish,
        zero Spark jobs. At cluster scale these tiny control-plane writes
        come from the driver anyway — routing them through executors is
        pure overhead."""
        parent, snap_id, token, data_dir = self._next_snapshot()
        t0 = time.time()
        os.makedirs(data_dir, exist_ok=True)
        path = os.path.join(data_dir, "part-00000.parquet")
        cols = {f.name: [r.get(f.name) for r in rows] for f in schema}
        pq.write_table(pa.table(cols, schema=schema), path)
        new_files = [(os.path.relpath(path, self.dir), len(rows))]
        return self._publish(parent, snap_id, token, new_files, t0, "replace", stage)

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        """Read the file list of the newest (or a pinned) snapshot."""
        if snapshot_id is None:
            m = self.latest_manifest()
        else:
            with open(
                os.path.join(self.manifest_dir, f"snapshot-{snapshot_id}.json")
            ) as fh:
                m = json.load(fh)
        if m is None:
            raise FileNotFoundError(f"no committed snapshot for table {self.name}")
        reader = spark.read
        if m.get("schema_json"):
            from pyspark.sql.types import StructType

            reader = reader.schema(
                StructType.fromJson(json.loads(m["schema_json"]))
            )
        return reader.parquet(*[os.path.join(self.dir, f) for f in m["files"]])
