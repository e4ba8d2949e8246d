"""Snapshot catalog: Iceberg-style versioned tables on plain parquet.

Replaces the reference's run-dir persistence (SQLite files at data.py:13-24,
RDB snapshot copy at manager.py:142-145 — which is broken, bug B14). No
Iceberg/Delta jars ship in this sandbox, so we emulate the verbs we need —
``commit`` / ``load`` / round manifests / ``resume`` — on a directory layout:

    warehouse/
      <table>/snap-00003/           # full-rewrite tables (frontier)
      <table>/delta-00002/          # append-only tables (seen, pages, links)
      <table>/manifest-00003.json   # snapshot_id, parent, round, counts
      _rounds/round-00002.json      # per-round: table watermarks + metrics

A round commit is atomic-enough for this engine: the round manifest is
written LAST, after every table write succeeded, so resume only ever sees
complete rounds (per-partition lineage lives in the table manifests). The
interface is deliberately shaped like an Iceberg catalog so a real
``spark.sql.catalog.*`` Iceberg catalog can be swapped in on a cluster.

Checkpoint-to-parquet also serves the iterative-loop role: each round's
frontier read starts a fresh lineage, so plans never grow with round count
(the classic iterative-algorithm failure mode on Spark).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


class SnapshotCatalog:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(os.path.join(warehouse, "_rounds"), exist_ok=True)

    # ---------------- table-level commits ----------------
    def _next_version(self, table: str) -> int:
        tdir = os.path.join(self.warehouse, table)
        os.makedirs(tdir, exist_ok=True)
        versions = [
            int(f.split("-")[1].split(".")[0])
            for f in os.listdir(tdir)
            if f.startswith("manifest-")
        ]
        return (max(versions) + 1) if versions else 1

    def _manifest_path(self, table: str, version: int) -> str:
        return os.path.join(self.warehouse, table, f"manifest-{version:05d}.json")

    def _new_data_dir(self, table: str, mode: str) -> tuple[int, str]:
        """Next version of ``table`` and the data dir its commit writes."""
        assert mode in ("snapshot", "delta")
        version = self._next_version(table)
        kind = "snap" if mode == "snapshot" else "delta"
        return version, os.path.join(self.warehouse, table, f"{kind}-{version:05d}")

    def _write_manifest(
        self,
        table: str,
        version: int,
        mode: str,
        round_: int,
        data_dir: str,
        per_file: list[dict],
        metrics: dict | None,
    ) -> dict:
        """Build the table manifest of one commit and publish it
        atomically: write a tmp file, then os.replace it into place. The
        tmp name starts with a dot, outside the ``manifest-`` prefix every
        reader scans, so a write killed midway leaves no torn manifest
        behind — only an inert data dir whose version the next commit
        reuses."""
        manifest = {
            "table": table,
            "snapshot_id": version,
            "parent_id": version - 1 if version > 1 else None,
            "kind": mode,
            "round": round_,
            "data_dir": data_dir,
            "n_rows": sum(p["rows"] for p in per_file),
            "n_files": len(per_file),
            "partitions": per_file,
            "metrics": metrics or {},
        }
        path = self._manifest_path(table, version)
        tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, path)
        return manifest

    def commit(
        self,
        table: str,
        df: DataFrame,
        round_: int,
        mode: str = "snapshot",
        metrics: dict | None = None,
        n_rows: int | None = None,
    ) -> dict:
        """Write df as a new snapshot (full rewrite) or delta (append).

        Returns the manifest dict. Row/file counts are recorded per commit —
        the 'per-partition lineage + metrics' the north_rule asks for. Pass
        ``n_rows`` when the caller already knows it (skips a re-count job).
        """
        version, data_dir = self._new_data_dir(table, mode)
        df.write.mode("overwrite").parquet(data_dir)
        files = sorted(f for f in os.listdir(data_dir) if f.endswith(".parquet"))
        if not files:
            # a zero-partition write leaves no schema-bearing file; force one
            # empty part file so later reads see the schema
            self.spark.createDataFrame([], df.schema).repartition(1).write.mode(
                "overwrite"
            ).parquet(data_dir)
            files = sorted(f for f in os.listdir(data_dir) if f.endswith(".parquet"))
        # per-partition lineage straight from the parquet footers (no Spark
        # job): exact row count per file, cross-checking the write
        import pyarrow.parquet as pq

        per_file = [
            {"file": f,
             "rows": pq.ParquetFile(os.path.join(data_dir, f)).metadata.num_rows}
            for f in files
        ]
        footer_rows = sum(p["rows"] for p in per_file)
        if n_rows is not None and n_rows != footer_rows:
            raise RuntimeError(
                f"commit {table} v{version}: caller expected {n_rows} rows, "
                f"footers say {footer_rows}"
            )
        return self._write_manifest(
            table, version, mode, round_, data_dir, per_file, metrics
        )

    def commit_pylist(
        self,
        table: str,
        spark_schema,
        rows: list[tuple],
        round_: int,
        mode: str = "delta",
        metrics: dict | None = None,
    ) -> dict:
        """Commit a driver-resident micro-batch (empty frames, bookkeeping
        rows) WITHOUT a Spark job: pyarrow writes the parquet part file
        directly (a createDataFrame + df.write round-trip costs ~0.5 s of
        job scheduling for 0-1 rows; bootstrap pays it five times). The
        manifest is identical to commit()'s, and Spark reads the file like
        any other delta. Only for KB-sized driver data — real table deltas
        go through commit()."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        version, data_dir = self._new_data_dir(table, mode)
        os.makedirs(data_dir, exist_ok=True)
        arrow_schema = to_arrow_schema(spark_schema)
        cols = [
            pa.array([r[i] for r in rows], type=arrow_schema.field(i).type)
            for i in range(len(arrow_schema))
        ]
        part = os.path.join(data_dir, "part-00000.parquet")
        pq.write_table(pa.Table.from_arrays(cols, schema=arrow_schema), part)
        return self._write_manifest(
            table, version, mode, round_, data_dir,
            [{"file": "part-00000.parquet", "rows": len(rows)}], metrics,
        )

    def _manifests(self, table: str, max_round: int | None = None) -> list[dict]:
        """All manifests for a table up to max_round, in version order."""
        tdir = os.path.join(self.warehouse, table)
        if not os.path.isdir(tdir):
            return []
        out = []
        for fn in sorted(os.listdir(tdir)):
            if not fn.startswith("manifest-"):
                continue
            with open(os.path.join(tdir, fn)) as f:
                m = json.load(f)
            if max_round is not None and m["round"] > max_round:
                continue
            out.append(m)
        out.sort(key=lambda m: m["snapshot_id"])
        return out

    def load_merge(
        self, table: str, key_cols: tuple[str, ...], max_round: int | None = None
    ) -> DataFrame | None:
        """Merge-on-read for mutable tables (frontier, sitemaps): latest
        snapshot = base, later delta commits apply LAST-WRITER-WINS per key.

        This is the 100-TB shape for per-round status updates: a round
        commits only its touched rows (KBs) instead of rewriting a 10^10-row
        snapshot; the full rewrite cost is paid only at compaction
        (engine.flush every ``COMPACT_EVERY`` flushes). Each delta commit
        must be key-unique (the engine folds a round's updates before
        committing); across commits the higher snapshot_id wins.
        """
        manifests = self._manifests(table, max_round)
        if not manifests:
            return None
        snaps = [m for m in manifests if m["kind"] == "snapshot"]
        base_m = snaps[-1] if snaps else None
        base_v = base_m["snapshot_id"] if base_m else -1
        deltas = [
            m for m in manifests
            if m["kind"] == "delta" and m["snapshot_id"] > base_v and m["n_rows"] > 0
        ]
        base = self.spark.read.parquet(base_m["data_dir"]) if base_m else None
        if not deltas:
            if base is not None:
                return base
            # schema-only: every delta empty
            return self.spark.read.parquet(manifests[-1]["data_dir"])
        parts = [
            self.spark.read.parquet(m["data_dir"]).withColumn(
                "_v", F.lit(m["snapshot_id"])
            )
            for m in deltas
        ]
        dd = parts[0]
        for p in parts[1:]:
            dd = dd.unionByName(p)
        w = Window.partitionBy(*key_cols).orderBy(F.col("_v").desc())
        latest = (
            dd.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_v")
        )
        if base is None:
            return latest
        return base.join(
            latest.select(*key_cols), list(key_cols), "left_anti"
        ).unionByName(latest)

    def latest_manifest(self, table: str, max_round: int | None = None) -> dict | None:
        manifests = self._manifests(table, max_round)
        return manifests[-1] if manifests else None

    def load(self, table: str, max_round: int | None = None) -> DataFrame | None:
        """Load a table's current state: latest snapshot, or union of deltas.

        ``max_round`` implements time travel for resume: ignore commits made
        after that round.
        """
        manifests = self._manifests(table, max_round)
        if not manifests:
            return None
        latest = manifests[-1]
        if latest["kind"] == "snapshot":
            return self.spark.read.parquet(latest["data_dir"])
        # delta table: read every delta dir up to max_round at once
        dirs = [m["data_dir"] for m in manifests if m["n_rows"] > 0]
        if not dirs:
            return self.spark.read.parquet(latest["data_dir"])  # schema-only
        return self.spark.read.parquet(*dirs)

    # ---------------- round-level manifests (resume points) ----------------
    def commit_round(self, round_: int, state: dict) -> None:
        path = os.path.join(self.warehouse, "_rounds", f"round-{round_:05d}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"round": round_, **state}, f, indent=1)
        os.replace(tmp, path)  # atomic: resume never sees partial rounds

    def last_round(self) -> dict | None:
        rdir = os.path.join(self.warehouse, "_rounds")
        files = sorted(f for f in os.listdir(rdir) if f.startswith("round-"))
        if not files:
            return None
        with open(os.path.join(rdir, files[-1])) as f:
            return json.load(f)

    def rollback_to(self, round_: int) -> None:
        """Drop round manifests AND table manifests newer than ``round_`` so a
        re-run's fresh commits don't merge with rolled-back deltas (data dirs
        are retained; without a manifest they are inert and get overwritten
        when their version number is reused)."""
        rdir = os.path.join(self.warehouse, "_rounds")
        for fn in os.listdir(rdir):
            if fn.startswith("round-") and int(fn.split("-")[1].split(".")[0]) > round_:
                os.remove(os.path.join(rdir, fn))
        for table in os.listdir(self.warehouse):
            if table.startswith("_"):
                continue
            for m in self._manifests(table):
                if m["round"] > round_:
                    os.remove(self._manifest_path(table, m["snapshot_id"]))

    def destroy(self) -> None:
        shutil.rmtree(self.warehouse, ignore_errors=True)

    def is_empty(self) -> bool:
        """True when no table commit or round manifest exists yet."""
        if self.last_round() is not None:
            return False
        for entry in os.listdir(self.warehouse):
            tdir = os.path.join(self.warehouse, entry)
            if entry.startswith("_") or not os.path.isdir(tdir):
                continue
            if any(f.startswith("manifest-") for f in os.listdir(tdir)):
                return False
        return True

    def reset(self) -> None:
        """Clear the warehouse for a fresh bootstrap (re-running on a used
        --warehouse without --resume must not merge the old run's deltas
        into the new crawl)."""
        self.destroy()
        os.makedirs(os.path.join(self.warehouse, "_rounds"), exist_ok=True)
