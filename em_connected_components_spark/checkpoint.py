"""Per-round checkpointing with resume — the engine's durability layer.

The reference is resumable only by rerunning from the input file; the graft
contract (BASELINE.json north_rule) requires every superstep to checkpoint
contracted-edge and label tables with round metrics so a killed job resumes
mid-Boruvka. In a catalog deployment these would be Iceberg tables with
snapshot metadata; this container has no Iceberg jars, so the same contract
is implemented as parquet round directories plus an atomically-replaced JSON
manifest (write-to-temp + rename). Checkpointing also truncates Catalyst
lineage — without it, iterative join plans grow without bound.

Cluster-portability: every filesystem touch (manifest read/write/rename,
lineage listing, mkdir, clear) goes through the Hadoop FileSystem API via the
JVM gateway — NOT the driver-local ``os`` module — so a checkpoint root on
HDFS/S3/any configured defaultFS works exactly like a local path. The
manifest commit keeps rename semantics: FileContext.rename(OVERWRITE) where
the filesystem provides it (atomic on HDFS and local), with a
delete-then-rename fallback for stores without an AbstractFileSystem binding
(object stores have no atomic rename anyway).
"""

from __future__ import annotations

import copy
import json
import time

from pyspark.sql import DataFrame, SparkSession


class _HadoopFS:
    """Thin wrapper over org.apache.hadoop.fs.FileSystem for one root URI.

    All paths are strings (plain or scheme-qualified); the FileSystem is
    resolved once from the root against the session's Hadoop configuration,
    so ``file:``, ``hdfs:``, ``s3a:`` etc. roots all route correctly.
    """

    def __init__(self, spark: SparkSession, root: str):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        self._conf = sc._jsc.hadoopConfiguration()
        self._root_path = self.path(root)
        self.fs = self._root_path.getFileSystem(self._conf)

    def path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def mkdirs(self, p: str) -> None:
        self.fs.mkdirs(self.path(p))

    def exists(self, p: str) -> bool:
        return bool(self.fs.exists(self.path(p)))

    def delete(self, p: str, recursive: bool = True) -> None:
        self.fs.delete(self.path(p), recursive)

    def read_bytes(self, p: str) -> bytes:
        stream = self.fs.open(self.path(p))
        try:
            # commons-io ships with Hadoop; reads the full stream JVM-side
            data = self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        finally:
            stream.close()
        return bytes(data)

    def write_bytes(self, p: str, data: bytes) -> None:
        out = self.fs.create(self.path(p), True)  # overwrite=True
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    def rename_overwrite(self, src: str, dst: str) -> None:
        """Rename src over dst — atomic where the FS supports it (HDFS,
        local) via FileContext(Options.Rename.OVERWRITE); falls back to
        delete+rename on stores with no AbstractFileSystem binding."""
        from py4j.protocol import Py4JJavaError

        src_p, dst_p = self.path(src), self.path(dst)
        try:
            fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                dst_p.toUri(), self._conf
            )
            rename_enum = getattr(
                self._jvm.org.apache.hadoop.fs, "Options$Rename"
            )
            opts = self._gateway.new_array(rename_enum, 1)
            opts[0] = rename_enum.OVERWRITE
            fc.rename(src_p, dst_p, opts)
        except Py4JJavaError:
            # e.g. UnsupportedFileSystemException for s3a's missing
            # AbstractFileSystem: no atomic rename exists there at all
            if self.fs.exists(dst_p):
                self.fs.delete(dst_p, False)
            self.fs.rename(src_p, dst_p)

    def list_files(self, p: str) -> list[tuple[str, int]]:
        """(name, bytes) for every plain file directly under p, name-sorted."""
        out = []
        for st in self.fs.listStatus(self.path(p)):
            if st.isFile():
                out.append((st.getPath().getName(), int(st.getLen())))
        return sorted(out)


def _join(*parts: str) -> str:
    """URI-safe path join (works for plain paths and scheme-qualified URIs)."""
    return "/".join(s.rstrip("/") for s in parts)


class Manifest:
    """One JSON manifest file ``name`` under ``root``, and the tables it
    points at: the single implementation of the commit every durable
    writer in the engine uses (round and phase checkpoints, streaming label
    versions).

    ``read()`` returns the committed manifest, or a copy of ``default``
    before the first commit. ``commit()`` writes ``{name}.tmp`` and renames
    it over the manifest (``_HadoopFS.rename_overwrite``) — the commit
    point: a reader sees the old manifest or the new one, never a partial
    write. ``lineage()`` lists a written table's parquet part files.
    """

    def __init__(
        self, spark: SparkSession, root: str, name: str, default: dict | None
    ):
        self.root = root
        self.fs = _HadoopFS(spark, root)
        self.path = _join(root, name)
        self._default = default

    def at(self, *parts: str) -> str:
        """A path under the root."""
        return _join(self.root, *parts)

    def read(self) -> dict | None:
        if not self.fs.exists(self.path):
            return copy.deepcopy(self._default)
        return json.loads(self.fs.read_bytes(self.path).decode("utf-8"))

    def commit(self, manifest: dict) -> None:
        tmp = self.path + ".tmp"
        self.fs.write_bytes(tmp, json.dumps(manifest, indent=2).encode())
        self.fs.rename_overwrite(tmp, self.path)

    def lineage(self, table_dir: str) -> list[dict]:
        """Per-partition file lineage for a written table: one entry per
        parquet part file with its byte size (the Iceberg-manifest analogue —
        snapshot membership is exactly this file list; north_rule's
        'per-partition lineage'). Listed through the Hadoop FS, so it works
        on whatever filesystem Spark just wrote the table to."""
        return [
            {"file": name, "bytes": size}
            for name, size in self.fs.list_files(table_dir)
            if name.endswith(".parquet")
        ]

    def clear(self) -> None:
        """Delete the root with everything under it, then recreate it."""
        self.fs.delete(self.root, recursive=True)
        self.fs.mkdirs(self.root)


class RoundCheckpointer:
    """Persists (edges, labels) per round under ``root`` and resumes from the
    last completed round. ``root`` may be any Hadoop-resolvable location
    (local path, ``file:`` URI, ``hdfs://...``, ``s3a://...``)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._manifest = Manifest(
            spark, root, "manifest.json", {"rounds": [], "final": None}
        )
        self._manifest.fs.mkdirs(root)

    def _read_manifest(self) -> dict:
        return self._manifest.read()

    def save_round(
        self,
        rnd: int,
        edges: DataFrame,
        labels: DataFrame,
        metrics: dict | None = None,
    ) -> tuple[DataFrame, DataFrame]:
        """Write both tables, commit the manifest (with per-partition file
        lineage and optional round metrics), return re-read (lineage-free)
        DataFrames."""
        edir = self._manifest.at(f"round={rnd}", "edges")
        ldir = self._manifest.at(f"round={rnd}", "labels")
        edges.write.mode("overwrite").parquet(edir)
        labels.write.mode("overwrite").parquet(ldir)
        manifest = self._read_manifest()
        manifest["rounds"] = [r for r in manifest["rounds"] if r["round"] < rnd]
        manifest["rounds"].append(
            {
                "round": rnd,
                "edges": edir,
                "labels": ldir,
                "ts": time.time(),
                "edges_files": self._manifest.lineage(edir),
                "labels_files": self._manifest.lineage(ldir),
                "metrics": metrics or {},
            }
        )
        self._manifest.commit(manifest)
        return self.spark.read.parquet(edir), self.spark.read.parquet(ldir)

    def save_final(self, labels: DataFrame) -> DataFrame:
        # Versioned dir (snapshot semantics): overwriting a fixed location
        # would invalidate DataFrames returned by an earlier run that still
        # point at the old files.
        manifest = self._read_manifest()
        version = manifest.get("final_version", 0) + 1
        fdir = self._manifest.at(f"final_labels_v{version}")
        labels.write.mode("overwrite").parquet(fdir)
        manifest["final"] = fdir
        manifest["final_version"] = version
        self._manifest.commit(manifest)
        return self.spark.read.parquet(fdir)

    def resume(self) -> tuple[int, DataFrame, DataFrame] | None:
        """(next_round, edges, labels) from the last committed round, or None."""
        manifest = self._read_manifest()
        if not manifest["rounds"]:
            return None
        last = max(manifest["rounds"], key=lambda r: r["round"])
        return (
            last["round"] + 1,
            self.spark.read.parquet(last["edges"]),
            self.spark.read.parquet(last["labels"]),
        )

    def final(self) -> DataFrame | None:
        manifest = self._read_manifest()
        if manifest.get("final"):
            return self.spark.read.parquet(manifest["final"])
        return None

    def clear(self) -> None:
        self._manifest.clear()


class PhaseCheckpointer:
    """Named-phase durability for drivers whose structure is not round-shaped
    — the KKT sample-and-filter driver (G8): its natural boundaries are the
    reference recursion's phases (E1/E2 split -> L1 solve -> filter -> L2
    solve -> compose, cpp/FunctionalSubproblemManager.h:430-757), not
    contraction rounds. Each completed phase commits one or more named
    tables plus metrics to an atomically-replaced manifest (same Hadoop-FS
    machinery and rename semantics as RoundCheckpointer; own manifest file
    so both can share a root). A killed run resumes by skipping every
    committed phase and re-reading its tables.

    Phases are strictly ordered by the driver; `completed()` preserves
    commit order. Re-committing a phase (a rerun after an upstream change)
    drops it and every LATER phase from the manifest first — a phase's
    inputs are its predecessors' outputs, so stale successors must never
    survive a predecessor rewrite.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._manifest = Manifest(
            spark, root, "phase_manifest.json", {"phases": []}
        )
        self._manifest.fs.mkdirs(root)

    def completed(self) -> list[str]:
        return [p["name"] for p in self._manifest.read()["phases"]]

    def phase_metrics(self, name: str) -> dict:
        for p in self._manifest.read()["phases"]:
            if p["name"] == name:
                return p.get("metrics", {})
        raise KeyError(f"phase {name!r} not committed")

    def save_phase(
        self,
        name: str,
        tables: dict[str, DataFrame],
        metrics: dict | None = None,
    ) -> dict[str, DataFrame]:
        """Write every table, commit the manifest entry (with per-partition
        file lineage), return re-read (lineage-free) DataFrames by name."""
        dirs: dict[str, str] = {}
        for tname, df in tables.items():
            tdir = self._manifest.at(f"phase={name}", tname)
            df.write.mode("overwrite").parquet(tdir)
            dirs[tname] = tdir
        manifest = self._manifest.read()
        if any(p["name"] == name for p in manifest["phases"]):
            # rewrite: this phase and everything after it are stale
            keep = []
            for p in manifest["phases"]:
                if p["name"] == name:
                    break
                keep.append(p)
            manifest["phases"] = keep
        manifest["phases"].append(
            {
                "name": name,
                "tables": dirs,
                "ts": time.time(),
                "files": {t: self._manifest.lineage(d) for t, d in dirs.items()},
                "metrics": metrics or {},
            }
        )
        self._manifest.commit(manifest)  # commit point of the phase
        return {t: self.spark.read.parquet(d) for t, d in dirs.items()}

    def load_phase(self, name: str) -> dict[str, DataFrame]:
        for p in self._manifest.read()["phases"]:
            if p["name"] == name:
                return {
                    t: self.spark.read.parquet(d)
                    for t, d in p["tables"].items()
                }
        raise KeyError(f"phase {name!r} not committed")

    def clear(self) -> None:
        self._manifest.clear()
