"""Checkpoint / lineage / resume layer (Iceberg-style, Parquet-backed).

The north rule requires every stage to checkpoint with per-partition lineage
and counters so runs resume idempotently. No Iceberg runtime jar or
pyiceberg exists in this environment (SURVEY.md §7 R4), so this implements
the same semantics as a thin table layer:

- each stage writes Parquet + a ``_manifest.json`` recording the stage name,
  input snapshot ids (sha of upstream manifests), per-file row counts,
  engine/options fingerprint, and a completion flag written LAST
  (write-then-rename, so a crash mid-write never yields a "complete"
  manifest). ``run_stage`` takes the per-file counts from the Parquet
  footers of the files it just wrote, so a stage costs its write and no
  read-back scan; ``compact`` recounts its rewrite with a scan, because
  that count is the check that the rewrite kept every row;
- ``run_stage`` skips execution when a complete manifest with matching
  inputs exists and just reads the table back — idempotent resume;
- every rewrite of a stage creates a NEW versioned snapshot
  (``v000/ v001/ ...``) and archives the superseded manifest, so
  ``read_snapshot(name, version)`` time-travels to any retained version
  and ``snapshots(name)`` lists the full lineage history;
  ``expire_snapshots`` is the Iceberg-style retention maintenance;
- swap-in point for real Iceberg: replace ``_write``/``_read`` with
  ``df.writeTo(...)`` catalog calls; the manifest maps onto Iceberg
  snapshot metadata, versions onto snapshot ids.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _footer_row_counts(files: list[str]) -> list[dict]:
    """Per-file lineage counters read from the Parquet footers the writer
    left (Iceberg-manifest style: counts from writer stats, not a rescan).
    ``files`` are the URIs ``DataFrame.inputFiles()`` lists, which are the
    strings ``input_file_name()`` reports; 0-row files are dropped, as a
    scan would never report them."""
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    out = []
    for f in sorted(files):
        filesystem, fpath = pafs.FileSystem.from_uri(f)
        rows = pq.read_metadata(fpath, filesystem=filesystem).num_rows
        if rows:
            out.append({"file": f, "rows": rows})
    return out


@dataclass
class StageResult:
    name: str
    df: DataFrame
    snapshot_id: str
    resumed: bool
    rows: int


class TableIO:
    """Per-run checkpoint directory with manifest-gated stages."""

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)

    # ------------------------------------------------------------- manifest

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.workdir, name, "_manifest.json")

    def read_manifest(self, name: str) -> dict | None:
        p = self._manifest_path(name)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            m = json.load(f)
        return m if m.get("complete") else None

    def _write_manifest(self, name: str, manifest: dict) -> None:
        p = self._manifest_path(name)
        # unique tmp per writer: a shared ".tmp" name lets two concurrent
        # committers interleave writes into one file and publish a torn mix
        tmp = f"{p}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)
        os.replace(tmp, p)  # atomic: completion appears all-or-nothing

    # ------------------------------------------------------------ commit lock

    @contextmanager
    def _commit_lock(self, name: str):
        """Serializes the short metadata-mutation window (archive current
        manifest / publish successor / expire) across concurrent writers —
        the optimistic-concurrency analog of an Iceberg catalog's atomic
        swap. Data writing stays fully concurrent; only the ms-scale
        pointer swap is exclusive."""
        d = os.path.join(self.workdir, name)
        os.makedirs(d, exist_ok=True)
        lf = open(os.path.join(d, "_commit.lock"), "w")
        try:
            fcntl.flock(lf, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(lf, fcntl.LOCK_UN)
            lf.close()

    # ------------------------------------------------------------ snapshots

    @staticmethod
    def _version_of(m: dict) -> int:
        return int(m.get("version", 0))

    @staticmethod
    def _data_dir_of(m: dict) -> str:
        return m.get("data_dir", "data")

    def snapshots(self, name: str) -> list[dict]:
        """All retained snapshot manifests of a stage, oldest first —
        archived versions (``_manifest.vNNN.json``) plus the current one."""
        d = os.path.join(self.workdir, name)
        if not os.path.isdir(d):
            return []
        out = []
        for fn in os.listdir(d):
            if fn == "_manifest.json" or (
                fn.startswith("_manifest.v") and fn.endswith(".json")
            ):
                try:
                    with open(os.path.join(d, fn)) as f:
                        m = json.load(f)
                except FileNotFoundError:
                    continue  # expired by a concurrent writer between listdir and open
                if m.get("complete"):
                    out.append(m)
        return sorted(out, key=self._version_of)

    def read_snapshot(self, name: str, version: int | None = None) -> DataFrame:
        """Time travel: the stage's table as of ``version`` (default: the
        current snapshot). Raises KeyError for expired/unknown versions."""
        snaps = self.snapshots(name)
        if not snaps:
            raise KeyError(f"stage {name!r} has no complete snapshots")
        if version is None:
            m = snaps[-1]
        else:
            by_v = {self._version_of(s): s for s in snaps}
            if version not in by_v:
                raise KeyError(
                    f"stage {name!r} has no snapshot v{version} "
                    f"(retained: {sorted(by_v)})"
                )
            m = by_v[version]
        return self.spark.read.parquet(
            os.path.join(self.workdir, name, self._data_dir_of(m))
        )

    def expire_snapshots(self, name: str, keep: int = 1) -> int:
        """Iceberg-style retention: drop all but the newest ``keep``
        snapshots (data dirs + archived manifests; the current manifest is
        never removed). Returns the number of snapshots expired."""
        import shutil

        if keep < 1:
            raise ValueError("keep must be >= 1")
        expired = 0
        with self._commit_lock(name):
            snaps = self.snapshots(name)
            cur_m = self.read_manifest(name)
            cur_v = self._version_of(cur_m) if cur_m else None
            for m in snaps[:-keep] if len(snaps) > keep else []:
                v = self._version_of(m)
                if v == cur_v:
                    continue  # never expire the current pointer's snapshot
                ap = os.path.join(self.workdir, name, f"_manifest.v{v:03d}.json")
                # manifest first: a snapshot must stop being advertised
                # before its data disappears (readers between the two see
                # a KeyError, never a listed-but-deleted snapshot)
                try:
                    os.remove(ap)
                except FileNotFoundError:
                    pass
                shutil.rmtree(
                    os.path.join(self.workdir, name, self._data_dir_of(m)),
                    ignore_errors=True,
                )
                expired += 1
        return expired

    # ----------------------------------------------------------- compaction

    def compact(
        self,
        name: str,
        target_file_rows: int = 1 << 20,
        partition_by: tuple[str, ...] = (),
    ) -> StageResult | None:
        """Iceberg-style rewrite-data-files maintenance: rewrite the stage's
        CURRENT snapshot into ``ceil(total_rows / target_file_rows)`` larger
        files as a new snapshot version with IDENTICAL content.

        The small-file problem is the dominant operational failure of
        long-lived incremental tables at scale (every ``run_stage`` rewrite
        or streaming microbatch appends its own file set; scans then pay
        per-file open/footer costs and lose row-group pruning). Compaction
        here mirrors Iceberg's ``rewriteDataFiles``:

        - the logical ``snapshot_id`` is CARRIED OVER unchanged — it names
          table content, which a compaction does not change — so downstream
          stages whose manifests record this stage as an input still resume
          without re-running;
        - the rewrite claims a new version dir via the same atomic-mkdir
          protocol as ``run_stage`` and verifies row-count equality before
          committing;
        - the commit is optimistic: if another writer published a different
          snapshot between our read and our commit, the compaction ABORTS
          (returns None, claimed dir removed) rather than regressing the
          current pointer to stale content;
        - the superseded small-file snapshot stays readable via
          ``read_snapshot`` until ``expire_snapshots`` drops it.

        Returns the new StageResult, or None when there is nothing to do
        (already few enough files, no complete snapshot, or lost the race).
        """
        import math
        import shutil

        src = self.read_manifest(name)
        if src is None:
            snaps = self.snapshots(name)
            src = snaps[-1] if snaps else None
        if src is None:
            return None
        total = int(src["total_rows"])
        want_files = max(1, math.ceil(total / max(target_file_rows, 1)))
        nfiles = len(src.get("partitions", ()))
        if nfiles <= want_files:
            return None
        if partition_by:
            # converged partitioned table = one file per partition-value
            # dir; detect it from the manifest's file paths so a
            # maintenance cycle is a true driver-side no-op (the
            # post-rewrite guard below would still catch it, but only
            # after paying the full rewrite)
            parents = {os.path.dirname(p["file"]) for p in src["partitions"]}
            if nfiles <= len(parents):
                return None

        os.makedirs(os.path.join(self.workdir, name), exist_ok=True)
        snaps = self.snapshots(name)
        version = self._version_of(snaps[-1]) + 1 if snaps else 0
        while True:
            data_dir = f"v{version:03d}"
            path = os.path.join(self.workdir, name, data_dir)
            try:
                os.makedirs(path, exist_ok=False)
                break
            except FileExistsError:
                version += 1

        src_path = os.path.join(self.workdir, name, self._data_dir_of(src))
        df = self.spark.read.parquet(src_path)
        if partition_by:
            # hash-cluster on the partition columns so each partition value
            # lands in ONE task -> one file per value (plain round-robin
            # repartition would write want_files x n_values files — more
            # than the source, and compact() would rewrite forever)
            out_df = df.repartition(want_files, *partition_by)
        else:
            out_df = df.repartition(want_files)
        writer = out_df.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)

        out = self.spark.read.parquet(path)
        per_file = [
            {"file": r["file"], "rows": r["rows"]}
            for r in out.groupBy(F.input_file_name().alias("file"))
            .agg(F.count("*").alias("rows"))
            .collect()
        ]
        new_total = sum(p["rows"] for p in per_file)
        if new_total != total:
            shutil.rmtree(path, ignore_errors=True)
            raise RuntimeError(
                f"compact({name!r}): rewrite produced {new_total} rows, "
                f"source snapshot has {total} — aborted, nothing committed"
            )
        if len(per_file) >= len(src["partitions"]):
            # convergence guard: a rewrite that doesn't reduce the file
            # count (e.g. a partitioned table already at one file per
            # partition value) must not commit, or repeated maintenance
            # calls would burn a full-table rewrite per cycle forever
            shutil.rmtree(path, ignore_errors=True)
            return None

        with self._commit_lock(name):
            cur = self.read_manifest(name)
            if cur is not None and cur.get("snapshot_id") != src["snapshot_id"]:
                # another writer committed new content since we read `src`:
                # publishing our rewrite would point "current" at stale data
                shutil.rmtree(path, ignore_errors=True)
                return None
            cur_p = self._manifest_path(name)
            try:
                with open(cur_p) as f:
                    cur_m = json.load(f)
                os.replace(
                    cur_p,
                    os.path.join(
                        self.workdir,
                        name,
                        f"_manifest.v{self._version_of(cur_m):03d}.json",
                    ),
                )
            except FileNotFoundError:
                pass
            self._write_manifest(
                name,
                {
                    "stage": name,
                    "snapshot_id": src["snapshot_id"],  # content unchanged
                    "version": version,
                    "data_dir": data_dir,
                    "inputs": src.get("inputs", []),
                    "fingerprint": src.get("fingerprint", ""),
                    "partitions": per_file,
                    "total_rows": total,
                    "compacted_from_version": self._version_of(src),
                    "written_at": time.strftime(
                        "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                    ),
                    "complete": True,
                },
            )
        return StageResult(name, out, src["snapshot_id"], False, total)

    # --------------------------------------------------------------- stages

    def run_stage(
        self,
        name: str,
        build: "callable[[], DataFrame]",
        inputs: tuple[str, ...] = (),
        fingerprint: str = "",
        partition_by: tuple[str, ...] = (),
    ) -> StageResult:
        """Execute (or resume) one checkpointed stage.

        ``inputs`` are upstream snapshot ids; ``fingerprint`` encodes the
        options/code version. A stage re-runs iff no complete manifest
        exists or its recorded (inputs, fingerprint) differ.
        """
        want_inputs = list(inputs)
        m = self.read_manifest(name)
        if m is None:
            # kill window: a crash after archiving the superseded manifest
            # but before writing its successor leaves only archived
            # manifests — the newest retained snapshot is the de-facto
            # current one for resume purposes
            archived = self.snapshots(name)
            m = archived[-1] if archived else None
        if (
            m is not None
            and m.get("inputs") == want_inputs
            and m.get("fingerprint") == fingerprint
        ):
            path = os.path.join(self.workdir, name, self._data_dir_of(m))
            df = self.spark.read.parquet(path)
            return StageResult(name, df, m["snapshot_id"], True, m["total_rows"])

        # new snapshot version: superseded data stays readable via
        # read_snapshot until expire_snapshots drops it. Derived from the
        # max over ALL retained snapshots (archived manifests included), not
        # just the current one: a kill between archiving the current
        # manifest and writing its successor leaves no _manifest.json, and
        # restarting at version 0 would overwrite the archived v000
        # snapshot's data while _manifest.v000.json still advertises it.
        # version allocation is CLAIMED by atomically creating the data dir
        # (mkdir is the atomic primitive): two concurrent writers can no
        # longer compute the same max+1 and interleave parquet files into
        # one directory. A retained snapshot's dir also exists, so the scan
        # naturally skips it.
        os.makedirs(os.path.join(self.workdir, name), exist_ok=True)
        snaps = self.snapshots(name)
        version = self._version_of(snaps[-1]) + 1 if snaps else 0
        while True:
            data_dir = f"v{version:03d}"
            path = os.path.join(self.workdir, name, data_dir)
            try:
                os.makedirs(path, exist_ok=False)
                break
            except FileExistsError:
                version += 1  # claimed by a concurrent writer (or retained)

        df = build()
        # mode("append"), NOT "overwrite": the mkdir above is the version
        # claim, and Spark's overwrite DELETES the target dir at job start —
        # destroying the claim marker, so a concurrent writer that computed
        # the same max+1 can re-mkdir the momentarily-missing path and both
        # jobs interleave parquet files into one directory (observed: two
        # file sets union when both deletes precede both commits). The
        # claimed dir is exclusively ours and freshly empty, so append
        # writes exactly this job's output and never drops the claim.
        writer = df.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)

        # read back with the written data schema: no footer schema-inference
        # job. Partition columns are left out so they are still inferred
        # from the directory names, with the same types a plain read gives.
        out = self.spark.read.schema(
            StructType([f for f in df.schema.fields if f.name not in partition_by])
        ).parquet(path)
        per_file = _footer_row_counts(out.inputFiles())
        if partition_by and not per_file:
            # no rows, so no partition directory to infer those columns from
            out = self.spark.read.schema(df.schema).parquet(path)
        total = sum(p["rows"] for p in per_file)
        snapshot_id = hashlib.sha256(
            json.dumps(
                {"name": name, "inputs": want_inputs, "fingerprint": fingerprint,
                 "files": sorted((p["file"], p["rows"]) for p in per_file)},
                sort_keys=True, default=str,
            ).encode()
        ).hexdigest()[:16]
        # Commit: archive the superseded manifest (under ITS OWN recorded
        # version — a concurrent writer may have swapped in a newer current
        # since we read `m`) and publish the successor. flock-serialized:
        # concurrent writers race only on this ms-scale pointer swap; the
        # last committer wins _manifest.json, every committed snapshot
        # stays listed via its archive. Single-writer-per-stage is NOT
        # required for safety, only for a deterministic "current" pointer.
        manifest = {
            "stage": name,
            "snapshot_id": snapshot_id,
            "version": version,
            "data_dir": data_dir,
            "inputs": want_inputs,
            "fingerprint": fingerprint,
            "partitions": per_file,
            "total_rows": total,
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "complete": True,
        }
        with self._commit_lock(name):
            cur = self._manifest_path(name)
            cur_m = None
            try:
                with open(cur) as f:
                    cur_m = json.load(f)
            except FileNotFoundError:
                pass  # no current manifest (first write or mid-kill window)
            if cur_m is not None and self._version_of(cur_m) > version:
                # a concurrent writer committed a NEWER version while we were
                # writing: taking the pointer would regress "current" to older
                # content. Archive ourselves instead — the snapshot stays
                # listed/readable via its archived manifest.
                ap = os.path.join(
                    self.workdir, name, f"_manifest.v{version:03d}.json"
                )
                tmp = f"{ap}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
                with open(tmp, "w") as f:
                    json.dump(manifest, f, indent=2, sort_keys=True)
                os.replace(tmp, ap)
                return StageResult(name, out, snapshot_id, False, total)
            if cur_m is not None:
                os.replace(
                    cur,
                    os.path.join(
                        self.workdir,
                        name,
                        f"_manifest.v{self._version_of(cur_m):03d}.json",
                    ),
                )
            self._write_manifest(name, manifest)
        return StageResult(name, out, snapshot_id, False, total)


def checkpointed_pipeline(
    spark: SparkSession,
    workdir: str,
    docs_df: DataFrame,
    options=None,
    resolutions: tuple[int, ...] = (4, 7, 10),
) -> dict[str, StageResult]:
    """The engine's batch pipeline with a checkpoint per stage:

    extract -> wrap -> per-zoom assignments -> quantized tile features,
    each stage manifest-gated so a killed run resumes where it stopped.
    ``tile_features`` is range-partitioned by zoom for partition pruning on
    pyramid reads.
    """
    from geojson_vt_cpp_spark.config import Options
    from geojson_vt_cpp_spark.operators.convert import extract_features
    from geojson_vt_cpp_spark.operators.pyramid import TilePyramid, quantize
    from geojson_vt_cpp_spark.operators.wrap import wrap_features

    o = options or Options()
    io = TableIO(spark, workdir)
    fp = json.dumps(o.__dict__, sort_keys=True)
    results: dict[str, StageResult] = {}

    tol = (o.tolerance / o.extent) / (1 << o.max_zoom)
    results["features"] = io.run_stage(
        "features",
        lambda: extract_features(docs_df, tol, generate_id=o.generate_id),
        fingerprint=fp,
    )
    results["wrapped"] = io.run_stage(
        "wrapped",
        lambda: wrap_features(
            results["features"].df, o.buffer / o.extent, o.line_metrics
        ),
        inputs=(results["features"].snapshot_id,),
        fingerprint=fp,
    )

    def build_tiles() -> DataFrame:
        # pre_wrapped: the 'wrapped' stage already ran wrap_features —
        # wrapping again would duplicate dateline side copies / GT_EMPTY rows
        pyr = TilePyramid(results["wrapped"].df, o, pre_wrapped=True)
        return pyr.tile_features()

    results["tile_features"] = io.run_stage(
        "tile_features",
        build_tiles,
        inputs=(results["wrapped"].snapshot_id,),
        fingerprint=fp,
        partition_by=("z",),
    )
    return results
