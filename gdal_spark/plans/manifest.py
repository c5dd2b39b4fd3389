"""Per-stage lineage manifest: checkpoint / resume without recompute.

North-rule requirement: every stage checkpoints per-partition lineage
and row/byte metrics to a manifest table so a killed job resumes with
zero recompute of completed work and identical outputs.

Design (the reference's tile-index idea — gdaltindex builds a layer of
tile footprints + paths, apps/gdaltindex_lib.cpp — generalized to
stages):

- A stage = (name, input fingerprint, output path).  The fingerprint
  hashes the stage's parameters + upstream fingerprints, NOT task ids,
  so resume decisions key on *content lineage* (a rerun after code or
  input change recomputes; a rerun after a crash does not).
- ``run_stage`` is write-then-commit: output lands under
  ``<path>/_tmp_<fp>`` and is atomically renamed; the manifest row
  (stage, fp, rows, bytes, n_files, wall_s) is appended only after the
  rename, so a row in the manifest IS the completion marker.
- Spark writes each partition as one file; per-file rows/bytes from
  the parquet footers are recorded as the per-partition metrics.
- One write may commit several stages (``run_stage(parts=...)``: a
  tile burn and its overview levels): one rename, then one row per
  level, each pointing at its own directory of the written table.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


def fingerprint(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(json.dumps(p, sort_keys=True, default=str).encode())
        h.update(b"\x00")
    return h.hexdigest()[:16]


@dataclass
class StageResult:
    stage: str
    fp: str
    path: str
    rows: int
    bytes: int
    n_files: int
    wall_s: float
    resumed: bool


class Manifest:
    """JSONL-backed manifest (one row per completed stage attempt).
    On a cluster this is an Iceberg table; the commit protocol —
    append-after-atomic-rename — is identical."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.path = os.path.join(root, "manifest.jsonl")

    def _read(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def lookup(self, stage: str, fp: str) -> dict | None:
        for row in self._read():
            if row["stage"] == stage and row["fp"] == fp and row["status"] == "done":
                if os.path.exists(row["path"]):
                    return row
        return None

    def record(self, res: StageResult, partitions: list[dict],
               mode: str = "overwrite") -> None:
        row = {
            "mode": mode,
            "stage": res.stage,
            "fp": res.fp,
            "path": res.path,
            "rows": res.rows,
            "bytes": res.bytes,
            "n_files": res.n_files,
            "wall_s": round(res.wall_s, 3),
            "status": "done",
            "ts": time.time(),
            "partitions": partitions,
        }
        with open(self.path, "a") as f:
            f.write(json.dumps(row) + "\n")

    def run_stage(
        self,
        spark: SparkSession,
        stage: str,
        fp_parts: list,
        build: "callable",
        parts: dict[str, int] | None = None,
    ) -> "StageResult | dict[str, StageResult]":
        """Execute-or-resume.  ``build()`` returns the stage DataFrame;
        it only runs when no completed manifest row matches the
        fingerprint.

        ``parts`` ({row name: zoom}) commits one tile-table write as
        several stages, one per pyramid level: the output is
        partitioned on a copy of ``z`` (``z_part=<z>``, so the files
        keep ``z`` itself), renamed once, and then gets one manifest
        row per level, whose path is that level's directory and whose
        wall time is the shared write's.  The stage resumes only when
        every level's row matches and its directory exists; otherwise
        the whole write is redone.  Returns {row name: StageResult}."""
        fp = fingerprint([stage] + fp_parts)
        out_path = os.path.join(self.root, f"{stage}_{fp}")
        dirs = {stage: out_path} if parts is None else {
            name: os.path.join(out_path, f"z_part={z}") for name, z in parts.items()
        }
        hits = {name: self.lookup(name, fp) for name in dirs}
        if all(hit is not None for hit in hits.values()):
            done = {
                name: StageResult(
                    name, fp, hit["path"], hit["rows"], hit["bytes"], hit["n_files"],
                    0.0, resumed=True,
                )
                for name, hit in hits.items()
            }
            return done if parts is not None else done[stage]
        t0 = time.time()
        tmp = os.path.join(self.root, f"_tmp_{stage}_{fp}")
        shutil.rmtree(tmp, ignore_errors=True)
        df = build()
        if parts is None:
            w = df.write
        else:
            w = df.withColumn("z_part", df["z"]).write.partitionBy("z_part")
        w.mode("overwrite").parquet(tmp)
        for z in (parts or {}).values():  # a level with no rows gets no directory
            os.makedirs(os.path.join(tmp, f"z_part={z}"), exist_ok=True)
        shutil.rmtree(out_path, ignore_errors=True)
        os.rename(tmp, out_path)
        wall = time.time() - t0
        done = {}
        for name, path in dirs.items():
            found = self._scan_parts(path)
            done[name] = StageResult(
                name, fp, path, sum(p["rows"] for p in found),
                sum(p["bytes"] for p in found), len(found), wall, False,
            )
            self.record(done[name], found)
        return done if parts is not None else done[stage]

    # --- snapshot history / time travel (the Iceberg read semantics the
    # manifest stands in for: every committed stage attempt is a
    # snapshot row; outputs for DIFFERENT fingerprints live at
    # different paths, so history stays readable until expired) -------

    def snapshots(self, stage: str) -> list[dict]:
        """All committed snapshots of a stage, oldest first — the
        Iceberg snapshot log (one row per commit, with ts, fp, row/byte
        metrics and per-partition lineage)."""
        return [
            r for r in self._read()
            if r["stage"] == stage and r["status"] == "done"
        ]

    def read_as_of(
        self,
        spark: SparkSession,
        stage: str,
        ts: float | None = None,
        snapshot_fp: str | None = None,
    ) -> DataFrame:
        """Time-travel read (Iceberg `VERSION AS OF` / `TIMESTAMP AS
        OF`): the stage's output at the given snapshot fingerprint, or
        the latest snapshot committed at-or-before ``ts``, or the
        current snapshot."""
        rows = self.snapshots(stage)
        if snapshot_fp is not None:
            rows = [r for r in rows if r["fp"] == snapshot_fp]
        elif ts is not None:
            rows = [r for r in rows if r["ts"] <= ts]
        if not rows:
            raise LookupError(f"no snapshot of stage {stage!r} matches")
        row = rows[-1]
        if not os.path.exists(row["path"]):
            raise LookupError(f"snapshot {row['fp']} expired (files removed)")
        if row.get("mode") in ("append", "compact"):
            # append/compact snapshots share one directory: the snapshot
            # IS its file list (exactly Iceberg's manifest-list read)
            files = [os.path.join(row["path"], p["file"])
                     for p in row["partitions"]]
            missing = [f for f in files if not os.path.exists(f)]
            if missing:
                raise LookupError(
                    f"snapshot {row['fp']} expired ({len(missing)} files removed)")
            return spark.read.parquet(*files)
        return spark.read.parquet(row["path"])

    # --- append commits + incremental consumption (the other half of
    # the Iceberg read semantics: an append snapshot adds data files,
    # and an incremental read between two snapshots scans exactly the
    # files the later one added) --------------------------------------

    def append_stage(self, spark: SparkSession, stage: str, df) -> StageResult:
        """Iceberg APPEND commit: the batch's data files are written to
        a tmp dir, moved into the stage directory under a unique commit
        prefix (rename = the atomic step, same protocol as run_stage),
        and the new snapshot row records the CUMULATIVE file list."""
        out_path = os.path.join(self.root, f"{stage}_append")
        os.makedirs(out_path, exist_ok=True)
        prev_snaps = self.snapshots(stage)
        if prev_snaps and prev_snaps[-1].get("mode") not in ("append", "compact"):
            raise ValueError(
                f"stage {stage!r} has overwrite-mode snapshots; append commits "
                "require an append-mode stage (use a distinct stage name)")
        commit_idx = len(prev_snaps)
        t0 = time.time()
        tmp = os.path.join(self.root, f"_tmp_append_{stage}_{commit_idx}")
        shutil.rmtree(tmp, ignore_errors=True)
        df.write.mode("overwrite").parquet(tmp)
        staged = os.path.join(tmp, "_staged")
        os.makedirs(staged, exist_ok=True)
        for fn in sorted(os.listdir(tmp)):
            if fn.endswith(".parquet"):
                os.rename(os.path.join(tmp, fn),
                          os.path.join(staged, f"c{commit_idx:04d}_{fn}"))
        new_names = []
        for fn in sorted(os.listdir(staged)):
            os.rename(os.path.join(staged, fn), os.path.join(out_path, fn))
            new_names.append(fn)
        shutil.rmtree(tmp, ignore_errors=True)
        # cumulative list = previous snapshot's files + this commit's files
        # (NOT a directory scan: replaced files from compactions stay on
        # disk for older snapshots' time travel and must not re-enter)
        prev_parts = prev_snaps[-1]["partitions"] if prev_snaps else []
        import pyarrow.parquet as pq

        parts = list(prev_parts)
        for fn in new_names:
            full = os.path.join(out_path, fn)
            md = pq.ParquetFile(full).metadata
            parts.append({"file": fn, "rows": md.num_rows,
                          "bytes": os.path.getsize(full)})
        rows = sum(p["rows"] for p in parts)
        nbytes = sum(p["bytes"] for p in parts)
        fp = fingerprint([stage, commit_idx, sorted(p["file"] for p in parts)])
        res = StageResult(
            stage, fp, out_path, rows, nbytes, len(parts),
            time.time() - t0, False,
        )
        self.record(res, parts, mode="append")
        return res

    def read_changes(
        self,
        spark: SparkSession,
        stage: str,
        from_fp: str | None = None,
        to_fp: str | None = None,
    ) -> DataFrame:
        """Iceberg INCREMENTAL read (`incremental-from-snapshot`): the
        rows committed after snapshot ``from_fp`` up to ``to_fp`` (or
        the current snapshot) — exactly the data files present in the
        later cumulative file list and absent from the earlier one.
        ``from_fp=None`` reads everything up to ``to_fp``."""
        snaps = self.snapshots(stage)
        by_fp = {r["fp"]: r for r in snaps}
        if to_fp is None:
            if not snaps:
                raise LookupError(f"no snapshot of stage {stage!r}")
            to_row = snaps[-1]
        elif to_fp in by_fp:
            to_row = by_fp[to_fp]
        else:
            raise LookupError(f"unknown snapshot {to_fp!r} of stage {stage!r}")
        if from_fp is not None and from_fp not in by_fp:
            raise LookupError(f"unknown snapshot {from_fp!r} of stage {stage!r}")
        old_files: set[str] = set()
        if from_fp is not None:
            old_files = {p["file"] for p in by_fp[from_fp]["partitions"]}
            # a compaction REPLACES files: rows between the snapshots can
            # no longer be identified by file-set difference (Iceberg
            # refuses incremental reads across overwrite snapshots too)
            i_from = next(i for i, r in enumerate(snaps) if r["fp"] == from_fp)
            i_to = next(i for i, r in enumerate(snaps) if r["fp"] == to_row["fp"])
            for r in snaps[i_from + 1 : i_to + 1]:
                # anything that REPLACES files (compaction, or an
                # overwrite run_stage snapshot sharing the stage name)
                # breaks the file-set-difference identity — refuse
                # loudly instead of silently returning wrong rows
                if r.get("mode") != "append":
                    raise LookupError(
                        "incremental read across a non-append snapshot "
                        f"(mode={r.get('mode')!r})")
        new_files = [
            os.path.join(to_row["path"], p["file"])
            for p in to_row["partitions"]
            if p["file"] not in old_files
        ]
        if not new_files:
            first = spark.read.parquet(to_row["path"])
            return first.limit(0)
        return spark.read.parquet(*new_files)

    def compact_stage(self, spark: SparkSession, stage: str,
                      target_files: int = 1) -> StageResult:
        """Iceberg ``rewrite_data_files``: read the current append
        snapshot, rewrite it as ``target_files`` files under a new
        commit prefix, and commit a snapshot whose file list REPLACES
        the old one (mode 'compact').  The replaced files stay on disk
        so older snapshots remain time-travel-readable until expired —
        exactly Iceberg's snapshot-retention model."""
        snaps = self.snapshots(stage)
        if not snaps:
            raise LookupError(f"no snapshot of stage {stage!r} to compact")
        cur = snaps[-1]
        out_path = cur["path"]
        commit_idx = len(snaps)
        t0 = time.time()
        df = self.read_as_of(spark, stage, snapshot_fp=cur["fp"])
        tmp = os.path.join(self.root, f"_tmp_compact_{stage}_{commit_idx}")
        shutil.rmtree(tmp, ignore_errors=True)
        df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
        new_files = []
        for fn in sorted(os.listdir(tmp)):
            if fn.endswith(".parquet"):
                dst = f"c{commit_idx:04d}_{fn}"
                os.rename(os.path.join(tmp, fn), os.path.join(out_path, dst))
                new_files.append(dst)
        shutil.rmtree(tmp, ignore_errors=True)
        import pyarrow.parquet as pq

        parts = []
        for fn in new_files:
            full = os.path.join(out_path, fn)
            md = pq.ParquetFile(full).metadata
            parts.append({"file": fn, "rows": md.num_rows,
                          "bytes": os.path.getsize(full)})
        rows = sum(p["rows"] for p in parts)
        nbytes = sum(p["bytes"] for p in parts)
        fp = fingerprint([stage, commit_idx, sorted(p["file"] for p in parts)])
        res = StageResult(stage, fp, out_path, rows, nbytes, len(parts),
                          time.time() - t0, False)
        self.record(res, parts, mode="compact")
        return res

    @staticmethod
    def _scan_parts(path: str) -> list[dict]:
        import pyarrow.parquet as pq

        out = []
        for dirpath, _, files in os.walk(path):
            for fn in files:
                if fn.endswith(".parquet"):
                    full = os.path.join(dirpath, fn)
                    md = pq.ParquetFile(full).metadata
                    out.append(
                        {
                            "file": os.path.relpath(full, path),
                            "rows": md.num_rows,
                            "bytes": os.path.getsize(full),
                        }
                    )
        return out
