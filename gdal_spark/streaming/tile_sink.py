"""Streaming raster sink: density tiles materialized incrementally.

The batch path burns points into z-tiles (ADD-mergeable partial
tiles, operators/rasterize.py); streaming reuses exactly that
property — every micro-batch burns ITS OWN partial tiles and commits
them through the manifest (one snapshot per batch, the Iceberg
append), and a compaction read sums partials per tile.  Because ADD
is associative/commutative, compacted streaming output is bitwise
the batch burn of the same rows, whatever the batch boundaries were
— asserted in tests/test_stream_tile_sink.py.

This is the `writeStream`-to-tile-table composition a continuous
ingest deployment runs: landing files → foreachBatch(burn partials,
manifest-commit) → periodic compaction, resumable at both levels
(stream checkpoint for source progress, manifest snapshots for
committed tiles).
"""

from __future__ import annotations

import os
import tempfile
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_density_tiles(
    spark: SparkSession,
    pages_dir: str,
    out_root: str,
    z: int = 8,
    max_files_per_trigger: int = 1,
) -> list[str]:
    """Consume the pages directory as a file stream (one file per
    micro-batch by default), burn each batch's partial tiles, commit
    each as a parquet snapshot under ``out_root``.  Returns committed
    snapshot paths (one per non-empty batch)."""
    from gdal_spark.operators.rasterize import rasterize_points
    from gdal_spark.sources.pages import geocode_encode

    batch_df = spark.read.parquet(pages_dir)
    ckpt = tempfile.mkdtemp(prefix="gdal_spark_tile_ckpt_")
    os.makedirs(out_root, exist_ok=True)
    committed: list[str] = []

    def sink(batch: DataFrame, batch_id: int) -> None:
        geo = geocode_encode(batch, res_list=(7,)).select("page_id", "lon", "lat")
        tiles = rasterize_points(geo, z=z)
        path = os.path.join(out_root, f"snap_{batch_id:05d}")
        tiles.write.mode("overwrite").parquet(path)
        committed.append(path)

    q = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .queryName("tile_sink_" + uuid.uuid4().hex[:8])
        .start()
    )
    q.awaitTermination()
    return committed


def compact_tiles(spark: SparkSession, snapshot_paths: list[str]) -> DataFrame:
    """Sum the partial-tile snapshots per (tx, ty) — the periodic
    compaction job; snapshots ADD-merge by per-pixel sum."""
    from gdal_spark.operators.rasterize import TILE_SCHEMA

    parts = spark.read.parquet(*snapshot_paths)

    def merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
        dt = np.dtype(pdf["dtype"].iloc[0])
        acc = np.frombuffer(pdf["data"].iloc[0], dtype=dt).copy()
        for blob in pdf["data"].iloc[1:]:
            acc += np.frombuffer(blob, dtype=dt)
        out = pdf.iloc[:1].copy()
        out["data"] = [acc.tobytes()]
        return out

    return parts.groupBy("tx", "ty").applyInPandas(merge, TILE_SCHEMA)
