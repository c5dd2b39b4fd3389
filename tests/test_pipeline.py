"""North-rule pipeline guarantees: manifest resume without recompute,
byte-identical text per url, join-strategy row parity,
expression-vs-kernel cell parity, and the pipeline's Spark job shape."""

from __future__ import annotations

import json
import os
import shutil
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.operators.spatial_join import (
    spatial_join_points_in_polygons,
    with_cell,
    with_cell_kernel,
)
from gdal_spark.plans.pipeline import metro_zones, run_pipeline
from gdal_spark.session import local_df
from gdal_spark.sources.pages import geocode_encode, synth_pages, synth_pages_pdf

N_PAGES = 20_000


@pytest.fixture(scope="module")
def pipe(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pipe"))
    results = run_pipeline(spark, N_PAGES, root, base_z=8, min_z=6, partitions=8)
    return root, results


def _traced_run(spark, root: str, min_z: int) -> dict:
    """run_pipeline at base_z=8 with every stage in its own Spark job
    group: per stage, the jobs its ``build()`` ran, the jobs the whole
    stage ran, and the DataFrame the build returned."""
    from gdal_spark.plans import manifest as M

    sc = spark.sparkContext
    run_id = uuid.uuid4().hex
    orig = M.Manifest.run_stage
    seen: dict[str, dict] = {}

    def jobs(group: str) -> int:
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def run_stage(mf, spark_, stage, fp_parts, build, **kw):
        stage_group, build_group = f"{run_id}-stage-{stage}", f"{run_id}-build-{stage}"
        seen[stage] = {}

        def traced_build():
            sc.setJobGroup(build_group, stage)
            try:
                seen[stage]["df"] = build()
            finally:
                sc.setJobGroup(stage_group, stage)
            return seen[stage]["df"]

        sc.setJobGroup(stage_group, stage)
        try:
            return orig(mf, spark_, stage, fp_parts, traced_build, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            seen[stage]["build_jobs"] = jobs(build_group)
            seen[stage]["jobs"] = jobs(stage_group) + seen[stage]["build_jobs"]

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(M.Manifest, "run_stage", run_stage)
        run_pipeline(spark, N_PAGES, root, base_z=8, min_z=min_z, partitions=8)
    return seen


@pytest.fixture(scope="module")
def traced(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("traced"))
    return root, _traced_run(spark, root, min_z=5)


def test_stage_builds_run_no_job(spark, traced):
    """Every stage reads its input with a named schema, so building its
    DataFrame (before the write) runs no Spark job; that holds for a
    pyramid level beyond the fused cap too."""
    root, seen = traced
    assert set(seen) == {"pages", "geocode", "zone_join", "tiles"}
    assert {s: v["build_jobs"] for s, v in seen.items()} == dict.fromkeys(seen, 0)
    beyond = _traced_run(spark, root, min_z=4)  # resumes all but pyramid_z4
    assert set(beyond) == set(seen) | {"pyramid_z4"}
    assert "df" in beyond["pyramid_z4"] and beyond["pyramid_z4"]["build_jobs"] == 0


def test_geocode_plan_has_no_exchange(traced):
    """The geocode stage keeps the pages' scan order: no repartition."""
    _, seen = traced
    plan = seen["geocode"]["df"]._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_spark_jobs_per_pipeline_job(traced):
    """One pipeline job past the pages is 6 Spark jobs: the geocode
    write; the zone join's broadcast and write; the burn's pixel and
    ancestor shuffle map stages and its write."""
    _, seen = traced
    assert {s: v["jobs"] for s, v in seen.items() if s != "pages"} == {
        "geocode": 1, "zone_join": 2, "tiles": 3,
    }


def test_geocode_schema_is_build_schema(traced):
    """The schema the join and burn read the geocode table with is the
    one its build writes (names and types)."""
    from gdal_spark.plans.pipeline import GEOCODE_SCHEMA

    _, seen = traced
    built = seen["geocode"]["df"].schema
    assert [(f.name, f.dataType) for f in GEOCODE_SCHEMA] == [
        (f.name, f.dataType) for f in built
    ]


def test_pipeline_stages_complete(pipe):
    root, results = pipe
    assert set(results) >= {"pages", "geocode", "zone_join", "tiles",
                            "pyramid_z7", "pyramid_z6"}
    for name, res in results.items():
        assert res.rows > 0, name
        assert os.path.exists(res.path), name
        assert not res.resumed, name


def test_pipeline_resume_zero_recompute(spark, pipe):
    root, first = pipe
    again = run_pipeline(spark, N_PAGES, root, base_z=8, min_z=6, partitions=8)
    for name, res in again.items():
        assert res.resumed, f"{name} recomputed on resume"
        assert res.rows == first[name].rows
        assert res.path == first[name].path


def test_pipeline_resume_after_kill(spark, pipe):
    """Simulate a mid-run kill: destroy one stage output; only that
    stage (and nothing upstream) recomputes, and its metrics match."""
    root, first = pipe
    victim = first["tiles"]
    shutil.rmtree(victim.path)
    again = run_pipeline(spark, N_PAGES, root, base_z=8, min_z=6, partitions=8)
    assert not again["tiles"].resumed
    assert again["pages"].resumed and again["geocode"].resumed
    assert again["tiles"].rows == victim.rows
    assert again["tiles"].bytes == victim.bytes


def _tile_sum(path: str) -> int:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["data", "dtype"]).to_pydict()
    return int(sum(np.frombuffer(d, dtype=np.dtype(k)).sum()
                   for d, k in zip(t["data"], t["dtype"])))


def test_pipeline_resume_after_level_loss(spark, pipe):
    """Losing one fused pyramid level rebuilds the whole tiles stage
    (every level is one write) and nothing upstream of it."""
    root, first = pipe
    shutil.rmtree(first["pyramid_z7"].path)
    again = run_pipeline(spark, N_PAGES, root, base_z=8, min_z=6, partitions=8)
    assert again["pages"].resumed and again["geocode"].resumed
    assert again["zone_join"].resumed
    for name in ("tiles", "pyramid_z7", "pyramid_z6"):
        assert not again[name].resumed, name
        assert again[name].path == first[name].path
        assert again[name].rows == first[name].rows, name
        assert again[name].bytes == first[name].bytes, name


def test_pipeline_levels_beyond_fused_cap(spark, tmp_path):
    """base_z - min_z = 4: the tiles stage fuses z7..z5 and z4 is one
    chained pyramid_level stage over z5; every level sums to the page
    count and reads back with the full tile schema."""
    root = str(tmp_path / "pipe4")
    res = run_pipeline(spark, N_PAGES, root, base_z=8, min_z=4, partitions=8)
    levels = ["tiles", "pyramid_z7", "pyramid_z6", "pyramid_z5", "pyramid_z4"]
    assert [k for k in res if k.startswith(("tiles", "pyramid_"))] == levels
    assert {res[k].fp for k in levels[:4]} == {res["tiles"].fp}
    assert res["pyramid_z4"].fp != res["tiles"].fp
    assert os.path.dirname(res["pyramid_z5"].path) == os.path.dirname(res["tiles"].path)
    for z, name in zip(range(8, 3, -1), levels):
        assert _tile_sum(res[name].path) == N_PAGES, name
        df = spark.read.parquet(res[name].path)
        assert df.columns == ["z", "tx", "ty", "band", "data", "dtype", "nodata"]
        assert {r.z for r in df.select("z").distinct().collect()} == {z}, name


def test_manifest_partition_metrics(pipe):
    root, results = pipe
    with open(os.path.join(root, "manifest.jsonl")) as f:
        rows = [json.loads(line) for line in f]
    by_stage = {r["stage"]: r for r in rows}
    for name, res in results.items():
        m = by_stage[name]
        assert m["rows"] == res.rows
        # per-partition lineage: per-file row/byte metrics present & consistent
        assert sum(p["rows"] for p in m["partitions"]) == m["rows"]
        assert all(p["bytes"] > 0 for p in m["partitions"])


def test_text_byte_identical_per_url(spark, pipe):
    """input_hint invariant: text reachable from any pipeline output
    (derived stages are narrow and join back to the corpus on page_id)
    is byte-identical to independent re-synthesis, keyed by url."""
    root, results = pipe
    joined = spark.read.parquet(results["zone_join"].path)
    pages = spark.read.parquet(results["pages"].path)
    sample = (
        joined.select("page_id", "zone_id")
        .join(pages.select("page_id", "url", "text"), "page_id")
        .limit(500)
        .toPandas()
    )
    assert len(sample) > 0
    resynth = synth_pages_pdf(0, N_PAGES).set_index("page_id")
    for _, row in sample.iterrows():
        ref = resynth.loc[row["page_id"]]
        assert ref["url"] == row["url"]
        assert ref["text"].encode() == row["text"].encode()


def test_join_list_vs_dataframe_side_parity(spark):
    """The two physical plans — the zones as a list (broadcast cover)
    and the same zones as a DataFrame (shuffle-hash join on the
    distributed cover) — produce identical logical output."""
    pages = synth_pages(spark, 3000, partitions=4)
    geo = geocode_encode(pages).select("page_id", "lon", "lat")
    zones = metro_zones()
    a = spatial_join_points_in_polygons(geo, zones, poly_id_col="zone_id")
    b = spatial_join_points_in_polygons(
        geo, local_df(spark, zones, "zone_id long, geom binary"),
        poly_id_col="zone_id",
    )
    pa = sorted(map(tuple, a.select("page_id", "zone_id").collect()))
    pb = sorted(map(tuple, b.select("page_id", "zone_id").collect()))
    assert pa == pb
    assert len(pa) > 0


def test_cell_expr_matches_kernel(spark):
    """JVM codegen cell id == NumPy kernel cell id, including grid-edge
    and cell-boundary points."""
    rng = np.random.default_rng(7)
    lons = np.concatenate(
        [rng.uniform(-180, 180, 2000),
         np.array([-180.0, 180.0, 0.0, -1e-12, 2.8125, -2.8125])]
    )
    lats = np.concatenate(
        [rng.uniform(-90, 90, 2000),
         np.array([90.0, -90.0, 0.0, 1.40625, -1.40625, 45.0])]
    )
    pdf = [(float(a), float(b)) for a, b in zip(lons, lats)]
    df = spark.createDataFrame(pdf, "lon double, lat double")
    for res in (7, 9, 12):
        got = (
            with_cell_kernel(with_cell(df, res=res, out="e"), res=res, out="k")
            .filter(F.col("e") != F.col("k"))
            .count()
        )
        assert got == 0, f"res={res}: {got} mismatches"
