"""spark-submit entry point: the flagship pages pipeline, cluster-style.

    spark-submit --py-files gdal_spark.zip scripts/run_pipeline.py \
        --pages 100000 --out /tmp/gdal_spark_out

On a real cluster, add --master / --num-executors; the job reads
nothing from the driver's filesystem except the zipped package.
"""

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=100_000)
    ap.add_argument("--out", default="/tmp/gdal_spark_submit_out")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("gdal-spark-pipeline").getOrCreate()

    from gdal_spark.operators.rasterize import rasterize_points
    from gdal_spark.operators.spatial_join import spatial_join_points_in_polygons
    from gdal_spark.plans.pipeline import metro_zones
    from gdal_spark.sources.pages import geocode_encode, synth_pages

    t0 = time.time()
    pages = synth_pages(spark, args.pages, 32)
    geo = geocode_encode(pages, res_list=(7, 9)).select("page_id", "lon", "lat")
    n_joined = spatial_join_points_in_polygons(
        geo, metro_zones(), poly_id_col="zone_id"
    ).count()
    # z8 tiles and the SUM pyramid z7..z5 in one job
    rasterize_points(geo, z=8, min_z=5).write.mode("overwrite").parquet(
        args.out + "_tiles"
    )
    n_tiles = spark.read.parquet(args.out + "_tiles").filter("z = 5").count()
    print(json.dumps({
        "pages": args.pages, "joined": int(n_joined),
        "tiles_z5": int(n_tiles), "wall_s": round(time.time() - t0, 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
