"""spark-submit entry point for the flagship pipeline (north rule:
"launched via spark-submit --py-files on a multi-executor cluster").

Packages and launch (cluster):

    cd /root/repo && zip -r /tmp/gdal_spark.zip gdal_spark
    spark-submit --master <cluster-master> \\
        --py-files /tmp/gdal_spark.zip \\
        tools/submit_job.py \\
        --input  <docs table path or Iceberg identifier> \\
        --output <output dir> \\
        --job-id tiles_v1 --zoom 12 --res 6 --buckets 64

The job is the headline spatial-join + tile-assignment over the
interleaved-document table, run through checkpoint.run_partitioned:
work is bucketed by doc_index ranges (the part key), every finished
bucket writes a manifest row (input snapshot, rows-out, wall-ms), and
a re-submit after a failure resumes from the manifest — only
unfinished buckets run. Lineage + per-partition throughput live in
<output>/_manifest.

Locally (sandbox smoke): spark-submit --master local[8] works the
same; tests/test_checkpoint.py covers resume semantics.
"""
from __future__ import annotations

import argparse
import sys


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--job-id", default="tiles_v1")
    ap.add_argument("--zoom", type=int, default=12)
    ap.add_argument("--res", type=int, default=6)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--snapshot", default="",
                    help="input snapshot id recorded in the manifest "
                         "(e.g. the Iceberg snapshot-id being read)")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from gdal_spark import checkpoint
    from gdal_spark.operators import tiling
    from gdal_spark.operators.spatial_join import spatial_join_points_in_polygons
    from gdal_spark.sources import polygons

    # spark-submit provides master/conf; builder only fills app name
    spark = SparkSession.builder.appName(f"gdal_spark:{args.job_id}").getOrCreate()

    src = (spark.read.table(args.input) if "." in args.input and "/" not in args.input
           else spark.read.parquet(args.input))
    src = src.withColumn("part_key", (F.col("doc_index") % args.buckets).cast("string"))
    cov = polygons.countries64_cover(spark, res=args.res)

    def work(part):
        joined = spatial_join_points_in_polygons(
            part, cov, res=args.res,
            keep_point_cols=["doc_id", "doc_index", "spans", "lon", "lat",
                             "part_key"],
        )
        t = tiling.assign_tiles(joined, zoom=args.zoom)
        return t.select("doc_id", "spans", "poly_id", "tx", "ty_xyz",
                        "quadkey", "part_key")

    metrics = checkpoint.run_partitioned(
        spark,
        base_dir=args.output, job_id=args.job_id,
        input_df=src, part_key_col="part_key", process=work,
        input_snapshot=args.snapshot or args.input,
    )
    print(metrics)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
