"""Reproducer for a reported failure: `strategy="jvm"` followed by
`tiling.assign_tiles` in a fresh session.

    python3 perfbench/repro_jvm_cold.py

Run from the repository root. The reported error is
INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND ("Could not find lat#... in
[poly_id, cell, ..., maxy]"), seen only when no broadcast-strategy join
ran before in the session, which is why a warm-up that runs another
strategy arm first would hide it. This script runs bench.py's headline
pipeline with the `jvm` arm as the first query of a fresh JVM.

Prints "reproduced" and exits 1 when the failure shows; prints
"not reproduced" and exits 0 otherwise.
"""
from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(Path(__file__).resolve().parent))


def main() -> int:
    import run

    work = ROOT / ".bench_work" / f"repro-{os.getpid()}"
    run.prepare_env(work)
    try:
        return reproduce(work)
    finally:
        run.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def reproduce(work: Path) -> int:
    from pyspark.errors import PySparkException
    from pyspark.sql import functions as F

    from gdal_spark.operators import tiling
    from gdal_spark.operators.spatial_join import spatial_join_points_in_polygons
    from gdal_spark.session import get_spark
    from gdal_spark.sources import docs, polygons

    spark = get_spark("repro-jvm-cold")
    path = str(work / "docs")
    docs.synth_docs(spark, 200_000, partitions=4).write.parquet(path)
    cover = polygons.countries64_cover(spark, res=6)
    joined = spatial_join_points_in_polygons(
        spark.read.parquet(path), cover, res=6, strategy="jvm",
        keep_point_cols=["doc_id", "doc_index", "spans", "lon", "lat"])
    sel = tiling.assign_tiles(joined, zoom=12).select(
        "doc_id", "spans", "poly_id", "tx", "ty_xyz", "quadkey")
    try:
        sel.select(F.bit_xor(F.xxhash64(*sel.columns)), F.count("*")).collect()
    except PySparkException as e:
        print(f"reproduced: {str(e).splitlines()[0][:300]}")
        return 1
    print("not reproduced")
    return 0


if __name__ == "__main__":
    sys.exit(main())
