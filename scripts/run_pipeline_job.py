"""Production job entry — the ``spark-submit --py-files`` deployment path
(BASELINE.json:14):

    cd /root/repo && zip -qr /tmp/osmi_water_spark.zip osmi_water_spark
    spark-submit --py-files /tmp/osmi_water_spark.zip \\
        scripts/run_pipeline_job.py <pages_dir> <out_dir> [--salt K] [--tile-z Z]

Reads the pages table (parquet here; Iceberg in production), runs the full
waterway pipeline with per-stage checkpoints + lineage into <out_dir>,
resumable with --resume. On a cluster, executor count/parallelism comes
from spark-submit flags; the job code is identical.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("pages_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--salt", type=int, default=1)
    ap.add_argument("--tile-z", type=int, default=8)
    ap.add_argument("--cell-res", type=int, default=7)
    ap.add_argument("--resume", action="store_true")
    args = ap.parse_args()

    # session comes from spark-submit's conf on a real cluster; the builder
    # only fills gaps when run standalone
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("osmi-water-pipeline")
        # no call-site capture (as in osmi_water_spark.session.get_spark):
        # every DataFrame/Column call would walk the Python stack and add
        # py4j round-trips. What is lost: when a query fails, its error no
        # longer names the Python file:line of the DataFrame call that
        # built the failing expression.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from osmi_water_spark.plans.pipeline import run_pipeline
    from osmi_water_spark.schemas import PAGES

    pages = spark.read.schema(PAGES).parquet(args.pages_dir)
    out = run_pipeline(
        spark, pages, out_dir=args.out_dir, cell_res=args.cell_res,
        tile_z=args.tile_z, salt=args.salt, resume=args.resume,
    )
    for name in ("polygons", "relations", "ways", "nodes", "tile_validation"):
        print(f"{name}: {out[name].count()} rows")


if __name__ == "__main__":
    main()
