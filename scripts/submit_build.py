"""spark-submit entrypoint for the index build (north_rule: "ships via
spark-submit --py-files to run at N and 4N executors").

Cluster usage:

    zip -r yaii_spark.zip yaii_spark
    spark-submit --py-files yaii_spark.zip scripts/submit_build.py \\
        --input s3://bucket/pages_iceberg --output s3://bucket/index \\
        --seg-size 1048576

Local sandbox smoke:

    python scripts/submit_build.py --input /root/testdata/sf0.01 \\
        --table documents.parquet --output /tmp/idx --seg-size 1024

Re-running the same job skips the segments the index's manifest
already names (--no-resume rebuilds from scratch).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="input table dir (parquet/iceberg)")
    ap.add_argument("--table", default="", help="optional file name under --input")
    ap.add_argument("--output", required=True, help="index output dir")
    ap.add_argument("--seg-size", type=int, default=1 << 20)
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--stored-cols", default="", help="comma-separated")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--master", default=None, help="override master (local runs)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    from yaii_spark.indexer import build_index
    from yaii_spark.session import get_spark
    from yaii_spark.storage import read_table

    if args.master:
        spark = get_spark("yaii-build", master=args.master)
    else:
        # under spark-submit the master/executors come from the submit
        # conf; just attach to (or create) the session
        spark = SparkSession.builder.appName("yaii-build").getOrCreate()

    path = os.path.join(args.input, args.table) if args.table else args.input
    # storage seam: reads the path as an Iceberg table when a catalog
    # is configured, plain parquet otherwise
    pages = read_table(spark, path)
    if args.id_col not in pages.columns:
        # derive a dense deterministic doc_id (stable: order by first col)
        from pyspark.sql import Window as W

        key = pages.columns[0]
        pages = pages.withColumn(
            args.id_col, F.row_number().over(W.orderBy(key)) - 1
        )

    metrics = build_index(
        spark,
        pages,
        args.output,
        seg_size=args.seg_size,
        text_col=args.text_col,
        id_col=args.id_col,
        stored_cols=[c for c in args.stored_cols.split(",") if c] or None,
        resume=not args.no_resume,
    )
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
