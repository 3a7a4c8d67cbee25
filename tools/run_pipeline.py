"""spark-submit entrypoint for the CPG construction pipeline.

Cluster usage (north rule execution contract):

    python tools/make_pyfiles.py                       # builds dist/joern_spark.zip
    spark-submit \
      --master yarn --deploy-mode cluster \
      --num-executors $N --executor-cores 4 --executor-memory 8g \
      --conf spark.sql.adaptive.enabled=true \
      --conf spark.sql.adaptive.skewJoin.enabled=true \
      --conf spark.sql.shuffle.partitions=$((N * 8)) \
      --py-files dist/joern_spark.zip \
      tools/run_pipeline.py \
      --input  s3://bucket/source_table \
      --output s3://bucket/cpg \
      --repartition $((N * 8))

Run twice at N and 4N executors on the same --input for the scaling-
efficiency evidence; the job prints one JSON metrics line (files, wall
seconds, files/sec) for that comparison. Local sandbox equivalent:

    spark-submit --master 'local[8]' --py-files dist/joern_spark.zip \
        tools/run_pipeline.py --input /dev/shm/src --output /dev/shm/cpg
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="source table location")
    ap.add_argument("--output", required=True, help="graph tables location")
    ap.add_argument("--checkpoint", default=None,
                    help="stage-checkpoint dir for idempotent resume")
    ap.add_argument("--langs", default=None, help="comma list, e.g. c,cpp,java")
    ap.add_argument("--repartition", type=int, default=None,
                    help="(repo,lang) repartition width for the parse stage")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    spark = SparkSession.builder.appName("joern_spark_pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from joern_spark.plans.pipeline import build_cpg
    from joern_spark.sources import read_source_table, write_graph_tables

    src = read_source_table(
        spark, args.input,
        langs=args.langs.split(",") if args.langs else None,
        partitions=args.repartition)
    n_files = src.count()

    t0 = time.time()
    out = build_cpg(spark, src, out_dir=args.checkpoint)
    write_graph_tables(out, args.output)
    wall = time.time() - t0
    print(json.dumps({"files": n_files, "wall_sec": round(wall, 2),
                      "files_per_sec": round(n_files / wall, 2)}))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
