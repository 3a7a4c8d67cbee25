"""spark-submit entrypoint for the CPG construction pipeline: reads a source
table, builds the graph and writes it as graph tables, then prints one JSON
line (files, wall seconds, files/sec). Cluster usage:

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

Local:

    spark-submit --master 'local[4]' --py-files dist/joern_spark.zip \
        tools/run_pipeline.py --input /tmp/src --output /tmp/cpg

With ``--checkpoint DIR`` the parse stage is kept in DIR, and a re-run over
the same input reads it back instead of re-parsing; the link tail and the
graph tables are rebuilt on every run. The files/sec figure is a single-run
throughput probe, not a gated benchmark (BENCH.md; ``cpgbench/run.py`` is
the gated one).
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
                    help="directory that keeps the parse stage, so a re-run "
                         "over the same input skips parsing")
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
