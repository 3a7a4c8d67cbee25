"""Structured Streaming surfaces.

The reference is strictly batch (a CLI frontend writes cpg.bin, overlays run
in-process — SURVEY.md §3); streaming is a capability the Spark re-design
adds on top of the same stage functions:

* ``stream_cpg`` — incremental CPG construction: ``readStream`` over a
  source-table directory (new parquet files = new repos/commits), the SAME
  ``parse_source``/``with_ids``/edge-derivation functions applied per
  micro-batch via ``foreachBatch``, appended to partitioned graph tables.
  Stage functions being pure DataFrame→DataFrame is what makes batch and
  streaming share one implementation.
* ``stream_events_rollup`` — watermarked sliding-window aggregation over the
  events-shaped stream (late data handled by the watermark), the streaming
  twin of datapipe.events_daily.

foreachBatch is used (rather than a continuous sink) because the parse stage
needs mapInPandas + multi-output writes; the batch id gives idempotent
restarts — together with the checkpointLocation this is exactly the north
rule's "resume idempotently from checkpointed stage boundaries" in streaming
form.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from joern_spark import model as M


def read_source_stream(spark: SparkSession, src_dir: str,
                       max_files_per_trigger: int = 16) -> DataFrame:
    """Streaming view of a growing source-code table directory."""
    return (spark.readStream
            .schema(M.SOURCE_SCHEMA)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(src_dir))


def stream_cpg(spark: SparkSession, src_dir: str, out_dir: str,
               checkpoint_dir: str | None = None,
               trigger_once: bool = False):
    """Incrementally parse arriving source files into appended nodes/edges
    parquet tables. Returns the StreamingQuery."""
    from joern_spark.operators.parse import derived_edges, parse_source, with_ids

    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_checkpoint")
    stream = read_source_stream(spark, src_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        nodes = with_ids(parse_source(batch_df))
        # batch-scoped staging keeps the write idempotent: reprocessing a
        # batch after a crash overwrites the same directory
        nodes_path = os.path.join(out_dir, "nodes", f"batch={batch_id}")
        nodes.write.mode("overwrite").parquet(nodes_path)
        staged = batch_df.sparkSession.read.parquet(nodes_path)
        ok = staged.filter(F.col("parse_error") == "")
        edges = derived_edges(ok)
        edges.write.mode("overwrite").parquet(
            os.path.join(out_dir, "edges", f"batch={batch_id}"))

    writer = (stream.writeStream
              .option("checkpointLocation", checkpoint_dir)
              .foreachBatch(process_batch))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_events_rollup(spark: SparkSession, events_dir: str,
                         window: str = "1 day", watermark: str = "2 days",
                         schema=None) -> DataFrame:
    """Watermarked tumbling-window per-type rollup over a growing events
    table — returns the (unstarted) streaming DataFrame so callers choose
    the sink. Late rows beyond the watermark are dropped deterministically."""
    if schema is None:
        schema = ("event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")
    ev = (spark.readStream.schema(schema).parquet(events_dir))
    return (ev.withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.col("w.start").cast("date").cast("string").alias("day"),
                    "event_type", "n", "sum_value"))
