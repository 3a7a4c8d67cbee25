"""Source-table readers and graph-table sinks.

Input contract (BASELINE.json input_hint): a table of source-code
repositories with columns ``(repo, path, commit, lang, content)``. At
production scale this is an Iceberg table; this sandbox has no Iceberg
runtime jar, so the implementation reads/writes parquet directory tables
through the SAME ``spark.read.format(...)`` surface — switching to Iceberg
is a format-string + catalog-config change, no pipeline change
(``SPARK_GRAFT_TABLE_FORMAT=iceberg`` env opts in when the runtime has it).

The sink materializes the graph per the north rule: nodes/edges partitioned
(by lang; repo-bucketed ordering within files), plus per-partition lineage
metric rows next to the data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from joern_spark import model as M

TABLE_FORMAT = os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet")

SOURCE_COLS = [f.name for f in M.SOURCE_SCHEMA.fields]


def read_source_table(spark: SparkSession, location: str,
                      langs: list[str] | None = None,
                      repos: list[str] | None = None,
                      partitions: int | None = None) -> DataFrame:
    """Read and validate the source table; lang/repo predicates are plain
    filters so they push down to the scan (partition pruning when the table
    is partitioned on them). The explicit repartition by (repo, lang) is the
    north rule's layout contract for the parse stage: files of one repo+lang
    land together, so per-partition parser state (one grammar per language)
    is reused across an Arrow batch."""
    df = spark.read.format(TABLE_FORMAT).load(location)
    missing = [c for c in SOURCE_COLS if c not in df.columns]
    if missing:
        raise ValueError(f"source table at {location} lacks columns {missing}")
    df = df.select(*SOURCE_COLS)
    if langs:
        df = df.filter(F.col("lang").isin(langs))
    if repos:
        df = df.filter(F.col("repo").isin(repos))
    if partitions:
        df = df.repartition(partitions, "repo", "lang")
    return df


def write_graph_tables(out: dict[str, DataFrame], location: str) -> None:
    """Materialize a build's {nodes, edges, canonical, errors} + metrics as
    tables — the one write of its final relations (``build_cpg`` returns
    them as lazy plans, and its parse stage as ``parsed``).

    Nodes partition on lang (the unit of downstream per-language analysis)
    and sort within files by (repo, full_name) — the parquet stand-in for
    Iceberg's bucketed sort order on method fullname: fullname-keyed lookups
    touch few row groups via min/max stats. Edges partition on label."""
    from joern_spark.plans.pipeline import partition_metrics

    def save(df: DataFrame, table: str, *partition_by: str) -> None:
        w = df.write.mode("overwrite").format(TABLE_FORMAT)
        (w.partitionBy(*partition_by) if partition_by else w).save(
            os.path.join(location, table))

    save(out["nodes"].sortWithinPartitions("repo", "full_name"), "nodes", "lang")
    save(out["edges"], "edges", "label")
    save(out["canonical"], "canonical")
    # Failed parses are the expected case at scale (parse.py docstring):
    # build_cpg splits them out of `nodes` into their own table, and the
    # lineage metrics read the parse stage, ok and failed rows alike, so the
    # documented sha_rollup/n_files equality with source_sha_rollup holds
    # when a file fails to parse. Only parse rows (node_idx >= 0) count.
    save(out["errors"], "errors")
    save(partition_metrics(out["parsed"].filter(F.col("node_idx") >= 0)), "metrics")


def read_graph_tables(spark: SparkSession, location: str) -> dict[str, DataFrame]:
    return {t: spark.read.format(TABLE_FORMAT).load(os.path.join(location, t))
            for t in ("nodes", "edges", "canonical", "errors", "metrics")}


def built_graph(spark: SparkSession, source: DataFrame) -> dict[str, DataFrame]:
    """The graph tables of an ad-hoc build of ``source``, the way production
    builds: ``build_cpg`` → ``write_graph_tables`` → ``read_graph_tables``.
    The tables go to a scratch directory removed at interpreter exit (or by
    a later ad-hoc build, if this process is killed first)."""
    from joern_spark.plans.pipeline import _adhoc_scratch_dir, build_cpg

    location = _adhoc_scratch_dir()
    write_graph_tables(build_cpg(spark, source), location)
    return read_graph_tables(spark, location)
