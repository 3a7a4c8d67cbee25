"""Streaming ingest, source/sink tables, lineage metrics, multimodal stage."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from joern_spark import model as M


@pytest.fixture(scope="module")
def spark():
    from joern_spark.session import get_spark
    yield get_spark(master="local[4]", app="test_stream_src", shuffle_partitions=8)


def test_stream_cpg_matches_batch(spark, tmp_path_factory):
    from joern_spark.corpus import fixture_source
    from joern_spark.operators.parse import derived_edges, parse_source, with_ids
    from joern_spark.streaming import stream_cpg

    d = tmp_path_factory.mktemp("stream")
    src_dir, out_dir = str(d / "src"), str(d / "out")
    fixture_source(spark).write.parquet(src_dir)

    q = stream_cpg(spark, src_dir, out_dir, trigger_once=True)
    q.awaitTermination(300)

    got_nodes = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(out_dir, "nodes"))
    got_edges = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(out_dir, "edges"))

    batch_nodes = with_ids(parse_source(fixture_source(spark)))
    ok = batch_nodes.filter(F.col("parse_error") == "")
    want_edges = derived_edges(ok)
    assert got_nodes.count() == batch_nodes.count()
    assert got_edges.count() == want_edges.count()


def test_source_table_roundtrip_and_metrics(spark, tmp_path_factory):
    from joern_spark.corpus import fixture_source
    from joern_spark.plans.pipeline import build_cpg, source_sha_rollup
    from joern_spark.sources import (read_graph_tables, read_source_table,
                                     write_graph_tables)

    d = tmp_path_factory.mktemp("tables")
    src_dir, graph_dir = str(d / "src"), str(d / "graph")
    fixture_source(spark).write.parquet(src_dir)

    src = read_source_table(spark, src_dir, langs=["c", "cpp", "java", "javascript"],
                            partitions=4)
    out = build_cpg(spark, src)
    write_graph_tables(out, graph_dir)
    back = read_graph_tables(spark, graph_dir)

    assert back["nodes"].count() == out["nodes"].count()
    assert back["edges"].count() == out["edges"].count()
    # per-partition lineage: sha roll-up of the output equals the input's —
    # the per-row content invariant aggregated per (repo, lang)
    got = {(r["repo"], r["lang"]): (r["n_files"], r["sha_rollup"])
           for r in back["metrics"].collect()}
    want = {(r["repo"], r["lang"]): (r["n_files"], r["sha_rollup"])
            for r in source_sha_rollup(fixture_source(spark)).collect()}
    assert got == want

    with pytest.raises(ValueError):
        read_source_table(spark, os.path.join(graph_dir, "metrics"))


def test_sink_metrics_cover_parse_failures(spark, tmp_path_factory):
    """Lineage metrics must account for EVERY input row, including files that
    fail to parse — n_files/sha_rollup equality with the source roll-up is the
    per-row content invariant and failed files land in an `errors` table."""
    from joern_spark.corpus import fixture_source
    from joern_spark.plans.pipeline import build_cpg, source_sha_rollup
    from joern_spark.sources import read_graph_tables, write_graph_tables

    bad = spark.createDataFrame(
        [("fixtures/broken", "src/bad.xyz", "f" * 40, "fortran", "PRINT *, 1")],
        "repo string, path string, commit string, lang string, content string")
    src = fixture_source(spark).unionByName(bad)

    graph_dir = str(tmp_path_factory.mktemp("tables_err") / "graph")
    out = build_cpg(spark, src)
    assert out["errors"].count() == 1
    write_graph_tables(out, graph_dir)
    back = read_graph_tables(spark, graph_dir)

    assert "errors" in back and back["errors"].count() == 1
    got = {(r["repo"], r["lang"]): (r["n_files"], r["sha_rollup"])
           for r in back["metrics"].collect()}
    want = {(r["repo"], r["lang"]): (r["n_files"], r["sha_rollup"])
            for r in source_sha_rollup(src).collect()}
    assert got == want
    assert ("fixtures/broken", "fortran") in got


def test_multimodal_features_shape(spark):
    from joern_spark.datapipe import multimodal_features
    df = multimodal_features(spark, "/root/testdata/sf0.001")
    rows = df.orderBy("doc_id").limit(5).collect()
    assert rows and all(r["n_bytes"] > 0 for r in rows)
    assert all(len(r["header_hex"]) == 8 for r in rows)
    assert all(1 <= r["width"] <= 640 and 1 <= r["height"] <= 480 for r in rows)
    assert {r["mime"] for r in df.select("mime").distinct().collect()} == {
        "image/png", "audio/wav", "video/mp4"}


def test_multimodal_matches_duckdb_oracle(spark):
    import duckdb
    from joern_spark.datapipe import DATA_QUERIES
    fn, sql = DATA_QUERIES["mm_blob_features"]
    got = sorted(tuple(r) for r in fn(spark, "/root/testdata/sf0.001").collect())
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                "read_parquet('/root/testdata/sf0.001/documents.parquet')")
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == want
