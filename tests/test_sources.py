"""Source and sink tables: read_source_table / write_graph_tables round
trip and the per-partition lineage metrics."""

from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="module")
def spark():
    from joern_spark.session import get_spark
    yield get_spark(master="local[4]", app="test_sources", shuffle_partitions=8)


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
