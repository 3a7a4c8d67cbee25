"""Source and sink tables: read_source_table / write_graph_tables round
trip and the per-partition lineage metrics."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from joern_spark import model as M


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
    # the partition's only file failed to parse
    broken = back["metrics"].filter(F.col("lang") == "fortran").collect()
    assert [(r["repo"], r["n_files"], r["n_parse_errors"]) for r in broken] == [
        ("fixtures/broken", 1, 1)]


def _source(spark, rows):
    return spark.createDataFrame(
        [("fixtures/sink", path, "d" * 40, lang, content)
         for path, lang, content in rows],
        "repo string, path string, commit string, lang string, content string")


def _write_jobs(spark, out, location, monkeypatch) -> dict[str, int]:
    """``write_graph_tables(out, location)``, with the Spark jobs each table's
    write issues counted under its own job group."""
    from pyspark.sql import DataFrameWriter

    from joern_spark.sources import write_graph_tables

    sc, save = spark.sparkContext, DataFrameWriter.save
    groups = {}

    def save_in_group(self, path, *args, **kwargs):
        groups[os.path.basename(path)] = group = f"sink_write_{len(groups)}_{id(out)}"
        sc.setJobGroup(group, f"write {path}")
        try:
            return save(self, path, *args, **kwargs)
        finally:
            sc.setJobGroup(None, None)

    monkeypatch.setattr(DataFrameWriter, "save", save_in_group)
    write_graph_tables(out, location)
    monkeypatch.undo()
    st = sc.statusTracker()
    return {t: len(st.getJobIdsForGroup(g)) for t, g in groups.items()}


def _mixed_source(spark):
    """A C, a Java and a JavaScript file; the JS classes inherit."""
    return _source(spark, [
        ("src/a.c", "c", "int helper(int x) { return x + 1; }\n"
                         "int main() { return helper(2); }\n"),
        ("src/B.java", "java", "class A { void f() {} }\n"
                               "class B extends A { void g() { f(); } }\n"),
        ("src/m.js", "javascript", "class P {}\nclass Q extends P {}\n"
                                   "const m = require('m');\nm.run(1);\n")])


def test_nodes_write_is_one_job(spark, tmp_path, monkeypatch):
    """The sink's nodes and edges are each the parse rows' and the link
    task checkpoint's generators. No pass needs a distinct or a join there,
    so writing either is one Spark job for any mix of languages, and the
    metrics are one aggregate."""
    from joern_spark.plans.pipeline import build_cpg

    jobs = _write_jobs(spark, build_cpg(spark, _mixed_source(spark)),
                       str(tmp_path / "cpg"), monkeypatch)
    assert jobs["nodes"] == 1, jobs
    assert jobs["edges"] == 1, jobs
    assert jobs["metrics"] <= 2, jobs


def test_build_and_write_job_count(spark, tmp_path):
    """A whole build and write of the mixed input, JS type recovery and
    JS supertypes included, under one job group: the parse write, type
    recovery, the link checkpoint and one job per table (two for the
    metrics) — 20 jobs on Spark 4.1 with AQE."""
    from joern_spark.plans.pipeline import build_cpg
    from joern_spark.sources import write_graph_tables

    sc = spark.sparkContext
    src = _mixed_source(spark)
    sc.setJobGroup("test_build_and_write", "build and write")
    try:
        write_graph_tables(build_cpg(spark, src), str(tmp_path / "cpg"))
    finally:
        sc.setJobGroup(None, None)
    jobs = len(sc.statusTracker().getJobIdsForGroup("test_build_and_write"))
    assert jobs <= 20, jobs


def test_file_local_and_partition_nodes(spark):
    """Per-kind counts of the derived nodes for a C file and a Java file
    in package p.q: a FILE and a ``<global>`` NAMESPACE_BLOCK per file (the
    Java file also parses its package block), a META_DATA node per (repo,
    lang), a NAMESPACE per block name, and a METHOD_PARAMETER_OUT per
    parameter (the Java methods' ``this`` included)."""
    from collections import Counter

    from joern_spark.sources import built_graph

    g = built_graph(spark, _source(spark, [
        ("src/a.c", "c", "int add(int a, int b) { return a + b; }\n"),
        ("p/q/A.java", "java", "package p.q;\nclass A { int f(int x) { return x; } }\n")]))
    kinds = (M.FILE, M.NAMESPACE_BLOCK, M.META_DATA, M.NAMESPACE,
             M.METHOD_PARAMETER_OUT)
    got = Counter(r["kind"] for r in g["nodes"].filter(
        g["nodes"]["kind"].isin(*kinds)).select("kind").collect())
    assert got == {M.FILE: 2, M.NAMESPACE_BLOCK: 3, M.META_DATA: 2,
                   M.NAMESPACE: 2, M.METHOD_PARAMETER_OUT: 5}
    names = {r["name"] for r in g["nodes"].filter(
        g["nodes"]["kind"] == M.NAMESPACE).select("name").collect()}
    assert names == {M.GLOBAL, "p.q"}
