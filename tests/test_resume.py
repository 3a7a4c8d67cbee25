"""The parse stage is a build's one checkpoint (BASELINE.md resume row): a
re-run over the same input reads it back instead of re-parsing and yields
byte-identical triples, its manifest's facts are truthful, and a changed
input forces a real rebuild. An ad-hoc build writes that stage and nothing
else; the graph tables are the only other write."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from joern_spark.session import get_spark
    yield get_spark(master="local[4]", app="test_resume", shuffle_partitions=8)


def _triples(out):
    rows = (out["edges"].select(
        F.col("src").cast("string"), F.col("dst").cast("string"),
        "label", F.coalesce("variable", F.lit(""))).collect())
    return sorted(tuple(r) for r in rows)


def _nodes_sig(out):
    r = out["nodes"].agg(
        F.count("*").alias("c"),
        F.expr("bit_xor(xxhash64(id, kind, coalesce(full_name, ''), "
               "coalesce(code, '')))").alias("h")).collect()[0]
    return (r["c"], r["h"])


def _manifest(d):
    with open(os.path.join(d, "nodes", "_manifest.json")) as f:
        return json.load(f)


def _c_source(spark, repo, body):
    return spark.createDataFrame(
        [(repo, "src/a.c", "f" * 40, "c", body)],
        "repo string, path string, commit string, lang string, content string")


def test_resume_idempotent(spark, tmp_path_factory):
    from joern_spark.corpus import fixture_source
    from joern_spark.plans.pipeline import build_cpg

    d = str(tmp_path_factory.mktemp("resume") / "cpg")
    src = fixture_source(spark)

    out1 = build_cpg(spark, src, out_dir=d)
    t1, n1 = _triples(out1), _nodes_sig(out1)
    assert t1, "no triples built"
    assert os.listdir(d) == ["nodes"]

    # 1. clean re-run: the parse manifest matches -> the stage is read back,
    # not rewritten, and the link tail rebuilds the same graph from it
    mtime = os.path.getmtime(os.path.join(d, "nodes", "_manifest.json"))
    out2 = build_cpg(spark, src, out_dir=d)
    assert _triples(out2) == t1
    assert _nodes_sig(out2) == n1
    assert os.path.getmtime(os.path.join(d, "nodes", "_manifest.json")) == mtime, \
        "the parse stage was rebuilt on a clean re-run"

    # 2. the manifest's facts match the stage it describes
    m = _manifest(d)
    stage = spark.read.parquet(os.path.join(d, "nodes"))
    assert m["rows"] == stage.count()
    assert m["has_js"] is True
    assert stage.filter((F.col("lang") == "javascript")
                        & (F.col("parse_error") == "")).count() > 0
    c_only = str(tmp_path_factory.mktemp("resume_c") / "cpg")
    build_cpg(spark, _c_source(spark, "fixtures/c-only",
                               "int f(int a) { return a; }"), out_dir=c_only)
    assert _manifest(c_only)["has_js"] is False

    # 3. input change -> fingerprint mismatch -> the stale stage is ignored
    extra = spark.createDataFrame(
        [("fixtures/extra", "src/extra.c", "f" * 40, "c",
          "int extra_fn(int a) { return a + 1; }")],
        "repo string, path string, commit string, lang string, content string")
    out4 = build_cpg(spark, src.unionByName(extra), out_dir=d)
    t4 = _triples(out4)
    assert len(t4) > len(t1)
    assert out4["nodes"].filter(F.col("full_name") == "extra_fn").count() == 1
    assert _manifest(d)["rows"] > m["rows"]


def test_adhoc_build_writes_only_the_parse_stage(spark, tmp_path, monkeypatch):
    """An ad-hoc build plus the sink leaves just the parse stage in its
    scratch directory; the relations are written once, as graph tables."""
    from joern_spark.plans import pipeline
    from joern_spark.sources import read_graph_tables, write_graph_tables

    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(pipeline, "_adhoc_scratch_dir", lambda: str(scratch))
    out = pipeline.build_cpg(spark, _c_source(
        spark, "fixtures/adhoc",
        "int helper(int x) { return x + 1; }\n"
        "int main() { return helper(2); }"))
    write_graph_tables(out, str(tmp_path / "graph"))

    assert sorted(os.listdir(scratch)) == ["nodes"]
    back = read_graph_tables(spark, str(tmp_path / "graph"))
    assert back["nodes"].count() == out["nodes"].count() > 0
    assert back["edges"].count() == out["edges"].count() > 0
    assert back["canonical"].count() == out["canonical"].count()


def test_adhoc_scratch_sweeps_dirs_of_dead_owners(tmp_path, monkeypatch):
    """An ad-hoc parse stage is named after its owner's pid. A build killed
    before its exit hooks run leaves it behind; the next ad-hoc build
    removes it, and keeps the directories of owners still running."""
    import subprocess
    import sys
    import tempfile

    from joern_spark.plans import pipeline

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    child = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                           capture_output=True, text=True, check=True)
    dead = tmp_path / f"joern_spark_parse_{child.stdout.strip()}_a1"
    live = tmp_path / f"joern_spark_parse_{os.getppid()}_b2"
    other = tmp_path / "joern_spark_tables_c3"
    for d in (dead, live, other):
        (d / "nodes").mkdir(parents=True)

    made = pipeline._adhoc_scratch_dir()

    assert os.path.dirname(made) == str(tmp_path)
    assert os.path.basename(made).startswith(f"joern_spark_parse_{os.getpid()}_")
    assert sorted(os.listdir(tmp_path)) == sorted(
        [live.name, other.name, os.path.basename(made)])
