"""Scan bundles (FINDING rows), export surface (dot/json), and the
META_DATA / NAMESPACE / IMPORT vocabulary passes."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from joern_spark import model as M


@pytest.fixture(scope="module")
def spark():
    from joern_spark.session import get_spark
    yield get_spark(master="local[4]", app="test_scan_export", shuffle_partitions=8)


@pytest.fixture(scope="module")
def cpg(spark):
    from joern_spark.corpus import fixture_source
    from joern_spark.sources import built_graph
    return built_graph(spark, fixture_source(spark))


def test_findings_match_oracle(spark, cpg):
    from joern_spark import oracle as O
    from joern_spark.scan import run_queries
    got = {(r["query_name"], r["path"], r["method_full_name"], r["line"], r["code"])
           for r in run_queries(cpg["nodes"], cpg["edges"]).collect()}
    want = set(O.expected_findings())
    assert got == want
    assert any(q == "copy-loop" for q, *_ in want), "copy-loop bundle must fire"


def test_finding_nodes_shape(spark, cpg):
    from joern_spark.scan import finding_nodes
    f = finding_nodes(cpg["nodes"], cpg["edges"])
    rows = f.collect()
    assert rows and all(r["kind"] == M.FINDING for r in rows)
    # union-able into the node relation (same columns and types; nullability
    # may differ on literal columns)
    assert [(x.name, x.dataType) for x in f.schema] == \
        [(x.name, x.dataType) for x in cpg["nodes"].schema]
    assert cpg["nodes"].unionByName(f).count() == cpg["nodes"].count() + len(rows)


def test_dot_exports(spark, cpg):
    from joern_spark.query.export import dot_ast, dot_cfg, dot_ddg
    n, e = cpg["nodes"], cpg["edges"]
    cfg = dot_cfg(n, e, "cfg_kitchen_sink")
    assert cfg.startswith('digraph "cfg_kitchen_sink"') and "->" in cfg
    assert "(METHOD, cfg_kitchen_sink)" in cfg
    ast = dot_ast(n, e, "print_number")
    assert "printf(x)" in ast
    ddg = dot_ddg(n, e, "bad")
    assert 'label = "x"' in ddg  # REACHING_DEF edges carry the variable
    with pytest.raises(KeyError):
        dot_ast(n, e, "no_such_method")


def test_json_exports(spark, cpg):
    from joern_spark.query.export import method_json, to_json
    doc = json.loads(method_json(cpg["nodes"], cpg["edges"], "print_number"))
    assert doc["method"] == "print_number"
    kinds = {x["kind"] for x in doc["nodes"]}
    assert M.METHOD in kinds and M.CALL in kinds
    labels = {x["label"] for x in doc["edges"]}
    assert M.AST in labels and M.CFG in labels
    arr = json.loads(to_json(
        cpg["nodes"].filter(F.col("kind") == M.METHOD)
        .select("full_name"), limit=5))
    assert 1 <= len(arr) <= 5 and all("full_name" in r for r in arr)


def test_meta_data_and_namespace_nodes(spark, cpg):
    n, e = cpg["nodes"], cpg["edges"]
    meta = n.filter(F.col("kind") == M.META_DATA).select("repo", "lang").collect()
    parts = {(r["repo"], r["lang"]) for r in meta}
    src_parts = {(r["repo"], r["lang"])
                 for r in n.filter(F.col("node_idx") == 0)
                 .select("repo", "lang").distinct().collect()}
    assert parts == src_parts  # one META_DATA per (repo, lang) partition

    ns = n.filter(F.col("kind") == M.NAMESPACE)
    assert ns.filter(F.col("name") == M.GLOBAL).count() == 1
    # every NAMESPACE_BLOCK REFs a NAMESPACE
    nsb = n.filter(F.col("kind") == M.NAMESPACE_BLOCK).select(
        F.col("id").alias("src"))
    ns_ids = ns.select(F.col("id").alias("dst"))
    linked = (e.filter(F.col("label") == M.REF)
              .join(nsb, "src").join(ns_ids, "dst").count())
    assert linked == nsb.count()


def test_import_nodes(spark, cpg):
    from joern_spark import oracle as O
    got = {(r["lang"], r["path"], r["name"], r["code"])
           for r in cpg["nodes"].filter(F.col("kind") == M.IMPORT)
           .select("lang", "path", "name", "code").collect()}
    assert got == set(O.expected_imports())
    assert any(ent == "stdio.h" for _l, _p, ent, _c in got)
