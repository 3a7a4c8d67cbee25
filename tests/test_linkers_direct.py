"""Direct evidence for the three previously indirectly-tested linkers
(VERDICT r3 wrong-list #2):

* AliasLinkerPass        — ALIAS_OF edges from typedef / `using` TYPE_DECLs
                           (reference: AliasLinkerPass semantics, typedef →
                           aliasTypeFullName → ALIAS_OF to the target TYPE).
* MethodDecoratorPass    — METHOD_PARAMETER_OUT clones + PARAMETER_LINK
                           mirror (MethodDecoratorPass.scala:20-57).
* NaiveCallLinker        — every remaining unlinked call links to EVERY
                           same-name internal method (NaiveCallLinker.scala:
                           14-27, whole name group).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from joern_spark import model as M


@pytest.fixture(scope="module")
def spark():
    from joern_spark.session import get_spark
    sp = get_spark(master="local[4]", app="test_linkers_direct",
                   shuffle_partitions=8)
    yield sp


ALIAS_C = """
struct Point { int x; int y; };
typedef struct Point PointAlias;
typedef unsigned long usize;
"""

ALIAS_CPP = """
class Widget { public: int w; };
using WidgetAlias = Widget;
"""


def _src(spark, rows):
    return spark.createDataFrame(
        [("fixtures/direct", p, "c" * 40, lang, content)
         for p, lang, content in rows],
        "repo string, path string, commit string, lang string, content string")


def test_alias_linker_typedef_and_using(spark):
    from joern_spark.operators.base import type_id
    from joern_spark.sources import built_graph

    out = built_graph(spark, _src(spark, [("src/alias.c", "c", ALIAS_C),
                                          ("src/alias.cpp", "cpp", ALIAS_CPP)]))
    n, e = out["nodes"], out["edges"]
    aliases = (e.filter(F.col("label") == M.ALIAS_OF)
               .join(n.select(F.col("id").alias("src"),
                              F.col("name").alias("alias_name"),
                              F.col("alias_type_full_name").alias("target")),
                     "src")
               .collect())
    got = {(r["alias_name"], r["target"]) for r in aliases}
    assert ("PointAlias", "Point") in got, got
    # whitespace is stripped from multi-keyword types
    # (c2cpg TypeNameProvider.scala:349 `tpe.replace(" ", "")`)
    assert ("usize", "unsignedlong") in got, got
    assert ("WidgetAlias", "Widget") in got, got
    # dst must be the canonical TYPE id of the target fullname
    want_dst = {r["alias_name"]: r["dst"] for r in aliases}
    probe = (n.limit(1).select(
        type_id(F.lit("Point")).alias("tid")).collect()[0]["tid"])
    row = [r for r in aliases if r["alias_name"] == "PointAlias"][0]
    assert row["dst"] == probe


PARAMS_C = """
void swap(int *a, int *b) {
  int t = *a;
  *a = *b;
  *b = t;
}
int plain(int v) { return v + 1; }
"""


def test_method_decorator_param_out_mirror(spark):
    from joern_spark.sources import built_graph

    out = built_graph(spark, _src(spark, [("src/params.c", "c", PARAMS_C)]))
    n, e = out["nodes"], out["edges"]
    # scope to parsed params (stub methods' synthesized p1/p2 params get
    # their clones from the stub pass itself, not the fused projection)
    pins = n.filter((F.col("kind") == M.METHOD_PARAMETER_IN)
                    & F.col("method_id").isNotNull()).select(
        "id", "name", "param_index", "method_id")
    pouts = n.filter(F.col("kind") == M.METHOD_PARAMETER_OUT).select(
        F.col("id").alias("out_id"), F.col("name").alias("out_name"),
        F.col("param_index").alias("out_index"),
        F.col("evaluation_strategy"))
    links = e.filter(F.col("label") == M.PARAMETER_LINK).select(
        F.col("src").alias("id"), F.col("dst").alias("out_id"))
    mirror = pins.join(links, "id").join(pouts, "out_id").collect()
    in_rows = pins.collect()
    assert len(in_rows) == 3  # a, b, v
    # every PARAM_IN has exactly one linked PARAM_OUT clone with identical
    # name + index and BY_SHARING evaluation (MethodDecoratorPass.scala:35-49)
    assert len(mirror) == len(in_rows)
    for r in mirror:
        assert r["name"] == r["out_name"]
        assert r["param_index"] == r["out_index"]
        assert r["evaluation_strategy"] == M.BY_SHARING


def test_naive_call_linker_links_whole_name_group():
    from joern_spark.operators.callgraph import naive_call_edges

    call_sites = pd.DataFrame(
        [(100, "frob"), (101, "already_linked"), (102, "no_such")],
        columns=["id", "name"])
    linked = pd.DataFrame([(101, 7, M.CALL_EDGE, None)],
                          columns=["src", "dst", "label", "variable"])
    dim = pd.DataFrame(
        [("frob", 1, False), ("frob", 2, False), ("frob", 3, True),
         ("already_linked", 7, False)],
        columns=["m_name", "m_id", "is_external"])
    got = set(naive_call_edges(call_sites, linked, dim)[["src", "dst"]]
              .itertuples(index=False, name=None))
    # site 100 links to BOTH internal frob definitions, never the external
    # stub; the already-linked site gets nothing (anti-join); unknown name
    # gets nothing
    assert got == {(100, 1), (100, 2)}
