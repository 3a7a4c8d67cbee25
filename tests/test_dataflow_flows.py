"""reachableByFlows with interprocedural expansion (TaskCreator.scala:44-79
param↔arg / returns↔call-sites; path enumeration per Engine.scala:96-140)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from joern_spark import model as M


@pytest.fixture(scope="module")
def spark():
    from joern_spark.session import get_spark
    yield get_spark(master="local[4]", app="test_flows", shuffle_partitions=8)


@pytest.fixture(scope="module")
def cpg(spark):
    from joern_spark.corpus import fixture_source
    from joern_spark.query import Cpg
    from joern_spark.sources import built_graph
    out = built_graph(spark, fixture_source(spark))
    return Cpg(out["nodes"], out["edges"])


def _paths(df):
    rows = df.orderBy("flow_id", "step").collect()
    flows: dict[int, list] = {}
    for r in rows:
        flows.setdefault(r["flow_id"], []).append(r)
    return list(flows.values())


def test_intraprocedural_flow_uaf(cpg):
    """uaf.c bad(): the freed local x flows into `return x`."""
    sinks = cpg.ret().filter(F.col("method_id").isNotNull())
    sinks = sinks.filter(F.col("code") == "return x;")
    sources = cpg.identifier().name_exact("x")
    flows = _paths(sinks.reachable_by_flows(sources))
    assert flows, "expected at least one x -> return x flow"
    assert any(f[-1]["code"] == "return x;" and f[0]["code"] == "x"
               for f in flows)


def test_interprocedural_flow_param_to_arg(cpg):
    """test.c: printf(x) in print_number is fed by the literal 42 at the
    call site in main — requires one param↔arg expansion."""
    sinks = cpg.identifier().name_exact("x").filter(
        F.col("path") == "src/test.c")
    sources = cpg.literal().filter(F.col("code") == "42")
    flows = _paths(sinks.reachable_by_flows(sources))
    assert flows, "expected a 42 -> x interprocedural flow"
    f = flows[0]
    assert f[0]["code"] == "42" and f[0]["method_full_name"] == "main"
    assert f[-1]["method_full_name"] == "print_number"
    # the path crosses the method boundary through the parameter
    kinds = [r["kind"] for r in f]
    assert M.METHOD_PARAMETER_IN in kinds


def test_flow_depth_cap(cpg):
    """call-depth cap 0 suppresses the interprocedural flow."""
    sinks = cpg.identifier().name_exact("x").filter(
        F.col("path") == "src/test.c")
    sources = cpg.literal().filter(F.col("code") == "42")
    flows = _paths(sinks.reachable_by_flows(sources, max_call_depth=0))
    assert not flows
