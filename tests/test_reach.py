"""The read side's one depth-bounded walk: ``query.walk_pairs`` (the kernel,
no Spark), the seed conventions of its callers, and its job count."""

from __future__ import annotations

import pandas as pd
import pytest

from joern_spark.query import walk_pairs


def _walk(edges, seeds, max_depth):
    adj = pd.DataFrame(edges, columns=["src", "dst"], dtype="int64")
    s = pd.DataFrame(seeds, columns=["fid", "nid"], dtype="int64")
    return sorted(walk_pairs(adj, s, max_depth).itertuples(index=False, name=None))


def test_walk_chain_stops_at_the_cap():
    chain = [(i, i + 1) for i in range(10)]
    assert _walk(chain, [(7, 0)], 4) == [(7, 1), (7, 2), (7, 3), (7, 4)]


def test_walk_diamond_reports_each_node_once():
    diamond = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)]
    assert _walk(diamond, [(1, 1)], 8) == [(1, 2), (1, 3), (1, 4), (1, 5)]


def test_walk_cycle_back_to_a_seed_reports_it():
    cycle = [(1, 2), (2, 3), (3, 1)]
    assert _walk(cycle, [(1, 1)], 8) == [(1, 1), (1, 2), (1, 3)]


def test_walk_keeps_a_seed_that_another_seed_reaches():
    up = [(5, 4), (4, 3), (3, 2)]   # child -> parent
    assert _walk(up, [(9, 5), (9, 3)], 32) == [(9, 2), (9, 3), (9, 4)]


def test_walk_keeps_fids_apart():
    chain = [(1, 2), (2, 3)]
    assert _walk(chain, [(10, 1), (20, 2)], 8) == [(10, 2), (10, 3), (20, 3)]


@pytest.mark.parametrize("edges,seeds", [([], []), ([(1, 2)], []), ([], [(1, 1)])])
def test_walk_empty_inputs_give_no_rows(edges, seeds):
    adj = pd.DataFrame(edges, columns=["src", "dst"], dtype="int64")
    s = pd.DataFrame(seeds, columns=["fid", "nid"], dtype="int64")
    out = walk_pairs(adj, s, 8)
    assert list(out.columns) == ["fid", "nid"] and len(out) == 0


@pytest.fixture(scope="module")
def spark():
    pytest.importorskip("pyspark")
    from joern_spark.session import get_spark
    yield get_spark(master="local[4]", app="test_reach", shuffle_partitions=8)


def _pairs(df):
    return sorted((r["fid"], r["nid"]) for r in df.collect())


def test_reach_pairs_on_empty_inputs(spark):
    from joern_spark.query import reach_pairs
    adj = spark.createDataFrame([], "src long, dst long")
    seeds = spark.createDataFrame([], "fid long, nid long")
    out = reach_pairs(adj, seeds, 8)
    assert out.columns == ["fid", "nid"] and out.count() == 0


def test_edge_closure_drops_the_seed_a_cycle_returns_to(spark):
    from joern_spark.scanners_c import _edge_closure_pairs
    edges = spark.createDataFrame(
        [(1, 2, "DOMINATE"), (2, 3, "DOMINATE"), (3, 1, "DOMINATE"), (3, 4, "CFG")],
        "src long, dst long, label string")
    seeds = spark.createDataFrame([(1, 1)], "fid long, nid long")
    assert _pairs(_edge_closure_pairs(edges, "DOMINATE", seeds, forward=True)) \
        == [(1, 2), (1, 3)]


def test_ancestor_pairs_keep_the_upper_seed(spark):
    from joern_spark.scanners_c import _ancestor_pairs
    nodes = spark.createDataFrame([(5, 4), (4, 3), (3, 2), (2, None)],
                                  "id long, parent_id long")
    seeds = spark.createDataFrame([(9, 5), (9, 3)], "fid long, nid long")
    assert _pairs(_ancestor_pairs(nodes, seeds)) == [(9, 2), (9, 3), (9, 4)]


def _nested(name: str, depth: int) -> str:
    return (f"int {name}(int x) {{\n" + "if (x) {\n" * depth + "x = 1;\n"
            + "}\n" * depth + "return x;\n}\n")


def test_ast_walk_jobs_do_not_grow_with_depth(spark):
    """`.ast()` over a function nested 25 deep issues as many Spark jobs as
    over one nested 3 deep: the walk is one task, not one job per level."""
    from joern_spark.query import Cpg
    from tests.graph import built_graph

    src = spark.createDataFrame(
        [("fixtures/reach", "nest.c", "c" * 40, "c",
          _nested("shallow", 3) + _nested("deep", 25))],
        "repo string, path string, commit string, lang string, content string")
    out = built_graph(spark, src)
    cpg = Cpg(out["nodes"], out["edges"])
    sc = spark.sparkContext

    def jobs_and_ifs(name: str) -> tuple[int, int]:
        group = f"test_reach_ast_{name}"
        sc.setJobGroup(group, group)
        try:
            ifs = cpg.method(name).ast().is_control_structure().count()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), ifs

    shallow_jobs, shallow_ifs = jobs_and_ifs("shallow")
    deep_jobs, deep_ifs = jobs_and_ifs("deep")
    assert (shallow_ifs, deep_ifs) == (3, 25)
    assert deep_jobs == shallow_jobs
