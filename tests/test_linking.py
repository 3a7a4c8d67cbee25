"""Entity linking / canonicalization tests (joern_spark.operators.linking)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from joern_spark import model as M


@pytest.fixture(scope="module")
def spark():
    from joern_spark.session import get_spark
    sp = get_spark(master="local[4]", app="test_linking", shuffle_partitions=8)
    yield sp


_DIM_SCHEMA = ("m_fn string, m_id long, m_name string, is_external boolean, "
               "m_parent string, m_sig string")


def _dim_rows():
    def internal(fn, mid, name, sig):
        return (fn, mid, name, False, "", sig)

    def stub(fn, mid, name):
        return (fn, mid, name, True, "", "")

    rows = [
        # no-arity C-style stub bridges two internals; the arity-1 stub pairs
        # with b.helper only but lands in the same component
        internal("b.helper:int(int)", 10, "helper", "int(int)"),
        internal("a.helper:int(int,int)", 11, "helper", "int(int,int)"),
        stub("helper", 1, "helper"),
        stub("<unresolvedNamespace>.helper:<unresolvedSignature>(1)", 2, "helper"),
        # arity mismatch: no pair
        internal("x.calc:int(int)", 20, "calc", "int(int)"),
        stub("<unresolvedNamespace>.calc:<unresolvedSignature>(3)", 21, "calc"),
        # an internal without a signature matches any stub arity
        internal("r.run", 30, "run", ""),
        stub("<unresolvedNamespace>.run:<unresolvedSignature>(2)", 31, "run"),
        # a resolved external (neither unresolved form nor bare) never pairs
        internal("x.bar:void()", 32, "bar", "void()"),
        stub("java.lang.Foo.bar:void()", 33, "bar"),
        # operator and empty names never pair
        internal("ops.<operator>.assignment", 41, "<operator>.assignment", ""),
        stub("<operator>.assignment", 40, "<operator>.assignment"),
        internal("anon", 51, "", ""),
        stub("", 50, ""),
        stub("get", 999, "get"),
        stub("put", 998, "put"),
    ]
    # 101 internals make `get` hot (no rows); 100 keep `put` linkable
    rows += [internal(f"c{i:03d}.get:int()", 1000 + i, "get", "int()")
             for i in range(101)]
    rows += [internal(f"c{i:03d}.put:int()", 2000 + i, "put", "int()")
             for i in range(100)]
    return rows


def test_canonical_symbol_map_rules(spark):
    from joern_spark.operators.linking import canonical_symbol_map
    dim = spark.createDataFrame(_dim_rows(), _DIM_SCHEMA)
    mp = canonical_symbol_map(dim)
    assert mp.schema.simpleString() == (
        "struct<m_id:bigint,canon_id:bigint,canon_fn:string>")
    got = sorted(tuple(r) for r in mp.collect())
    assert got == [(1, 11, "a.helper:int(int,int)"),
                   (2, 11, "a.helper:int(int,int)"),
                   (31, 30, "r.run"),
                   (998, 2000, "c000.put:int()")]


def test_canonical_symbol_map_empty(spark):
    from joern_spark.operators.linking import canonical_symbol_map
    dim = spark.createDataFrame([], _DIM_SCHEMA)
    assert canonical_symbol_map(dim).count() == 0


def _type_decls(spark, edges):
    """TYPE_DECL rows (full_name, inherits_from), plus rows the closure must
    ignore: a TYPE_DECL without supertypes and a non-TYPE_DECL."""
    rows = [(M.TYPE_DECL, fn, parents) for fn, parents in edges]
    rows += [(M.TYPE_DECL, "Lone", None), (M.METHOD, "m", ["Ignored"])]
    return spark.createDataFrame(
        rows, "kind string, full_name string, inherits_from array<string>")


def test_inheritance_closure_shapes(spark):
    from joern_spark.operators.callgraph import inheritance_closure
    nodes = _type_decls(spark, [
        ("D", ["B", "C"]), ("B", ["A"]), ("C", ["A"]),        # diamond
        ("X", ["Y"]), ("Y", ["X"]),                          # cycle
        ("L1", ["L2"]), ("L2", ["L3"]), ("L3", ["L4"]), ("L4", ["L5"]),
    ])
    got = sorted(tuple(r) for r in inheritance_closure(nodes).collect())
    assert got == sorted([
        ("D", "B"), ("D", "C"), ("B", "A"), ("C", "A"), ("D", "A"),
        ("X", "Y"), ("Y", "X"), ("X", "X"), ("Y", "Y"),
        ("L1", "L2"), ("L1", "L3"), ("L1", "L4"), ("L1", "L5"),
        ("L2", "L3"), ("L2", "L4"), ("L2", "L5"),
        ("L3", "L4"), ("L3", "L5"), ("L4", "L5"),
    ])
    # the round bound: one extension round reaches two edges up the chain
    chain = _type_decls(spark, [("L1", ["L2"]), ("L2", ["L3"]),
                                ("L3", ["L4"]), ("L4", ["L5"])])
    got = sorted(tuple(r) for r in inheritance_closure(chain, max_depth=1)
                 .collect())
    assert got == [("L1", "L2"), ("L1", "L3"), ("L2", "L3"), ("L2", "L4"),
                   ("L3", "L4"), ("L3", "L5"), ("L4", "L5")]


def test_inheritance_closure_empty(spark):
    from joern_spark.operators.callgraph import inheritance_closure
    closure = inheritance_closure(_type_decls(spark, []))
    assert closure.schema.simpleString() == "struct<desc:string,anc:string>"
    assert closure.count() == 0


def test_canonical_aliases_match_oracle(spark):
    from joern_spark import oracle as O
    from joern_spark.corpus import fixture_source
    from joern_spark.operators.callgraph import method_dimension
    from joern_spark.operators.linking import canonical_symbol_map
    from joern_spark.plans.pipeline import build_cpg

    out = build_cpg(spark, fixture_source(spark))
    dim = method_dimension(out["nodes"])
    mp = canonical_symbol_map(dim)
    alias_fn = dim.select("m_id", F.col("m_fn").alias("alias"))
    got = {(r["alias"], r["canon_fn"])
           for r in mp.join(alias_fn, "m_id")
           .filter(F.col("alias") != F.col("canon_fn"))
           .select("alias", "canon_fn").distinct().collect()}
    want = set(O.expected_canonical_aliases())
    assert got == want
    # the cross-file Java fixture must actually exercise the stage
    assert any("tripler" in a for a, _ in want), want


def test_canonical_call_edge_rewrite(spark):
    """The CALL edge from UseHelper.run lands on the internal Helpers.tripler
    after canonicalization."""
    from joern_spark.corpus import fixture_source
    from joern_spark.plans.pipeline import build_cpg

    out = build_cpg(spark, fixture_source(spark))
    n, e = out["nodes"], out["edges"]
    caller = n.filter(F.col("full_name").contains("UseHelper.run")).select(
        F.col("id").alias("cid"))
    calls = (n.filter((F.col("kind") == M.CALL) & (F.col("name") == "tripler"))
             .select(F.col("id").alias("src")))
    targets = (e.filter(F.col("label") == M.CALL_EDGE).join(calls, "src")
               .join(n.select(F.col("id").alias("dst"),
                              F.col("full_name").alias("callee"),
                              "is_external"), "dst")
               .select("callee", "is_external").collect())
    assert targets, "tripler call site must be linked"
    assert all(not t["is_external"] for t in targets)
    assert all("Helpers.tripler" in t["callee"] for t in targets)


def test_salted_join_matches_plain_join(spark):
    from joern_spark.functions import salted_join
    big = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("payload"))
    dim = spark.createDataFrame([(i, f"v{i}") for i in range(7)], "k long, val string")
    got = salted_join(big, dim, "k", n_salts=4).select("payload", "val")
    want = big.join(dim, "k").select("payload", "val")
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
