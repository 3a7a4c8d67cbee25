"""Entity linking / canonicalization tests (joern_spark.operators.linking)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from joern_spark import model as M


@pytest.fixture(scope="module")
def spark():
    from joern_spark.session import get_spark
    sp = get_spark(master="local[4]", app="test_linking", shuffle_partitions=8)
    yield sp


_DIM_COLS = ["m_fn", "m_id", "m_name", "is_external", "m_parent", "m_sig"]


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


def test_canonical_symbol_map_rules():
    from joern_spark.operators.linking import canonical_symbol_map
    dim = pd.DataFrame(_dim_rows(), columns=_DIM_COLS)
    mp = canonical_symbol_map(dim)
    assert list(mp.columns) == ["m_id", "canon_id", "canon_fn"]
    got = sorted(mp.itertuples(index=False, name=None))
    assert got == [(1, 11, "a.helper:int(int,int)"),
                   (2, 11, "a.helper:int(int,int)"),
                   (31, 30, "r.run"),
                   (998, 2000, "c000.put:int()")]


def test_canonical_symbol_map_empty():
    from joern_spark.operators.linking import canonical_symbol_map
    dim = pd.DataFrame([], columns=_DIM_COLS)
    assert len(canonical_symbol_map(dim)) == 0


def _type_decls(edges):
    """TYPE_DECL rows (full_name, inherits_from), plus rows the closure must
    ignore: a TYPE_DECL without supertypes and a non-TYPE_DECL."""
    rows = [(M.TYPE_DECL, fn, parents) for fn, parents in edges]
    rows += [(M.TYPE_DECL, "Lone", None), (M.METHOD, "m", ["Ignored"])]
    return pd.DataFrame(rows, columns=["kind", "full_name", "inherits_from"])


def test_inheritance_closure_shapes():
    from joern_spark.operators.callgraph import inheritance_closure
    nodes = _type_decls([
        ("D", ["B", "C"]), ("B", ["A"]), ("C", ["A"]),        # diamond
        ("X", ["Y"]), ("Y", ["X"]),                          # cycle
        ("L1", ["L2"]), ("L2", ["L3"]), ("L3", ["L4"]), ("L4", ["L5"]),
    ])
    got = sorted(inheritance_closure(nodes).itertuples(index=False, name=None))
    assert got == sorted([
        ("D", "B"), ("D", "C"), ("B", "A"), ("C", "A"), ("D", "A"),
        ("X", "Y"), ("Y", "X"), ("X", "X"), ("Y", "Y"),
        ("L1", "L2"), ("L1", "L3"), ("L1", "L4"), ("L1", "L5"),
        ("L2", "L3"), ("L2", "L4"), ("L2", "L5"),
        ("L3", "L4"), ("L3", "L5"), ("L4", "L5"),
    ])
    # the round bound: one extension round reaches two edges up the chain
    chain = _type_decls([("L1", ["L2"]), ("L2", ["L3"]),
                         ("L3", ["L4"]), ("L4", ["L5"])])
    got = sorted(inheritance_closure(chain, max_depth=1)
                 .itertuples(index=False, name=None))
    assert got == [("L1", "L2"), ("L1", "L3"), ("L2", "L3"), ("L2", "L4"),
                   ("L3", "L4"), ("L3", "L5"), ("L4", "L5")]


def test_inheritance_closure_empty():
    from joern_spark.operators.callgraph import inheritance_closure
    closure = inheritance_closure(_type_decls([]))
    assert list(closure.columns) == ["desc", "anc"]
    assert len(closure) == 0


def test_canonical_aliases_match_oracle(spark):
    from joern_spark import oracle as O
    from joern_spark.corpus import fixture_source
    from joern_spark.sources import built_graph

    out = built_graph(spark, fixture_source(spark))
    methods = out["nodes"].filter(F.col("kind") == M.METHOD).select(
        F.col("id").alias("m_id"), F.col("full_name").alias("alias"))
    got = {(r["alias"], r["canon_fn"])
           for r in out["canonical"].join(methods, "m_id")
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
    from joern_spark.sources import built_graph

    out = built_graph(spark, fixture_source(spark))
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


def test_adhoc_and_checkpointed_builds_agree(spark, tmp_path):
    """Where one fullname is declared in several files, the link task picks
    the first row in parse-output order. Both build modes write the parse
    stage in one layout, so they pick the same rows and build the same
    graph. The input spreads two copies of ``p.Foo`` over two source
    partitions next to files of other sizes and languages, so a per-lang
    partitioned parse stage would reorder them."""
    import collections

    from joern_spark.plans.pipeline import build_cpg

    foo = ("package p;\npublic class Foo {\n  int x;\n"
           "  public int bar(int a) { return a + x; }\n"
           "  public String toString() { return \"Foo\"; }\n}\n")
    big_c = "\n".join(f"int f{i}(int a) {{ int t = a * {i}; if (t > {i}) "
                      f"{{ t = t - 1; }} return t; }}" for i in range(60))
    user = ("package app;\nimport p.Foo;\npublic class User {\n"
            + "\n".join(f"  int u{i}(Foo f) {{ return f.bar({i}); }}"
                        for i in range(15)) + "\n}\n")
    rows = [("r1", "p/Foo.java", "a" * 40, "java", foo),
            ("r1", "src/big.c", "a" * 40, "c", big_c),
            ("r2", "p/Foo.java", "b" * 40, "java", foo),
            ("r2", "app/User.java", "b" * 40, "java", user)]
    src = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2),
        "repo string, path string, commit string, lang string, content string")

    def edges(out):
        return collections.Counter(tuple(r) for r in out["edges"].select(
            "src", "dst", "label", "variable").collect())

    adhoc = edges(build_cpg(spark, src))
    assert any(label == M.BINDS for _, _, label, _ in adhoc)
    assert adhoc == edges(build_cpg(spark, src, out_dir=str(tmp_path / "cpg")))


_LINK_COLS = ["kind", "id", "name", "full_name", "signature", "method_full_name",
              "dispatch_type", "nargs", "is_external", "ast_parent_type",
              "ast_parent_full_name", "inherits_from", "stub_id", "parent_id",
              "node_idx", "repo", "lang", "arg_index", "type_full_name",
              "canonical_name", "method_id", "ref_id"]


def row(kind, id_, name="", full_name="", signature="", mfn="", dispatch="",
        nargs=-1, external=False, ptype="", parent="", inherits=None, stub_id=0,
        parent_id=0, node_idx=-1, repo="", lang="", arg=-1, tfn="", cname="",
        method_id=0, ref_id=0):
    """One ``linking.link_input`` row; id columns hold 0 for none."""
    return (kind, id_, name, full_name, signature, mfn, dispatch, nargs,
            external, ptype, parent, inherits, stub_id, parent_id, node_idx,
            repo, lang, arg, tfn, cname, method_id, ref_id)


def _link_task(rows):
    """The link task's output for ``rows``, in parse-output order (``pos``)."""
    from joern_spark.operators.linking import link_task
    return link_task(pd.DataFrame(rows, columns=_LINK_COLS).assign(pos=range(len(rows))))


def _out_rows(out, tag, *cols):
    part = out[out["row"] == tag][list(cols)].astype(object)
    return sorted(tuple(None if pd.isna(v) else v for v in r)
                  for r in part.itertuples(index=False, name=None))


def _link_rows():
    """One link group's input rows, as ``linking.link_input`` tags them
    (without ``pos``, the parse-output position)."""
    from joern_spark.operators.linking import TYPE_NAME_ROW

    def method(id_, fn, name, sig, parent=""):
        return row(M.METHOD, id_, name, fn, sig,
                   ptype=M.TYPE_DECL if parent else "", parent=parent)

    def call(id_, name, mfn, dispatch, nargs, stub_id=0):
        return row(M.CALL, id_, name, mfn=mfn, dispatch=dispatch,
                   nargs=nargs, stub_id=stub_id)

    return [
        row(M.TYPE_DECL, 100, "A", "A"),
        row(M.TYPE_DECL, 101, "B", "B", inherits=["A"]),  # inherits A.f
        row(M.TYPE_DECL, 102, "C", "C", inherits=["A"]),  # overrides f
        method(1, "A.f:void()", "f", "void()", parent="A"),
        method(3, "C.f:void()", "f", "void()", parent="C"),
        method(6, "U.helper:int(int)", "helper", "int(int)"),
        method(7, "X.frob:void()", "frob", "void()"),
        method(8, "Y.frob:void()", "frob", "void()"),
        method(20, "H.tripler:int(int)", "tripler", "int(int)"),
        # static link
        call(10, "helper", "U.helper:int(int)", M.STATIC_DISPATCH, 1),
        # dynamic dispatch on A.f reaches A, B (inherited binding) and C
        call(11, "f", "A.f:void()", M.DYNAMIC_DISPATCH, 0),
        # no fullname: naive linking to every internal `frob`
        call(12, "frob", "", M.STATIC_DISPATCH, 0),
        row(M.METHOD_REF, 13, mfn="U.helper:int(int)"),
        # one external stub; its params come from the largest arg count
        call(14, "ext", "lib.ext:void(int,int)", M.STATIC_DISPATCH, 2, 9001),
        call(15, "ext", "lib.ext:void(int,int)", M.STATIC_DISPATCH, 3, 9001),
        # an unresolved stub whose CALL edge moves to the canonical target
        call(16, "tripler", "<unresolvedNamespace>.tripler:<unresolvedSignature>(1)",
             M.STATIC_DISPATCH, 1, 9002),
        # referenced type names with their TYPE ids and TYPE_DECL-stub ids
        row(TYPE_NAME_ROW, 501, full_name="A", stub_id=601),
        row(TYPE_NAME_ROW, 504, full_name="int", stub_id=604),
    ]


def test_link_task_rules():
    from joern_spark.operators.linking import CANONICAL_ROW, EDGE_ROW

    out = _link_task(_link_rows())

    def rows(tag, *cols):
        return _out_rows(out, tag, *cols)

    assert rows(EDGE_ROW, "src", "dst", "label") == sorted([
        (10, 6, M.CALL_EDGE),                          # static
        (11, 1, M.CALL_EDGE), (11, 1, M.CALL_EDGE),    # A.f via A and via B
        (11, 3, M.CALL_EDGE),                          # C's override
        (12, 7, M.CALL_EDGE), (12, 8, M.CALL_EDGE),    # naive name group
        (13, 6, M.REF),                                # METHOD_REF
        (14, 9001, M.CALL_EDGE), (15, 9001, M.CALL_EDGE),
        (16, 20, M.CALL_EDGE),                         # canonical target
        (100, 1, M.AST), (100, 1, M.DECLARES),
        (102, 3, M.AST), (102, 3, M.DECLARES),
    ])
    # stubs: (id, fullname, name, signature, params)
    assert rows(M.METHOD, "src", "fn", "name", "sig", "n") == [
        (9001, "lib.ext:void(int,int)", "ext", "", 3),
        (9002, "<unresolvedNamespace>.tripler:<unresolvedSignature>(1)",
         "tripler", "", 1)]
    assert rows(M.TYPE_DECL, "src", "fn") == [(604, "int")]
    # TYPE node -REF-> its TYPE_DECL, real or stub
    assert rows(M.TYPE, "src", "dst", "fn") == [(501, 100, "A"), (504, 604, "int")]
    # vtable rows: (type decl, name, signature, target, decl id, method id)
    assert rows(M.BINDING, "td", "name", "sig", "fn", "src", "dst") == [
        ("A", "f", "void()", "A.f:void()", 100, 1),
        ("B", "f", "void()", "A.f:void()", 101, 1),
        ("C", "f", "void()", "C.f:void()", 102, 3)]
    assert rows(CANONICAL_ROW, "src", "dst", "fn") == [(9002, 20, "H.tripler:int(int)")]


def test_build_leaves_no_cached_plans(spark, tmp_path):
    """A build keeps nothing in the session's cache manager: a long-lived
    session that builds many graphs must not hold each build's plans."""
    from joern_spark.plans.pipeline import build_cpg
    from joern_spark.sources import write_graph_tables

    src = spark.createDataFrame(
        [("fixtures/cache", "src/a.c", "c" * 40, "c",
          "int helper(int x) { return x + 1; }\nint main() { return helper(2); }"),
         ("fixtures/cache", "src/B.java", "c" * 40, "java",
          "class A { void f() {} }\nclass B extends A { void g() { f(); } }"),
         ("fixtures/cache", "src/m.js", "c" * 40, "javascript",
          "const m = require('m');\nm.run(1);")],
        "repo string, path string, commit string, lang string, content string")
    spark.catalog.clearCache()
    write_graph_tables(build_cpg(spark, src), str(tmp_path / "cpg"))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_link_task_field_access():
    """FieldAccessLinkerPass in the link task: REF from a field-access CALL
    to the MEMBER its arg-2 field names, under the TYPE_DECLs named by its
    arg-1 type with pointer and reference decoration stripped. Row shapes
    follow the C frontend's: the member's owner is its AST parent."""
    from joern_spark.operators.linking import EDGE_ROW

    def access(call, op, base_type, field):
        return [row(M.CALL, call, op),
                row(M.IDENTIFIER, call + 1, parent_id=call, arg=1, tfn=base_type),
                row(M.FIELD_IDENTIFIER, call + 2, field, parent_id=call, arg=2,
                    cname=field)]

    rows = [
        # a.c declares struct S; b.c only forward-declares it
        row(M.TYPE_DECL, 200, "S", "S", node_idx=0),
        row(M.MEMBER, 201, "x", parent_id=200),
        row(M.MEMBER, 202, "y", parent_id=200),
        row(M.TYPE_DECL, 210, "S", "S", node_idx=0),
        # c.c and d.c each declare their own struct D with a member v
        row(M.TYPE_DECL, 220, "D", "D", node_idx=0),
        row(M.MEMBER, 221, "v", parent_id=220),
        row(M.TYPE_DECL, 230, "D", "D", node_idx=0),
        row(M.MEMBER, 231, "v", parent_id=230),
        # b.c: `struct S *p; p->x`, through S declared in a.c
        *access(300, M.OP_INDIRECT_FIELD_ACCESS, "S*", "x"),
        # `S &r; r.y`
        *access(310, M.OP_FIELD_ACCESS, "S &", "y"),
        # `(*p).x`: the base is an untyped CALL, which has no TYPE_DECL
        row(M.CALL, 320, M.OP_FIELD_ACCESS),
        row(M.CALL, 321, M.OP_INDIRECTION, parent_id=320, arg=1, tfn=M.ANY),
        row(M.FIELD_IDENTIFIER, 322, "x", parent_id=320, arg=2, cname="x"),
        # `struct T *q; q->x`: no TYPE_DECL named T
        *access(330, M.OP_INDIRECT_FIELD_ACCESS, "T*", "x"),
        # `struct D *d; d->v`: one REF per TYPE_DECL D, no first-row pick
        *access(340, M.OP_INDIRECT_FIELD_ACCESS, "D*", "v"),
        # a field S has no member named
        *access(350, M.OP_INDIRECT_FIELD_ACCESS, "S*", "z"),
        # the same arguments under a call that is no field access
        *access(360, "<operator>.addition", "S*", "x"),
    ]
    assert _out_rows(_link_task(rows), EDGE_ROW, "src", "dst", "label") == [
        (300, 201, M.REF), (310, 202, M.REF), (340, 221, M.REF), (340, 231, M.REF)]


def test_link_task_meta_data_and_namespaces():
    """One META_DATA row per (repo, lang) over the files' root rows, and one
    NAMESPACE row per distinct NAMESPACE_BLOCK name: the parsed blocks'
    names plus ``<global>``, the name of every file's own block."""
    def root(kind, id_, repo, lang, name=""):
        return row(kind, id_, name, node_idx=0, repo=repo, lang=lang)

    out = _link_task([
        root(M.TYPE_DECL, 1, "r1", "c"),
        root(M.UNKNOWN, 2, "r1", "c"),
        root(M.NAMESPACE_BLOCK, 3, "r1", "java", "p.q"),
        row(M.NAMESPACE_BLOCK, 4, "p.q"),
        row(M.NAMESPACE_BLOCK, 5, M.GLOBAL),
        root(M.TYPE_DECL, 6, "r2", "c"),
        # not a file's root
        row(M.TYPE_DECL, 7, repo="r3", lang="cpp"),
    ])
    assert _out_rows(out, M.META_DATA, "fn", "name") == [
        ("r1", "c"), ("r1", "java"), ("r2", "c")]
    assert _out_rows(out, M.NAMESPACE, "name") == [(M.GLOBAL,), ("p.q",)]
    # no file, no <global>
    assert _out_rows(_link_task([row(M.NAMESPACE_BLOCK, 4, "p.q")]),
                     M.NAMESPACE, "name") == [("p.q",)]


def test_link_task_without_calls_warns_nothing():
    """One METHOD and no CALL: the stub frame is empty, and pandas warns
    when an empty frame takes part in a concat's dtype choice."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        out = _link_task([row(M.METHOD, 11, name="f", full_name="f",
                              signature="int()")])
    assert _out_rows(out, M.METHOD, "src") == []


def test_link_task_capture():
    """CAPTURE from a closure's METHOD_REF to each outer LOCAL and
    METHOD_PARAMETER_IN its body uses: once per (closure, declaration),
    never for the closure's own locals or a declaration outside any
    method."""
    from joern_spark.operators.linking import EDGE_ROW

    def use(id_, method, decl):
        return row(M.IDENTIFIER, id_, method_id=method, ref_id=decl)

    out = _link_task([
        row(M.METHOD, 1, "outer", "outer"),
        row(M.METHOD_PARAMETER_IN, 2, "p", method_id=1),
        row(M.LOCAL, 3, "x", method_id=1),
        # `outer` holds the closure's METHOD_REF, the closure METHOD's parent
        row(M.METHOD_REF, 10, parent_id=1, method_id=1),
        row(M.METHOD, 11, "<lambda>0", "<lambda>0", parent_id=10),
        row(M.LOCAL, 12, "y", method_id=11),
        use(13, 11, 3), use(14, 11, 3),  # two uses of x: one edge
        use(15, 11, 2),                  # the outer parameter
        use(16, 11, 12),                 # the closure's own local
        # a file-level declaration has no method
        row(M.LOCAL, 20, "g"),
        use(21, 11, 20),
        # a use of x in outer itself
        use(22, 1, 3),
    ])
    assert _out_rows(out, EDGE_ROW, "src", "dst", "label") == [
        (10, 2, M.CAPTURE), (10, 3, M.CAPTURE)]


def test_link_task_js_parents():
    """A ``<js parent>`` row (a JS TYPE_DECL, a supertype fullname and that
    type's TYPE id) gives one INHERITS_FROM edge, and its fullname joins
    the referenced type names: one TYPE node, whose TYPE_DECL is a stub
    when no TYPE_DECL row declares it."""
    from joern_spark.operators.linking import EDGE_ROW, JS_PARENT_ROW, TYPE_NAME_ROW

    decl = row(M.TYPE_DECL, 100, "Q", "m.js::program:Q", inherits=["P"])
    parent = row(JS_PARENT_ROW, 100, full_name="lib.js::program:P", stub_id=601,
                 ref_id=501)
    out = _link_task([decl, parent])
    assert _out_rows(out, EDGE_ROW, "src", "dst", "label") == [
        (100, 501, M.INHERITS_FROM)]
    assert _out_rows(out, M.TYPE, "src", "dst", "fn") == [
        (501, 601, "lib.js::program:P")]
    assert _out_rows(out, M.TYPE_DECL, "src", "fn") == [(601, "lib.js::program:P")]
    # a parse row that names the same type adds no second TYPE
    out = _link_task([decl, parent, row(TYPE_NAME_ROW, 501, full_name="lib.js::program:P",
                                        stub_id=601)])
    assert _out_rows(out, M.TYPE, "src", "dst", "fn") == [
        (501, 601, "lib.js::program:P")]
