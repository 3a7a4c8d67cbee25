"""JS type recovery (joern_spark.operators.typerecovery): the pandas kernel's
rules on small inputs without Spark, the production task against the
sequential oracle on the fixture corpus, and its job count."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from joern_spark.operators import typerecovery as TR


def _recover(files: dict[str, str]) -> tuple[set, set]:
    """Parse ``files`` (path -> JS source) with the frontend, run the
    recovery kernel on the rows -> ({(call code, recovered mfn)},
    {(path, var, type)} without the per-file builtin seeds)."""
    from joern_spark.frontends.astnode import flatten_file
    from joern_spark.frontends.jssrc import parse_js_file

    rows = []
    for f, (path, src) in enumerate(files.items()):
        base = f * 1_000_000 + 1  # ids are never 0, the kernel's "no id"
        for r in flatten_file("r", path, "c", "javascript", src,
                              parse_js_file("r", path, "c", src)):
            rows.append({**{c: r[c] for c in TR.IN_COLS if c in r},
                         "id": base + r["node_idx"],
                         "parent_id": base + r["parent_idx"] if r["parent_idx"] >= 0 else 0,
                         "method_id": base + r["method_idx"] if r["method_idx"] >= 0 else 0})
    pdf = pd.DataFrame(rows, columns=list(TR.IN_COLS))
    out = TR.recovery_task(pdf)
    code = dict(zip(pdf["id"], pdf["code"]))
    rw = out[out["row"] == TR.REWRITE_ROW]
    st = out[out["row"] == TR.SYMBOL_ROW]
    return ({(code[i], t) for i, t in zip(rw["id"], rw["type"])},
            {(p, v, t) for p, v, t in zip(st["path"], st["var"], st["type"])
             if v not in TR.JS_GLOBAL_BUILTINS})


def test_require_binding():
    rw, st = _recover({"a.js": "const sg = require('sendgrid');\n"
                               "const r = sg.send(msg);\nr.then(1);\n"})
    assert rw == {("sg.send(msg)", "sendgrid:send"),
                  ("r.then(1)", "sendgrid:send:<returnValue>:then")}
    assert st == {("a.js", "sg", "sendgrid"),
                  ("a.js", "r", "sendgrid:send:<returnValue>")}


def test_new_of_known_function():
    rw, st = _recover({"a.js": "function F() {}\nconst x = new F();\nx.go();\n"})
    assert rw == {("new F()", "a.js::program:F"), ("x.go()", "a.js::program:F:go")}
    assert ("a.js", "x", "a.js::program:F") in st


def test_identifier_alias():
    rw, st = _recover({"a.js": "const a = require('m');\nconst b = a;\nb.f();\n"})
    assert rw == {("b.f()", "m:f")}
    assert st == {("a.js", "a", "m"), ("a.js", "b", "m")}


def test_relative_import_export():
    rw, st = _recover({
        "lib.js": "exports.hello = function() { return 1; };\n",
        "main.js": "const lib = require('./lib');\nconst v = lib.hello();\n"})
    assert rw == {("lib.hello()", "lib.js::program:hello")}
    # the binding adopts the module entity instead of a raw "./lib" seed
    assert {("main.js", "lib", "lib.js::program"),
            ("main.js", "lib.hello", "lib.js::program:hello"),
            ("main.js", "v", "__ecma.Number")} <= st
    assert not any(t.startswith(".") for _, _, t in st)


def test_multi_hint_receiver_stays_unresolved():
    rw, st = _recover({"a.js": "let x = require('a');\nx = require('b');\nx.f();\n"})
    assert rw == set()
    assert st == {("a.js", "x", "a"), ("a.js", "x", "b")}


def test_return_value_replaced_by_later_return_type():
    """`c` is typed only in the second iteration (one alias hop per
    iteration), so `v = mk()` first takes the dummy
    `...:mk:<returnValue>`; the final pass replaces it with mk's return
    type."""
    rw, st = _recover({"a.js": "const a = require('m');\nconst b = a;\n"
                               "const c = b;\nfunction mk() { return c.g(); }\n"
                               "const v = mk();\n"})
    assert rw == {("c.g()", "m:g"), ("mk()", "a.js::program:mk")}
    assert ("a.js", "ret:mk", "m:g:<returnValue>") in st
    assert [t for p, v, t in st if v == "v"] == ["m:g:<returnValue>"]


def test_empty_input():
    assert _recover({}) == (set(), set())


@pytest.fixture(scope="module")
def spark():
    from joern_spark.session import get_spark
    return get_spark(master="local[4]", app="test_typerecovery", shuffle_partitions=8)


@pytest.fixture(scope="module")
def fixture_nodes(spark):
    from joern_spark.corpus import fixture_source
    from joern_spark.operators.parse import parse_source, with_ids

    nodes = with_ids(parse_source(fixture_source(spark)))
    return nodes.filter(F.col("parse_error") == "").localCheckpoint(eager=True)


def test_fixture_rewrites_match_oracle(fixture_nodes):
    from joern_spark import oracle as O

    rw = TR.js_mfn_rewrites(fixture_nodes)
    got = {(r["path"], r["code"], r["rec_mfn"])
           for r in rw.join(fixture_nodes.select("id", "path", "code"), "id").collect()}
    want = set(O.expected_type_recovery())
    assert want and got == want


def test_recovery_issues_few_jobs(spark, fixture_nodes):
    """One grouped task, checkpointed once: a handful of jobs, not one per
    rule and iteration."""
    sc = spark.sparkContext
    sc.setJobGroup("test_typerecovery_jobs", "type recovery")
    try:
        TR.js_mfn_rewrites(fixture_nodes)
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup("test_typerecovery_jobs")) <= 3
