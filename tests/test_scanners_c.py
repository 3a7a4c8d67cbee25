"""querydb C scanner bundles vs the reference's CQueryTestSuite expectations.

Each suite mirrors querydb/src/test/scala/io/joern/scanners/c/*Tests.scala:
the bundle's positive+negative codeExamples are concatenated into one
translation unit (CQueryTestSuite.scala:18-29), the CPG is built, and each
query's evidence must land in exactly the expected enclosing-function set
(findMatchingCalls, CQueryTestSuite.scala:33-41).
"""

from __future__ import annotations

import pytest

from joern_spark import model as M
from joern_spark.scanners_c import (
    BUNDLES, bundle_code, evidence_methods, run_bundles)


@pytest.fixture(scope="module")
def spark():
    from joern_spark.session import get_spark
    yield get_spark(master="local[4]", app="test_scanners_c",
                    shuffle_partitions=8)


# module-scoped CPGs below; every other test builds its own
_SHARED_CPGS = {"dangerous", "metrics", "cred_drop", "uaf"}


@pytest.fixture(autouse=True)
def _release_own_cpg(request, spark):
    """A test that builds its own CPG keeps it cached only while it runs.
    Left in the cache manager, each build's plans slow the planning of every
    later query in the module."""
    yield
    if not _SHARED_CPGS & set(request.fixturenames):
        spark.catalog.clearCache()


def _cpg_for(spark, code: str, path: str):
    from joern_spark.sources import built_graph
    src = spark.createDataFrame(
        [("fixtures/querydb", path, "c" * 40, "c", code)],
        "repo string, path string, commit string, lang string, content string")
    out = built_graph(spark, src)
    n = out["nodes"].cache()
    e = out["edges"].cache()
    # the whole translation unit must parse (CDT recovers on the examples'
    # quirks — missing semicolons before `}` etc.; so must we)
    assert out["errors"].count() == 0, f"parse errors in {path}"
    return n, e


def _bundle_cpg(spark, bundle_name: str):
    return _cpg_for(spark, bundle_code(BUNDLES[bundle_name]),
                    f"{bundle_name}.c")


@pytest.fixture(scope="module")
def dangerous(spark):
    return _bundle_cpg(spark, "DangerousFunctions")


# --- DangerousFunctionsTests.scala ---------------------------------------- #

@pytest.mark.parametrize("qname,want", [
    ("call-to-gets", {"insecure_gets"}),
    ("format-controlled-printf", {"insecure_sprintf", "insecure_printf"}),
    ("call-to-scanf", {"insecure_scanf"}),
    ("call-to-strcat", {"insecure_strcat", "insecure_strncat"}),
    ("call-to-strcpy", {"insecure_strcpy", "insecure_strncpy"}),
    ("call-to-strtok", {"insecure_strtok"}),
    ("call-to-getwd", {"insecure_getwd"}),
])
def test_dangerous_functions(dangerous, qname, want):
    n, e = dangerous
    q = next(q for q in BUNDLES["DangerousFunctions"] if q.name == qname)
    assert evidence_methods(n, e, q) == want


# --- MetricsTests.scala ---------------------------------------------------- #

@pytest.fixture(scope="module")
def metrics(spark):
    return _bundle_cpg(spark, "Metrics")


@pytest.mark.parametrize("qname,want", [
    ("too-many-params", {"too_many_params"}),
    ("too-high-complexity", {"high_cyclomatic_complexity"}),
    ("too-long", {"func_with_many_lines"}),
    ("multiple-returns", {"func_with_multiple_returns"}),
    ("too-many-loops", {"high_number_of_loops"}),
    ("too-nested", {"func_with_nesting_level_of_3"}),
])
def test_metrics(metrics, qname, want):
    n, e = metrics
    q = next(q for q in BUNDLES["Metrics"] if q.name == qname)
    assert evidence_methods(n, e, q) == want


# --- CredentialDropTests.scala --------------------------------------------- #

@pytest.fixture(scope="module")
def cred_drop(spark):
    return _bundle_cpg(spark, "CredentialDrop")


def test_user_cred_drop(cred_drop):
    n, e = cred_drop
    q = BUNDLES["CredentialDrop"][0]
    assert evidence_methods(n, e, q) == {"bad1", "bad3"}


def test_group_cred_drop(cred_drop):
    n, e = cred_drop
    q = BUNDLES["CredentialDrop"][1]
    assert evidence_methods(n, e, q) == {"bad2"}


# --- SignedLeftShiftTests.scala -------------------------------------------- #

def test_signed_left_shift(spark):
    n, e = _bundle_cpg(spark, "SignedLeftShift")
    q = BUNDLES["SignedLeftShift"][0]
    assert evidence_methods(n, e, q) == {"shift_bad1", "shift_bad2",
                                         "shift_bad3"}


# --- IntegerTruncationsTests.scala ----------------------------------------- #

def test_strlen_truncation(spark):
    n, e = _bundle_cpg(spark, "IntegerTruncations")
    q = BUNDLES["IntegerTruncations"][0]
    ids = q.traversal(n, e)
    ev = n.join(ids.select("id").distinct(), "id").collect()
    # evidence is the assignment-target IDENTIFIER (the reference asserts
    # nodes.Identifier with method name "vulnerable")
    assert {r["kind"] for r in ev} == {M.IDENTIFIER}
    assert evidence_methods(n, e, q) == {"strlen_vulnerable"}


# --- RetvalChecksTests.scala ------------------------------------------------ #

def test_unchecked_read(spark):
    n, e = _bundle_cpg(spark, "RetvalChecks")
    q = BUNDLES["RetvalChecks"][0]
    assert evidence_methods(n, e, q) == {"unchecked_read",
                                         "checks_something_else"}


# --- SocketApiTests.scala --------------------------------------------------- #

def test_unchecked_send(spark):
    n, e = _bundle_cpg(spark, "SocketApi")
    q = BUNDLES["SocketApi"][0]
    assert evidence_methods(n, e, q) == {"return_not_checked"}


# --- CopyLoopTests.scala ---------------------------------------------------- #

def test_copy_loop(spark):
    n, e = _bundle_cpg(spark, "CopyLoops")
    q = BUNDLES["CopyLoops"][0]
    assert evidence_methods(n, e, q) == {"index_into_dst_array"}


# --- HeapBasedOverflowTests.scala ------------------------------------------- #

def test_malloc_memcpy_int_overflow(spark):
    n, e = _bundle_cpg(spark, "HeapBasedOverflow")
    q = BUNDLES["HeapBasedOverflow"][0]
    ids = q.traversal(n, e)
    ev = n.join(ids.select("id").distinct(), "id").collect()
    # the reference asserts a single evidence expression with this code
    assert len(ev) == 1
    assert ev[0]["code"] == "memcpy(dst, src, len + 7)"


# --- NullTerminationTests.scala --------------------------------------------- #

def test_strncpy_no_null_term(spark):
    n, e = _bundle_cpg(spark, "NullTermination")
    q = BUNDLES["NullTermination"][0]
    assert evidence_methods(n, e, q) == {"nullterm_bad"}


# --- FileOpRaceTests.scala --------------------------------------------------- #

def test_file_operation_race(spark):
    n, e = _bundle_cpg(spark, "FileOpRace")
    q = BUNDLES["FileOpRace"][0]
    assert evidence_methods(n, e, q) == {"insecure_race"}


# --- UseAfterFreeTests.scala (overridden cpg) -------------------------------- #


def test_free_field_no_reassign(spark):
    from joern_spark.scanners_c import UAF_FIELD_FIXTURE
    n, e = _cpg_for(spark, UAF_FIELD_FIXTURE, "UseAfterFreeTests.c")
    q = BUNDLES["UseAfterFree"][0]
    assert evidence_methods(n, e, q) == {"uaf_bad"}


# --- UseAfterFreeReturnTests.scala / UseAfterFreePostUsage.scala (full
#     bundle concat, like the reference suites without a cpg override) ------- #

@pytest.fixture(scope="module")
def uaf(spark):
    return _bundle_cpg(spark, "UseAfterFree")


def test_free_returned_value(uaf):
    n, e = uaf
    q = BUNDLES["UseAfterFree"][1]
    assert evidence_methods(n, e, q) == {"uaf_ret_bad"}


def test_free_post_dominates_usage(uaf):
    n, e = uaf
    q = BUNDLES["UseAfterFree"][2]
    assert evidence_methods(n, e, q) == {"uaf_pd_bad", "uaf_pd_false_positive"}


# --- combined runner --------------------------------------------------------- #

def test_run_bundles_schema(spark):
    n, e = _bundle_cpg(spark, "CredentialDrop")
    f = run_bundles(n, e, {"CredentialDrop": BUNDLES["CredentialDrop"]})
    rows = f.collect()
    assert set(f.columns) == {"bundle", "query_name", "score", "method_name",
                              "line", "code"}
    assert {(r["query_name"], r["method_name"]) for r in rows} == {
        ("setuid-without-setgid", "bad1"),
        ("setuid-without-setgid", "bad3"),
        ("setgid-without-setgroups", "bad2"),
    }


# --- combined driver suite (cpg_scan_c) --------------------------------------- #

def test_suite_findings_match_reference(spark):
    from joern_spark.scanners_c import (
        suite_expected_rows, suite_findings, suite_source_rows)
    from joern_spark.sources import built_graph
    src = spark.createDataFrame(
        suite_source_rows(),
        "repo string, path string, commit string, lang string, content string")
    out = built_graph(spark, src)
    assert out["errors"].count() == 0
    n = out["nodes"].cache()
    got = {(r["bundle"], r["query_name"], r["method_name"])
           for r in suite_findings(n, out["edges"]).collect()}
    assert got == set(suite_expected_rows())
