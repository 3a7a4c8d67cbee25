"""Driver contract for the spark-graft builder (PySpark target).

Every query is a ``cpg_*`` query over the code-property-graph pipeline (the
north star). Input is the deterministic fixture corpus (BASELINE.json
input_hint: the engine's input is a source-code table, synthesized at small
scale — see FIXTURES.md §1); the oracle is a pure-Python single-node
re-implementation (joern_spark/oracle.py) rendered as DuckDB VALUES SQL, so
the driver validates the distributed plan (hash ids, joins, groupBys,
shuffles) against a trusted sequential run.

The CPG is built ONCE per session and cached; each query is then a small
join/projection over the cached nodes/edges relations.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

_CPG_CACHE: dict[int, dict] = {}


def _code_fingerprint() -> str:
    """Hash of the engine source — stale parquet checkpoints from older code
    must not satisfy a newer run."""
    import glob
    import hashlib
    h = hashlib.sha256()
    for p in sorted(glob.glob("/root/repo/joern_spark/**/*.py", recursive=True)):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _cpg(spark: SparkSession) -> dict:
    key = id(spark)
    if key not in _CPG_CACHE:
        from joern_spark.corpus import fixture_source
        from joern_spark.plans.pipeline import build_cpg, source_fingerprint
        src = fixture_source(spark)
        fp = f"{source_fingerprint(src)}:{_code_fingerprint()}"
        out = build_cpg(spark, src, out_dir="/tmp/joern_spark_cpg/fixtures",
                        fingerprint=fp)
        _CPG_CACHE[key] = out
    return _CPG_CACHE[key]


_SCAN_CPG_CACHE: dict[int, dict] = {}


def _scan_cpg(spark: SparkSession) -> dict:
    """CPG over the querydb scanner codeExamples (one translation unit per
    bundle, CQueryTestSuite.scala:18-29) — separate from the main fixture
    corpus so its oracles stay untouched."""
    key = id(spark)
    if key not in _SCAN_CPG_CACHE:
        from joern_spark.plans.pipeline import build_cpg, source_fingerprint
        from joern_spark.scanners_c import suite_source_rows
        src = spark.createDataFrame(
            suite_source_rows(),
            "repo string, path string, commit string, lang string, "
            "content string")
        fp = f"{source_fingerprint(src)}:{_code_fingerprint()}"
        _SCAN_CPG_CACHE[key] = build_cpg(
            spark, src, out_dir="/tmp/joern_spark_cpg/scanfix",
            fingerprint=fp)
    return _SCAN_CPG_CACHE[key]


def _s(col):
    return F.col(col).cast("string")


# --------------------------------------------------------------------------- #
# CPG queries (fixture corpus; sf_dir unused except where noted)
# --------------------------------------------------------------------------- #

def q_cpg_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _cpg(spark)["nodes"]
    return (n.filter((F.col("kind") == "METHOD") & ~F.col("is_external")
                     & (F.col("path") != ""))
            .select(_s("lang").alias("lang"), _s("path").alias("path"),
                    _s("full_name").alias("method_full_name"))
            .distinct())


def q_cpg_method_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _cpg(spark)["nodes"]
    params = n.filter((F.col("kind") == "METHOD_PARAMETER_IN")
                      & F.col("lang").isin("c", "cpp", "java")).select(
        "parent_id", "name", "param_index")
    methods = n.filter(F.col("kind") == "METHOD").select(
        F.col("id").alias("parent_id"), F.col("full_name").alias("m_full_name"))
    return (params.join(methods, "parent_id")
            .select(_s("m_full_name").alias("method_full_name"),
                    _s("name").alias("param_name"),
                    F.col("param_index").cast("long").alias("param_index"))
            .distinct())


def q_cpg_static_calls(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _cpg(spark)
    n, e = c["nodes"], c["edges"]
    calls = n.filter((F.col("kind") == "CALL")
                     & (F.col("dispatch_type") == "STATIC_DISPATCH")).select(
        F.col("id").alias("src"), F.col("method_id").alias("caller_mid"),
        F.col("method_full_name").alias("call_target"))
    methods = n.filter((F.col("kind") == "METHOD") & ~F.col("is_external")).select(
        F.col("id").alias("dst"), F.col("full_name").alias("callee_full_name"))
    callers = n.filter(F.col("kind") == "METHOD").select(
        F.col("id").alias("caller_mid"), F.col("full_name").alias("caller_full_name"))
    return (e.filter(F.col("label") == "CALL")
            .join(calls, "src").join(methods, "dst")
            .filter(F.col("call_target") == F.col("callee_full_name"))
            .join(callers, "caller_mid")
            .select(_s("caller_full_name").alias("caller_full_name"),
                    _s("callee_full_name").alias("callee_full_name"))
            .distinct())


def _cfg_like(spark, label, path_suffix, with_var=False):
    c = _cpg(spark)
    n, e = c["nodes"], c["edges"]
    nn = n.filter(F.col("path").endswith(path_suffix))
    src = nn.select(F.col("id").alias("src"), F.col("code").alias("src_code"),
                    F.col("method_id").alias("mid"), F.col("kind").alias("src_kind"),
                    F.col("full_name").alias("src_fn"))
    dst = nn.select(F.col("id").alias("dst"), F.col("code").alias("dst_code"))
    methods = nn.filter(F.col("kind") == "METHOD").select(
        F.col("id").alias("mid2"), F.col("full_name").alias("method_full_name"))
    j = (e.filter(F.col("label") == label).join(src, "src").join(dst, "dst")
         .withColumn("mid_eff", F.when(F.col("src_kind") == "METHOD",
                                       F.col("src")).otherwise(F.col("mid")))
         .join(methods, F.col("mid_eff") == F.col("mid2")))
    cols = [_s("method_full_name").alias("method_full_name"),
            _s("src_code").alias("src_code"), _s("dst_code").alias("dst_code")]
    if with_var:
        cols.append(F.coalesce(_s("variable"), F.lit("")).alias("variable"))
    return j.select(*cols).distinct()


def q_cpg_cfg_succ(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cfg_like(spark, "CFG", "src/cfg.c")


def q_cpg_reaching_def(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cfg_like(spark, "REACHING_DEF", "src/uaf.c", with_var=True)


def q_cpg_inherits(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _cpg(spark)
    n, e = c["nodes"], c["edges"]
    src = n.filter(F.col("kind") == "TYPE_DECL").select(
        F.col("id").alias("src"), F.col("full_name").alias("type_full_name"))
    dst = n.filter(F.col("kind") == "TYPE").select(
        F.col("id").alias("dst"), F.col("full_name").alias("parent_full_name"))
    return (e.filter(F.col("label") == "INHERITS_FROM")
            .join(src, "src").join(dst, "dst")
            .select(_s("type_full_name").alias("type_full_name"),
                    _s("parent_full_name").alias("parent_full_name"))
            .distinct())


def q_cpg_declares(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _cpg(spark)
    n, e = c["nodes"], c["edges"]
    src = n.filter(F.col("kind") == "TYPE_DECL").select(
        F.col("id").alias("src"), F.col("full_name").alias("type_full_name"))
    dst = n.select(F.col("id").alias("dst"), F.col("name").alias("decl_name"))
    return (e.filter(F.col("label") == "DECLARES")
            .join(src, "src").join(dst, "dst")
            .select(_s("type_full_name").alias("type_full_name"),
                    _s("decl_name").alias("decl_name"))
            .distinct())


def q_cpg_bindings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized BINDING vtable (BindingTableAdapterImpls.scala):
    one row per (type_decl, bound name, bound signature) with the METHOD
    fullname the entry dispatches to. Reads the persisted BINDING nodes —
    validates the pipeline's stage-2b joins end-to-end."""
    n = _cpg(spark)["nodes"]
    return (n.filter(F.col("kind") == "BINDING")
            .select(_s("ast_parent_full_name").alias("td_full_name"),
                    _s("name").alias("bname"),
                    _s("signature").alias("bsig"),
                    _s("method_full_name").alias("target_fn"))
            .distinct())


def q_cpg_operator_calls(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _cpg(spark)["nodes"]
    return (n.filter((F.col("kind") == "CALL")
                     & F.col("name").startswith("<operator>."))
            .groupBy(_s("name").alias("op_name"))
            .agg(F.count("*").alias("n")))


def q_cpg_sha_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _cpg(spark)["nodes"]
    return (n.filter(F.col("path") != "")
            .select(_s("path").alias("path"), _s("sha256").alias("sha256"))
            .filter(F.col("sha256") != "")
            .distinct())


def q_cpg_canonical_aliases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-linking output: unresolved stub symbols → canonical internal
    definition fullname — the build's canonical map joined to its METHOD
    nodes (joern_spark.operators.linking; north-rule stage)."""
    out = _cpg(spark)
    alias_fn = out["nodes"].filter(F.col("kind") == "METHOD").select(
        F.col("id").alias("m_id"), F.col("full_name").alias("alias_full_name"))
    return (out["canonical"].join(alias_fn, "m_id")
            .select(_s("alias_full_name").alias("alias_full_name"),
                    _s("canon_fn").alias("canon_full_name"))
            .filter(F.col("alias_full_name") != F.col("canon_full_name"))
            .distinct())


def q_cpg_field_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fieldAccess CALL → MEMBER REF links (FieldAccessLinkerPass analogue)."""
    c = _cpg(spark)
    n, e = c["nodes"], c["edges"]
    calls = n.filter(F.col("kind") == "CALL").select(
        F.col("id").alias("src"), F.col("code").alias("call_code"))
    members = n.filter(F.col("kind") == "MEMBER").select(
        F.col("id").alias("dst"), F.col("name").alias("member_name"))
    return (e.filter(F.col("label") == "REF")
            .join(calls, "src").join(members, "dst")
            .select(_s("call_code").alias("call_code"),
                    _s("member_name").alias("member_name"))
            .distinct())


def q_cpg_partition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(repo,lang) lineage/metric rows over the parsed node rows
    (node_idx >= 0 excludes derived stub/dimension nodes)."""
    from joern_spark.plans.pipeline import partition_metrics
    n = _cpg(spark)["nodes"].filter(F.col("node_idx") >= 0)
    m = partition_metrics(n)
    return m.select(_s("repo").alias("repo"), _s("lang").alias("lang"),
                    F.col("n_files").cast("long").alias("n_files"),
                    F.col("n_nodes").cast("long").alias("n_nodes"),
                    F.col("n_methods").cast("long").alias("n_methods"),
                    F.col("n_calls").cast("long").alias("n_calls"))


def q_cpg_method_stubs(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _cpg(spark)["nodes"]
    return (n.filter((F.col("kind") == "METHOD") & F.col("is_external"))
            .select(_s("full_name").alias("method_full_name"))
            .distinct())


def q_cpg_declared_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-but-undefined symbols — the c2cpg collected-declaration
    side outputs (FunctionDeclNodePass.stubMethods for prototypes that
    never get a definition; TypeDeclNodePass for used types with no
    TYPE_DECL, C2Cpg.scala:45-48): internal body-less METHODs whose
    fullname has no bodied definition anywhere, plus the external
    TYPE_DECL stubs the base layer created."""
    n = _cpg(spark)["nodes"]
    methods = n.filter((F.col("kind") == "METHOD") & (~F.col("is_external")))
    bodies = n.filter(F.col("kind") == "BLOCK").select(
        F.col("parent_id").alias("bid")).distinct()
    protos = methods.join(bodies, methods["id"] == F.col("bid"), "left_anti")
    defined_fns = (methods.join(bodies, methods["id"] == F.col("bid"),
                                "left_semi")
                   .select("full_name").distinct())
    declared = (protos.join(defined_fns, "full_name", "left_anti")
                .select(F.lit("method").alias("sym_kind"),
                        _s("name").alias("name"),
                        _s("full_name").alias("full_name")))
    tstubs = (n.filter((F.col("kind") == "TYPE_DECL") & F.col("is_external"))
              .select(F.lit("type_decl").alias("sym_kind"),
                      _s("name").alias("name"),
                      _s("full_name").alias("full_name")))
    return declared.unionByName(tstubs).distinct()


def q_cpg_captures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPTURE edges (METHOD_REF → captured outer LOCAL/PARAM, closures
    named `<lambda>N` — Ast.scala:104, Defines.scala:35), reported per
    closure method fullname."""
    c = _cpg(spark)
    n, e = c["nodes"], c["edges"]
    inner = n.filter(F.col("kind") == "METHOD").select(
        F.col("parent_id").alias("src"), F.col("full_name").alias("closure_full_name"),
        "path")
    target = n.select(F.col("id").alias("dst"), F.col("name").alias("captured_name"))
    return (e.filter(F.col("label") == "CAPTURE")
            .join(inner, "src").join(target, "dst")
            .select(_s("path").alias("path"),
                    _s("closure_full_name").alias("closure_full_name"),
                    _s("captured_name").alias("captured_name"))
            .distinct())


def q_cpg_type_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XTypeRecovery-lite output: JS member calls whose methodFullName was
    recovered through require() bindings / return-value hops
    (XTypeRecovery.scala; `<returnValue>` marker per :259)."""
    from joern_spark.operators.typerecovery import js_mfn_rewrites
    n = _cpg(spark)["nodes"]
    rw = js_mfn_rewrites(n.filter(F.col("parse_error") == ""))
    sites = n.filter(F.col("kind") == "CALL").select(
        "id", "path", F.col("code").alias("call_code"))
    return (rw.join(sites, "id")
            .select(_s("path").alias("path"), _s("call_code").alias("call_code"),
                    _s("rec_mfn").alias("recovered_mfn"))
            .distinct())


def q_cpg_findings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """joern-scan analogue: the default query bundles over the fixture CPG
    (scan/package.scala:17-39; CopyLoops.scala:23-39)."""
    from joern_spark.scan import run_queries
    c = _cpg(spark)
    return (run_queries(c["nodes"], c["edges"])
            .select(_s("query_name").alias("query_name"), _s("path").alias("path"),
                    _s("method_full_name").alias("method_full_name"),
                    F.col("line").cast("long").alias("line"), _s("code").alias("code"))
            .distinct())


def q_cpg_scan_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """joern-scan querydb C bundles over their own codeExamples corpus:
    every bundle's queries against its translation unit, evidence reduced
    to (bundle, query_name, enclosing method) exactly as the reference's
    CQueryTestSuite.findMatchingCalls asserts (querydb/src/test/scala/io/
    joern/suites/CQueryTestSuite.scala:33-41)."""
    from joern_spark.scanners_c import suite_findings
    c = _scan_cpg(spark)
    return (suite_findings(c["nodes"], c["edges"])
            .select(_s("bundle").alias("bundle"),
                    _s("query_name").alias("query_name"),
                    _s("method_name").alias("method_name")))


def _config_source(spark: SparkSession) -> DataFrame:
    from joern_spark.corpus import config_fixture_rows
    return spark.createDataFrame(
        config_fixture_rows(),
        "repo string, path string, commit string, lang string, "
        "content string")


def q_cpg_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEPENDENCY nodes from package.json / package-lock.json —
    DependenciesPass (jssrc2cpg DependenciesPass.scala:15-35, lock-file
    precedence per PackageJsonParser.scala:79-92)."""
    from joern_spark.operators.configfiles import dependency_nodes
    return (dependency_nodes(_config_source(spark))
            .select(_s("name").alias("name"), _s("version").alias("version")))


def q_cpg_config_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONFIG_FILE nodes — ConfigPass + PrivateKeyFilePass (jssrc2cpg
    ConfigPass.scala:20-34, PrivateKeyFilePass.scala:13-26)."""
    from joern_spark.operators.configfiles import config_file_nodes
    return (config_file_nodes(_config_source(spark))
            .select(_s("name").alias("name"), _s("content").alias("content")))


def q_cpg_imports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMPORT nodes (#include directives / JS import statements) —
    XImportsPass analogue."""
    n = _cpg(spark)["nodes"]
    return (n.filter(F.col("kind") == "IMPORT")
            .select(_s("lang").alias("lang"), _s("path").alias("path"),
                    _s("name").alias("import_entity"), _s("code").alias("code"))
            .distinct())


def q_cpg_dynamic_calls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC_DISPATCH resolution (SAFEDISPATCH candidates with signature /
    arity compatibility — DynamicCallLinker.scala:137-141): one row per
    (caller, call site methodFullName, resolved callee)."""
    from joern_spark.operators.typerecovery import js_mfn_rewrites
    c = _cpg(spark)
    n, e = c["nodes"], c["edges"]
    rw = js_mfn_rewrites(n.filter(F.col("parse_error") == ""))
    sites = (n.filter((F.col("kind") == "CALL")
                      & (F.col("dispatch_type") == "DYNAMIC_DISPATCH"))
             .select(F.col("id").alias("src"), F.col("code").alias("call_code"),
                     F.col("method_full_name"), F.col("method_id"))
             .join(rw.withColumnRenamed("id", "src"), "src", "left")
             .withColumn("call_mfn",
                         F.coalesce("rec_mfn", "method_full_name")))
    callers = n.filter(F.col("kind") == "METHOD").select(
        F.col("id").alias("method_id"), F.col("full_name").alias("caller_full_name"))
    targets = n.filter(F.col("kind") == "METHOD").select(
        F.col("id").alias("dst"), F.col("full_name").alias("callee_full_name"))
    return (e.filter(F.col("label") == "CALL")
            .join(sites, "src").join(callers, "method_id").join(targets, "dst")
            .select(_s("caller_full_name").alias("caller_full_name"),
                    _s("call_code").alias("call_code"),
                    _s("call_mfn").alias("call_mfn"),
                    _s("callee_full_name").alias("callee_full_name"))
            .distinct())


def q_cpg_usage_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Usage slicing v0 (UsageSlicing.scala): definedBy / invokedCall /
    argToCall rows per LOCAL/PARAM declaration — the flattened
    ObjectUsageSlice relation."""
    from joern_spark.operators.slicing import usage_slices
    c = _cpg(spark)
    rows = usage_slices(c["nodes"].filter(F.col("parse_error") == ""),
                        c["edges"])
    return rows.select(_s("method_full_name").alias("method_full_name"),
                       _s("var_name").alias("var_name"),
                       _s("var_kind").alias("var_kind"),
                       _s("relation").alias("relation"),
                       _s("call_name").alias("call_name"),
                       _s("detail").alias("detail"))


def q_cpg_usage_slice_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed ObjectUsageSlice fields (ObservedCall paramTypes/returnType/
    resolvedMethod/position — JsUsageSliceTests goldens)."""
    from joern_spark.operators.slicing import usage_slice_types
    c = _cpg(spark)
    rows = usage_slice_types(c["nodes"].filter(F.col("parse_error") == ""),
                             c["edges"])
    return rows.select(_s("method_full_name").alias("method_full_name"),
                       _s("var_name").alias("var_name"),
                       _s("relation").alias("relation"),
                       _s("call_name").alias("call_name"),
                       _s("param_types").alias("param_types"),
                       _s("return_type").alias("return_type"),
                       _s("resolved_method").alias("resolved_method"),
                       F.col("position").cast("long").alias("position"))


def q_cpg_udts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UserDefinedType records (UsageSlicing.userDefinedTypes)."""
    from joern_spark.operators.slicing import user_defined_types
    c = _cpg(spark)
    rows = user_defined_types(c["nodes"].filter(F.col("parse_error") == ""))
    return rows.select(_s("udt_full_name").alias("udt_full_name"),
                       _s("procedure_name").alias("procedure_name"),
                       _s("procedure_full_name").alias("procedure_full_name"),
                       _s("return_type").alias("return_type"))


def q_cpg_dataflow_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged data-flow slice (DataFlowSlicing.scala): depth-20 backward
    REACHING_DEF closure of all call arguments, flattened SliceNode rows."""
    from joern_spark.operators.slicing import dataflow_slices
    c = _cpg(spark)
    rows = dataflow_slices(c["nodes"].filter(F.col("parse_error") == ""),
                           c["edges"])
    return rows.select(_s("method_full_name").alias("method_full_name"),
                       _s("node_kind").alias("node_kind"),
                       _s("name").alias("name"),
                       _s("code").alias("code"),
                       _s("type_full_name").alias("type_full_name"))


def q_cpg_api_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JoernVectors BagOfAPISymbolsForMethods: per-method feature-bag
    digests (n_features, total_count, crc32-weighted dim sum)."""
    from joern_spark.operators.vectors import api_vector_summaries
    c = _cpg(spark)
    rows = api_vector_summaries(
        c["nodes"].filter(F.col("parse_error") == ""))
    return rows.select(_s("path").alias("path"),
                       _s("method_full_name").alias("method_full_name"),
                       F.col("n_features").cast("long").alias("n_features"),
                       F.col("total_count").cast("long").alias("total_count"),
                       F.col("dim_weighted_sum").cast("long")
                       .alias("dim_weighted_sum"))


def q_cpg_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE north-star metric: P/R per (lang, relation) vs golden expectations
    hand-transcribed from the reference's own test suites (citations in
    joern_spark/parity/corpus_*.py). Runs the full distributed path (Arrow
    mapInPandas parse + fused intra-method kernels + closure joins); the
    DuckDB oracle pins the same scores computed by the sequential extractor.
    The north rule target is precision_bp and recall_bp >= 9500 per row."""
    from joern_spark.parity.spark_facts import parity_scores
    return parity_scores(spark).select(
        _s("lang").alias("lang"), _s("relation").alias("relation"),
        "tp", "fp", "fn", "precision_bp", "recall_bp")


def oracle_sql() -> dict[str, str]:
    """Driver contract: one DuckDB SQL oracle per ``queries()`` name."""
    from joern_spark import oracle as O
    return {
        "cpg_methods": O.values_sql(
            O.expected_methods(), ["lang", "path", "method_full_name"]),
        "cpg_method_params": O.values_sql(
            O.expected_method_params(),
            ["method_full_name", "param_name", "param_index"]),
        "cpg_static_calls": O.values_sql(
            O.expected_static_calls(), ["caller_full_name", "callee_full_name"]),
        "cpg_cfg_succ": O.values_sql(
            O.expected_cfg_succ("src/cfg.c"),
            ["method_full_name", "src_code", "dst_code"]),
        "cpg_reaching_def": O.values_sql(
            O.expected_reaching_defs("src/uaf.c"),
            ["method_full_name", "src_code", "dst_code", "variable"]),
        "cpg_inherits": O.values_sql(
            O.expected_inherits(), ["type_full_name", "parent_full_name"]),
        "cpg_declares": O.values_sql(
            O.expected_declares(), ["type_full_name", "decl_name"]),
        "cpg_operator_calls": O.values_sql(
            O.expected_operator_counts(), ["op_name", "n"]),
        "cpg_sha_lineage": O.values_sql(
            O.expected_sha_lineage(), ["path", "sha256"]),
        "cpg_canonical_aliases": O.values_sql(
            O.expected_canonical_aliases(),
            ["alias_full_name", "canon_full_name"]),
        "cpg_partition_metrics": O.values_sql(
            O.expected_partition_metrics(),
            ["repo", "lang", "n_files", "n_nodes", "n_methods", "n_calls"]),
        "cpg_field_refs": O.values_sql(
            O.expected_field_refs(), ["call_code", "member_name"]),
        "cpg_method_stubs": O.values_sql(
            sorted({(fn,) for _, fn in O.expected_method_stubs()}),
            ["method_full_name"]),
        "cpg_dynamic_calls": O.values_sql(
            O.expected_dynamic_calls(),
            ["caller_full_name", "call_code", "call_mfn", "callee_full_name"]),
        "cpg_imports": O.values_sql(
            O.expected_imports(), ["lang", "path", "import_entity", "code"]),
        "cpg_findings": O.values_sql(
            O.expected_findings(),
            ["query_name", "path", "method_full_name", "line", "code"]),
        "cpg_scan_c": _scan_c_oracle_sql(),
        "cpg_dependencies": O.values_sql(
            O.expected_dependencies(), ["name", "version"]),
        "cpg_config_files": O.values_sql(
            O.expected_config_files(), ["name", "content"]),
        "cpg_type_recovery": O.values_sql(
            O.expected_type_recovery(),
            ["path", "call_code", "recovered_mfn"]),
        "cpg_declared_only": O.values_sql(
            O.expected_declared_only(),
            ["sym_kind", "name", "full_name"]),
        "cpg_captures": O.values_sql(
            O.expected_captures(),
            ["path", "closure_full_name", "captured_name"]),
        "cpg_bindings": O.values_sql(
            O.expected_bindings(),
            ["td_full_name", "bname", "bsig", "target_fn"]),
        "cpg_usage_slices": O.values_sql(
            O.expected_usage_slices(),
            ["method_full_name", "var_name", "var_kind", "relation",
             "call_name", "detail"]),
        "cpg_usage_slice_types": O.values_sql(
            O.expected_usage_slice_types(),
            ["method_full_name", "var_name", "relation", "call_name",
             "param_types", "return_type", "resolved_method", "position"]),
        "cpg_udts": O.values_sql(
            O.expected_udts(),
            ["udt_full_name", "procedure_name", "procedure_full_name",
             "return_type"]),
        "cpg_dataflow_slices": O.values_sql(
            O.expected_dataflow_slices(),
            ["method_full_name", "node_kind", "name", "code",
             "type_full_name"]),
        "cpg_api_vectors": O.values_sql(
            O.expected_api_vectors(),
            ["path", "method_full_name", "n_features", "total_count",
             "dim_weighted_sum"]),
        "cpg_parity": _parity_oracle_sql(),
    }


def _scan_c_oracle_sql() -> str:
    """Expected evidence-method sets transcribed from the reference's
    querydb suites (scanners/c/*Tests.scala) rendered as VALUES — the
    ground truth is the reference's own assertions, not a rerun."""
    from joern_spark import oracle as O
    from joern_spark.scanners_c import suite_expected_rows
    return O.values_sql(suite_expected_rows(),
                        ["bundle", "query_name", "method_name"])


def _parity_oracle_sql() -> str:
    """Sequential (pure-Python) parity scores rendered as VALUES — the
    Spark-vs-DuckDB hash equality proves the distributed extractor computes
    the same facts as the sequential one; the scores themselves measure
    parity vs the transcribed reference expectations."""
    from joern_spark import oracle as O
    from joern_spark.parity import score_corpus
    _rows, summary = score_corpus()
    vals = [(lang, rel, tp, fp, fn, round(p * 10000), round(r * 10000))
            for lang, rel, tp, fp, fn, p, r in summary]
    return O.values_sql(
        vals, ["lang", "relation", "tp", "fp", "fn",
               "precision_bp", "recall_bp"])


CPG_QUERIES = {
    "cpg_methods": q_cpg_methods,
    "cpg_method_params": q_cpg_method_params,
    "cpg_static_calls": q_cpg_static_calls,
    "cpg_cfg_succ": q_cpg_cfg_succ,
    "cpg_reaching_def": q_cpg_reaching_def,
    "cpg_inherits": q_cpg_inherits,
    "cpg_declares": q_cpg_declares,
    "cpg_operator_calls": q_cpg_operator_calls,
    "cpg_sha_lineage": q_cpg_sha_lineage,
    "cpg_canonical_aliases": q_cpg_canonical_aliases,
    "cpg_partition_metrics": q_cpg_partition_metrics,
    "cpg_field_refs": q_cpg_field_refs,
    "cpg_method_stubs": q_cpg_method_stubs,
    "cpg_dynamic_calls": q_cpg_dynamic_calls,
    "cpg_imports": q_cpg_imports,
    "cpg_findings": q_cpg_findings,
    "cpg_scan_c": q_cpg_scan_c,
    "cpg_dependencies": q_cpg_dependencies,
    "cpg_config_files": q_cpg_config_files,
    "cpg_type_recovery": q_cpg_type_recovery,
    "cpg_declared_only": q_cpg_declared_only,
    "cpg_captures": q_cpg_captures,
    "cpg_bindings": q_cpg_bindings,
    "cpg_usage_slices": q_cpg_usage_slices,
    "cpg_usage_slice_types": q_cpg_usage_slice_types,
    "cpg_udts": q_cpg_udts,
    "cpg_dataflow_slices": q_cpg_dataflow_slices,
    "cpg_api_vectors": q_cpg_api_vectors,
    "cpg_parity": q_cpg_parity,
}


# --------------------------------------------------------------------------- #
# Driver contract
# --------------------------------------------------------------------------- #

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the name-keyed CPG triple relation (subj, pred, obj) from
    the fixture corpus, plus a lineage row for the sf0.001 documents table
    (proves the sf0.001 parquet loads)."""
    from joern_spark.plans.pipeline import name_keyed_triples
    c = _cpg(spark)
    triples = name_keyed_triples(c["nodes"], c["edges"]).select(
        _s("subj").alias("subj"), _s("pred").alias("pred"),
        _s("obj").alias("obj"))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    meta = docs.agg(F.count("*").alias("n")).select(
        F.lit("corpus:documents:sf0.001").alias("subj"),
        F.lit("ROW_COUNT").alias("pred"), _s("n").alias("obj"))
    return triples.unionByName(meta)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(CPG_QUERIES)
