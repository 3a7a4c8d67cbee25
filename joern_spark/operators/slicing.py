"""Program slicing as DataFrame jobs — usage slices and data-flow slices
(reference: dataflowengineoss/.../slicing/UsageSlicing.scala and
DataFlowSlicing.scala; the last §2B query-lifecycle entry point).

For every LOCAL / METHOD_PARAMETER_IN declaration (excluding the lowering
temporaries `_tmp_*` and the implicit `this`/`self` receivers —
UsageSlicing.scala:57,121), the slice collects:

* ``definedBy``    — the RHS of the declaration's defining assignment
  (locals; TrackUsageTask "Case 1: generated by variable assignment"), or
  the parameter itself ("Case 2: generated by incoming parameter");
* ``invokedCall``  — member calls where the declaration is the RECEIVER
  base (`b.f(...)`, partitionInvolvementInCalls' first partition);
* ``argToCall``    — calls taking the declaration as a positional argument
  (second partition), with the argument index.

Scale shape: every join is identifier-REF keyed and method-local —
REF edges co-partition with the node table's file layout, so the whole
slice derivation is a handful of dimension joins with no corpus-wide
shuffle; output size is proportional to (declaration, usage) pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from joern_spark import model as M
from joern_spark.query import edge_adj, reach_pairs


def usage_slices(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """-> (method_full_name, var_name, var_kind, relation, call_name,
    detail) — flattened ObjectUsageSlice rows."""
    # internal methods only — stubs' synthetic parameters are not sliceable
    # declarations (UsageSlicing.scala:363 `filterNot(_.isExternal ...)`)
    methods = (nodes.filter((F.col("kind") == M.METHOD)
                            & ~F.col("is_external"))
               .select(F.col("id").alias("method_id"),
                       F.col("full_name").alias("method_full_name")))

    decls = (nodes.filter(F.col("kind").isin(M.LOCAL, M.METHOD_PARAMETER_IN))
             .filter(~F.col("name").startswith("_tmp_")
                     & ~F.col("name").isin("this", "self"))
             .select(F.col("id").alias("decl_id"),
                     F.col("kind").alias("var_kind"),
                     F.col("name").alias("var_name"),
                     F.coalesce(F.col("method_id"), F.col("parent_id"))
                     .alias("method_id")))

    # usages: identifiers REF-linked to the declaration
    refs = (edges.filter(F.col("label") == M.REF)
            .select(F.col("src").alias("use_id"),
                    F.col("dst").alias("decl_id")))
    uses = (decls.join(refs, "decl_id")
            .join(nodes.select(F.col("id").alias("use_id"),
                               F.col("parent_id").alias("use_parent"),
                               F.col("arg_index").alias("use_arg_index")),
                  "use_id"))

    call_dim = nodes.filter(F.col("kind") == M.CALL).select(
        F.col("id").alias("call_id"), F.col("name").alias("call_name"),
        F.col("code").alias("call_code"),
        F.col("dispatch_type").alias("call_dispatch"))

    in_calls = uses.join(call_dim,
                         uses["use_parent"] == call_dim["call_id"])

    # invokedCall: the declaration is the receiver base (arg 0) of a
    # dynamic member call `b.f(...)` — UsageSlicing partition 1
    invoked = (in_calls.filter((F.col("use_arg_index") == 0)
                               & (F.col("call_dispatch") == M.DYNAMIC_DISPATCH)
                               & ~F.col("call_name").startswith(M.OP))
               .select("method_id", "var_name", "var_kind",
                       F.lit("invokedCall").alias("relation"),
                       "call_name", F.col("call_code").alias("detail")))

    # argToCall: positional argument (index >= 1) of any named call —
    # UsageSlicing partition 2 (operator calls excluded like
    # excludeOperatorCalls)
    arg_to = (in_calls.filter((F.col("use_arg_index") >= 1)
                              & ~F.col("call_name").startswith(M.OP))
              .select("method_id", "var_name", "var_kind",
                      F.lit("argToCall").alias("relation"), "call_name",
                      F.concat(F.lit("arg"), F.col("use_arg_index"))
                      .alias("detail")))

    # definedBy: local's defining assignment RHS (Case 1) / the parameter
    # itself (Case 2)
    assign_lhs = (in_calls.filter((F.col("call_name") == M.OP_ASSIGNMENT)
                                  & (F.col("use_arg_index") == 1))
                  .select("method_id", "var_name", "var_kind", "call_id"))
    rhs = nodes.filter(F.col("arg_index") == 2).select(
        F.col("parent_id").alias("call_id"), F.col("code").alias("rhs_code"),
        F.col("name").alias("rhs_name"))
    defined_local = (assign_lhs.join(rhs, "call_id")
                     .filter(~F.col("rhs_name").rlike("^(require|import)$"))
                     .select("method_id", "var_name", "var_kind",
                             F.lit("definedBy").alias("relation"),
                             F.col("rhs_name").alias("call_name"),
                             F.col("rhs_code").alias("detail")))
    defined_param = (decls.filter(F.col("var_kind") == M.METHOD_PARAMETER_IN)
                     .select("method_id", "var_name", "var_kind",
                             F.lit("definedBy").alias("relation"),
                             F.lit("").alias("call_name"),
                             F.col("var_name").alias("detail")))

    out = (invoked.unionByName(arg_to).unionByName(defined_local)
           .unionByName(defined_param))
    return (out.join(methods, "method_id")
            .select("method_full_name", "var_name", "var_kind",
                    "relation", "call_name", "detail")
            .distinct())


def dataflow_slices(nodes: DataFrame, edges: DataFrame,
                    slice_depth: int = 20) -> DataFrame:
    """Merged data-flow slice as a DataFrame — the distributed analogue of
    DataFlowSlicing.calculateDataFlowSlice (DataFlowSlicing.scala:20-59):
    for every call, its arguments seed a backward walk over REACHING_DEF
    (``sinks.repeat(_.ddgIn)(_.maxDepth(config.sliceDepth).emit)``,
    sliceDepth default 20 — slicing/package.scala:81); per-call slices are
    then set-merged (``reduceOption``), so the merged node set is the seed
    set plus its depth-bounded backward REACHING_DEF closure — one
    ``query.reach_pairs`` walk over all seeds at once.

    Returns flattened SliceNode rows (DataFlowSlicing.cfgNodeToSliceNode):
    (method_full_name, node_kind, name, code, type_full_name) with the
    reference's special cases — METHOD keeps its name, RETURN becomes
    "RET", METHOD_REF's name is its methodFullName, TYPE_REF's its
    typeFullName.
    """
    # sinks: every argument of every call (DataFlowSlicing.scala:46
    # `c.argument` — ARGUMENT children incl. the index-0 receiver)
    call_ids = nodes.filter(F.col("kind") == M.CALL).select(
        F.col("id").alias("parent_id"))
    seeds = (nodes.filter(F.col("arg_index") >= 0).join(call_ids, "parent_id")
             .select(F.lit(0).alias("fid"), F.col("id").alias("nid")))
    back = reach_pairs(edge_adj(edges, M.REACHING_DEF, forward=False), seeds,
                       slice_depth)
    visited = back.select("nid").unionByName(seeds.select("nid")).distinct()

    methods = nodes.filter(F.col("kind") == M.METHOD).select(
        F.col("id").alias("method_id"),
        F.col("full_name").alias("method_full_name"))
    slice_nodes = (nodes.join(visited, nodes["id"] == visited["nid"])
                   .withColumn("mid_eff",
                               F.when(F.col("kind") == M.METHOD, F.col("id"))
                               .otherwise(F.col("method_id"))))
    # a METHOD_REF node's own `method_full_name` attribute collides with the
    # joined method dim's column — bind both sides explicitly
    name = (F.when(F.col("kind") == M.RETURN, F.lit("RET"))
            .when(F.col("kind") == M.METHOD_REF,
                  slice_nodes["method_full_name"])
            .when(F.col("kind") == M.TYPE_REF, F.col("type_full_name"))
            .otherwise(F.col("name")))
    return (slice_nodes
            .join(methods, slice_nodes["mid_eff"] == methods["method_id"])
            .select(methods["method_full_name"],
                    F.col("kind").alias("node_kind"),
                    name.alias("name"), "code",
                    F.coalesce("type_full_name", F.lit(""))
                    .alias("type_full_name"))
            .distinct())


def usage_slice_types(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Typed ObjectUsageSlice fields — the reference's ObservedCall /
    ObservedCallWithArgPos records (dataflowengineoss/.../slicing/
    UsageSlicing.scala `exprToObservedCall`; golden values in
    jssrc2cpg/.../slicing/JsUsageSliceTests.scala):

    (method_full_name, var_name, relation, call_name, param_types,
    return_type, resolved_method, position)

    * ``param_types``  — the call's positional argument types in order,
      METHOD_REF arguments spelled ``LAMBDA`` (JsUsageSliceTests: `get`'s
      paramTypes List("__ecma.String", "LAMBDA"));
    * ``return_type``  — the call's evaluation type (ANY when untyped);
    * ``resolved_method`` — the call's methodFullName when resolved;
    * ``position``     — the declaration's argument index for argToCall
      rows (Right(1) in the reference), -1 for invokedCall rows.

    Scale shape: one groupBy over call arguments (map-side combinable,
    keyed by the call id which co-partitions with the node layout) plus
    the same decl-REF joins as usage_slices — method-local equi-joins,
    no corpus-wide shuffle.
    """
    decls = (nodes.filter(F.col("kind").isin(M.LOCAL, M.METHOD_PARAMETER_IN))
             .filter(~F.col("name").startswith("_tmp_")
                     & ~F.col("name").isin("this", "self"))
             .select(F.col("id").alias("decl_id"),
                     F.col("name").alias("var_name"),
                     F.coalesce(F.col("method_id"), F.col("parent_id"))
                     .alias("method_id")))
    refs = (edges.filter(F.col("label") == M.REF)
            .select(F.col("src").alias("use_id"),
                    F.col("dst").alias("decl_id")))
    uses = (decls.join(refs, "decl_id")
            .join(nodes.select(F.col("id").alias("use_id"),
                               F.col("parent_id").alias("call_id"),
                               F.col("arg_index").alias("use_arg_index")),
                  "use_id"))

    # per-call ordered positional argument types; lambdas spell LAMBDA and
    # untyped identifier args adopt their REF target's declared type (the
    # reference reads the declaration type through the identifier —
    # JsUsageSliceTests `listen` paramTypes List("__ecma.Number", ...))
    decl_ty = (nodes.filter(F.col("kind").isin(M.LOCAL,
                                               M.METHOD_PARAMETER_IN))
               .select(F.col("id").alias("ref_id"),
                       F.col("type_full_name").alias("ref_ty")))
    arg_nodes = (nodes.filter(F.col("arg_index") >= 1)
                 .select(F.col("parent_id").alias("call_id"),
                         "arg_index", "kind", "type_full_name", "ref_id")
                 .join(decl_ty, "ref_id", "left"))
    own_ty = F.when(F.col("type_full_name") == M.ANY, F.lit(None)) \
              .otherwise(F.col("type_full_name"))
    ref_ty = F.when(F.col("ref_ty") == M.ANY, F.lit(None)) \
              .otherwise(F.col("ref_ty"))
    arg_ty = (F.when(F.col("kind") == M.METHOD_REF, F.lit("LAMBDA"))
              .otherwise(F.coalesce(own_ty, ref_ty, F.lit(M.ANY))))
    call_args = (arg_nodes
                 .select("call_id",
                         F.struct(F.col("arg_index"),
                                  arg_ty.alias("ty")).alias("a"))
                 .groupBy("call_id")
                 .agg(F.concat_ws(
                     ",", F.transform(F.sort_array(F.collect_list("a")),
                                      lambda s: s.getField("ty")))
                      .alias("param_types")))

    call_dim = (nodes.filter(F.col("kind") == M.CALL)
                .select(F.col("id").alias("call_id"),
                        F.col("name").alias("call_name"),
                        F.col("dispatch_type").alias("call_dispatch"),
                        F.coalesce(F.col("type_full_name"), F.lit(M.ANY))
                        .alias("return_type"),
                        F.coalesce(F.col("method_full_name"), F.lit(""))
                        .alias("resolved_method")))

    in_calls = (uses.join(call_dim, "call_id")
                .join(call_args, "call_id", "left")
                .withColumn("param_types",
                            F.coalesce(F.col("param_types"), F.lit(""))))

    invoked = (in_calls.filter((F.col("use_arg_index") == 0)
                               & (F.col("call_dispatch")
                                  == M.DYNAMIC_DISPATCH)
                               & ~F.col("call_name").startswith(M.OP))
               .select("method_id", "var_name",
                       F.lit("invokedCall").alias("relation"),
                       "call_name", "param_types", "return_type",
                       "resolved_method",
                       F.lit(-1).alias("position")))
    arg_to = (in_calls.filter((F.col("use_arg_index") >= 1)
                              & ~F.col("call_name").startswith(M.OP)
                              & (F.col("call_name") != M.OP_ASSIGNMENT))
              .select("method_id", "var_name",
                      F.lit("argToCall").alias("relation"),
                      "call_name", "param_types", "return_type",
                      "resolved_method",
                      F.col("use_arg_index").cast("int").alias("position")))

    methods = (nodes.filter((F.col("kind") == M.METHOD)
                            & ~F.col("is_external"))
               .select(F.col("id").alias("method_id"),
                       F.col("full_name").alias("method_full_name")))
    return (invoked.unionByName(arg_to).join(methods, "method_id")
            .select("method_full_name", "var_name", "relation",
                    "call_name", "param_types", "return_type",
                    "resolved_method", "position")
            .distinct())


def user_defined_types(nodes: DataFrame) -> DataFrame:
    """UserDefinedType records — internal TYPE_DECLs with their declared
    procedures (UsageSlicing.userDefinedTypes; JsUsageSliceTests "extract
    'Car' UDTs": name main.js::program:Car, procedure <init> returning
    ANY). -> (udt_full_name, procedure_name, procedure_full_name,
    return_type)."""
    tds = (nodes.filter((F.col("kind") == M.TYPE_DECL)
                        & ~F.col("is_external"))
           .select(F.col("full_name").alias("udt_full_name")))
    procs = (nodes.filter((F.col("kind") == M.METHOD)
                          & (F.col("ast_parent_type") == M.TYPE_DECL))
             .select(F.col("ast_parent_full_name").alias("udt_full_name"),
                     F.col("name").alias("procedure_name"),
                     F.col("full_name").alias("procedure_full_name")))
    rets = (nodes.filter(F.col("kind") == M.METHOD_RETURN)
            .select(F.col("method_id").alias("ret_mid"),
                    F.coalesce(F.col("type_full_name"), F.lit(M.ANY))
                    .alias("return_type")))
    proc_ids = (nodes.filter((F.col("kind") == M.METHOD)
                             & (F.col("ast_parent_type") == M.TYPE_DECL))
                .select(F.col("id").alias("ret_mid"),
                        F.col("full_name").alias("procedure_full_name")))
    proc_rets = (proc_ids.join(rets, "ret_mid")
                 .select("procedure_full_name", "return_type"))
    return (tds.join(procs, "udt_full_name")
            .join(proc_rets, "procedure_full_name", "left")
            .withColumn("return_type",
                        F.coalesce(F.col("return_type"), F.lit(M.ANY)))
            .distinct())
