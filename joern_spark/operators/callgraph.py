"""Call-graph layer — reference passes #19-#22 (SURVEY.md §2A).

* MethodRefLinker  (MethodRefLinker.scala:12-28)   — equi-join on fullname.
* StaticCallLinker (StaticCallLinker.scala:15-38)  — THE flagship hash join:
  calls ⋈ methods on fullname. At 10^12-file scale the probe side is wildly
  skewed on hot external symbols (printf/malloc/require). Strategy:
  (a) the build side (one row per distinct method fullname) is deduplicated
      first, so the join is N:1;
  (b) if the method dimension is small enough we broadcast it outright —
      the distributed analogue of the reference's methodMap hashmap
      (DynamicCallLinker.scala:40-51);
  (c) otherwise AQE skew-join splitting handles the hot keys
      (spark.sql.adaptive.skewJoin.enabled, set in session.py).
* DynamicCallLinker (DynamicCallLinker.scala:29-221) — SAFEDISPATCH-style:
  candidates = subclasses*(receiver static type) × lookup(name); the
  inheritance transitive closure is a depth-bounded semi-naive fixed point
  run inside one pandas task over the (small) INHERITS_FROM base relation.
* NaiveCallLinker  (NaiveCallLinker.scala:14-27)   — remaining unlinked calls
  joined to methods by bare name.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from joern_spark import model as M

BROADCAST_METHOD_LIMIT = 2_000_000  # rows; ~100MB of (fullname,id) fits executors


def _edge(src, dst, label):
    return [src.alias("src"), dst.alias("dst"), F.lit(label).alias("label"),
            F.lit(None).cast("string").alias("variable")]


def method_dimension(nodes: DataFrame) -> DataFrame:
    """One row per method fullname (FullNameUniquenessPass dedup via window —
    C2Cpg.scala:45-48): internal definitions win over external stubs."""
    m = nodes.filter(F.col("kind") == M.METHOD).select(
        F.col("full_name").alias("m_fn"), F.col("id").alias("m_id"),
        F.col("name").alias("m_name"), F.col("is_external"),
        F.col("ast_parent_full_name").alias("m_parent"),
        F.col("signature").alias("m_sig"))
    w = Window.partitionBy("m_fn").orderBy(F.col("is_external").cast("int"), F.col("m_id"))
    return m.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")


def static_call_edges(call_sites: DataFrame, dim: DataFrame,
                      broadcast: bool | None = None) -> DataFrame:
    calls = call_sites.filter((F.col("dispatch_type") == M.STATIC_DISPATCH)
                              & (F.col("method_full_name") != "")
                              & (F.col("method_full_name") != M.UNKNOWN_FULL_NAME))
    # broadcast=None → leave the physical strategy to AQE: the deduplicated
    # method dimension is tiny relative to the call side at any scale where it
    # matters, and AQE converts to broadcast-hash at runtime from real stats
    # (no eager cardinality probe job).
    rhs = F.broadcast(dim) if broadcast else dim
    j = calls.join(rhs, calls["method_full_name"] == rhs["m_fn"], "inner")
    return j.select(*_edge(F.col("id"), F.col("m_id"), M.CALL_EDGE))


def method_ref_edges(nodes: DataFrame, dim: DataFrame | None = None) -> DataFrame:
    refs = nodes.filter((F.col("kind") == M.METHOD_REF) & (F.col("method_full_name") != ""))
    dim = dim if dim is not None else method_dimension(nodes)
    # No forced broadcast: the method dimension is ∝ |methods| and at the
    # 10^12-file target is not executor-resident. AQE converts to broadcast
    # hash at runtime when stats allow (same policy as static_call_edges).
    j = refs.join(dim, refs["method_full_name"] == dim["m_fn"], "inner")
    return j.select(*_edge(F.col("id"), F.col("m_id"), M.REF))


def _closure_task(pdf: pd.DataFrame, max_depth: int) -> pd.DataFrame:
    """Semi-naive transitive closure of the distinct (desc, anc) pairs in
    ``pdf``: each round extends only the pairs found in the round before,
    for at most ``max_depth`` rounds."""
    base = set(zip(pdf["desc"], pdf["anc"]))
    parents: dict[str, list[str]] = {}
    for desc, anc in base:
        parents.setdefault(desc, []).append(anc)
    closure, frontier = set(base), base
    for _ in range(max_depth):
        frontier = {(desc, up) for desc, anc in frontier
                    for up in parents.get(anc, ())} - closure
        if not frontier:
            break
        closure |= frontier
    return pd.DataFrame(list(closure), columns=["desc", "anc"], dtype=object)


def inheritance_closure(nodes: DataFrame, max_depth: int = 20) -> DataFrame:
    """(desc, anc) transitive closure of INHERITS_FROM — the reference's
    subclass cache (DynamicCallLinker.scala:37-42,94-111). The base relation
    is one row per declared supertype edge, so the whole fixed point runs as
    a single pandas task (grouped on a constant); no input yields an empty
    relation."""
    base = (nodes.filter((F.col("kind") == M.TYPE_DECL) & F.col("inherits_from").isNotNull())
            .select(F.lit(0).alias("one"), F.col("full_name").alias("desc"),
                    F.explode("inherits_from").alias("anc")))
    return base.groupBy("one").applyInPandas(
        lambda pdf: _closure_task(pdf, max_depth), "desc string, anc string")


def dynamic_call_edges(nodes: DataFrame, call_sites: DataFrame,
                       closure: DataFrame, bindings: DataFrame,
                       dim: DataFrame | None = None) -> DataFrame:
    """CALL edges for DYNAMIC_DISPATCH: resolve `T.name` against the BINDING
    vtable of T and of every transitive subtype of T (the reference's
    ``validM`` lookup keyed on the binding table, DynamicCallLinker.scala:
    63-70 + BindingTable.scala). Routing through bindings rather than raw
    method declarations means (a) a non-overriding subtype dispatches to the
    inherited implementation via its own vtable row, and (b) javasrc
    erased-signature rows resolve generic interface calls
    (``accept:void(java.lang.Object)``) to the concrete override.
    Compatibility mirrors the reference's (name, signature) staticLookup
    (DynamicCallLinker.scala:137-141): when the call site carries a resolved
    signature it must match the BINDING's exactly; otherwise (C-family
    member calls where the frontend cannot type the args) the binding's
    signature arity must match the call's recorded arg count — without this,
    every overload of a virtual method receives spurious CALL edges."""
    mfn = F.col("method_full_name")
    base = F.expr("CASE WHEN instr(method_full_name, ':') > 0 THEN "
                  "substring(method_full_name, 1, instr(method_full_name, ':') - 1) "
                  "ELSE method_full_name END")
    call_sig = F.expr("CASE WHEN instr(method_full_name, ':') > 0 THEN "
                      "substring(method_full_name, instr(method_full_name, ':') + 1) END")
    calls = (call_sites.filter((F.col("dispatch_type") == M.DYNAMIC_DISPATCH)
                               & (mfn != "") & (mfn != M.UNKNOWN_FULL_NAME))
             .withColumn("base", base)
             .withColumn("call_sig", call_sig)
             .withColumn("recv_type", F.expr(r"regexp_replace(base, '\\.[^.]+$', '')"))
             .withColumn("call_name", F.element_at(F.split("base", r"\."), -1)))
    closure = closure.select(F.col("anc").alias("recv_type"), F.col("desc").alias("impl_type"))
    # candidate receiver types: the static type itself + all transitive subtypes
    self_row = calls.select("recv_type").distinct().withColumn("impl_type", F.col("recv_type"))
    cand_types = closure.unionByName(self_row).distinct()

    # each candidate type's vtable rows, resolved to method ids (inner join:
    # a binding whose target is not a materialized METHOD produces no edge)
    meth_ids = ((dim if dim is not None else method_dimension(nodes))
                .select(F.col("m_fn").alias("target_fn"), "m_id")
                .dropDuplicates(["target_fn"]))
    vtable = (bindings.join(meth_ids, "target_fn")
              .select(F.col("td_fn").alias("impl_type"),
                      F.col("bname").alias("call_name"),
                      F.col("bsig").alias("m_sig"), "m_id"))
    # vtable is |internal methods| × (1 + inherited rows) — method-scale, so
    # never force-broadcast it; AQE picks broadcast-hash from runtime stats
    # when it genuinely fits (static_call_edges precedent).
    cands = cand_types.join(vtable, "impl_type")
    sig_inner = F.regexp_extract("m_sig", r"\((.*)\)", 1)
    sig_arity = F.when(F.col("m_sig") == "", F.lit(None)).otherwise(
        F.when(sig_inner == "", F.lit(0)).otherwise(F.size(F.split(sig_inner, ","))))
    unresolved_sig = F.col("call_sig").contains(M.UNRESOLVED_SIGNATURE)
    compatible = F.when(
        F.col("call_sig").isNotNull() & ~unresolved_sig,
        F.col("m_sig") == F.col("call_sig"),
    ).otherwise(  # no resolvable signature at the site: arity gate
        sig_arity.isNull() | (F.col("nargs") < 0) | (sig_arity == F.col("nargs")))
    j = calls.join(cands, ["recv_type", "call_name"]).filter(compatible)
    return j.select(*_edge(F.col("id"), F.col("m_id"), M.CALL_EDGE))


def naive_call_edges(call_sites: DataFrame, linked: DataFrame,
                     dim: DataFrame) -> DataFrame:
    """Fallback: remaining unlinked calls joined to internal methods by bare
    name (NaiveCallLinker.scala:14-27)."""
    calls = call_sites.select("id", "name")
    unlinked = calls.join(linked.select(F.col("src").alias("id")).distinct(), "id", "left_anti")
    # EVERY same-name internal method gets an edge (the reference links the
    # whole name group, NaiveCallLinker.scala:15-21) — a dropDuplicates pick
    # here would also be nondeterministic across runs
    methods = (dim.filter(~F.col("is_external"))
               .select(F.col("m_name").alias("name"), "m_id"))
    # all-internal-methods-by-name is ∝ |methods|: AQE-decided join, no
    # forced broadcast (static_call_edges precedent).
    j = unlinked.join(methods, "name")
    return j.select(*_edge(F.col("id"), F.col("m_id"), M.CALL_EDGE))


def type_hint_call_edges(call_sites: DataFrame, rewrites: DataFrame,
                         dim: DataFrame) -> DataFrame:
    """CALL edges for sites whose methodFullName came from type recovery —
    exact-fullname join against the (stub-inclusive) method dimension, the
    XTypeHintCallLinker analogue. Restricted to recovered sites: their
    original fullname was `<unknownFullName>`, so no other linker can have
    produced an edge (no dedup pass needed)."""
    sites = call_sites.join(rewrites.select("id"), "id", "left_semi")
    j = sites.join(dim, sites["method_full_name"] == dim["m_fn"])
    return j.select(*_edge(F.col("id"), F.col("m_id"), M.CALL_EDGE))


def run_callgraph(nodes: DataFrame, closure: DataFrame, bindings: DataFrame,
                  call_sites: DataFrame | None = None,
                  dim: DataFrame | None = None,
                  rewrites: DataFrame | None = None) -> DataFrame:
    """``nodes`` = full node relation (incl. stubs); ``closure`` and
    ``bindings`` the inheritance closure and binding relation over it;
    ``call_sites`` the small persisted CALL dimension; ``dim`` the full
    deduplicated method dimension.
    Probes and anti-joins run against the dimensions only — the big table is
    scanned once per genuinely row-producing linker."""
    if call_sites is None:
        call_sites = nodes.filter(F.col("kind") == M.CALL).select(
            "id", "name", "signature", "method_full_name", "dispatch_type", "nargs")
    if dim is None:
        dim = method_dimension(nodes).persist()
    static = static_call_edges(call_sites, dim)
    # Early exit mirroring the reference (DynamicCallLinker.scala:56-59):
    # dynamic linking only runs when dynamic-dispatch call sites actually
    # exist — one cheap probe on the call dimension.
    has_dynamic = not call_sites.filter(
        F.col("dispatch_type") == M.DYNAMIC_DISPATCH).isEmpty()
    linked = (static.unionByName(
        dynamic_call_edges(nodes, call_sites, closure, bindings, dim=dim))
              if has_dynamic else static)
    # naive linking consumes `linked` twice (anti-join + final union); lazy
    # persist dedupes most of the recompute without an extra warm-up job
    if rewrites is not None:
        linked = linked.unionByName(
            type_hint_call_edges(call_sites, rewrites, dim))
    linked = linked.persist()
    naive = naive_call_edges(call_sites, linked, dim)
    return linked.unionByName(naive).unionByName(method_ref_edges(nodes, dim=dim))
