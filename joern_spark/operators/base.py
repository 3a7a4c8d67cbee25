"""Base linking layer — reference passes #2-#12 (SURVEY.md §2A).

Two kinds of pass live here.

Row-scale passes stay DataFrame ops (``run_base``). Node ids are
content-derived (xxhash64 over stable keys), so every edge whose *target
identity* is a pure function of row columns becomes a PROJECTION instead of
a join:

* INHERITS_FROM / ALIAS_OF → type id = xxhash64('TYPE', type_full_name)
* SOURCE_FILE → file id  = xxhash64('FILE', repo, path, commit)
* AST link to the per-file <global> NAMESPACE_BLOCK → computable id

Symbol-table passes — the method and type-decl stubs, the TYPE→TYPE_DECL
REF edges and the AST/DECLARES links to a parent named by fullname — are
pandas rules over one link group's rows, run inside
``linking.link_task``, as the reference runs them as hash-map lookups
inside one JVM (LinkingUtil.scala:35-119). Stub ids are hashed JVM-side
into the task's input rows.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from joern_spark import model as M
from joern_spark.operators import callgraph as CG
from joern_spark.operators.typerecovery import js_inherits_parents

NODE_COLS = [f.name for f in M.RAW_NODE_SCHEMA.fields] + M.NODE_ID_COLS


def _mk_nodes(df: DataFrame, **exprs) -> DataFrame:
    """Project df into the canonical wide node schema, defaulting columns."""
    defaults = {
        "repo": F.lit(""), "path": F.lit(""), "commit": F.lit(""), "lang": F.lit(""),
        "sha256": F.lit(""), "node_idx": F.lit(-1).cast("long"),
        "parent_idx": F.lit(-1).cast("long"), "method_idx": F.lit(-1).cast("long"),
        "ref_idx": F.lit(-1).cast("long"), "kind": F.lit(""), "name": F.lit(""),
        "full_name": F.lit(""), "signature": F.lit(""), "code": F.lit(""),
        "order": F.lit(0), "arg_index": F.lit(-1), "role": F.lit(""),
        "dispatch_type": F.lit(""), "type_full_name": F.lit(M.ANY),
        "method_full_name": F.lit(""), "control_structure_type": F.lit(""),
        "jump_label": F.lit(""), "canonical_name": F.lit(""),
        "ast_parent_type": F.lit(""), "ast_parent_full_name": F.lit(""),
        "inherits_from": F.lit(None).cast("array<string>"),
        "alias_type_full_name": F.lit(""), "evaluation_strategy": F.lit(""),
        "param_index": F.lit(-1), "is_variadic": F.lit(False),
        "is_external": F.lit(False), "nargs": F.lit(-1),
        "generic_signature": F.lit(""),
        "line": F.lit(0), "line_end": F.lit(-1), "parse_error": F.lit(""),
        "ie_src": F.lit(None).cast("array<bigint>"),
        "ie_dst": F.lit(None).cast("array<bigint>"),
        "ie_label": F.lit(None).cast("array<int>"),
        "ie_var": F.lit(None).cast("array<string>"),
        "id": F.lit(None).cast("long"), "parent_id": F.lit(None).cast("long"),
        "method_id": F.lit(None).cast("long"), "ref_id": F.lit(None).cast("long"),
    }
    defaults.update(exprs)
    return df.select(*[defaults[c].alias(c) for c in NODE_COLS])


def _edge(src, dst, label, variable=None):
    return [src.alias("src"), dst.alias("dst"), F.lit(label).alias("label"),
            (F.lit(None).cast("string") if variable is None else variable).alias("variable")]


def type_id(col):
    return F.xxhash64(F.lit("TYPE"), col)


def file_id():
    return F.xxhash64(F.lit("FILE"), F.col("repo"), F.col("path"), F.col("commit"))


def nsb_id():
    return F.xxhash64(F.lit("NSB"), F.col("repo"), F.col("path"), F.col("commit"))


# --------------------------------------------------------------------------- #
# Pass 2 — TypeNodePass (x2cpg/.../frontend/TypeNodePass.scala:39-59)
# --------------------------------------------------------------------------- #

def used_type_fullnames(nodes: DataFrame, has_js: bool) -> DataFrame:
    """All referenced type fullnames (``fn``) in ONE scan of the node table
    (the reference collects the same set via its TypeNodePass accumulator,
    TypeNodePass.scala:39-59). Four union branches would scan + shuffle the
    big table four times; a per-row candidate array + explode keeps it to one
    scan feeding one distinct. ``has_js``: the input holds JavaScript rows."""
    cand = F.concat(
        F.array(
            F.col("type_full_name"),
            F.when(F.col("kind") == M.TYPE_DECL, F.col("full_name")),
            F.when(F.col("alias_type_full_name") != "", F.col("alias_type_full_name")),
        ),
        F.coalesce(F.col("inherits_from"), F.array()),
    )
    fns = nodes.select(F.explode(cand).alias("fn"))
    if has_js:
        # resolved/synthesized JS parent types (XInheritanceFullNamePass
        # createTypeStub) join the universe so INHERITS_FROM edges have
        # TYPE targets
        fns = fns.unionByName(js_inherits_parents(nodes)
                              .select(F.col("parent_fn").alias("fn")))
    return fns.filter((F.col("fn") != "") & F.col("fn").isNotNull()).distinct()


def type_nodes(fns: DataFrame) -> DataFrame:
    return _mk_nodes(
        fns,
        id=type_id(F.col("fn")),
        kind=F.lit(M.TYPE),
        name=F.element_at(F.split(F.col("fn"), r"\."), -1),
        full_name=F.col("fn"),
        type_full_name=F.col("fn"),
    )


# Pass 12 — TypeEvalPass (x2cpg/.../base/TypeEvalPass.scala:9-42): projection.
EVAL_TYPE_KINDS = [M.METHOD_PARAMETER_IN, M.METHOD_PARAMETER_OUT, M.METHOD_RETURN,
                   M.MEMBER, M.LITERAL, M.CALL, M.LOCAL, M.IDENTIFIER, M.BLOCK,
                   M.METHOD_REF, M.TYPE_REF, M.UNKNOWN]


# --------------------------------------------------------------------------- #
# Pass 3 — FileCreationPass (+ SOURCE_FILE edges), pass 0 — per-file
# NAMESPACE_BLOCK (MetaDataPass.scala:28-35)
# --------------------------------------------------------------------------- #

def file_dimension(nodes: DataFrame) -> DataFrame:
    """One row per source file WITHOUT a distinct/shuffle: the preorder root
    row (node_idx == 0) is unique per file by construction."""
    return nodes.filter(F.col("node_idx") == 0).select("repo", "path", "commit", "lang")


def file_nodes(files: DataFrame) -> DataFrame:
    return _mk_nodes(
        files, repo=F.col("repo"), path=F.col("path"), commit=F.col("commit"),
        lang=F.col("lang"), id=file_id(), kind=F.lit(M.FILE),
        name=F.col("path"), full_name=F.col("path"),
    )


def namespace_block_nodes(files: DataFrame) -> DataFrame:
    return _mk_nodes(
        files, repo=F.col("repo"), path=F.col("path"), commit=F.col("commit"),
        lang=F.col("lang"), id=nsb_id(), kind=F.lit(M.NAMESPACE_BLOCK),
        name=F.lit(M.GLOBAL),
        full_name=F.concat_ws(":", F.col("path"), F.lit(M.GLOBAL)),
        parent_id=file_id(),
    )


def source_file_edges(files: DataFrame) -> DataFrame:
    """NSB → FILE only: decl → FILE edges are emitted by the fused
    projection pass (operators.parse.derived_edges)."""
    return files.select(*_edge(nsb_id(), file_id(), M.SOURCE_FILE))


# --------------------------------------------------------------------------- #
# Pass 0 — MetaDataPass (x2cpg/.../frontend/MetaDataPass.scala:15-52). The
# reference emits ONE META_DATA node per CPG; distributed, the natural unit
# is one per (repo, lang) build partition — name carries the language (as in
# the reference), full_name the partition key, code the producing engine.
# --------------------------------------------------------------------------- #

def meta_data_nodes(files: DataFrame) -> DataFrame:
    parts = files.select("repo", "lang").distinct()
    return _mk_nodes(
        parts, repo=F.col("repo"), lang=F.col("lang"),
        id=F.xxhash64(F.lit("META_DATA"), F.col("repo"), F.col("lang")),
        kind=F.lit(M.META_DATA), name=F.upper(F.col("lang")),
        full_name=F.concat_ws(":", F.col("repo"), F.col("lang")),
        code=F.lit("joern_spark"),
    )


# --------------------------------------------------------------------------- #
# Pass 4 — NamespaceCreator (x2cpg/.../base/NamespaceCreator.scala:17-25):
# one NAMESPACE node per distinct NAMESPACE_BLOCK name + NSB → NAMESPACE REF.
# Namespace ids are pure hashes of the name, so the REF edges are a
# projection over the NSB dimension — no join, no shuffle beyond the tiny
# distinct for the nodes themselves.
# --------------------------------------------------------------------------- #

def namespace_id(name_col):
    return F.xxhash64(F.lit("NAMESPACE"), name_col)


def _nsb_dimension(nodes: DataFrame, files: DataFrame) -> DataFrame:
    """(nsb_id, name): the derived per-file global blocks plus any parsed
    NAMESPACE_BLOCK rows."""
    derived = files.select(nsb_id().alias("nsb_id"), F.lit(M.GLOBAL).alias("name"))
    parsed = nodes.filter(F.col("kind") == M.NAMESPACE_BLOCK).select(
        F.col("id").alias("nsb_id"), "name")
    return derived.unionByName(parsed)


def namespace_nodes(nodes: DataFrame, files: DataFrame) -> DataFrame:
    names = _nsb_dimension(nodes, files).select("name").distinct()
    return _mk_nodes(
        names, id=namespace_id(F.col("name")), kind=F.lit(M.NAMESPACE),
        name=F.col("name"), full_name=F.col("name"),
    )


def namespace_ref_edges(nodes: DataFrame, files: DataFrame) -> DataFrame:
    d = _nsb_dimension(nodes, files)
    return d.select(*_edge(F.col("nsb_id"), namespace_id(F.col("name")), M.REF))


# --------------------------------------------------------------------------- #
# CAPTURE edges — METHOD_REF → captured outer LOCAL / PARAMETER
# (x2cpg/.../Ast.scala:104 captureEdges; closures get `<lambda>N` names per
# Defines.scala:35). A capture is an identifier USE inside one method whose
# REF target declaration lives in a DIFFERENT (enclosing) method; the edge
# hangs off the closure's METHOD_REF (the METHOD's AST parent).
# --------------------------------------------------------------------------- #

def capture_edges(nodes: DataFrame) -> DataFrame:
    uses = (nodes.filter((F.col("kind") == M.IDENTIFIER)
                         & F.col("ref_id").isNotNull()
                         & F.col("method_id").isNotNull())
            .select(F.col("method_id").alias("use_mid"), "ref_id"))
    decls = (nodes.filter(F.col("kind").isin(M.LOCAL, M.METHOD_PARAMETER_IN))
             .select(F.col("id").alias("ref_id"),
                     F.col("method_id").alias("decl_mid")))
    captured = (uses.join(decls, "ref_id")
                .filter(F.col("use_mid") != F.col("decl_mid"))
                .select(F.col("use_mid").alias("inner_mid"), "ref_id")
                .distinct())
    # the closure's METHOD_REF is the inner METHOD's AST parent
    mref_ids = nodes.filter(F.col("kind") == M.METHOD_REF).select(
        F.col("id").alias("mref_id"))
    inner = (nodes.filter((F.col("kind") == M.METHOD)
                          & F.col("parent_id").isNotNull())
             .select(F.col("id").alias("inner_mid"),
                     F.col("parent_id").alias("mref_id"))
             .join(mref_ids, "mref_id"))
    return (captured.join(inner, "inner_mid")
            .select(*_edge(F.col("mref_id"), F.col("ref_id"), M.CAPTURE)))


# --------------------------------------------------------------------------- #
# Pass 5 — TypeDeclStubCreator (TypeDeclStubCreator.scala:24-34) and pass 7 —
# TypeRefPass (TypeRefPass.scala:16-29), as pandas rules. A link group's rows
# carry ``pos``, their position in the parse output; where several rows hold
# one fullname, a rule resolves it to the row with the smallest ``pos``.
# --------------------------------------------------------------------------- #

def first_by_full_name(rows: pd.DataFrame) -> pd.DataFrame:
    """(full_name, id) of the first row (smallest ``pos``) per fullname."""
    return (rows.sort_values("pos", kind="stable")
            .drop_duplicates("full_name")[["full_name", "id"]])


def type_decl_dimension(nodes: pd.DataFrame, fns: pd.DataFrame) -> pd.DataFrame:
    """(fn, decl_id, stub) for every TYPE_DECL: the first real decl of a
    fullname, else an external stub (``stub``) for a referenced fullname no
    TYPE_DECL row declares. ``fns`` (full_name, stub_id) are the referenced
    type fullnames with their stubs' ids."""
    real = first_by_full_name(nodes[nodes["kind"] == M.TYPE_DECL])
    stubs = fns[~fns["full_name"].isin(real["full_name"])]
    return pd.concat([real.set_axis(["fn", "decl_id"], axis=1).assign(stub=False),
                      stubs[["full_name", "stub_id"]].set_axis(["fn", "decl_id"], axis=1)
                      .assign(stub=True)], ignore_index=True)


def type_decl_stub_rows(stubs: DataFrame) -> DataFrame:
    """External TYPE_DECL nodes for the stub rows (fn, decl_id) of
    ``type_decl_dimension``."""
    return _mk_nodes(
        stubs, id=F.col("decl_id"), kind=F.lit(M.TYPE_DECL),
        name=F.element_at(F.split(F.col("fn"), r"\."), -1),
        full_name=F.col("fn"), is_external=F.lit(True),
    )


# --------------------------------------------------------------------------- #
# Pass 6 — MethodStubCreator (MethodStubCreator.scala:26-91): one external
# METHOD stub (+params, RET) per called-but-undefined methodFullName; arg
# counts reconciled via min/max aggregation.
# --------------------------------------------------------------------------- #

def method_stub_nodes(calls: pd.DataFrame, methods_dim: pd.DataFrame) -> pd.DataFrame:
    """Stub dimension rows (``callgraph.DIM_COLS`` plus ``max_args``), one
    per called fullname no METHOD defines. ``calls`` are CALL rows (name,
    signature, method_full_name, nargs, stub_id): the parser recorded nargs
    per call, so the reference's arg-count reconciliation
    (MethodStubCreator.scala:59-66) is the largest count over the call
    sites; name and signature are the first call site's."""
    mfn = calls["method_full_name"]
    c = calls[mfn.notna() & (mfn != "") & (mfn != M.UNKNOWN_FULL_NAME)
              & ~mfn.isin(methods_dim["m_fn"])]
    max_args = (c["nargs"].fillna(0).clip(lower=0).groupby(c["method_full_name"])
                .max().astype("int32").rename("max_args"))
    first = (c.sort_values("pos", kind="stable").drop_duplicates("method_full_name")
             [["method_full_name", "stub_id", "name", "signature"]]
             .set_axis(["m_fn", "m_id", "m_name", "m_sig"], axis=1))
    return first.merge(max_args, left_on="m_fn", right_index=True).assign(
        is_external=True, m_parent="")


def method_stub_rows(stubs: DataFrame) -> DataFrame:
    """METHOD, METHOD_PARAMETER_IN (one per argument position, p1..pN) and
    METHOD_RETURN nodes for the stub rows (m_fn, m_id, m_name, m_sig,
    max_args) ``method_stub_nodes`` found."""
    stub = _mk_nodes(
        stubs, id=F.col("m_id"), kind=F.lit(M.METHOD), name=F.col("m_name"),
        full_name=F.col("m_fn"), signature=F.col("m_sig"),
        code=F.col("m_name"), is_external=F.lit(True),
    )
    params_src = stubs.filter(F.col("max_args") >= 1).select(
        "m_fn", "m_id", F.explode(F.sequence(F.lit(1), F.col("max_args"))).alias("pi"))
    params = _mk_nodes(
        params_src,
        id=F.xxhash64(F.lit("METHOD_STUB_P"), F.col("m_fn"), F.col("pi")),
        kind=F.lit(M.METHOD_PARAMETER_IN),
        name=F.concat(F.lit("p"), F.col("pi")),
        code=F.concat(F.lit("p"), F.col("pi")),
        order=F.col("pi"), param_index=F.col("pi"),
        evaluation_strategy=F.lit(M.BY_VALUE), is_external=F.lit(True),
        parent_id=F.col("m_id"),
    )
    rets = _mk_nodes(
        stubs,
        id=F.xxhash64(F.lit("METHOD_STUB_R"), F.col("m_fn")),
        kind=F.lit(M.METHOD_RETURN), code=F.lit("RET"),
        evaluation_strategy=F.lit(M.BY_VALUE), is_external=F.lit(True),
        parent_id=F.col("m_id"),
    )
    return stub.unionByName(params).unionByName(rets)


# --------------------------------------------------------------------------- #
# Pass 8 — MethodDecoratorPass (MethodDecoratorPass.scala:20-57):
# METHOD_PARAMETER_OUT clone per by-reference PARAM_IN + PARAMETER_LINK.
# --------------------------------------------------------------------------- #

def parameter_out_nodes(nodes: DataFrame) -> DataFrame:
    pins = nodes.filter(F.col("kind") == M.METHOD_PARAMETER_IN)
    return _mk_nodes(
        pins, repo=F.col("repo"), path=F.col("path"), commit=F.col("commit"),
        lang=F.col("lang"), id=F.xxhash64(F.lit("POUT"), F.col("id")),
        kind=F.lit(M.METHOD_PARAMETER_OUT), name=F.col("name"),
        code=F.col("code"), order=F.col("order"), param_index=F.col("param_index"),
        type_full_name=F.col("type_full_name"),
        evaluation_strategy=F.lit(M.BY_SHARING),
        parent_id=F.col("parent_id"), method_id=F.col("method_id"),
    )


# --------------------------------------------------------------------------- #
# Pass 9 — AstLinkerPass (AstLinkerPass.scala:12-61) + DECLARES extraction.
# --------------------------------------------------------------------------- #

def global_block_ast_edges(nodes: DataFrame) -> DataFrame:
    """Parent = the per-file <global> NAMESPACE_BLOCK: computable id, so a
    projection."""
    return (nodes.filter((F.col("ast_parent_full_name") != "")
                         & (F.col("ast_parent_type") == M.NAMESPACE_BLOCK)
                         & F.col("kind").isin(M.METHOD, M.TYPE_DECL, M.MEMBER))
            .select(*_edge(nsb_id(), F.col("id"), M.AST)))


def ast_link_and_declares_edges(nodes: pd.DataFrame, decl_dim: pd.DataFrame
                                ) -> pd.DataFrame:
    """AST (and, under a TYPE_DECL, DECLARES) edges to a METHOD or TYPE_DECL
    parent named by fullname: ``nodes`` are the link group's METHOD,
    TYPE_DECL and MEMBER rows, ``decl_dim`` is ``type_decl_dimension``
    (real and stub decls). A fullname held by several METHOD rows resolves
    to the first of them."""
    ptype, pfn = nodes["ast_parent_type"], nodes["ast_parent_full_name"]
    pending = nodes[nodes["kind"].isin([M.METHOD, M.TYPE_DECL, M.MEMBER])
                    & pfn.notna() & (pfn != "") & ptype.notna()
                    & (ptype != M.NAMESPACE_BLOCK)]
    methods = (first_by_full_name(nodes[nodes["kind"] == M.METHOD])
               .set_axis(["pfn", "pid"], axis=1).assign(pkind=M.METHOD))
    decls = decl_dim[["fn", "decl_id"]].set_axis(["pfn", "pid"], axis=1).assign(
        pkind=M.TYPE_DECL)
    j = pending[["id", "ast_parent_type", "ast_parent_full_name"]].merge(
        pd.concat([methods, decls]), left_on=["ast_parent_full_name", "ast_parent_type"],
        right_on=["pfn", "pkind"])
    return pd.concat([CG.edges(j, "pid", "id", M.AST),
                      CG.edges(j[j["pkind"] == M.TYPE_DECL], "pid", "id", M.DECLARES)],
                     ignore_index=True)


# --------------------------------------------------------------------------- #
# Pass 18 — FieldAccessLinkerPass (typerelations/FieldAccessLinkerPass.scala:
# 23-60): REF from `<operator>.fieldAccess` CALLs to the MEMBER they touch,
# keyed by (evalType(base) stripped of pointer decoration, field name).
# --------------------------------------------------------------------------- #

def field_access_ref_edges(nodes: DataFrame) -> DataFrame:
    fa_calls = (nodes.filter((F.col("kind") == M.CALL)
                             & F.col("name").isin(M.OP_FIELD_ACCESS,
                                                  M.OP_INDIRECT_FIELD_ACCESS))
                .select(F.col("id").alias("call_id")))
    base = (nodes.filter((F.col("arg_index") == 1) & F.col("parent_id").isNotNull())
            .select(F.col("parent_id").alias("call_id"),
                    F.regexp_replace("type_full_name", r"[*\s&]+$", "").alias("owner")))
    fld = (nodes.filter((F.col("kind") == M.FIELD_IDENTIFIER)
                        & (F.col("arg_index") == 2))
           .select(F.col("parent_id").alias("call_id"),
                   F.col("canonical_name").alias("fname")))
    # member owner = the enclosing TYPE_DECL (AST parent); frontends leave
    # astParent* empty on MEMBER rows, the tree edge carries the ownership
    owners = nodes.filter(F.col("kind") == M.TYPE_DECL).select(
        F.col("id").alias("parent_id"), F.col("full_name").alias("owner"))
    members = (nodes.filter(F.col("kind") == M.MEMBER)
               .join(owners, "parent_id")
               .select(F.col("id").alias("dst"), "owner",
                       F.col("name").alias("fname")))
    j = (fa_calls.join(base, "call_id").join(fld, "call_id")
         .join(members, ["owner", "fname"]))
    return j.select(*_edge(F.col("call_id"), F.col("dst"), M.REF))


# --------------------------------------------------------------------------- #
# Pass 16/17 — TypeHierarchyPass / AliasLinkerPass: projections.
# --------------------------------------------------------------------------- #

def inherits_edges(nodes: DataFrame, has_js: bool) -> DataFrame:
    d = nodes.filter((F.col("kind") == M.TYPE_DECL) & F.col("inherits_from").isNotNull())
    # JavaScript parents resolve through the XInheritanceFullNamePass twin
    # (import/name lookup); other frontends emit resolved names at parse
    if has_js:
        d = d.filter(F.col("lang") != "javascript")
    e = d.select(F.col("id").alias("src"), F.explode("inherits_from").alias("parent_fn"))
    if has_js:
        e = e.unionByName(js_inherits_parents(nodes).withColumnRenamed("id", "src"))
    return e.select(*_edge(F.col("src"), type_id(F.col("parent_fn")), M.INHERITS_FROM))


def alias_edges(nodes: DataFrame) -> DataFrame:
    d = nodes.filter((F.col("kind") == M.TYPE_DECL) & (F.col("alias_type_full_name") != ""))
    return d.select(*_edge(F.col("id"), type_id(F.col("alias_type_full_name")), M.ALIAS_OF))


def run_base(nodes: DataFrame, has_js: bool) -> tuple[DataFrame, DataFrame]:
    """The row-scale base passes over the parse output -> (extra_nodes,
    extra_edges). Every pass is a projection or a join of rows the parser
    resolved file-locally; the symbol-table passes run in the link task.
    EVAL_TYPE / decl-SOURCE_FILE / PARAMETER_LINK edges are emitted by the
    fused projection pass in ``operators.parse.derived_edges``."""
    files = file_dimension(nodes)
    extra_nodes = (
        file_nodes(files)
        .unionByName(namespace_block_nodes(files))
        .unionByName(meta_data_nodes(files))
        .unionByName(namespace_nodes(nodes, files))
        .unionByName(parameter_out_nodes(nodes))
    )
    extra_edges = (
        source_file_edges(files)
        .unionByName(namespace_ref_edges(nodes, files))
        .unionByName(global_block_ast_edges(nodes))
        .unionByName(inherits_edges(nodes, has_js))
        .unionByName(alias_edges(nodes))
        .unionByName(field_access_ref_edges(nodes))
        .unionByName(capture_edges(nodes))
    )
    return extra_nodes, extra_edges
