"""Base linking layer — reference passes #2-#12 (SURVEY.md §2A) — and the
generators that turn passes into node and edge rows.

Node ids are content-derived (xxhash64 over stable keys), so a pass whose
target identity is a pure function of row columns is a per-row projection,
not a join. Where each pass runs:

* **Per parse row, behind one generator.** ``file_local_nodes`` turns each
  parse row into its candidate FILE, per-file ``<global>``
  NAMESPACE_BLOCK and METHOD_PARAMETER_OUT nodes and explodes them once.
  ``operators.parse.derived_edges`` does the same for every edge one row
  determines, among them NSB → FILE SOURCE_FILE, NSB → NAMESPACE REF, the
  AST links to the ``<global>`` block, ALIAS_OF and the non-JavaScript
  INHERITS_FROM edges.
* **In the link task** (``linking.link_task``), as pandas rules over one
  link group's rows: the passes that need the whole input — META_DATA per
  (repo, lang) and NAMESPACE per block name, a distinct each — the
  symbol-table passes (method and type-decl stubs, TYPE → TYPE_DECL REF,
  AST/DECLARES to a parent named by fullname), FieldAccessLinkerPass, a
  cross-file lookup, CAPTURE, a pairing of uses with declarations, and
  the JavaScript INHERITS_FROM edges, from the supertypes
  ``typerecovery.js_inherits_parents`` resolves. The reference runs these
  as hash-map lookups inside one JVM (LinkingUtil.scala:35-119). Python
  has no xxhash, so ids are hashed JVM-side: into the task's input rows,
  or where ``linking.link_nodes`` and ``linking.link_edges`` decode its
  output.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from joern_spark import model as M
from joern_spark.operators import callgraph as CG

NODE_COLS = [f.name for f in M.RAW_NODE_SCHEMA.fields] + M.NODE_ID_COLS
_NODE_TYPES = {**{f.name: f.dataType for f in M.RAW_NODE_SCHEMA.fields},
               **{c: T.LongType() for c in M.NODE_ID_COLS}}

# a derived node's value in each column no pass sets
_NODE_DEFAULTS = {
    "repo": "", "path": "", "commit": "", "lang": "", "sha256": "",
    "node_idx": -1, "parent_idx": -1, "method_idx": -1, "ref_idx": -1,
    "kind": "", "name": "", "full_name": "", "signature": "", "code": "",
    "order": 0, "arg_index": -1, "role": "", "dispatch_type": "",
    "type_full_name": M.ANY, "method_full_name": "",
    "control_structure_type": "", "jump_label": "", "canonical_name": "",
    "ast_parent_type": "", "ast_parent_full_name": "", "inherits_from": None,
    "alias_type_full_name": "", "evaluation_strategy": "", "param_index": -1,
    "is_variadic": False, "is_external": False, "nargs": -1,
    "generic_signature": "", "line": 0, "line_end": -1, "parse_error": "",
    "ie_src": None, "ie_dst": None, "ie_label": None, "ie_var": None,
    "id": None, "parent_id": None, "method_id": None, "ref_id": None,
}

# the columns some pass sets on a derived node
GEN_COLS = ["repo", "path", "commit", "lang", "id", "kind", "name", "full_name",
            "signature", "code", "order", "param_index", "type_full_name",
            "evaluation_strategy", "is_external", "parent_id", "method_id",
            "method_full_name", "ast_parent_type", "ast_parent_full_name"]

EDGE_TYPE = "struct<src:bigint,dst:bigint,label:string,variable:string>"


def _default(c: str) -> Column:
    return F.lit(_NODE_DEFAULTS[c]).cast(_NODE_TYPES[c])


def node(**cols) -> Column:
    """One candidate node for ``generate_nodes``: a struct of ``GEN_COLS``
    holding ``cols`` (columns or literals) and defaults elsewhere."""
    def value(c):
        v = cols.get(c, _NODE_DEFAULTS[c])
        return (v if isinstance(v, Column) else F.lit(v)).cast(_NODE_TYPES[c])
    return F.struct(*[value(c).alias(c) for c in GEN_COLS])


def generate_nodes(df: DataFrame, candidates: Column) -> DataFrame:
    """The nodes of ``candidates``, an array of ``node`` structs per row of
    ``df`` (null entries dropped), exploded once into the wide node
    schema."""
    n = df.select(F.explode(candidates).alias("n")).filter(F.col("n").isNotNull())
    return n.select(*[(F.col("n")[c] if c in GEN_COLS else _default(c)).alias(c)
                      for c in NODE_COLS])


def edge(cond, src: Column, dst: Column, label, variable: Column | None = None
         ) -> Column:
    """One candidate edge (``EDGE_TYPE``) for ``explode_edges``; null where
    ``cond`` does not hold (``cond`` None: always)."""
    e = F.struct(src.cast("long").alias("src"), dst.cast("long").alias("dst"),
                 (F.lit(label) if isinstance(label, str) else label).alias("label"),
                 (F.lit(None).cast("string") if variable is None
                  else variable).alias("variable"))
    return e if cond is None else F.when(cond, e)


def explode_edges(df: DataFrame, candidates: Column) -> DataFrame:
    """The edges of ``candidates``, an array of ``edge`` structs per row of
    ``df`` (null entries dropped), exploded once."""
    return (df.select(F.explode(candidates).alias("e"))
            .filter(F.col("e").isNotNull())
            .select("e.src", "e.dst", "e.label", "e.variable"))


def type_id(col):
    return F.xxhash64(F.lit("TYPE"), col)


def file_id():
    return F.xxhash64(F.lit("FILE"), F.col("repo"), F.col("path"), F.col("commit"))


def nsb_id():
    return F.xxhash64(F.lit("NSB"), F.col("repo"), F.col("path"), F.col("commit"))


def namespace_id(name_col):
    return F.xxhash64(F.lit("NAMESPACE"), name_col)


# --------------------------------------------------------------------------- #
# Pass 2 — TypeNodePass (x2cpg/.../frontend/TypeNodePass.scala:39-59)
# --------------------------------------------------------------------------- #

def used_type_fullnames(nodes: DataFrame) -> DataFrame:
    """Every referenced type fullname (``fn``), once per parse row that
    names it, in ONE scan of the node table (the reference collects the
    same set via its TypeNodePass accumulator, TypeNodePass.scala:39-59): a
    per-row candidate array + explode, no union of scans. The link task
    drops the duplicates, so the plan holds no shuffle."""
    cand = F.concat(
        F.array(
            F.col("type_full_name"),
            F.when(F.col("kind") == M.TYPE_DECL, F.col("full_name")),
            F.when(F.col("alias_type_full_name") != "", F.col("alias_type_full_name")),
        ),
        F.coalesce(F.col("inherits_from"), F.array()),
    )
    fn = F.explode(cand).alias("fn")
    return nodes.select(fn).filter((F.col("fn") != "") & F.col("fn").isNotNull())


# Pass 12 — TypeEvalPass (x2cpg/.../base/TypeEvalPass.scala:9-42): projection.
EVAL_TYPE_KINDS = [M.METHOD_PARAMETER_IN, M.METHOD_PARAMETER_OUT, M.METHOD_RETURN,
                   M.MEMBER, M.LITERAL, M.CALL, M.LOCAL, M.IDENTIFIER, M.BLOCK,
                   M.METHOD_REF, M.TYPE_REF, M.UNKNOWN]


# --------------------------------------------------------------------------- #
# Pass 3 — FileCreationPass, pass 0 — the per-file NAMESPACE_BLOCK
# (MetaDataPass.scala:28-35) and pass 8 — MethodDecoratorPass
# (MethodDecoratorPass.scala:20-57): one generator over the parse rows.
# --------------------------------------------------------------------------- #

def file_local_nodes(nodes: DataFrame) -> DataFrame:
    """FILE and ``<global>`` NAMESPACE_BLOCK nodes per file, from its
    preorder root row (node_idx 0, unique per file by construction, so no
    distinct), and a METHOD_PARAMETER_OUT clone per METHOD_PARAMETER_IN."""
    root = F.col("node_idx") == 0
    pin = F.col("kind") == M.METHOD_PARAMETER_IN
    where = {c: F.col(c) for c in ("repo", "path", "commit", "lang")}
    return generate_nodes(nodes.filter(root | pin), F.array(
        F.when(root, node(**where, id=file_id(), kind=M.FILE,
                          name=F.col("path"), full_name=F.col("path"))),
        F.when(root, node(**where, id=nsb_id(), kind=M.NAMESPACE_BLOCK,
                          name=M.GLOBAL,
                          full_name=F.concat_ws(":", F.col("path"), F.lit(M.GLOBAL)),
                          parent_id=file_id())),
        F.when(pin, node(**where, id=F.xxhash64(F.lit("POUT"), F.col("id")),
                         kind=M.METHOD_PARAMETER_OUT, name=F.col("name"),
                         code=F.col("code"), order=F.col("order"),
                         param_index=F.col("param_index"),
                         type_full_name=F.col("type_full_name"),
                         evaluation_strategy=M.BY_SHARING,
                         parent_id=F.col("parent_id"),
                         method_id=F.col("method_id")))))


# --------------------------------------------------------------------------- #
# Pass 0 — MetaDataPass (x2cpg/.../frontend/MetaDataPass.scala:15-52). The
# reference emits ONE META_DATA node per CPG; distributed, the natural unit
# is one per (repo, lang) build partition — name carries the language (as in
# the reference), full_name the partition key, code the producing engine.
# Pass 4 — NamespaceCreator (x2cpg/.../base/NamespaceCreator.scala:17-25):
# one NAMESPACE node per distinct NAMESPACE_BLOCK name. Both are distincts
# over the whole input, so they run in the link task; the NSB → NAMESPACE
# REF edges are a projection (``parse.derived_edges``), since namespace ids
# hash the name.
# --------------------------------------------------------------------------- #

def meta_data_partitions(roots: pd.DataFrame) -> pd.DataFrame:
    """(repo, lang) of each META_DATA node, over the file-root rows."""
    return roots[["repo", "lang"]].drop_duplicates()


def namespace_names(rows: pd.DataFrame, roots: pd.DataFrame) -> pd.DataFrame:
    """(name) of each NAMESPACE node: the parsed NAMESPACE_BLOCK rows'
    names, plus ``<global>`` for the per-file blocks when there are files
    (``roots``)."""
    names = rows.loc[rows["kind"] == M.NAMESPACE_BLOCK, "name"]
    if len(roots):
        names = pd.concat([pd.Series([M.GLOBAL], dtype=object), names])
    return names.drop_duplicates().to_frame("name")


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


# --------------------------------------------------------------------------- #
# Pass 9 — AstLinkerPass (AstLinkerPass.scala:12-61) + DECLARES extraction.
# The AST links to the per-file <global> NAMESPACE_BLOCK are a projection
# (``parse.derived_edges``); those to a parent named by fullname need the
# symbol tables.
# --------------------------------------------------------------------------- #

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

# trailing pointer/reference decoration; ASCII \s is Java's \s
_DECORATION = re.compile(r"[*\s&]+$", re.ASCII)


def field_access_ref_edges(rows: pd.DataFrame) -> pd.DataFrame:
    """REF edges from each ``<operator>.(indirect)fieldAccess`` CALL to the
    MEMBER named by its arg-2 FIELD_IDENTIFIER under a TYPE_DECL whose
    fullname is its arg-1 type, decoration stripped. Frontends leave
    astParent* empty on MEMBER rows, so a member's owner is its AST parent
    (``parent_id``; 0 for none). A fullname several TYPE_DECLs hold links
    through each of them, as a join does."""
    kind, arg = rows["kind"], rows["arg_index"]
    calls = rows.loc[(kind == M.CALL) & rows["name"].isin(
        [M.OP_FIELD_ACCESS, M.OP_INDIRECT_FIELD_ACCESS]), ["id"]]
    base = rows[(arg == 1) & (rows["parent_id"] != 0)]
    base = pd.DataFrame({"id": base["parent_id"], "owner": base["type_full_name"]
                         .str.replace(_DECORATION, "", regex=True)})
    fld = rows[(kind == M.FIELD_IDENTIFIER) & (arg == 2)]
    fld = pd.DataFrame({"id": fld["parent_id"], "fname": fld["canonical_name"]})
    owners = rows.loc[kind == M.TYPE_DECL, ["id", "full_name"]].set_axis(
        ["parent_id", "owner"], axis=1)
    members = (rows.loc[kind == M.MEMBER, ["id", "parent_id", "name"]]
               .merge(owners, on="parent_id")
               .rename(columns={"id": "dst", "name": "fname"}))
    j = (calls.merge(base.dropna(), on="id").merge(fld.dropna(), on="id")
         .merge(members.dropna(subset=["owner", "fname"]), on=["owner", "fname"]))
    return CG.edges(j, "id", "dst", M.REF)


# --------------------------------------------------------------------------- #
# CAPTURE edges — METHOD_REF → captured outer LOCAL / PARAMETER
# (x2cpg/.../Ast.scala:104 captureEdges; closures get `<lambda>N` names per
# Defines.scala:35). A capture is an identifier USE inside one method whose
# REF target declaration lives in a DIFFERENT (enclosing) method; the edge
# hangs off the closure's METHOD_REF (the METHOD's AST parent).
# --------------------------------------------------------------------------- #

def capture_ref_edges(rows: pd.DataFrame) -> pd.DataFrame:
    """CAPTURE edges over a link group's IDENTIFIER, LOCAL,
    METHOD_PARAMETER_IN, METHOD and METHOD_REF rows: one per (closure
    METHOD, captured declaration), from the closure's METHOD_REF. Id
    columns hold 0 for none, so a declaration outside any method never
    captures."""
    kind, mid = rows["kind"], rows["method_id"]
    uses = rows.loc[(kind == M.IDENTIFIER) & (rows["ref_id"] != 0) & (mid != 0),
                    ["method_id", "ref_id"]]
    decls = rows.loc[kind.isin([M.LOCAL, M.METHOD_PARAMETER_IN]) & (mid != 0),
                     ["id", "method_id"]].set_axis(["ref_id", "decl_mid"], axis=1)
    captured = uses.merge(decls, on="ref_id")
    captured = captured.loc[captured["method_id"] != captured["decl_mid"],
                            ["method_id", "ref_id"]].drop_duplicates()
    # the closure's METHOD_REF is the inner METHOD's AST parent
    inner = rows.loc[kind == M.METHOD, ["id", "parent_id"]].set_axis(
        ["method_id", "mref_id"], axis=1)
    inner = inner[inner["mref_id"].isin(rows.loc[kind == M.METHOD_REF, "id"])]
    return CG.edges(captured.merge(inner, on="method_id"), "mref_id", "ref_id",
                    M.CAPTURE)


# the one Spark-side base pass, under the name the benchmark's tracer patches
run_base = file_local_nodes
