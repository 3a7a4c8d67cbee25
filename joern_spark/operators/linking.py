"""The link tail: symbol linking and entity canonicalization as ONE grouped
pandas task.

The reference links a CPG's symbols with hash-map lookups inside one JVM
(StaticCallLinker.scala:23-28, DynamicCallLinker's methodMap at
DynamicCallLinker.scala:40-51, MethodStubCreator, the binding tables). Here
the same rules are pandas functions over one link group's rows, run by a
single ``groupBy(<key>).applyInPandas`` task (``link_tail``) that the
pipeline checkpoints once — one vectorized call instead of dozens of engine
round-trips, resolved per block as SparkER does, not by global iteration.
The group key is a constant for now: fullnames are one namespace over the
whole input.

The task's input is one narrow, tagged projection of the parse output
(``link_input``): METHOD, CALL, TYPE_DECL, METHOD_REF, BINDING, MEMBER and
NAMESPACE_BLOCK rows, each file's root row, the arguments FieldAccessLinker
reads (every arg-1 row and the arg-2 FIELD_IDENTIFIERs), the referenced
type fullnames and the type-recovered JS call sites. Every parse row
appears once, in parse-output order (``pos``). Ids the task cannot hash
itself (no xxhash in Python) are hashed JVM-side, into those rows (each
CALL row carries the id a stub for its fullname gets, each type fullname
its TYPE and TYPE_DECL-stub ids) or where the output is decoded. Id columns
hold no nulls (``parent_id`` 0 stands for none), since Arrow hands a
nullable integer column to pandas as float64, which cannot hold a 64-bit
hash. The task emits tagged rows; ``link_nodes`` and ``link_edges`` decode
them through one generator each, ``canonical_map`` by a filter:

* stubs — ``base.method_stub_nodes``, ``base.type_decl_dimension``;
* TYPE nodes with their TYPE -REF-> TYPE_DECL edges;
* META_DATA per (repo, lang) and NAMESPACE per block name
  (``base.meta_data_partitions``, ``base.namespace_names``): distincts
  over the whole input;
* AST/DECLARES links to fullname-named parents
  (``base.ast_link_and_declares_edges``);
* field-access REF edges (``base.field_access_ref_edges``);
* bindings — ``bindings.binding_relation`` over
  ``callgraph.inheritance_closure``;
* CALL and METHOD_REF REF edges — ``callgraph.run_callgraph``, with the
  CALL targets already rewritten through the canonical map.

Entity canonicalization (the north rule's entity-linking stage): unresolved
stub symbols are *candidate-aliased* to compatible internal definitions of
the same bare name, the alias pairs are collapsed into components by a
union-find per name, and the per-component canonical id (the
lexicographically first internal definition) is applied back to the CALL
edges. Every candidate pair joins a stub and an internal of the same bare
name, so no component crosses a name.

Skew: method names are Zipfian (`get`, `main`, `init`…). Names above
``HOT_NAME_FREQ`` internal definitions are *excluded from canonicalization*:
a name defined in >100 distinct places carries no linkage signal (any
pairing would be a guess), and excluding them bounds every component.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from joern_spark import model as M
from joern_spark.operators import base as B
from joern_spark.operators import bindings as BD
from joern_spark.operators import callgraph as CG
from joern_spark.operators import typerecovery as TR

HOT_NAME_FREQ = 100

# row tags of the task's input and output besides the node kinds
TYPE_NAME_ROW = "<type name>"
TYPE_HINT_ROW = "<type hint>"
EDGE_ROW = "<edge>"
CANONICAL_ROW = "<canonical>"

OUT_TYPES = {"row": object, "src": "Int64", "dst": "Int64", "label": object,
             "fn": object, "name": object, "sig": object, "td": object,
             "n": "Int32"}
OUT_SCHEMA = ("row string, src long, dst long, label string, fn string, "
              "name string, sig string, td string, n int")


# --------------------------------------------------------------------------- #
# Entity canonicalization
# --------------------------------------------------------------------------- #

def _canonical_in_name(pdf: pd.DataFrame) -> pd.DataFrame:
    """One bare name's alias components. A stub pairs with every internal
    whose arity matches its recorded arity (any internal when the stub
    records none, or when the internal has no signature); union-find over
    the internals a stub bridges, with the root kept at the smallest
    (m_fn, m_id) so it is the component's canonical symbol.

    Rows for stubs only. A shared stub can bridge two same-name internal
    definitions into one component; a row for an internal member would let
    canonicalize_call_edges move a correctly static-linked CALL edge onto
    another definition, and the reference never re-points a resolved
    internal target (StaticCallLinker.scala:23-28)."""
    ints = pdf[~pdf["is_stub"]].sort_values(["m_fn", "m_id"])
    stubs = pdf[pdf["is_stub"]]
    sig_arity = ints["sig_arity"].to_numpy()
    no_sig = ints["no_sig"].to_numpy()
    parent = list(range(len(ints)))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    linked = []  # (stub id, first internal it pairs with)
    for stub_id, arity in zip(stubs["m_id"], stubs["stub_arity"]):
        hits = np.flatnonzero(np.isnan(arity) | no_sig | (sig_arity == arity))
        if not hits.size:
            continue
        root = find(hits[0])
        for h in hits[1:]:
            lo, hi = sorted((find(h), root))
            parent[hi] = root = lo
        linked.append((stub_id, hits[0]))
    roots = [find(h) for _, h in linked]
    out = pd.DataFrame({"m_id": np.array([s for s, _ in linked], dtype=np.int64),
                        "canon_id": ints["m_id"].to_numpy(np.int64)[roots],
                        "canon_fn": ints["m_fn"].to_numpy()[roots]})
    return out[out["m_id"] != out["canon_id"]]


def canonical_symbol_map(dim: pd.DataFrame) -> pd.DataFrame:
    """(m_id → canon_id, canon_fn) over the method dimension ``dim``
    (m_fn, m_id, m_name, is_external, m_parent, m_sig): per alias component,
    the canonical symbol is the lexicographically-first internal definition.
    Symbols outside any component map to themselves (identity rows are
    omitted — consumers look up and fall back).

    Candidates (all exact-name):
      * stubs: external, not `<operator>`, with a fullname carrying
        `<unresolvedNamespace>` / `<unresolvedSignature>` or equal to the
        bare name (C-style);
      * internals: every non-external definition.
    Only names with at least one stub and 1..``HOT_NAME_FREQ`` internals
    are linked."""
    name, fn = dim["m_name"], dim["m_fn"]
    named = name.notna() & (name != "")
    is_stub = (dim["is_external"].eq(True) & named
               & ~name.str.startswith("<operator>", na=False)
               & (fn.str.contains(M.UNRESOLVED_NAMESPACE, regex=False, na=False)
                  | fn.str.contains(M.UNRESOLVED_SIGNATURE, regex=False, na=False)
                  | (fn == name)))
    is_internal = dim["is_external"].eq(False) & named
    cand = dim[is_stub | is_internal].assign(
        is_stub=is_stub,
        # arity encoded in `<unresolvedSignature>(n)` fullnames, else NaN
        stub_arity=fn.str.extract(r"<unresolvedSignature>\(([0-9]+)\)",
                                  expand=False).astype(float),
        sig_arity=dim["m_sig"].map(CG.signature_arity).fillna(-1),
        no_sig=dim["m_sig"].eq(""))
    n_int = (~cand["is_stub"]).groupby(cand["m_name"]).transform("sum")
    has_stub = cand["is_stub"].groupby(cand["m_name"]).transform("any")
    keep = has_stub & n_int.between(1, HOT_NAME_FREQ)
    parts = [_canonical_in_name(g) for _, g in cand[keep].groupby("m_name")]
    return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(
        {"m_id": pd.Series(dtype=np.int64), "canon_id": pd.Series(dtype=np.int64),
         "canon_fn": pd.Series(dtype=object)})


def canonicalize_call_edges(edges: pd.DataFrame, mapping: pd.DataFrame) -> pd.DataFrame:
    """Rewrite CALL-edge targets through the canonical map ``mapping``
    (m_id, canon_id); other edges pass through."""
    canon = dict(zip(mapping["m_id"], mapping["canon_id"]))
    is_call = (edges["label"] == M.CALL_EDGE).to_numpy()
    dst = [canon.get(d, d) if c else d for d, c in zip(edges["dst"], is_call)]
    return edges.assign(dst=np.array(dst, dtype=np.int64))


# --------------------------------------------------------------------------- #
# The grouped task
# --------------------------------------------------------------------------- #

def _part(row: str, frame: pd.DataFrame, **cols: str) -> pd.DataFrame:
    """Output rows tagged ``row``; ``cols`` maps output columns to columns
    of ``frame``, the others are null."""
    n = len(frame)
    out = {c: pd.Series(frame[cols[c]].to_numpy() if c in cols else [None] * n,
                        dtype=t)
           for c, t in OUT_TYPES.items() if c != "row"}
    return pd.DataFrame({"row": pd.Series([row] * n, dtype=object), **out})


def _concat(frames: list[pd.DataFrame], **kw) -> pd.DataFrame:
    """``pd.concat`` of the non-empty ``frames`` (the first one if all are
    empty). pandas deprecates letting empty entries take part in choosing a
    result dtype; an input without CALLs has an empty stub frame whose
    object index would otherwise meet the methods' integer index."""
    return pd.concat([f for f in frames if len(f)] or frames[:1], **kw)


def link_task(pdf: pd.DataFrame) -> pd.DataFrame:
    """One link group's rows (``link_input``) -> its stubs, TYPE nodes,
    bindings, link edges and canonical map as tagged rows (``OUT_SCHEMA``)."""
    kind = pdf["kind"]
    calls = pdf[kind == M.CALL]
    fns = pdf[kind == TYPE_NAME_ROW]
    real = pdf[kind == M.METHOD]
    dim_real = CG.method_dimension(real)
    stubs = B.method_stub_nodes(calls, dim_real)
    dim = _concat([dim_real, stubs[CG.DIM_COLS]], ignore_index=True)
    decl_dim = B.type_decl_dimension(pdf, fns)
    closure = CG.inheritance_closure(pdf)
    rel = BD.binding_relation(pdf, closure)
    methods = _concat([B.first_by_full_name(real).set_axis(["m_fn", "m_id"], axis=1),
                       stubs[["m_fn", "m_id"]]])
    binding_rows = BD.binding_nodes_and_edges(pdf, rel, decl_dim[["fn", "decl_id"]],
                                              methods)
    canonical = canonical_symbol_map(dim)
    links = canonicalize_call_edges(
        CG.run_callgraph(calls, pdf[kind == M.METHOD_REF], closure, rel, dim,
                         pdf[kind == TYPE_HINT_ROW]), canonical)
    edges = pd.concat([B.ast_link_and_declares_edges(pdf, decl_dim),
                       B.field_access_ref_edges(pdf), links])
    types = fns.merge(decl_dim, left_on="full_name", right_on="fn")
    roots = pdf[pdf["node_idx"] == 0]
    return pd.concat([
        _part(M.META_DATA, B.meta_data_partitions(roots), fn="repo", name="lang"),
        _part(M.NAMESPACE, B.namespace_names(pdf, roots), name="name"),
        _part(M.TYPE, types, src="id", dst="decl_id", fn="fn"),
        _part(M.TYPE_DECL, decl_dim[decl_dim["stub"]], src="decl_id", fn="fn"),
        _part(M.METHOD, stubs, src="m_id", fn="m_fn", name="m_name", sig="m_sig",
              n="max_args"),
        _part(M.BINDING, binding_rows, src="td_id", dst="m_id", td="td_fn",
              name="bname", sig="bsig", fn="target_fn"),
        _part(EDGE_ROW, edges, src="src", dst="dst", label="label"),
        _part(CANONICAL_ROW, canonical, src="m_id", dst="canon_id", fn="canon_fn"),
    ], ignore_index=True)


# --------------------------------------------------------------------------- #
# Spark side: the task's input projection and the decoders of its output
# --------------------------------------------------------------------------- #

def link_input(ok: DataFrame, fns: DataFrame,
               rewrites: DataFrame | None) -> DataFrame:
    """The link task's input rows (see the module doc). ``fns`` is
    ``base.used_type_fullnames``; ``rewrites`` (id, rec_mfn) the JS
    type-recovery rewrites, or None on JS-free input."""
    k, mfn, arg = F.col("kind"), F.col("method_full_name"), F.col("arg_index")
    rows = ok.filter(k.isin(M.METHOD, M.CALL, M.TYPE_DECL, M.BINDING, M.MEMBER,
                            M.NAMESPACE_BLOCK)
                     | ((k == M.METHOD_REF) & (mfn != ""))
                     | (F.col("node_idx") == 0)
                     | ((arg == 1) & F.col("parent_id").isNotNull())
                     | ((k == M.FIELD_IDENTIFIER) & (arg == 2)))
    rows = rows.select("kind", "id", "parent_id", "node_idx", "repo", "lang",
                       "name", "full_name", "signature", "method_full_name",
                       "dispatch_type", "nargs", "arg_index", "type_full_name",
                       "canonical_name", "is_external", "ast_parent_type",
                       "ast_parent_full_name", "inherits_from",
                       F.monotonically_increasing_id().alias("pos"))
    parts = [fns.select(F.lit(TYPE_NAME_ROW).alias("kind"),
                        B.type_id(F.col("fn")).alias("id"),
                        F.col("fn").alias("full_name"),
                        F.xxhash64(F.lit("TYPE_DECL_STUB"), F.col("fn")).alias("stub_id"))]
    if rewrites is not None:
        rows = TR.apply_rewrites(rows, rewrites)
        parts.append(rewrites.select(F.lit(TYPE_HINT_ROW).alias("kind"), "id"))
    rows = rows.withColumn("stub_id", F.when(
        k == M.CALL, F.xxhash64(F.lit("METHOD_STUB"), mfn)))
    return (reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                   parts, rows)
            .na.fill(0, ["parent_id", "stub_id", "pos"]))


def link_tail(ok: DataFrame, fns: DataFrame,
              rewrites: DataFrame | None) -> DataFrame:
    """The whole link tail as one grouped pandas task -> tagged rows
    (``OUT_SCHEMA``). The caller checkpoints it once; every decoder below
    reads that checkpoint."""
    return (link_input(ok, fns, rewrites).withColumn("link_group", F.lit(0))
            .groupBy("link_group").applyInPandas(link_task, OUT_SCHEMA))


def _binding_id():
    return F.xxhash64(F.lit("BINDING"), F.col("td"), F.col("name"), F.col("sig"))


def link_nodes(link: DataFrame) -> DataFrame:
    """TYPE nodes, TYPE_DECL stubs, METHOD stubs with their parameters and
    return, BINDING, META_DATA and NAMESPACE nodes, through one generator
    over the task's output."""
    row, src, fn, name, sig = (F.col(c) for c in ("row", "src", "fn", "name", "sig"))
    short = F.element_at(F.split(fn, r"\."), -1)

    def stub_part(i):
        """Part ``i`` of a METHOD stub: 0 is its METHOD_RETURN, 1..n its
        parameters p1..pn."""
        p = F.concat(F.lit("p"), i)
        return F.when(i == 0, B.node(
            id=F.xxhash64(F.lit("METHOD_STUB_R"), fn), kind=M.METHOD_RETURN,
            code="RET", evaluation_strategy=M.BY_VALUE, is_external=True,
            parent_id=src)).otherwise(B.node(
                id=F.xxhash64(F.lit("METHOD_STUB_P"), fn, i),
                kind=M.METHOD_PARAMETER_IN, name=p, code=p, order=i,
                param_index=i, evaluation_strategy=M.BY_VALUE,
                is_external=True, parent_id=src))

    return B.generate_nodes(link, (
        F.when(row == M.TYPE, F.array(B.node(
            id=B.type_id(fn), kind=M.TYPE, name=short, full_name=fn,
            type_full_name=fn)))
        .when(row == M.TYPE_DECL, F.array(B.node(
            id=src, kind=M.TYPE_DECL, name=short, full_name=fn,
            is_external=True)))
        .when(row == M.METHOD, F.concat(F.array(B.node(
            id=src, kind=M.METHOD, name=name, full_name=fn, signature=sig,
            code=name, is_external=True)),
            F.transform(F.sequence(F.lit(0), F.col("n")), stub_part)))
        .when(row == M.BINDING, F.array(B.node(
            id=_binding_id(), kind=M.BINDING, name=name, signature=sig,
            code=F.concat_ws(":", name, sig), method_full_name=fn,
            ast_parent_type=M.TYPE_DECL, ast_parent_full_name=F.col("td"))))
        # a META_DATA row holds its partition's repo in fn, its lang in name
        .when(row == M.META_DATA, F.array(B.node(
            repo=fn, lang=name, id=F.xxhash64(F.lit("META_DATA"), fn, name),
            kind=M.META_DATA, name=F.upper(name),
            full_name=F.concat_ws(":", fn, name), code="joern_spark")))
        .when(row == M.NAMESPACE, F.array(B.node(
            id=B.namespace_id(name), kind=M.NAMESPACE, name=name,
            full_name=name)))))


def link_edges(link: DataFrame) -> DataFrame:
    """The task's edges, TYPE -REF-> TYPE_DECL, and per BINDING node
    TYPE_DECL -BINDS-> BINDING plus BINDING -REF-> METHOD, through one
    generator over the task's output."""
    row, src, dst = F.col("row"), F.col("src"), F.col("dst")
    return B.explode_edges(link, (
        F.when(row == EDGE_ROW, F.array(B.edge(None, src, dst, F.col("label"))))
        .when(row == M.TYPE, F.array(B.edge(None, src, dst, M.REF)))
        .when(row == M.BINDING, F.array(
            B.edge(None, src, _binding_id(), M.BINDS),
            B.edge(dst.isNotNull(), _binding_id(), dst, M.REF)))))


def canonical_map(link: DataFrame) -> DataFrame:
    """(m_id, canon_id, canon_fn): each aliased stub's canonical method."""
    return link.filter(F.col("row") == CANONICAL_ROW).select(
        F.col("src").alias("m_id"), F.col("dst").alias("canon_id"),
        F.col("fn").alias("canon_fn"))
