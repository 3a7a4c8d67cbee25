"""Call-graph layer — reference passes #19-#22 (SURVEY.md §2A), as pandas
rules over one link group's rows. ``linking.link_task`` runs them all inside
one grouped task, the way the reference runs them as hash-map lookups inside
one JVM.

* method_dimension — FullNameUniquenessPass (C2Cpg.scala:45-48): one row per
  fullname, internal definitions before external stubs.
* inheritance_closure — the subclass cache (DynamicCallLinker.scala:37-42,
  94-111): a depth-bounded semi-naive fixed point.
* MethodRefLinker  (MethodRefLinker.scala:12-28)   — exact fullname.
* StaticCallLinker (StaticCallLinker.scala:15-38)  — exact fullname against
  the method dimension, the reference's methodMap lookup
  (DynamicCallLinker.scala:40-51).
* DynamicCallLinker (DynamicCallLinker.scala:29-221) — SAFEDISPATCH-style:
  candidates = subclasses*(receiver static type) × lookup(name) in the
  binding table.
* XTypeHintCallLinker — sites whose fullname came from JS type recovery.
* NaiveCallLinker  (NaiveCallLinker.scala:14-27)   — remaining unlinked calls
  joined to methods by bare name.

Every join is a pandas merge, so an edge comes out as many times as the SQL
join it replaced produced it: the dynamic linker emits one edge per candidate
type whose vtable resolves to the method.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from joern_spark import model as M

DIM_COLS = ["m_fn", "m_id", "m_name", "is_external", "m_parent", "m_sig"]
_PARENS = re.compile(r"\((.*)\)")


def signature_arity(sig) -> int | None:
    """Parameter count of a ``ret(a,b)`` signature: the comma-separated
    items between the first ``(`` and the last ``)``, 0 when there are none
    (no parentheses reads as none); None for a missing signature."""
    if not isinstance(sig, str):
        return None
    m = _PARENS.search(sig)
    inner = m.group(1) if m else ""
    return inner.count(",") + 1 if inner else 0


def edges(df: pd.DataFrame, src: str, dst: str, label: str) -> pd.DataFrame:
    return pd.DataFrame({"src": df[src].to_numpy(np.int64),
                         "dst": df[dst].to_numpy(np.int64), "label": label})


def method_dimension(methods: pd.DataFrame) -> pd.DataFrame:
    """METHOD rows (id, name, full_name, signature, is_external,
    ast_parent_full_name) -> (m_fn, m_id, m_name, is_external, m_parent,
    m_sig), one row per fullname: internal definitions win over external
    stubs, then the smallest id."""
    dim = methods.rename(columns={
        "full_name": "m_fn", "id": "m_id", "name": "m_name",
        "ast_parent_full_name": "m_parent", "signature": "m_sig"})[DIM_COLS]
    return (dim.sort_values(["is_external", "m_id"], kind="stable")
            .drop_duplicates("m_fn"))


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


def inheritance_closure(nodes: pd.DataFrame, max_depth: int = 20) -> pd.DataFrame:
    """(desc, anc) transitive closure of the TYPE_DECL rows' inheritsFrom
    lists in ``nodes`` (kind, full_name, inherits_from)."""
    td = nodes[(nodes["kind"] == M.TYPE_DECL) & nodes["inherits_from"].notna()]
    base = (td[["full_name", "inherits_from"]].explode("inherits_from")
            .dropna().set_axis(["desc", "anc"], axis=1))
    return _closure_task(base, max_depth)


def _linkable(calls: pd.DataFrame, dispatch: str) -> pd.DataFrame:
    mfn = calls["method_full_name"]
    return calls[(calls["dispatch_type"] == dispatch) & mfn.notna()
                 & (mfn != "") & (mfn != M.UNKNOWN_FULL_NAME)]


def static_call_edges(calls: pd.DataFrame, dim: pd.DataFrame) -> pd.DataFrame:
    j = _linkable(calls, M.STATIC_DISPATCH).merge(
        dim, left_on="method_full_name", right_on="m_fn")
    return edges(j, "id", "m_id", M.CALL_EDGE)


def method_ref_edges(refs: pd.DataFrame, dim: pd.DataFrame) -> pd.DataFrame:
    refs = refs[refs["method_full_name"].notna() & (refs["method_full_name"] != "")]
    j = refs.merge(dim, left_on="method_full_name", right_on="m_fn")
    return edges(j, "id", "m_id", M.REF)


def dynamic_call_edges(calls: pd.DataFrame, closure: pd.DataFrame,
                       bindings: pd.DataFrame, dim: pd.DataFrame) -> pd.DataFrame:
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
    c = _linkable(calls, M.DYNAMIC_DISPATCH)[["id", "method_full_name", "nargs"]]
    parts = [m.partition(":") for m in c["method_full_name"]]

    def col(values):
        return pd.Series(values, index=c.index, dtype=object)

    c = c.assign(call_sig=col([p[2] if p[1] else None for p in parts]),
                 recv_type=col([re.sub(r"\.[^.]+$", "", p[0]) for p in parts]),
                 call_name=col([p[0].split(".")[-1] for p in parts]))
    # candidate receiver types: the static type itself + all transitive subtypes
    recv = c["recv_type"].drop_duplicates()
    cand_types = pd.concat([
        closure.rename(columns={"anc": "recv_type", "desc": "impl_type"}),
        pd.DataFrame({"recv_type": recv, "impl_type": recv})]).drop_duplicates()
    # each candidate type's vtable rows, resolved to method ids (inner join:
    # a binding whose target is not a materialized METHOD produces no edge)
    vtable = (bindings.merge(dim[["m_fn", "m_id"]], left_on="target_fn",
                             right_on="m_fn")
              [["td_fn", "bname", "bsig", "m_id"]]
              .set_axis(["impl_type", "call_name", "m_sig", "m_id"], axis=1))
    j = c.merge(cand_types.merge(vtable, on="impl_type"),
                on=["recv_type", "call_name"])

    def compatible(call_sig, m_sig, nargs):
        if isinstance(call_sig, str) and M.UNRESOLVED_SIGNATURE not in call_sig:
            return m_sig == call_sig
        # no resolvable signature at the site: arity gate
        arity = None if m_sig == "" else signature_arity(m_sig)
        return arity is None or nargs < 0 or arity == nargs

    keep = [compatible(*r) for r in zip(j["call_sig"], j["m_sig"], j["nargs"])]
    return edges(j[np.array(keep, dtype=bool)], "id", "m_id", M.CALL_EDGE)


def type_hint_call_edges(calls: pd.DataFrame, rewrites: pd.DataFrame,
                         dim: pd.DataFrame) -> pd.DataFrame:
    """CALL edges for sites whose methodFullName came from type recovery —
    exact-fullname join against the (stub-inclusive) method dimension, the
    XTypeHintCallLinker analogue."""
    sites = calls[calls["id"].isin(rewrites["id"])]
    j = sites.merge(dim, left_on="method_full_name", right_on="m_fn")
    return edges(j, "id", "m_id", M.CALL_EDGE)


def naive_call_edges(calls: pd.DataFrame, linked: pd.DataFrame,
                     dim: pd.DataFrame) -> pd.DataFrame:
    """Fallback: remaining unlinked calls joined to internal methods by bare
    name (NaiveCallLinker.scala:14-27). EVERY same-name internal method gets
    an edge: the reference links the whole name group."""
    unlinked = calls[~calls["id"].isin(linked["src"]) & calls["name"].notna()]
    methods = dim[dim["is_external"].eq(False)][["m_name", "m_id"]]
    j = unlinked[["id", "name"]].merge(methods, left_on="name", right_on="m_name")
    return edges(j, "id", "m_id", M.CALL_EDGE)


def run_callgraph(calls: pd.DataFrame, refs: pd.DataFrame,
                  closure: pd.DataFrame, bindings: pd.DataFrame,
                  dim: pd.DataFrame, rewrites: pd.DataFrame) -> pd.DataFrame:
    """CALL edges of every call linker plus METHOD_REF REF edges (src, dst,
    label). ``calls`` are the CALL rows with recovered fullnames applied,
    ``refs`` the METHOD_REF rows, ``dim`` the stub-inclusive method
    dimension and ``rewrites`` the ids of the type-recovered sites."""
    linked = pd.concat([static_call_edges(calls, dim),
                        dynamic_call_edges(calls, closure, bindings, dim),
                        type_hint_call_edges(calls, rewrites, dim)])
    return pd.concat([linked, naive_call_edges(calls, linked, dim),
                      method_ref_edges(refs, dim)], ignore_index=True)
