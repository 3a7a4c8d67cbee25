"""BINDS/BINDING vtable tables — reference BindingTableAdapterImpls.scala
(javasrc2cpg/.../util/BindingTable.scala), as pandas rules over one link
group's rows (run inside ``linking.link_task``).

Each TYPE_DECL gets one BINDING row per (method name, signature) it answers:

* its OWN methods' erased signatures;
* parse-time erasure variants for EXTERNAL generic supertypes (the frontend
  emits those as BINDING rows — a method that implements
  ``Consumer<Integer>.accept`` also binds ``void(java.lang.Object)``,
  BindingTests.scala:16-27);
* every ancestor's bindings, re-targeted at the descendant's override when
  one exists (same name + arity), else inherited as-is
  (BindingTests.scala:52-76: OtherConsumer carries the whole chain
  void(Integer) / void(Number) / void(Object)).

The inheritance closure is the one the dynamic call linker also consumes
(DynamicCallLinker.scala:37-42).
"""

from __future__ import annotations

import pandas as pd

from joern_spark import model as M
from joern_spark.operators.callgraph import signature_arity

REL_COLS = ["td_fn", "bname", "bsig", "target_fn"]


def _rows(nodes: pd.DataFrame, kind: str, target: str) -> pd.DataFrame:
    """(td_fn, bname, bsig, target_fn) of ``kind`` rows, target_fn read
    from the ``target`` column."""
    rows = nodes[nodes["kind"] == kind]
    return rows[["ast_parent_full_name", "name", "signature", target]].set_axis(
        REL_COLS, axis=1)


def _arity(sigs: pd.Series) -> pd.Series:
    """Signature arities as floats, NaN for a missing signature (a key that
    never matches, as a null join key never does in SQL)."""
    return sigs.map(signature_arity).astype(float)


def binding_relation(nodes: pd.DataFrame, closure: pd.DataFrame) -> pd.DataFrame:
    """-> (td_fn, bname, bsig, target_fn) — the logical vtable over the
    METHOD and parse-time BINDING rows of ``nodes``; ``closure`` is
    ``callgraph.inheritance_closure`` over the same nodes."""
    parent = nodes["ast_parent_full_name"]
    own = _rows(nodes[(nodes["ast_parent_type"] == M.TYPE_DECL)
                      & parent.notna() & (parent != "")],
                M.METHOD, "full_name").drop_duplicates()
    ext = _rows(nodes, M.BINDING, "method_full_name").drop_duplicates()
    # priority: own declaration beats a parse-time erasure row beats an
    # inherited row (BindingTable.scala resolves in the same order); the
    # final pick of the smallest (prio, target_fn) keeps the whole relation
    # deterministic
    base = pd.concat([own.assign(prio=0), ext.assign(prio=1)])

    # ancestor bindings flow down; constructors do not inherit
    inheritable = base[base["bname"].notna() & (base["bname"] != M.CONSTRUCTOR)]
    anc = (closure.set_axis(["td_fn", "anc_fn"], axis=1)
           .merge(inheritable.drop(columns="prio")
                  .rename(columns={"td_fn": "anc_fn"}), on="anc_fn")[REL_COLS])
    # re-target at the descendant's override when one exists (same name +
    # arity — the staticLookup analogue, BindingTable.scala computed types);
    # the smallest override fullname breaks same-arity-overload ties
    overrides = (own.assign(ar=_arity(own["bsig"]))
                 .groupby(["td_fn", "bname", "ar"], as_index=False)["target_fn"]
                 .min().rename(columns={"target_fn": "override_fn"}))
    anc = anc.assign(ar=_arity(anc["bsig"])).merge(
        overrides, on=["td_fn", "bname", "ar"], how="left")
    anc["target_fn"] = anc["override_fn"].where(anc["override_fn"].notna(),
                                                anc["target_fn"])
    return (pd.concat([base, anc[REL_COLS].assign(prio=2)])
            .sort_values(["prio", "target_fn"], kind="stable")
            .drop_duplicates(["td_fn", "bname", "bsig"])[REL_COLS])


def binding_nodes_and_edges(nodes: pd.DataFrame, rel: pd.DataFrame,
                            decl_dim: pd.DataFrame, methods: pd.DataFrame
                            ) -> pd.DataFrame:
    """The vtable ``rel`` rows that need a BINDING node: (td_fn, bname, bsig,
    target_fn, td_id, m_id). Each becomes a BINDING node, a TYPE_DECL
    -BINDS-> BINDING edge from ``td_id`` and, when the target is a METHOD, a
    BINDING -REF-> METHOD edge to ``m_id``.

    ``decl_dim`` (fn, decl_id) and ``methods`` (m_fn, m_id) resolve a
    TYPE_DECL and a METHOD fullname, real or stub, to one id each.
    Parse-time BINDING rows already carry their own node and edges, so they
    are left out."""
    parse_bind = _rows(nodes, M.BINDING, "method_full_name")
    fresh = rel.merge(parse_bind[["td_fn", "bname", "bsig"]].drop_duplicates(),
                      how="left", indicator=True)
    fresh = fresh[fresh["_merge"] == "left_only"].drop(columns="_merge")
    return (fresh.merge(decl_dim.set_axis(["td_fn", "td_id"], axis=1), on="td_fn")
            .merge(methods.set_axis(["target_fn", "m_id"], axis=1)
                   .astype({"m_id": "Int64"}), on="target_fn", how="left"))
