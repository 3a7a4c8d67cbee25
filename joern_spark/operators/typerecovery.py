"""XTypeRecovery for JavaScript — flow-insensitive type propagation
(x2cpg/.../passes/frontend/XTypeRecovery.scala, default 2 iterations;
DummyReturnType `<returnValue>` marker at XTypeRecovery.scala:259; the
recovered methodFullNames then drive call linking like
XTypeHintCallLinker). Fullnames use the reference's `:` path separator
(TypeRecoveryPassTests.scala: `google.drive(...)` -> "googleapis:drive",
`sg.send(...)` -> "sendgrid:SendGridAPIClient:send", assigned results ->
"...:send:<returnValue>").

Recovered-type seeds (each a small dimension derived from the node table):

* ``v = require('m')``            -> v : "m"
* ES import bindings              -> alias : IMPORT.full_name
  ("m:Alias" for named/default imports, bare "m" for `import * as`;
  the frontend resolves the type into the IMPORT node)
* destructured require            -> `g = _tmp.g` on a bare-module base
  propagates the module ("googleapis:drive" via `const { google } = ...`)
* literals                        -> __ecma.Number / __ecma.String
* array-literal lowering          -> __ecma.Array (the `__ecma.Array.factory()`
  block, so `z.push(4)` resolves to "__ecma.Array:push")
* ``v = new T(...)``              -> v : type(T)

A member call `b.f(...)` is rewritten only when `b` has exactly ONE
recovered type (multi-hint receivers stay unresolved, mirroring the
reference's dynamicTypeHint behavior); its assigned result takes
`mfn:<returnValue>`.

The whole fixed point is one pandas kernel (``recovery_task``) run as a
single ``groupBy(<constant>).applyInPandas`` task over a narrow projection
of the JavaScript rows, the way the reference runs the pass inside one JVM
over one CPG. The symbol table is a dimension proportional to assignments
with a recoverable right-hand side; its joins key on (path, var), except
relative-import resolution, which crosses files and so has no narrower
group key than the whole input. ``recover_types`` materializes the task's
output once.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from joern_spark import model as M

RETURN_VALUE = "<returnValue>"
ITERATIONS = 2  # XTypeRecovery's default iteration count

# global builtin receivers (jssrc2cpg GlobalBuiltins;
# TypeRecoveryPassTests "recovering paths for built-in calls")
JS_GLOBAL_BUILTINS = {
    "console": "__whatwg.console",
    "Math": "__ecma.Math",
    "JSON": "__ecma.JSON",
    "Number": "__ecma.Number",
    "Promise": "__ecma.Promise",
}

# the task's input columns; its output rows are tagged rewrites (id, type =
# the recovered methodFullName) or symbols (path, var, type)
ID_COLS = ("id", "parent_id", "method_id")
TEXT_COLS = ("kind", "name", "code", "path", "canonical_name", "method_full_name",
             "full_name", "dispatch_type", "type_full_name", "ast_parent_type",
             "ast_parent_full_name")
IN_COLS = ID_COLS + ("arg_index",) + TEXT_COLS
REWRITE_ROW = "rewrite"
SYMBOL_ROW = "symbol"
OUT_SCHEMA = "row string, id long, path string, var string, type string"

_QUOTES = re.compile("['\"`]")
_STRING_LIT = re.compile(r"^['\"`]")
_NUMBER_LIT = re.compile(r"^[0-9][0-9_.xXbBoOeE+-]*$")
_DIR = re.compile(r"^(.*)/[^/]*$")
_DOT = re.compile(r"(^|/)\./")
_DOT_DOT = re.compile(r"(^|/)[^/.][^/]*/\.\./")
_EXT = re.compile(r"\.[A-Za-z0-9]+$")
_INIT = re.compile(r":<init>$")


def _literal_type(code: str) -> str | None:
    if _STRING_LIT.search(code):
        return "__ecma.String"
    if _NUMBER_LIT.search(code):
        return "__ecma.Number"
    return None


def _rel_stem(path: str, mod: str) -> str:
    """Normalized, extension-stripped `dirname(path)/mod` — posix normpath
    over the bounded `./`/`../` nesting of import specifiers (RequirePassTests
    `../../foo.ts`, `./d2/bar.ts`). Not ``posixpath.normpath``: a
    `.`-prefixed directory is never collapsed."""
    d = _DIR.search(path)
    x = f"{d.group(1)}/{mod}" if d and d.group(1) else mod
    for _ in range(6):
        x = _DOT_DOT.sub(r"\1", _DOT.sub(r"\1", x))
    return _EXT.sub("", x)


def _map(fn, *cols) -> np.ndarray:
    """``fn`` over the zipped values of ``cols``, as an object array (so an
    empty result still joins with string columns)."""
    return np.array([fn(*v) for v in zip(*cols)], dtype=object)


def _with_tail(types, tails) -> np.ndarray:
    """An annotation's resolved head type joined with its `:`-separated
    tail."""
    return _map(lambda t, tail: f"{t}:{tail}" if tail else t, types, tails)


def _split_ann(df: pd.DataFrame) -> pd.DataFrame:
    """Annotation text `a.b.c` -> head `a`, tail `b:c`."""
    return df.assign(head=_map(lambda a: a.split(".")[0], df["ann"]),
                     tail=_map(lambda a: ":".join(a.split(".")[1:101]), df["ann"]))


def _test(values, pred) -> np.ndarray:
    return np.fromiter(map(pred, values), bool)


def _distinct(*parts: pd.DataFrame) -> pd.DataFrame:
    return pd.concat(parts, ignore_index=True).drop_duplicates(ignore_index=True)


def _anti(df: pd.DataFrame, other: pd.DataFrame, on: list[str]) -> pd.DataFrame:
    """df's rows whose ``on`` values do not occur in ``other``."""
    hit = df.merge(other[on].drop_duplicates(), on=on, how="left",
                   indicator=True)["_merge"] == "both"
    return df[~hit.to_numpy()]


def _single(st: pd.DataFrame) -> pd.DataFrame:
    """The (path, var, type) rows of a distinct table whose (path, var)
    holds exactly one type."""
    return st[~st.duplicated(["path", "var"], keep=False)]


def _sym(df: pd.DataFrame, **cols) -> pd.DataFrame:
    """A (path, var, type) frame; each value names a column of ``df`` or is
    an array of values."""
    return pd.DataFrame({k: df[v].to_numpy() if isinstance(v, str) else v
                         for k, v in cols.items()}, columns=["path", "var", "type"])


def recovery_task(pdf: pd.DataFrame) -> pd.DataFrame:
    """One recovery group's JavaScript rows (``IN_COLS``) -> its call
    rewrites and symbol table as tagged rows (``OUT_SCHEMA``). Absent ids
    are 0; absent text is ""."""
    kind, name, ai = pdf["kind"], pdf["name"], pdf["arg_index"]
    mfn, tfn = pdf["method_full_name"], pdf["type_full_name"]
    call = kind == M.CALL
    ident = kind == M.IDENTIFIER
    field_access = call & (name == M.OP_FIELD_ACCESS)
    new_call = call & (name == M.OP + "new")
    arg_mref = (ai == 2) & (kind == M.METHOD_REF) & (mfn != "")
    field_ident = kind == M.FIELD_IDENTIFIER

    def sel(mask, **cols) -> pd.DataFrame:
        part = pdf[mask]
        return pd.DataFrame({k: part[v].to_numpy() for k, v in cols.items()})

    # assignment skeleton: (assign_id, path, var, rhs_id, rhs_kind, ...)
    assigns = sel(call & (name == M.OP_ASSIGNMENT), assign_id="id", path="path")
    lhs = sel((ai == 1) & ident, assign_id="parent_id", var="name")
    rhs = sel(ai == 2, assign_id="parent_id", rhs_id="id", rhs_kind="kind",
              rhs_name="name", rhs_code="code")
    askel = assigns.merge(lhs, on="assign_id").merge(rhs, on="assign_id")
    rk = askel["rhs_kind"]
    blocks = askel[rk == M.BLOCK]

    # ---- seeds ----------------------------------------------------------- #
    # var = require('module')
    req = sel(call & (name == "require"), rhs_id="id")
    req_arg = sel((ai == 1) & (kind == M.LITERAL), rhs_id="parent_id", code="code")
    req_arg["type"] = _map(lambda c: _QUOTES.sub("", c), req_arg.pop("code"))
    req_binds = askel.merge(req, on="rhs_id").merge(req_arg, on="rhs_id")

    # ES import bindings (IMPORT nodes carry the resolved type in
    # full_name). A RELATIVE import whose target module exists in the
    # input is a ResolvedMember: instead of a dummy "module:member" seed,
    # the exporting module's recovered types flow across (rel_links below;
    # TypeRecoveryPassTests "recovering module members across modules").
    imports = sel((kind == M.IMPORT) & (pdf["canonical_name"] != ""),
                  path="path", var="canonical_name", type="full_name")
    imports["mod"] = _map(lambda t: t.split(":", 1)[0], imports["type"])
    paths = pdf["path"].drop_duplicates().to_numpy()
    file_stems = pd.DataFrame({"src_path": paths,
                               "stem": _map(lambda p: _EXT.sub("", p), paths)})
    # resolved relative imports carry the imported member (named/default
    # imports: the trailing `:alias` of the IMPORT type; requires: None);
    # relative `require("./m")` bindings resolve the same way (no IMPORT
    # node is emitted for require) — their exported members alias under
    # the binding var ("Recovered values that are returned in methods")
    rel_imp = imports[_test(imports["mod"], lambda m: m.startswith("."))]
    rel_req = req_binds[_test(req_binds["type"], lambda m: m.startswith("."))]
    rel_links = pd.concat([
        pd.DataFrame({
            "imp_path": rel_imp["path"].to_numpy(), "var": rel_imp["var"].to_numpy(),
            "member": _map(lambda t, v: t.rsplit(":", 1)[-1] if ":" in t else v,
                           rel_imp["type"], rel_imp["var"]),
            "stem": _map(_rel_stem, rel_imp["path"], rel_imp["mod"])}),
        pd.DataFrame({
            "imp_path": rel_req["path"].to_numpy(), "var": rel_req["var"].to_numpy(),
            "member": _map(lambda _: None, rel_req["var"]),
            "stem": _map(_rel_stem, rel_req["path"], rel_req["type"])}),
    ], ignore_index=True).merge(file_stems, on="stem").drop(columns="stem")
    # resolved bindings drop their raw seed: the binding adopts the
    # exporter's entity in the iterations instead
    resolved = rel_links[["imp_path", "var"]].rename(columns={"imp_path": "path"})
    seed_imp = _anti(imports, resolved, ["path", "var"])
    seed_req = _anti(req_binds, resolved, ["path", "var"])

    # literal builtins
    lits = askel[rk == M.LITERAL]
    seed_lit = _sym(lits, path="path", var="var",
                    type=_map(_literal_type, lits["rhs_code"])).dropna()

    # lowered array literal: rhs BLOCK containing `__ecma.Array.factory()`
    blk_assign = sel(call & (name == M.OP_ASSIGNMENT), rhs_id="parent_id", ba_id="id")
    factory = sel(call & (name == "__ecma.Array.factory") & (ai == 2),
                  ba_id="parent_id")
    arr = blocks.merge(blk_assign, on="rhs_id").merge(factory, on="ba_id")
    seed_arr = _sym(arr, path="path", var="var",
                    type=_map(lambda _: "__ecma.Array", arr["var"]))

    # `v = new T(...)`: rhs BLOCK containing <operator>.new whose receiver
    # (arg_index -1 IDENTIFIER) names the constructed type
    new_calls = sel(new_call, rhs_id="parent_id", new_id="id")
    new_recv = sel(ident & (ai == -1), new_id="parent_id", tname="name")
    new_edges = blocks.merge(new_calls, on="rhs_id").merge(new_recv, on="new_id")

    # object-literal methods: `v = { f: function(){}, ... }` — the lowered
    # block holds `_tmp.f = <methodRef>`; seed `v.f` with the closure's
    # (ConstClosure-renamed) fullname so `v.f()` links to it
    # (ConstClosurePassTests.scala object properties + TypeHintCallLinker)
    fa_lhs = sel((ai == 1) & field_access, ba_id="parent_id", fa_id="id")
    fld = sel(field_ident, fa_id="parent_id", fld="canonical_name")
    mref = sel(arg_mref, ba_id="parent_id", type="method_full_name")

    def props(blk: pd.DataFrame) -> pd.DataFrame:
        """The `_tmp.<fld> = <methodRef>` properties of lowered blocks."""
        return (blk.merge(blk_assign, on="rhs_id").merge(fa_lhs, on="ba_id")
                .merge(fld, on="fa_id").merge(mref, on="ba_id"))

    obj = props(blocks)
    seed_obj = _sym(obj, path="path", type="type",
                    var=_map(lambda v, f: f"{v}.{f}", obj["var"], obj["fld"]))

    # identifier aliasing: `let d = db` copies the source's types
    ident_edges = askel[(rk == M.IDENTIFIER) & (askel["rhs_name"] != askel["var"])] \
        .rename(columns={"rhs_name": "src_var"})[["path", "var", "src_var"]]

    # `v = <methodRef>` binds the closure fullname ("resolve a function
    # full name called as a constructor")
    seed_mref = askel[rk == M.METHOD_REF].merge(
        sel(mfn != "", rhs_id="id", type="method_full_name"), on="rhs_id")

    # `exports.f = <methodRef>` — exported members carry the closure
    # fullname; relative importers alias them under their binding
    # ("Recovered values that are returned in methods")
    exp_lhs = (assigns.merge(sel((ai == 1) & field_access, assign_id="parent_id",
                                 fa2_id="id"), on="assign_id")
               .merge(sel((ai == 1) & ident, fa2_id="parent_id", bname="name"),
                      on="fa2_id"))
    exp_lhs = exp_lhs[exp_lhs["bname"].isin(["exports", "module"])]
    exp_fld = exp_lhs.merge(sel(field_ident, fa2_id="parent_id", fld="canonical_name"),
                            on="fa2_id")

    def exported(df: pd.DataFrame) -> np.ndarray:
        return _map(lambda f: "exports." + f, df["fld"])

    exp_mref = exp_fld.merge(sel(arg_mref, assign_id="parent_id",
                                 type="method_full_name"), on="assign_id")
    # `module.exports = { f: function(){}, ... }` — each property of the
    # lowered object literal registers as an exported member
    # (CallLinkerPassTests "link exported <lambda> functions across file
    # boundaries")
    exp_obj = props(exp_lhs.merge(sel((ai == 2) & (kind == M.BLOCK),
                                      assign_id="parent_id", rhs_id="id"),
                                  on="assign_id"))
    # `exports.f = <identifier>` (ES named/default export lowering) —
    # aliases the exported local's recovered types each iteration
    exp_ident = exp_fld.merge(sel((ai == 2) & ident, assign_id="parent_id",
                                  src_var="name"), on="assign_id")
    export_ident_edges = pd.DataFrame({"path": exp_ident["path"].to_numpy(),
                                       "var": exported(exp_ident),
                                       "src_var": exp_ident["src_var"].to_numpy()})

    # TS type-annotation hints on parameters / method returns — the raw
    # annotation text resolves its HEAD against the symbol table each
    # iteration ("Type hints for method parameters and returns")
    ann_params = _split_ann(sel((kind == M.METHOD_PARAMETER_IN) & (name != "this")
                                & ~tfn.isin([M.ANY, "", "__ecma.Array"]),
                                path="path", pvar="name", ann="type_full_name"))
    # annotated class members + `v = this.<f>` adoption (TS three-address
    # lowering: `_tmp = this.http; _tmp.post(...)`)
    ann_members = _split_ann(sel((kind == M.MEMBER) & ~tfn.isin([M.ANY, ""]),
                                 path="path", fld="name", ann="type_full_name"))
    methods_js = sel(kind == M.METHOD, path="path", mid="id", mfn_full="full_name",
                     mname="name")
    mret_ann = _split_ann(sel((kind == M.METHOD_RETURN) & ~tfn.isin([M.ANY, ""]),
                              mid="parent_id", ann="type_full_name")
                          .merge(methods_js, on="mid"))
    # return-statement expressions (literal / recovered-call)
    ret_children = pdf[pdf["parent_id"].isin(pdf["id"][kind == M.RETURN])]
    ret_lit = pd.DataFrame({"mid": ret_children["method_id"].to_numpy(),
                            "rtype": _map(lambda k, c: _literal_type(c) if k == M.LITERAL
                                          else None, ret_children["kind"],
                                          ret_children["code"])}).dropna()
    ret_calls = ret_children[ret_children["kind"] == M.CALL]
    ret_call_ids = pd.DataFrame({"id": ret_calls["id"].to_numpy(),
                                 "mid": ret_calls["method_id"].to_numpy()})

    # destructured-require members: `v = <fieldAccess>(b, f)` — propagate a
    # single bare-module base type to v
    fa_assign = askel[(rk == M.CALL) & (askel["rhs_name"] == M.OP_FIELD_ACCESS)]
    fa_edges = fa_assign.merge(sel((ai == 1) & ident, rhs_id="parent_id", bvar="name"),
                               on="rhs_id")
    this_fa_edges = fa_edges[fa_edges["bvar"] == "this"].merge(
        sel(field_ident, rhs_id="parent_id", fld="canonical_name"), on="rhs_id")

    # builtin globals, seeded per file (|files| x |table|)
    globals_ = np.array(list(JS_GLOBAL_BUILTINS.items()), dtype=object).reshape(-1, 2)
    seed_builtin = pd.DataFrame({"path": np.repeat(paths, len(globals_)),
                                 "var": np.tile(globals_[:, 0], len(paths)),
                                 "type": np.tile(globals_[:, 1], len(paths))})

    st = _distinct(_sym(seed_req, path="path", var="var", type="type"),
                   _sym(seed_imp, path="path", var="var", type="type"),
                   seed_lit, seed_arr, seed_obj, seed_builtin,
                   _sym(seed_mref, path="path", var="var", type="type"),
                   _sym(exp_mref, path="path", var=exported(exp_mref), type="type"),
                   _sym(exp_obj, path="path", var=exported(exp_obj), type="type"))

    # member-call receivers: call -> base ARGUMENT(0) identifier name
    unresolved_calls = sel(
        call & (pdf["dispatch_type"] == M.DYNAMIC_DISPATCH)
        & (mfn == M.UNKNOWN_FULL_NAME) & (name != "require"),
        id="id", name="name", path="path", method_id="method_id",
    ).merge(sel((ai == 0) & ident, id="parent_id", var="name"), on="id")
    this_calls = unresolved_calls[unresolved_calls["var"] == "this"]
    # simple `f()` calls: the RECEIVER is itself an identifier and the
    # base is the implicit `this` — TypeHintCallLinker on a single-typed
    # callable (CallLinkerPassTests "create call edges correctly",
    # RequirePassTests)
    direct_calls = this_calls.merge(sel((ai == -1) & ident, id="parent_id", rvar="name"),
                                    on="id")[["id", "path", "rvar"]] \
        .rename(columns={"rvar": "var"})
    member_calls = _anti(unresolved_calls, direct_calls, ["id"])

    # class methods dimension + class-member types assigned in <init>
    # (field initializers lower into the constructor): `bar = class Bar`
    # / `f = <methodRef>` type member `bar` of the enclosing class —
    # typeHintForThisExpression + member flow (CallLinkerPassTests
    # "create call edges correctly for methods from classes")
    cls_methods = sel((kind == M.METHOD) & (pdf["ast_parent_type"] == M.TYPE_DECL),
                      method_id="id", cm_name="name", cls_fn="ast_parent_full_name")
    init_assigns = sel(call & (name == M.OP_ASSIGNMENT), assign_id="id",
                       method_id="method_id").merge(
        cls_methods[cls_methods["cm_name"] == M.CONSTRUCTOR], on="method_id")
    member_ty = pd.concat([
        sel((ai == 2) & (kind == M.TYPE_REF), assign_id="parent_id", tref_id="id")
        .merge(sel(kind == M.TYPE_DECL, tref_id="parent_id", mty="full_name"),
               on="tref_id")[["assign_id", "mty"]],
        sel(arg_mref, assign_id="parent_id", mty="method_full_name")])
    mem_ctor = (init_assigns.merge(lhs.rename(columns={"var": "fld"}), on="assign_id")
                .merge(member_ty, on="assign_id")[["cls_fn", "fld", "mty"]])

    method_fns = set(pdf["full_name"][kind == M.METHOD])
    cls_of = cls_methods[["method_id", "cls_fn"]]

    def rewrite(ids, rec_mfn, is_ctor: bool) -> pd.DataFrame:
        return pd.DataFrame({"id": np.asarray(ids, dtype=np.int64),
                             "rec_mfn": np.asarray(rec_mfn, dtype=object),
                             "is_ctor": is_ctor})

    # `this.b()` resolves against the enclosing class when the member
    # method exists (`this` dynamicTypeHint = the class fullname)
    this_m = _anti(this_calls, direct_calls, ["id"]).merge(cls_of, on="method_id")
    this_cand = _map(lambda c, n: f"{c}:{n}", this_m["cls_fn"], this_m["name"])
    this_ok = _test(this_cand, method_fns.__contains__)
    rw0_this = rewrite(this_m["id"].to_numpy()[this_ok], this_cand[this_ok], False)

    # `new this.bar()` — the receiver field access resolves through the
    # class-member table; the constructed value types the assigned tmp so
    # a chained `.c()` composes the member-method fullname
    opnew = sel(new_call, nid="id", path="path", method_id="method_id",
                blk_id="parent_id")
    nfa = sel((ai == -1) & field_access, nid="parent_id", nfa_id="id")
    nfa = nfa[nfa["nfa_id"].isin(pdf["parent_id"][(ai == 1) & ident & (name == "this")])]
    nfa_full = nfa.merge(sel(field_ident, nfa_id="parent_id", fld="canonical_name"),
                         on="nfa_id")[["nid", "fld"]]
    new_this = (opnew.merge(nfa_full, on="nid").merge(cls_of, on="method_id")
                .merge(mem_ctor, on=["cls_fn", "fld"])
                [["nid", "blk_id", "path", "mty"]].drop_duplicates())
    rw0_new = rewrite(new_this["nid"], _map(
        lambda t: f"{t}:{M.CONSTRUCTOR}" if f"{t}:{M.CONSTRUCTOR}" in method_fns else t,
        new_this["mty"]), True)
    # the variable assigned from the new-expression block adopts the
    # constructed class type (so chained member calls compose)
    seed_new_this = new_this.merge(
        askel[["rhs_id", "var"]].rename(columns={"rhs_id": "blk_id"}), on="blk_id")
    st = _distinct(st, _sym(seed_new_this, path="path", var="var", type="mty"))

    rewrites = pd.concat([rw0_this, rw0_new], ignore_index=True).drop_duplicates()
    for _ in range(ITERATIONS):
        # constructed-type propagation: v = new T() takes T's types — the
        # constructed VALUE drops the ctor binding's `:<init>` suffix so
        # instantiated identifiers carry the class fullname
        # (InheritanceFullNamePassTests "identifiers instantiated")
        t = new_edges.merge(st.rename(columns={"var": "tname"}), on=["path", "tname"])
        st = _distinct(st, _sym(t, path="path", var="var",
                                type=_map(lambda x: _INIT.sub("", x), t["type"])))
        # cross-module resolved imports: the exporter's types flow to the
        # importing file's binding
        t = rel_links.merge(st.rename(columns={"path": "src_path"}),
                            on=["src_path", "var"])
        st = _distinct(st, _sym(t, path="imp_path", var="var", type="type"))
        # identifier aliasing within a file
        t = ident_edges.merge(st.rename(columns={"var": "src_var"}),
                              on=["path", "src_var"])
        st = _distinct(st, t[["path", "var", "type"]])
        # destructured-require propagation (single bare-module base only)
        bare = _single(st)
        bare = bare[_test(bare["type"], lambda x: ":" not in x
                          and not x.startswith("__ecma."))]
        t = fa_edges.merge(bare.rename(columns={"var": "bvar"}), on=["path", "bvar"])
        st = _distinct(st, t[["path", "var", "type"]])
        # single-typed receivers -> methodFullName rewrite
        single = _single(st)
        by_head = single.rename(columns={"var": "head"})
        # annotated params resolve their head through the symbol table
        t = ann_params.merge(by_head, on=["path", "head"])
        st = _distinct(st, _sym(t, path="path", var="pvar",
                                type=_with_tail(t["type"], t["tail"])))
        # annotated members: `v = this.<f>` adopts the resolved member type
        t = ann_members.merge(by_head, on=["path", "head"])
        mem_ty = pd.DataFrame({"path": t["path"].to_numpy(), "fld": t["fld"].to_numpy(),
                               "type": _with_tail(t["type"], t["tail"])})
        t = this_fa_edges.merge(mem_ty, on=["path", "fld"])
        st = _distinct(st, t[["path", "var", "type"]])
        # identifier-rhs exports (`exports.f = localName`) alias the
        # exported local's recovered types
        t = export_ident_edges.merge(st.rename(columns={"var": "src_var"}),
                                     on=["path", "src_var"])
        st = _distinct(st, t[["path", "var", "type"]])
        exp_entity = st[_test(st["var"], lambda v: v.startswith("exports."))] \
            .rename(columns={"path": "src_path", "var": "evar"})
        # exported members flow to relative importers under their binding
        # (`<binding>.<member>` composite vars for member-call resolution)
        t = rel_links.merge(exp_entity, on="src_path")
        t = t[~t["evar"].isin(["exports.exports", "exports.default"])]
        members = _sym(t, path="imp_path", var=_map(lambda v, e: f"{v}.{e[8:]}",
                                                    t["var"], t["evar"]), type="type")
        # resolved bindings adopt their exported entity: named/default
        # export for ES imports; the `module.exports` closure — else the
        # module's `::program` entity — for requires
        # (JavaScriptImportResolverPass; CallLinkerPassTests receiver
        # typeFullName "bar.js::program", RequirePassTests
        # "sampleone.js::program:<lambda>0")
        t = rel_links[rel_links["member"].notna()].merge(exp_entity, on="src_path")
        t = t[_test(zip(t["evar"], t["member"]), lambda em: em[0] in (
            "exports." + em[1], "exports.default"))]
        ad_member = _sym(t, path="imp_path", var="var", type="type")
        req_links = rel_links[rel_links["member"].isna()]
        mod_exp = exp_entity[exp_entity["evar"] == "exports.exports"]
        ad_modfn = _sym(req_links.merge(mod_exp, on="src_path"),
                        path="imp_path", var="var", type="type")
        prog = req_links[~req_links["src_path"].isin(mod_exp["src_path"])]
        ad_prog = _sym(prog, path="imp_path", var="var",
                       type=_map(lambda p: p + "::program", prog["src_path"]))
        st = _distinct(st, members, ad_member, ad_modfn, ad_prog)

        remaining = _anti(member_calls, rewrites, ["id"])
        # direct `v.f` symbol entries (object-literal methods) win over the
        # composed `type:name` rewrite
        direct_single = _single(st[_test(st["var"], lambda v: "." in v)
                                   & _test(st["type"], lambda x: ":" in x)])
        t = remaining.assign(dvar=_map(lambda v, n: f"{v}.{n}",
                                       remaining["var"], remaining["name"])) \
            .merge(direct_single.rename(columns={"var": "dvar"}), on=["path", "dvar"])
        rw_direct = rewrite(t["id"], t["type"], False)
        t = _anti(remaining, rw_direct, ["id"]).merge(single, on=["path", "var"])
        rw = pd.concat([rewrite(t["id"], _map(lambda x, n: f"{x}:{n}", t["type"], t["name"]),
                                False), rw_direct], ignore_index=True)
        # simple `f()` calls on a single-typed callable binding
        # (conservative: multi-hint bindings — the flow-insensitive
        # `barOrBaz` case — stay <unknownFullName>)
        callable_ty = _test(st["type"], lambda x: "::" in x
                            and not x.endswith("::program")
                            and ":" in x[x.find("::") + 2:])
        t = _anti(_anti(direct_calls, rewrites, ["id"]), rw, ["id"]) \
            .merge(_single(st[callable_ty]), on=["path", "var"])
        rw_call = rewrite(t["id"], t["type"], False)
        # `new F()` where F is a single-typed known closure -> the ctor
        # call resolves to the function's fullname (no <returnValue>)
        single2 = _single(st)
        t = (sel(new_call, new_id="id", path="path").merge(new_recv, on="new_id")
             .merge(single2.rename(columns={"var": "tname"}), on=["path", "tname"]))
        t = t[_test(t["type"], lambda x: "::" in x)]
        rw_new = _anti(rewrite(t["new_id"], t["type"], True), rewrites, ["id"])
        rw = pd.concat([rw, rw_call, rw_new], ignore_index=True)
        rewrites = pd.concat([rewrites, rw], ignore_index=True)

        # method-return types: annotation > returned literal > returned
        # recovered call; the ret: rows surface as typerec facts
        t = mret_ann.merge(single2.rename(columns={"var": "head"}), on=["path", "head"])
        t2 = ret_call_ids.merge(rewrites[["id", "rec_mfn"]], on="id")
        ret_map = (pd.concat([
            pd.DataFrame({"mid": t["mid"].to_numpy(), "prio": 0,
                          "rtype": _with_tail(t["type"], t["tail"])}),
            ret_lit.assign(prio=1),
            pd.DataFrame({"mid": t2["mid"].to_numpy(), "prio": 2,
                          "rtype": _map(lambda r: f"{r}:{RETURN_VALUE}", t2["rec_mfn"])}),
        ], ignore_index=True).sort_values(["mid", "prio", "rtype"])
            .drop_duplicates("mid")[["mid", "rtype"]].merge(methods_js, on="mid"))
        ret_by_mfn = ret_map[["mfn_full", "rtype"]].rename(
            columns={"mfn_full": "rec_mfn", "rtype": "known_rtype"})
        named = ret_map[_test(ret_map["mname"], lambda n: not n.startswith(":"))]
        st = _distinct(st, _sym(named, path="path", type="rtype",
                                var=_map(lambda n: "ret:" + n, named["mname"])))
        # assigned results: known callee return type > `mfn:<returnValue>`
        called = rw[~rw["is_ctor"].to_numpy(bool)]
        t = (askel[["path", "var", "rhs_id"]]
             .merge(called[["id", "rec_mfn"]].rename(columns={"id": "rhs_id"}), on="rhs_id")
             .merge(ret_by_mfn, on="rec_mfn", how="left"))
        st = _distinct(st, _sym(t, path="path", var="var", type=_map(
            lambda r, k: "__ecma.Number" if r.startswith("__ecma.Math:")
            else k if isinstance(k, str) else f"{r}:{RETURN_VALUE}",
            t["rec_mfn"], t["known_rtype"])))
    # a later-recovered return type REPLACES the dummy `mfn:<returnValue>`
    # hint rows accumulated in earlier iterations
    repl = {f"{r}:{RETURN_VALUE}": k
            for r, k in zip(ret_by_mfn["rec_mfn"], ret_by_mfn["known_rtype"])}
    st = _distinct(_sym(st, path="path", var="var",
                        type=_map(lambda x: repl.get(x, x), st["type"])))

    return pd.concat([
        pd.DataFrame({"row": REWRITE_ROW, "id": rewrites["id"].to_numpy(np.int64),
                      "type": rewrites["rec_mfn"].to_numpy()}),
        st.assign(row=SYMBOL_ROW, id=0),
    ], ignore_index=True)


def recover_types(nodes: DataFrame) -> tuple[DataFrame, DataFrame]:
    """-> (rewrites (id, rec_mfn), symbol table (path, var, type)) for the
    JavaScript rows of ``nodes``: one grouped task, materialized once."""
    # no nulls in the id columns: Arrow hands a nullable integer column to
    # pandas as float64, which cannot hold a 64-bit hash
    js = nodes.filter(F.col("lang") == "javascript").select(
        *[F.coalesce(c, F.lit(0).cast("long")).alias(c) for c in ID_COLS], "arg_index",
        *[F.coalesce(c, F.lit("")).alias(c) for c in TEXT_COLS])
    out = (js.withColumn("recovery_group", F.lit(0)).groupBy("recovery_group")
           .applyInPandas(recovery_task, OUT_SCHEMA).localCheckpoint(eager=True))
    rows = F.col("row")
    return (out.filter(rows == REWRITE_ROW).select("id", F.col("type").alias("rec_mfn")),
            out.filter(rows == SYMBOL_ROW).select("path", "var", "type"))


def js_mfn_rewrites(nodes: DataFrame) -> DataFrame:
    """-> (id, rec_mfn): methodFullName rewrites for JS dynamic member calls
    whose receiver's type was recovered."""
    return recover_types(nodes)[0]


def js_inherits_parents(nodes: DataFrame) -> DataFrame:
    """(id, parent_fn) for JavaScript TYPE_DECLs with inheritsFrom entries
    — the XInheritanceFullNamePass twin (jssrc flavor: pathSep ':',
    moduleName ':program', fileExt '.js').  A parent name that is in the
    file's scope (same-file type decls + imported entities) and names a
    TYPE_DECL in the same repo resolves to that fullName; otherwise
    an import whose entity ends with the name synthesizes the external
    stub `<module>.js::program:<name>`; unresolvable parents keep the raw
    name.  All joins are name-keyed small dimensions (∝ |type decls| /
    |imports|) — AQE picks the strategy, nothing is force-broadcast
    (jssrc InheritanceFullNamePassTests; sequential mirror:
    oracle.js_resolve_inherits)."""
    js = nodes.filter(F.col("lang") == "javascript")
    td = (js.filter((F.col("kind") == M.TYPE_DECL)
                    & F.col("inherits_from").isNotNull())
          .select("id", "repo", "path", "full_name",
                  F.explode("inherits_from").alias("x"))
          .filter(~F.col("x").isin("ANY", "object", "")))
    imp = js.filter(F.col("kind") == M.IMPORT).select(
        "repo", "path", F.col("full_name").alias("qn"))
    scope = (imp.select("path", F.substring_index("qn", ":", -1).alias("x"))
             .unionByName(js.filter(F.col("kind") == M.TYPE_DECL)
                          .select("path", F.substring_index(
                              "full_name", ":", -1).alias("x")))
             .distinct())
    cands = (js.filter(F.col("kind") == M.TYPE_DECL)
             .select("repo", F.col("name").alias("x"),
                     F.col("full_name").alias("cand_fn")).distinct())
    resolved = (td.join(scope, ["path", "x"], "leftsemi")
                .join(cands, ["repo", "x"])
                .filter(F.col("cand_fn") != F.col("full_name"))
                .select("id", F.col("cand_fn").alias("parent_fn"))
                .distinct())
    unres = td.join(resolved.select("id").distinct(), "id", "left_anti")
    mod = F.substring_index("qn", ":", 1)
    norm = F.regexp_replace(mod, r"(^|/)\./", "$1")
    for _ in range(4):
        norm = F.regexp_replace(norm, r"(^|/)[^/.][^/]*/\.\./", "$1")
    synth = (unres.join(imp.drop("repo"), "path")
             .filter(F.col("qn").endswith(F.concat(F.lit(":"), F.col("x"))))
             .withColumn("mod_norm", norm)
             .withColumn("ext", F.when(F.substring_index(
                 "mod_norm", "/", -1).contains("."), "").otherwise(".js"))
             .select("id", F.concat("mod_norm", "ext",
                                    F.lit("::program:"),
                                    F.col("x")).alias("parent_fn"))
             .distinct())
    leftover = (unres.join(synth.select("id").distinct(), "id", "left_anti")
                .select("id", F.col("x").alias("parent_fn")))
    return resolved.unionByName(synth).unionByName(leftover)


def apply_rewrites(call_sites: DataFrame, rewrites: DataFrame) -> DataFrame:
    """call_sites with methodFullName overridden by recovered values — stubs
    and linkers downstream then see the recovered names. Plain equi-join on
    id (both sides hash-partition; AQE broadcasts when the rewrite side is
    small — at corpus scale it is proportional to dynamic call sites, so a
    forced broadcast would be wrong)."""
    return (call_sites.join(rewrites, "id", "left")
            .withColumn("method_full_name",
                        F.coalesce("rec_mfn", "method_full_name"))
            .drop("rec_mfn"))
